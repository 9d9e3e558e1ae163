"""End-to-end frontier parity: Spark engine vs pure-Python reference
mirror on identical fixture pages (SURVEY.md §7.5 oracle summary).

Checks, per the north rule:
- fetch-schedule ORDER matches exactly (iteration, seq, url_canon),
- URL-seen MEMBERSHIP matches exactly,
- extracted text is BYTE-IDENTICAL per url,
- kill-and-resume from checkpoint equals the uninterrupted run.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter, functions as F

from pubcrawler_spark import refmirror as rm
from pubcrawler_spark.fixtures import (
    YEAR,
    generate_pages,
    is_index_url,
    pages_spark_df,
    robots_spark_df,
)
from pubcrawler_spark.operators import schedule as sched_mod
from pubcrawler_spark.operators import seen as seen_mod
from pubcrawler_spark.operators.cuckoo import CuckooShards
from pubcrawler_spark.plans import frontier as frontier_mod
from pubcrawler_spark.plans.frontier import CrawlEngine

N_PAGES = 400
BUDGET = 7
MAX_ITER = 4


@pytest.fixture(scope="module")
def fixture():
    return generate_pages(N_PAGES)


WINDOW_MS = 10_000  # Crawl-delay 2 s hosts get min(BUDGET, 5) slots


@pytest.fixture(scope="module")
def mirror_result(fixture):
    pages = {r["url"]: r["html"] for r in fixture.rows}
    return rm.mirror_crawl(
        pages,
        fixture.seeds,
        fixture.robots,
        host_budget=BUDGET,
        max_iterations=MAX_ITER,
        year=YEAR,
        index_url_pred=is_index_url,
        iteration_window_ms=WINDOW_MS,
    )


def _run_engine(spark, fixture, tmp, seen_mode="exact", resume_at=None, **kw):
    with pytest.MonkeyPatch.context() as m:
        m.setattr(sched_mod, "SALT_ROWS", 40)  # force salting paths at fixture scale
        engine = CrawlEngine(
            spark,
            pages_spark_df(spark, fixture),
            robots_spark_df(spark, fixture),
            fixture.seeds,
            checkpoint_dir=str(tmp),
            year=YEAR,
            host_budget=BUDGET,
            seen_mode=seen_mode,
            iteration_window_ms=WINDOW_MS,
            **kw,
        )
    if resume_at is not None:
        engine.run(max_iterations=resume_at)
        # simulate crash: an in-progress tmp dir is left behind
        engine.run(max_iterations=MAX_ITER, resume=True)
    else:
        engine.run(max_iterations=MAX_ITER)
    return engine


def _assert_matches_mirror(engine, mirror_result, fixture):
    got = [
        (r.iteration, r.seq, r.url_canon)
        for r in engine.full_schedule().orderBy("iteration", "seq").collect()
    ]
    want = [(s["iteration"], s["seq"], s["url_canon"]) for s in mirror_result["schedule"]]
    assert got == want, (
        f"schedule mismatch: engine {len(got)} rows vs mirror {len(want)}; "
        f"first diff: {next((a, b) for a, b in zip(got, want) if a != b) if got and want else None}"
    )

    got_seen = {r.url_canon for r in engine.final_seen().collect()}
    assert got_seen == mirror_result["seen"]

    got_text = {
        r.url_canon: r.text.encode("utf-8")
        for r in engine.full_parsed().collect()
    }
    want_text = {p["url_canon"]: p["text"].encode("utf-8") for p in mirror_result["parsed"]}
    assert got_text == want_text


def test_engine_matches_mirror_exact(spark, fixture, mirror_result, tmp_path):
    engine = _run_engine(spark, fixture, tmp_path / "ck")
    _assert_matches_mirror(engine, mirror_result, fixture)
    # schedule respects politeness budget: ≤ BUDGET rows per host per iteration
    per_host = (
        engine.full_schedule()
        .groupBy("iteration", "host")
        .count()
        .filter(f"count > {BUDGET}")
        .count()
    )
    assert per_host == 0
    # robots honored: /private/ never scheduled on hosts that disallow it
    disallowing = [h for h, txt in fixture.robots.items() if "Disallow: /private/" in txt]
    assert disallowing, "fixture must have at least one disallowing host"
    sched = engine.full_schedule()
    bad = (
        sched.filter("url_canon like '%/private/%'")
        .filter(F.col("host").isin(disallowing))
        .count()
    )
    assert bad == 0
    # ...and such pages exist in the fixture (the filter did real work)
    assert any(
        f"https://{h}/private/" in r["url"] for h in disallowing for r in fixture.rows
    )
    # crawl-delay hosts are capped at window/delay slots per iteration
    delayed = [h for h, txt in fixture.robots.items() if "Crawl-delay: 2" in txt]
    assert delayed
    cap = min(BUDGET, WINDOW_MS // 2000)
    over = (
        sched.groupBy("iteration", "host")
        .count()
        .filter(F.col("host").isin(delayed))
        .filter(f"count > {cap}")
        .count()
    )
    assert over == 0
    hit_cap = (
        sched.groupBy("iteration", "host")
        .count()
        .filter(F.col("host").isin(delayed))
        .filter(f"count = {cap}")
        .count()
    )
    assert hit_cap > 0, "cap should actually bind for some delayed host"


@pytest.mark.parametrize(
    "case", ["bloom", "bloom_table", "bloom_distributed_delta", "cuckoo"]
)
def test_engine_matches_mirror_seen(spark, fixture, mirror_result, tmp_path, monkeypatch, case):
    """Every filter SeenSet gives the exact schedule, seen set and text:
    FPs are possible in principle but the fixture is small vs the filter
    size, and the property tests guarantee no false negatives. The
    table placement (shard-join probe, distributed OR-merge) and the
    driver filter past the delta-size gate never pull url hashes to the
    driver: the pyarrow column reader is poisoned for the whole run."""
    if case in ("bloom_table", "bloom_distributed_delta"):
        def _boom(*a, **k):
            raise AssertionError("driver materialized url hashes")

        monkeypatch.setattr(seen_mod, "read_col", _boom)
        monkeypatch.setattr(seen_mod, "DRIVER_DELTA_ROWS", 0)
    if case == "bloom_table":
        monkeypatch.setattr(seen_mod, "DRIVER_FILTER_BYTES", 0)
    mode = "cuckoo" if case == "cuckoo" else "bloom"
    engine = _run_engine(spark, fixture, tmp_path / "ck", seen_mode=mode)
    want = {"bloom_table": seen_mod.BloomTable, "cuckoo": CuckooShards}
    assert type(engine.seen) is want.get(case, seen_mod.BloomShards)
    _assert_matches_mirror(engine, mirror_result, fixture)
    k = engine.committed_iterations()[-1]
    shard_dir = os.path.join(engine._iter_dir(k), "seen_shards")
    assert spark.read.parquet(shard_dir).count() > 0


def test_bloom_table_resume(spark, fixture, mirror_result, tmp_path, monkeypatch):
    monkeypatch.setattr(seen_mod, "DRIVER_FILTER_BYTES", 0)
    engine = _run_engine(spark, fixture, tmp_path / "cktr", seen_mode="bloom", resume_at=2)
    assert isinstance(engine.seen, seen_mod.BloomTable)
    _assert_matches_mirror(engine, mirror_result, fixture)


def test_fetch_join_non_broadcast_path(spark, fixture, mirror_result, tmp_path, monkeypatch):
    """Size gate forced to 0: the fetch join runs as a distributed
    shuffle semi-join (the past-broadcast scale path) — same schedule,
    same parses."""
    monkeypatch.setattr(frontier_mod, "FETCH_BROADCAST_ROWS", 0)
    engine = _run_engine(spark, fixture, tmp_path / "ckf")
    _assert_matches_mirror(engine, mirror_result, fixture)


def test_resume_equals_uninterrupted(spark, fixture, mirror_result, tmp_path):
    engine = _run_engine(spark, fixture, tmp_path / "ckr", resume_at=2)
    _assert_matches_mirror(engine, mirror_result, fixture)
    # no URL successfully fetched twice across the resumed run
    sched = engine.full_schedule()
    fetched = sched.filter("fetched")
    assert fetched.count() == fetched.select("url_canon").distinct().count()


def test_fetch_retry_semantics(spark, tmp_path):
    """X3: dead links get retried with decayed priority, bounded by
    max_retries, and never pollute the seen set or parsed output.

    Uses a tiny corpus whose hosts drain within a few iterations —
    retries carry decayed priority, so on a large host they correctly
    queue behind fresh discoveries and would not resurface in 4
    iterations (that deprioritization is itself asserted below)."""
    small = generate_pages(60)
    engine = CrawlEngine(
        spark,
        pages_spark_df(spark, small),
        robots_spark_df(spark, small),
        small.seeds,
        checkpoint_dir=str(tmp_path / "ckx"),
        year=YEAR,
        host_budget=BUDGET,
        iteration_window_ms=WINDOW_MS,
    )
    engine.run(max_iterations=5)
    # engine still matches the mirror on this corpus (retry path incl.)
    mirror = rm.mirror_crawl(
        {r["url"]: r["html"] for r in small.rows}, small.seeds, small.robots,
        host_budget=BUDGET, max_iterations=5, year=YEAR,
        index_url_pred=is_index_url, iteration_window_ms=WINDOW_MS,
    )
    _assert_matches_mirror(engine, mirror, small)
    sched = engine.full_schedule()
    dead = sched.filter("url_canon like '%/dead%'")
    n_dead_urls = dead.select("url_canon").distinct().count()
    assert n_dead_urls > 0, "fixture must contain dead index links"
    # each dead URL scheduled at most 1 + MAX_RETRIES times
    per_url = dead.groupBy("url_canon").count().collect()
    assert all(r["count"] <= 1 + frontier_mod.MAX_RETRIES for r in per_url)
    # at least one got retried (scheduled in >1 iteration)
    assert any(r["count"] >= 2 for r in per_url)
    # dead URLs are never marked fetched, never parsed, never seen
    assert dead.filter("fetched").count() == 0
    assert engine.full_parsed().filter("url_canon like '%/dead%'").count() == 0
    assert engine.final_seen().filter("url_canon like '%/dead%'").count() == 0
    # retries carry decayed priority: the retry row's priority < original
    pr = {
        (r["url_canon"], r["attempts"]): r["priority"]
        for r in dead.select("url_canon", "attempts", "priority").collect()
    }
    for (u, att), p in pr.items():
        if att > 0:
            assert p < pr[(u, 0)]


def test_lite_mode_matches_detailed(spark, fixture, mirror_result, tmp_path):
    """detailed_metrics=False (the bench/steady-loop path) writes its
    metrics driver-side and skips the per-partition lineage job — the
    schedule, parsed text, seen set, and the manifest counters must be
    identical to detailed mode (both run the pinned-schedule plan)."""
    import glob

    lite = _run_engine(
        spark, fixture, tmp_path / "ckl", seen_mode="bloom", detailed_metrics=False
    )
    _assert_matches_mirror(lite, mirror_result, fixture)
    detailed = _run_engine(spark, fixture, tmp_path / "ckd", seen_mode="bloom")

    def counters(eng):
        out = {}
        for m in sorted(glob.glob(str(eng.ckpt) + "/iter=*/_manifest.json")):
            c = json.load(open(m))["counts"]
            out[c["iteration"]] = {
                k: c[k]
                for k in ("input_rows", "scheduled", "parsed", "skipped_robots",
                          "fetch_misses", "frontier_next")
            }
        return out

    assert counters(lite) == counters(detailed)
    # resume works from a lite checkpoint
    lite2 = _run_engine(
        spark, fixture, tmp_path / "ckl", seen_mode="bloom",
        detailed_metrics=False, resume_at=2
    )
    _assert_matches_mirror(lite2, mirror_result, fixture)


def test_loop_aqe_scoping_and_env_hook(spark, fixture, tmp_path, monkeypatch):
    """run() disables AQE for the loop's static plans and restores it on
    exit; SPARK_GRAFT_LOOP_AQE=keep (the BENCH/loop_matrix.py escape
    hatch) leaves it on in-loop. The loop body is stubbed — this pins
    the conf scoping, not crawl semantics."""
    engine = CrawlEngine(
        spark,
        pages_spark_df(spark, fixture),
        robots_spark_df(spark, fixture),
        fixture.seeds,
        checkpoint_dir=str(tmp_path / "ck_aqe"),
        year=YEAR,
        host_budget=BUDGET,
    )
    observed = {}
    monkeypatch.setattr(
        engine,
        "_run_loop",
        lambda mi, resume: observed.update(
            aqe=spark.conf.get("spark.sql.adaptive.enabled")
        )
        or {},
    )
    monkeypatch.delenv("SPARK_GRAFT_LOOP_AQE", raising=False)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    engine.run(max_iterations=1)
    assert observed["aqe"] == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    monkeypatch.setenv("SPARK_GRAFT_LOOP_AQE", "keep")
    engine.run(max_iterations=1)
    assert observed["aqe"] == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


@pytest.fixture(scope="module")
def stepped_bloom(spark, fixture, tmp_path_factory):
    """A bloom-filter engine resumed one iteration at a time, with the
    number of driver-side broadcast files after each iteration."""
    engine = CrawlEngine(
        spark,
        pages_spark_df(spark, fixture),
        robots_spark_df(spark, fixture),
        fixture.seeds,
        checkpoint_dir=str(tmp_path_factory.mktemp("ck_step")),
        year=YEAR,
        host_budget=BUDGET,
        seen_mode="bloom",
        iteration_window_ms=WINDOW_MS,
    )
    bc_dir = spark.sparkContext._temp_dir
    n_files = []
    for k in range(1, MAX_ITER + 1):
        engine.run(max_iterations=k, resume=k > 1)
        n_files.append(len(os.listdir(bc_dir)))
    return engine, n_files


def test_probe_broadcast_does_not_accumulate(stepped_bloom):
    """Each iteration's seen probe replaces the previous iteration's
    broadcast instead of leaking its pickle file and JVM block."""
    engine, n_files = stepped_bloom
    assert engine.committed_iterations() == list(range(MAX_ITER))
    # iteration 0 probes an empty filter; iterations 1..3 each broadcast
    assert n_files[1] == n_files[2] == n_files[3], n_files


def test_readback_schemas_match_inferred(spark, stepped_bloom, fixture, tmp_path):
    """Read-backs carry the schema recorded at write time; it must equal
    what parquet schema inference gives for every state table, both for
    the Spark-written and the pyarrow-written seen delta."""
    import os

    exact = _run_engine(spark, fixture, tmp_path / "ck_schema")
    for engine in (stepped_bloom[0], exact):
        k = engine.committed_iterations()[-1]
        assert {"candidates", "sched", "parsed_links", "frontier", "seen"} <= set(engine._schemas)
        for name in engine._schemas:
            inferred = spark.read.parquet(os.path.join(engine._iter_dir(k), name)).schema
            assert engine._read(k, name).schema == inferred, name


# -- crash points ---------------------------------------------------------------
# The 60-page corpus of test_fetch_retry_semantics, crashed part-way
# through iteration CRASH_K at each seen-set step, then resumed both by
# the engine that crashed (its dirty marker must force a restore) and
# by a fresh engine; either way the run must equal an uninterrupted one.

CRASH_MAX, CRASH_K = 2, 1
SEEN_CASES = ("exact", "bloom", "bloom_table", "cuckoo")


class _Fault(RuntimeError):
    pass


@pytest.fixture(scope="module")
def small():
    return generate_pages(60)


def _small_engine(spark, fx, ck, case):
    return CrawlEngine(
        spark, pages_spark_df(spark, fx), robots_spark_df(spark, fx), fx.seeds,
        checkpoint_dir=str(ck), year=YEAR, host_budget=BUDGET,
        iteration_window_ms=WINDOW_MS, detailed_metrics=False,
        seen_mode="bloom" if case == "bloom_table" else case,
    )


def _crawl_state(engine):
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    return rows(engine.full_schedule()), rows(engine.full_parsed()), rows(engine.final_seen())


@pytest.fixture(scope="module")
def small_reference(spark, small, tmp_path_factory):
    engine = _small_engine(spark, small, tmp_path_factory.mktemp("ck_ref"), "exact")
    engine.run(max_iterations=CRASH_MAX)
    return _crawl_state(engine)


@pytest.fixture(scope="module")
def small_seeded(spark, small, tmp_path_factory):
    """Per seen-set case, a checkpoint holding iteration 0 only."""
    out = {}
    for case in SEEN_CASES:
        with pytest.MonkeyPatch.context() as m:
            if case == "bloom_table":
                m.setattr(seen_mod, "DRIVER_FILTER_BYTES", 0)
            out[case] = tmp_path_factory.mktemp(f"ck_seed_{case}")
            _small_engine(spark, small, out[case], case).run(max_iterations=1)
    return out


def _raise_in(fn, when):
    def wrapper(*a, **k):
        out = fn(*a, **k)
        if when(*a):
            raise _Fault("injected")
        return out

    return wrapper


# the frontier write runs on a thread while the driver updates the seen
# set: a driver-held bloom filter is mid-mutation when the thread fails
@pytest.mark.parametrize(
    "case,point",
    [(c, p) for c in SEEN_CASES for p in ("filter_update", "shard_write", "rename")]
    + [("exact", "frontier_write"), ("bloom", "frontier_write")],
)
def test_crash_point_resumes_equal(
    spark, small, small_reference, small_seeded, tmp_path, monkeypatch, case, point
):
    if case == "bloom_table":
        monkeypatch.setattr(seen_mod, "DRIVER_FILTER_BYTES", 0)
    crashed, copy = tmp_path / "a", tmp_path / "b"
    shutil.copytree(small_seeded[case], crashed)
    engine = _small_engine(spark, small, crashed, case)
    in_k = f"iter={CRASH_K}.tmp"
    with monkeypatch.context() as m:
        if point == "filter_update":
            m.setattr(engine.seen, "add", _raise_in(engine.seen.add, lambda d, n: in_k in d))
        elif point == "shard_write":
            m.setattr(engine.seen, "write", _raise_in(engine.seen.write, lambda d: in_k in d))
        elif point == "frontier_write":
            m.setattr(DataFrameWriter, "parquet", _raise_in(
                DataFrameWriter.parquet,
                lambda w, path, *a: str(path).endswith(os.path.join(in_k, "frontier")),
            ))
        else:
            real = os.rename

            def _rename(src, dst):
                if str(dst).endswith(f"iter={CRASH_K}"):
                    raise _Fault("injected")
                return real(src, dst)

            m.setattr(os, "rename", _rename)
        with pytest.raises(_Fault):
            engine.run(max_iterations=CRASH_MAX, resume=True)
    # the frontier write is joined on the way out: no job of the failed
    # iteration outlives it, and the tmp dir is quiescent for the copy
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert os.path.isdir(crashed / in_k)
    shutil.copytree(crashed, copy)

    engine.run(max_iterations=CRASH_MAX, resume=True)
    fresh = _small_engine(spark, small, copy, case)
    fresh.run(max_iterations=CRASH_MAX, resume=True)
    for eng, ck in ((engine, crashed), (fresh, copy)):
        assert eng.committed_iterations() == list(range(CRASH_MAX))
        assert not [n for n in os.listdir(ck) if n.endswith(".tmp")]
        assert _crawl_state(eng) == small_reference


def test_resume_refuses_old_checkpoint(spark, small, small_seeded, tmp_path):
    """A manifest without format_version (an older engine's layout) is
    refused on resume, naming the iteration directory."""
    ck = tmp_path / "old"
    shutil.copytree(small_seeded["exact"], ck)
    manifest = ck / "iter=0" / "_manifest.json"
    doc = json.loads(manifest.read_text())
    del doc["format_version"]
    manifest.write_text(json.dumps(doc))
    with pytest.raises(ValueError, match="format_version") as err:
        _small_engine(spark, small, ck, "exact").run(max_iterations=2, resume=True)
    assert str(ck / "iter=0") in str(err.value)


def test_bloom_over_capacity_refuses_commit(spark, small, tmp_path, monkeypatch):
    """A bloom filter whose estimated FPP passes its target raises
    before the commit rename; the previous commit still resumes."""
    # one small shard: iteration 0 (the seeds) fits, iteration 1 does not
    monkeypatch.setattr(seen_mod, "N_SHARDS", 1)
    monkeypatch.setattr(seen_mod, "_bloom_params", lambda n, fpp: (128, 4))
    ck = tmp_path / "ck"
    engine = _small_engine(spark, small, ck, "bloom")
    engine.run(max_iterations=1)
    assert json.loads((ck / "iter=0" / "_manifest.json").read_text())[
        "counts"]["seen_set"]["est_fpp"] <= seen_mod.FPP_TARGET
    with pytest.raises(RuntimeError, match="expected_urls"):
        engine.run(max_iterations=2, resume=True)
    assert engine.committed_iterations() == [0]
    # a fresh engine resumes iteration 0's filter; with the target
    # lifted it commits the iteration the capacity check refused
    monkeypatch.setattr(seen_mod, "FPP_TARGET", 1.0)
    fresh = _small_engine(spark, small, ck, "bloom")
    fresh.run(max_iterations=2, resume=True)
    assert fresh.committed_iterations() == [0, 1]
    counts = json.loads((ck / "iter=1" / "_manifest.json").read_text())["counts"]
    assert counts["seen_set"]["items"] == counts["seen_total"] > 4
    assert counts["seen_set"]["est_fpp"] > 0.01
