"""End-to-end frontier parity: Spark engine vs pure-Python reference
mirror on identical fixture pages (SURVEY.md §7.5 oracle summary).

Checks, per the north rule:
- fetch-schedule ORDER matches exactly (iteration, seq, url_canon),
- URL-seen MEMBERSHIP matches exactly,
- extracted text is BYTE-IDENTICAL per url,
- kill-and-resume from checkpoint equals the uninterrupted run.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from pubcrawler_spark import refmirror as rm
from pubcrawler_spark.fixtures import (
    YEAR,
    generate_pages,
    is_index_url,
    pages_spark_df,
    robots_spark_df,
)
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
    engine = CrawlEngine(
        spark,
        pages_spark_df(spark, fixture),
        robots_spark_df(spark, fixture),
        fixture.seeds,
        checkpoint_dir=str(tmp),
        year=YEAR,
        host_budget=BUDGET,
        seen_mode=seen_mode,
        salt_rows=40,  # force salting paths to exercise at fixture scale
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


def test_engine_matches_mirror_bloom(spark, fixture, mirror_result, tmp_path):
    # bloom mode must produce the same result here: FPs are possible in
    # principle but the fixture is small vs the filter size, and the
    # property test in test_seen.py guarantees no false negatives.
    engine = _run_engine(spark, fixture, tmp_path / "ckb", seen_mode="bloom")
    _assert_matches_mirror(engine, mirror_result, fixture)


def test_engine_matches_mirror_bloom_table(spark, fixture, mirror_result, tmp_path, monkeypatch):
    """bloom_impl='table' (shard-join probe + distributed OR-merge
    update) matches the mirror AND never pulls url hashes to the driver:
    the pyarrow column reader is poisoned for the whole run."""
    from pubcrawler_spark.plans import frontier as frontier_mod

    def _boom(*a, **k):
        raise AssertionError("driver materialized url hashes in table mode")

    monkeypatch.setattr(frontier_mod, "_read_col", _boom)
    engine = _run_engine(
        spark, fixture, tmp_path / "ckt", seen_mode="bloom", bloom_impl="table"
    )
    _assert_matches_mirror(engine, mirror_result, fixture)
    # the committed shard table is loadable by BOTH impls (same layout)
    import os
    k = engine.committed_iterations()[-1]
    shard_dir = os.path.join(engine._iter_dir(k), "seen_shards")
    assert spark.read.parquet(shard_dir).count() > 0


def test_bloom_table_resume(spark, fixture, mirror_result, tmp_path):
    engine = _run_engine(
        spark, fixture, tmp_path / "cktr", seen_mode="bloom", bloom_impl="table",
        resume_at=2,
    )
    _assert_matches_mirror(engine, mirror_result, fixture)


def test_bloom_driver_distributed_delta(spark, fixture, mirror_result, tmp_path, monkeypatch):
    """Driver impl past the delta-size gate (forced to 0): deltas are
    built distributed and OR-merged as blob rows — same schedule, and
    the raw-hash pull path is never taken."""
    from pubcrawler_spark.plans import frontier as frontier_mod

    def _boom(*a, **k):
        raise AssertionError("driver pulled raw hashes past the delta gate")

    monkeypatch.setattr(frontier_mod, "_read_col", _boom)
    engine = _run_engine(
        spark, fixture, tmp_path / "ckg", seen_mode="bloom",
        bloom_delta_driver_limit=0,
    )
    _assert_matches_mirror(engine, mirror_result, fixture)


def test_fetch_join_non_broadcast_path(spark, fixture, mirror_result, tmp_path):
    """Size gate forced to 0: the fetch join runs as a distributed
    shuffle semi-join (the past-broadcast scale path) — same schedule,
    same parses."""
    engine = _run_engine(
        spark, fixture, tmp_path / "ckf", fetch_broadcast_limit=0
    )
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
    # each dead URL scheduled at most 1 + max_retries (=2) times
    per_url = dead.groupBy("url_canon").count().collect()
    assert all(r["count"] <= 3 for r in per_url)
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
    import json

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
    import os

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
