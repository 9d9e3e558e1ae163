"""Cuckoo-filter seen set (north rule 'bloom/cuckoo'; Fan et al. 2014):
no false negatives, bounded FPP, DELETION (the bloom-impossible op),
engine parity and the re-crawl hook."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pubcrawler_spark.operators.cuckoo import CuckooShard, CuckooShards
from pubcrawler_spark.operators.seen import BloomShards, bloom_probe_bytes


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=400))
@settings(max_examples=40, deadline=None)
def test_cuckoo_no_false_negatives(hashes):
    h = np.array(hashes, dtype=np.int64)
    s = CuckooShard.sized(len(h) + 8)
    s.insert(h)
    assert s.contains(h).all()


def test_cuckoo_inbatch_duplicates_do_not_overflow():
    # Regression (hypothesis-found): >2*BUCKET_SLOTS copies of one NEW key in a
    # single batch all passed the `present` filter and overflowed both candidate
    # buckets. Batch insert must match sequential idempotent-insert semantics.
    h = np.zeros(9, dtype=np.int64)
    s = CuckooShard.sized(len(h) + 8)
    s.insert(h)
    assert s.contains(h).all()
    # idempotent set: exactly one stored copy, so one delete forgets the key
    assert s.delete(h[:1]).all()
    assert not s.contains(h[:1]).any()


def test_cuckoo_fpp_and_idempotence():
    rng = np.random.default_rng(9)
    inserted = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    s = CuckooShard.sized(25_000)
    s.insert(inserted)
    s.insert(inserted)  # idempotent: re-insert must not overflow slots
    assert s.contains(inserted).all()
    probes = rng.integers(-(2**63), 2**63 - 1, size=50_000, dtype=np.int64)
    fresh = probes[~np.isin(probes, inserted)]
    fp = s.contains(fresh).mean()
    # b=4, f=16 → theoretical ~1.2e-4; allow 5x headroom
    assert fp < 6e-4, fp


def test_cuckoo_delete_readmits():
    rng = np.random.default_rng(11)
    h = rng.integers(-(2**62), 2**62, size=5_000, dtype=np.int64)
    s = CuckooShard.sized(6_000)
    s.insert(h)
    victims = h[:100]
    removed = s.delete(victims)
    assert removed.all()
    assert not s.contains(victims).any()  # truly forgotten (modulo fp collisions with survivors)
    assert s.contains(h[100:]).all()  # others untouched


def test_cuckoo_overfull_raises():
    rng = np.random.default_rng(13)
    s = CuckooShard(8)  # 32 slots
    earlier = rng.integers(-(2**62), 2**62, size=16, dtype=np.int64)
    s.insert(earlier[:8])
    s.insert(earlier[8:])
    before = s.table.copy()
    with pytest.raises(RuntimeError):
        s.insert(rng.integers(-(2**62), 2**62, size=500, dtype=np.int64))
    # the failed batch leaves the shard as it was: no earlier key is
    # lost to the fingerprint the kicks were carrying when they gave up
    assert s.contains(earlier).all()
    assert (s.table == before).all()


@pytest.mark.parametrize("n_buckets", [0, 12, 1 << 32])
def test_cuckoo_rejects_bad_bucket_count(n_buckets):
    # i2 derivation and the in-batch (fp, bucket) dedup key need a
    # power-of-two bucket count below 2^32
    with pytest.raises(ValueError, match="power of two"):
        CuckooShard(n_buckets)


def test_cuckoo_shards_roundtrip_and_probe(spark, tmp_path):
    from pubcrawler_spark.operators.seen import filter_unseen_exact

    seen = spark.range(0, 5000).selectExpr(
        "xxhash64(id) as url_hash", "cast(id as string) as url_canon"
    )
    cand = spark.range(4000, 10000).selectExpr(
        "xxhash64(id) as url_hash", "cast(id as string) as url_canon"
    )
    shards = CuckooShards.sized(10_000, n_shards=8)
    shards.add_hashes(np.array([r.url_hash for r in seen.collect()], dtype=np.int64))
    exact = {r.url_canon for r in filter_unseen_exact(cand, seen).collect()}
    got = {r.url_canon for r in shards.filter_unseen(cand).collect()}
    assert got <= exact  # no false negatives
    assert len(exact) - len(got) <= max(5, 0.001 * len(exact))  # tight FPP
    # checkpoint round-trip preserves the probe exactly
    shards.write(str(tmp_path / "ck"))
    back = CuckooShards.read(str(tmp_path / "ck"))
    got2 = {r.url_canon for r in back.filter_unseen(cand).collect()}
    assert got2 == got


def test_engine_cuckoo_mark_unseen(spark, tmp_path):
    """Re-crawl hook: mark_unseen makes the filter pass a fetched URL
    again; any other seen_mode refuses it. Mirror parity of the cuckoo
    engine is test_frontier.py::test_engine_matches_mirror_seen."""
    from pubcrawler_spark.fixtures import YEAR, generate_pages, pages_spark_df, robots_spark_df
    from pubcrawler_spark.plans.frontier import CrawlEngine

    fx = generate_pages(200)
    eng = CrawlEngine(
        spark, pages_spark_df(spark, fx), robots_spark_df(spark, fx), fx.seeds,
        checkpoint_dir=str(tmp_path / "ckc"), year=YEAR, host_budget=6,
        seen_mode="cuckoo", iteration_window_ms=10_000,
    )
    eng.run(max_iterations=3)

    # re-crawl hook: forget one fetched URL → the filter passes it again
    victim = eng.full_schedule().filter("fetched").orderBy("iteration", "seq").limit(1).collect()[0]
    probe = spark.createDataFrame(
        [(victim.url_hash, victim.url_canon)], "url_hash long, url_canon string"
    )
    assert eng.seen.probe(probe).count() == 0  # currently seen
    assert eng.mark_unseen([victim.url_hash]) == 1
    assert eng.seen.probe(probe).count() == 1  # re-admitted
    # resume continues from checkpoint shards that still include it
    with pytest.raises(ValueError):
        CrawlEngine(
            spark, pages_spark_df(spark, fx), robots_spark_df(spark, fx), fx.seeds,
            checkpoint_dir=str(tmp_path / "ckc"), year=YEAR, seen_mode="exact",
        ).mark_unseen([1])


@pytest.mark.parametrize("filter_cls", [CuckooShards, BloomShards])
def test_zero_shard_checkpoint_roundtrip(tmp_path, filter_cls):
    """An iteration where no URL was marked seen writes a zero-shard
    table; resume must restore an empty filter, not crash (ADVICE r2)."""
    empty = filter_cls.sized(capacity=1000, n_shards=8)
    p = str(tmp_path / "ck")
    empty.write(p)
    back = filter_cls.read(p)
    assert vars(back).keys() == vars(empty).keys()
    for name, value in vars(empty).items():
        if name != "_probe_bc":
            assert getattr(back, name) == value, name
    # and it is usable: inserts + probes work after the round-trip
    h = np.arange(100, dtype=np.int64) * 7919 + 13
    back.add_hashes(h)
    back.write(p + "2")
    again = filter_cls.read(p + "2")
    if filter_cls is CuckooShards:
        for x in h:
            assert again.shards[int(x % again.n_shards)].contains(np.array([x], np.int64))[0]
    else:
        for x in h:
            sid = int(x % again.n_shards)
            assert bloom_probe_bytes(again.blobs[sid].tobytes(), np.array([x], np.int64),
                                     again.n_bits, again.n_hashes)[0]


def test_cuckoo_delete_recrawl_respects_politeness(spark, tmp_path):
    """Delete-collision semantics must stay BENIGN: a cuckoo delete can
    forget extra URLs that share the victim's fingerprint, which causes
    re-crawls — but every re-crawled URL still flows through the
    politeness scheduler, so no iteration may ever exceed a host's
    budget (the invariant that makes the ~1.2e-4 collision rate a
    throughput cost, never a courtesy violation)."""
    from collections import Counter

    from pubcrawler_spark.fixtures import YEAR, generate_pages, pages_spark_df, robots_spark_df
    from pubcrawler_spark.plans.frontier import CrawlEngine

    # max_outlinks=6: dense enough link fan-out that some deleted URL
    # is deterministically REDISCOVERED by a later-fetched page (the
    # re-crawl needs a fresh link; seeded fixture makes this stable)
    fx = generate_pages(200, max_outlinks=6)
    budget = 3
    eng = CrawlEngine(
        spark, pages_spark_df(spark, fx), robots_spark_df(spark, fx), fx.seeds,
        checkpoint_dir=str(tmp_path / "ckp"), year=YEAR, host_budget=budget,
        seen_mode="cuckoo", iteration_window_ms=10_000,
    )
    eng.run(max_iterations=3)
    # mass re-crawl: forget EVERY fetched URL — the worst case for
    # shared-fingerprint deletes (any collateral forget is a subset)
    fetched = eng.full_schedule().filter("fetched").collect()
    assert eng.mark_unseen([r.url_hash for r in fetched]) > 0
    eng.run(max_iterations=8, resume=True)

    sched = eng.full_schedule().collect()
    by_iter: dict[int, Counter] = {}
    for r in sched:
        by_iter.setdefault(r.iteration, Counter())[r.host] += 1
    for it, per_host in by_iter.items():
        worst = per_host.most_common(1)[0]
        assert worst[1] <= budget, (it, worst)
    # and the deletes actually caused re-crawls: some URL was fetched
    # in two different iterations
    seen_twice = Counter(
        r.url_canon for r in sched if r.fetched
    ).most_common(1)[0][1]
    assert seen_twice >= 2
