"""Seen-set tests (SURVEY.md J2/V7): exact anti-join + bloom shards."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pubcrawler_spark.operators.seen import (
    FPP_TARGET,
    BloomShards,
    _bloom_params,
    bloom_probe_bytes,
)


def _one_shard(hashes: np.ndarray, n_bits: int, n_hashes: int) -> bytes:
    shards = BloomShards(1, n_bits, n_hashes)
    shards.add_hashes(hashes)
    return shards.blobs[0].tobytes()


@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500),
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200),
)
@settings(max_examples=40, deadline=None)
def test_bloom_no_false_negatives(seen_hashes, probe_hashes):
    """Every inserted hash MUST probe positive (no false negatives)."""
    n_bits, n_hashes = _bloom_params(len(seen_hashes), 0.01)
    blob = _one_shard(np.array(seen_hashes, dtype=np.int64), n_bits, n_hashes)
    hits = bloom_probe_bytes(blob, np.array(seen_hashes, dtype=np.int64), n_bits, n_hashes)
    assert hits.all()


def test_bloom_fpp_measured():
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**63), 2**63 - 1, size=20_000, dtype=np.int64)
    n_bits, n_hashes = _bloom_params(len(inserted), 0.01)
    blob = _one_shard(inserted, n_bits, n_hashes)
    probes = rng.integers(-(2**63), 2**63 - 1, size=50_000, dtype=np.int64)
    fresh = probes[~np.isin(probes, inserted)]
    fp = bloom_probe_bytes(blob, fresh, n_bits, n_hashes).mean()
    assert fp < 0.02, f"measured FPP {fp:.4f} exceeds 2x target 0.01"


def test_spark_bloom_filter_matches_exact(spark):
    from pubcrawler_spark.operators.seen import (
        BLOOM_SCHEMA,
        filter_unseen_bloom,
        filter_unseen_exact,
        update_bloom_shards,
    )

    seen = spark.range(0, 5000).selectExpr(
        "xxhash64(id) as url_hash", "cast(id as string) as url_canon"
    )
    cand = spark.range(4000, 10000).selectExpr(
        "xxhash64(id) as url_hash", "cast(id as string) as url_canon"
    )
    exact = {r.url_canon for r in filter_unseen_exact(cand, seen).collect()}
    shards = BloomShards.sized(5000, n_shards=8)
    shards.add_hashes(np.array([r.url_hash for r in seen.collect()], dtype=np.int64))
    bloom = {r.url_canon for r in shards.filter_unseen(cand).collect()}
    # no false negatives: everything bloom kept is genuinely unseen
    assert bloom <= exact
    # FP rate within 2x of the 1% target
    assert len(exact) - len(bloom) <= max(5, 0.02 * len(exact))
    # shard-join probe (no collect, no broadcast) is bit-equivalent
    table = update_bloom_shards(
        seen, spark.createDataFrame([], BLOOM_SCHEMA), 8, shards.n_bits, shards.n_hashes
    )
    sj = {r.url_canon for r in filter_unseen_bloom(cand, table, n_shards=8).collect()}
    assert sj == bloom


def test_shard_join_probe_with_empty_filter_passes_all(spark):
    from pubcrawler_spark.operators.seen import BLOOM_SCHEMA, filter_unseen_bloom

    cand = spark.range(0, 100).selectExpr(
        "xxhash64(id) as url_hash", "cast(id as string) as url_canon"
    )
    empty = spark.createDataFrame([], BLOOM_SCHEMA)
    out = filter_unseen_bloom(cand, empty, n_shards=8)
    assert out.count() == 100


def test_distributed_update_matches_driver_update(spark):
    """update_bloom_shards (cogroup OR-merge) produces byte-identical
    blobs to the driver-side BloomShards.add_hashes on the same data,
    including creating brand-new shards and passing untouched ones
    through."""
    from pubcrawler_spark.operators.seen import BLOOM_SCHEMA, update_bloom_shards

    rng = np.random.default_rng(3)
    first = rng.integers(-(2**62), 2**62, size=4000, dtype=np.int64)
    second = rng.integers(-(2**62), 2**62, size=3000, dtype=np.int64)

    driver = BloomShards.sized(20_000, n_shards=8)
    driver.add_hashes(first)
    driver.add_hashes(second)

    def delta_blobs(hashes, base):
        return update_bloom_shards(
            spark.createDataFrame([(int(h),) for h in hashes], "url_hash long"),
            base, 8, driver.n_bits, driver.n_hashes,
        )

    base = delta_blobs(first, spark.createDataFrame([], BLOOM_SCHEMA))
    merged = delta_blobs(second, base)
    got = {r["shard_id"]: (bytes(r["bloom_bytes"]), r["n_items"]) for r in merged.collect()}
    want = {sid: (b.tobytes(), driver.n_items[sid]) for sid, b in driver.blobs.items()}
    assert got == want

    # driver-side OR of distributed delta blobs also matches add_hashes
    blob_path = BloomShards.sized(20_000, n_shards=8)
    blob_path.add_blob_rows(base.collect())
    blob_path.add_blob_rows(
        delta_blobs(second, spark.createDataFrame([], BLOOM_SCHEMA)).collect()
    )
    assert {s: b.tobytes() for s, b in blob_path.blobs.items()} == {
        s: b.tobytes() for s, b in driver.blobs.items()
    }


def test_bloom_est_fpp_tracks_load():
    """stats() estimates FPP from the per-shard item counts: within the
    target at the sized capacity, far past it at 3x."""
    rng = np.random.default_rng(5)
    shards = BloomShards.sized(100_000, n_shards=4)
    shards.add_hashes(rng.integers(-(2**63), 2**63 - 1, size=100_000, dtype=np.int64))
    at_capacity = shards.stats()
    assert at_capacity["items"] == 100_000
    assert at_capacity["est_fpp"] <= 1.2 * FPP_TARGET
    shards.add_hashes(rng.integers(-(2**63), 2**63 - 1, size=200_000, dtype=np.int64))
    assert shards.stats()["est_fpp"] > 10 * FPP_TARGET
