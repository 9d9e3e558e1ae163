"""Physical-plan regression tests (scale guardrails): pushdown, column
pruning, broadcast joins, rank-limit pushdown, no-shuffle top-k.

These assert the *plan shape*, not timings — the properties that decide
whether a query survives a 100× scale-up (SURVEY.md §4)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from pubcrawler_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str, **kw) -> str:
    df = QUERIES[name](spark, SF, **kw)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_pushdown_and_partial_agg(spark):
    p = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # partial + final aggregate pair (map-side combine)
    assert p.count("HashAggregate") >= 2
    # column pruning: orderkey/partkey/suppkey are NOT read
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]


def test_q02_broadcasts_dim_side(spark):
    p = _plan(spark, "q02_top_parts_by_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_q21_topk_no_shuffle(spark):
    p = _plan(spark, "q21_ann_cosine_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p, "brute-force top-k must not shuffle"
    # only the two needed columns are read
    read = p.split("ReadSchema: ")[1].splitlines()[0]
    assert "vec_id" in read and "embedding" in read and "label" not in read


def test_q26_rank_limit_pushdown(spark):
    p = _plan(spark, "q26_politeness_schedule")
    assert "WindowGroupLimit" in p, "row_number budget must push into the window sort"
    assert "BroadcastHashJoin" in p  # host-count dim broadcast


def test_q26_persists_only_its_candidates(spark):
    """Collecting q26 leaves exactly one new persisted RDD: the pinned
    candidates. The schedule itself is joined back from slim ranks, not
    cached."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    df = QUERIES["q26_politeness_schedule"](spark, SF)
    df.collect()
    assert len(set(rdds().keys()) - before) == 1


def test_q03_fact_broadcast_dims(spark):
    p = _plan(spark, "q03_region_revenue")
    # all four dims broadcast; the fact table shuffles at most for the agg
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_q31_scans_posting_index_with_term_pushdown(spark):
    """BM25 query plan must read the MATERIALIZED (tf, dl) index with
    the query terms pushed into the parquet scan — and must not
    re-tokenize the corpus (no Python nodes at query time)."""
    p = _plan(spark, "q31_bm25_search")
    # term filter reaches a parquet scan of the index
    pushed = [l for l in p.splitlines() if "PushedFilters" in l and "term" in l]
    assert pushed, f"term filter not pushed to the index scan: {p[:2000]}"
    # no corpus re-tokenization at query time
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def _q32_unpinned_plan(spark) -> str:
    """q32's construction with the scoring barrier disabled: the
    registered query pins the slim scored projection behind a lazy
    localCheckpoint (so the threshold filter cannot be pushed into the
    candidate join's condition), which hides the join topology behind a
    Scan ExistingRDD in explain. ``pin=False`` exposes the identical
    candidate stage for the shape assertions below."""
    return _plan(spark, "q32_embedding_neardup_lsh", pin=False)


def test_q32_lsh_neardup_is_equi_join(spark):
    """The LSH near-dup candidates come from an EQUI join on
    (band, bucket) — never a cartesian/nested-loop pair enumeration.
    The registered query must additionally keep the scoring barrier
    (Scan ExistingRDD) so the filter evaluates cosine once per pair."""
    p = _q32_unpinned_plan(spark)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p
    assert "Scan ExistingRDD" in _plan(spark, "q32_embedding_neardup_lsh")


def test_q32_banded_exchange_carries_no_vectors(spark):
    """The (band, bucket) candidate exchange ships ids only: exploding
    the vector ×bands would inflate the shuffle's biggest column
    16-fold at 10^8 vectors. Vectors re-attach to the deduped pairs via
    id joins, so no hashpartitioning(band, bucket) exchange may carry
    the embedding/v column."""
    import re

    p = _q32_unpinned_plan(spark)
    blocks = re.split(r"\n\n", p)
    # the ×bands fan-out happens at the posexplode Generate; everything
    # downstream of it (the band/bucket join, any exchange) inherits its
    # columns — so the Generate input must be (vid, sig) only
    banded = [b for b in blocks if "posexplode" in b]
    assert banded, "expected posexplode Generate nodes in the LSH plan"
    for b in banded:
        assert not re.search(r"[\[, ](v|v_a|v_b|embedding)#", b), (
            f"banded fan-out carries a vector column:\n{b}"
        )
    # and if the band join does shuffle (bigger inputs), it must not
    # carry vectors either
    for b in blocks:
        if "hashpartitioning(band" in b:
            assert not re.search(r"[\[, ](v|v_a|v_b|embedding)#", b), (
                f"banded exchange carries a vector column:\n{b}"
            )


def test_q35_ivf_scan_is_partition_pruned(spark):
    """The IVF assigned table is partitionBy(cluster_id); a probe must
    reach the parquet scan as a PartitionFilter (only the n_probe
    cluster directories are listed/read — the inverted-file layout)."""
    p = _plan(spark, "q35_ann_ivf_topk")
    pruned = [
        l for l in p.splitlines()
        if "PartitionFilters" in l and "cluster_id" in l
    ]
    assert pruned, f"cluster_id probe not pushed as a partition filter:\n{p[:2000]}"


def test_q23_exact_neardup_is_the_small_scale_oracle(spark):
    """Contrast check: exact mode IS the nested-loop all-pairs plan
    (documented ≤10k-row oracle baseline), so the q32 assertion above
    is meaningful."""
    p = _plan(spark, "q23_embedding_neardup")
    assert "BroadcastNestedLoopJoin" in p or "CartesianProduct" in p
