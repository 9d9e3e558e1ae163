"""Scale-shape tests for the scheduler: global rank (W4) determinism and
salting budget enforcement on a larger synthetic frontier."""

from __future__ import annotations

from pyspark.sql import functions as F

from pubcrawler_spark.operators import schedule as sched


def _frontier(spark, n=120_000, hosts=50):
    # Zipf-ish: host0 gets ~35% of rows (forces multi-salt windows)
    return spark.range(n).select(
        F.concat(F.lit("https://h"),
                 F.when(F.col("id") % 3 == 0, 0).otherwise(F.pmod(F.col("id"), F.lit(hosts))).cast("string"),
                 F.lit(".org/p"), F.col("id").cast("string")).alias("url_canon"),
        F.concat(F.lit("h"),
                 F.when(F.col("id") % 3 == 0, 0).otherwise(F.pmod(F.col("id"), F.lit(hosts))).cast("string"),
                 F.lit(".org")).alias("host"),
        F.xxhash64("id").alias("url_hash"),
        (F.pmod(F.col("id"), F.lit(97)) / 97.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.col("id").alias("seq"),
        F.col("id").cast("string").alias("url"),
    )


ORDER = dict(
    order_col_names=["priority", "depth", "disc_seq", "url_hash"],
    descending={"priority"},
    key_col="url_canon",
)


def _sequenced(df, **kw):
    """The frontier rows with their global rank joined back as ``seq``."""
    return df.join(sched.global_ranks(df, **ORDER, **kw), "url_canon")


def _ranks(df, **kw):
    return {tuple(r) for r in sched.schedule_ranks(df, **kw).collect()}


def test_global_sequence_dense_unique_deterministic(spark):
    df = _frontier(spark, 120_000).withColumnRenamed("seq", "disc_seq")
    a = _sequenced(df)
    n = df.count()
    stats = a.agg(
        F.count("*").alias("n"),
        F.countDistinct("seq").alias("d"),
        F.min("seq").alias("mn"),
        F.max("seq").alias("mx"),
    ).collect()[0]
    # dense 0..n-1, no rows lost, no duplicates
    assert (stats["n"], stats["d"], stats["mn"], stats["mx"]) == (n, n, 0, n - 1)
    # deterministic across independent computations
    b = _sequenced(df)
    assert a.select("seq", "url_canon").exceptAll(b.select("seq", "url_canon")).count() == 0
    # seq order agrees with the declared total order
    top = a.orderBy("seq").limit(1000).collect()
    prios = [r["priority"] for r in top]
    assert prios == sorted(prios, reverse=True)


def test_global_sequence_ranged_equals_serial(spark):
    """The pinned two-phase range rank (the >serial_limit path) produces
    the IDENTICAL (key → seq) mapping as the slim single-sort, and
    stays dense/deterministic across recomputation."""
    df = _frontier(spark, 150_000).withColumnRenamed("seq", "disc_seq")
    serial = _sequenced(df)
    ranged = _sequenced(df, size_hint=150_000, serial_limit=1)
    assert (
        serial.select("url_canon", "seq")
        .exceptAll(ranged.select("url_canon", "seq"))
        .count()
        == 0
    )
    n = df.count()
    stats = ranged.agg(
        F.count("*").alias("n"), F.countDistinct("seq").alias("d"),
        F.min("seq").alias("mn"), F.max("seq").alias("mx"),
    ).collect()[0]
    assert (stats["n"], stats["d"], stats["mn"], stats["mx"]) == (n, n, 0, n - 1)
    # recomputation is stable (pinned intermediate, total order)
    again = _sequenced(df, size_hint=150_000, serial_limit=1)
    assert ranged.select("url_canon", "seq").exceptAll(again.select("url_canon", "seq")).count() == 0


def test_schedule_ranks_ranged_path_matches_serial(spark):
    """schedule_ranks with a size_hint past the serial limit (forces the
    two-phase rank inside the engine path) matches the default plan."""
    df = _frontier(spark, 60_000)
    base = _ranks(df, host_budget=50, salt_rows=1_000)
    assert _ranks(df, host_budget=50, salt_rows=1_000, size_hint=10_000_000) == base


def test_salted_budget_exact_at_scale(spark):
    df = _frontier(spark, 60_000)
    out = df.join(sched.schedule_ranks(df, host_budget=100, salt_rows=1_000), "url_canon")
    per_host = out.groupBy("host").count().collect()
    assert all(r["count"] <= 100 for r in per_host)
    # the hot host must hit the budget exactly (salting didn't undercount)
    hot = [r["count"] for r in per_host if r["host"] == "h0.org"]
    assert hot == [100]
    # schedule seq dense over the picked set
    n = out.count()
    assert out.agg(F.countDistinct("sched_seq")).collect()[0][0] == n
    assert out.agg(F.max("sched_seq")).collect()[0][0] == n - 1


def test_host_side_broadcast_gate(spark):
    """The per-host side tables (iteration host counts, crawl-delay
    budgets) broadcast under HOST_SIDE_BROADCAST_LIMIT and fall back to
    distributed joins past it — same picked rows either way."""
    df = _frontier(spark, 20_000)
    budgets = spark.createDataFrame([("h0.org", 7)], "host string, max_per_iter int")

    def hints(d):
        return d._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    small = sched._picked_rows(df, 20, 500, budgets)
    big = sched._picked_rows(df, 20, 500, budgets,
                             size_hint=sched.HOST_SIDE_BROADCAST_LIMIT + 1)
    # both host-side joins hinted under the gate, zero hints past it
    assert hints(small) == 2
    assert hints(big) == 0
    # the distributed fallback picks the identical rows
    assert small.exceptAll(big).count() == 0
    assert big.exceptAll(small).count() == 0
    # the crawl-delay budget binds on the hot host in BOTH modes
    for out in (small, big):
        hot = out.filter(F.col("host") == "h0.org").count()
        assert hot == 7


def test_salt_skip_fast_path_matches_salted(spark):
    """r8 salt-skip: when size_hint proves no host can exceed salt_rows
    (total rows <= salt_rows), the single-pass plan must pick the exact
    same (url_canon, sched_seq) schedule as the salted two-pass plan."""
    df = _frontier(spark, 5_000)
    salted = _ranks(df, host_budget=20, salt_rows=200)
    assert _ranks(df, host_budget=20, salt_rows=200_000, size_hint=5_000) == salted
