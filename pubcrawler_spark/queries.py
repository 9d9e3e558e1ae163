"""Query registry: every operator exposed as (Spark callable, DuckDB
oracle SQL) pairs for the driver correctness gate (__spark_entry__.py).

Conventions that make the order-insensitive value-hash comparison hold:

- every computed column is aliased IDENTICALLY in Spark and SQL;
- money aggregates go through DECIMAL(18,4) (exact, order-independent)
  then round+cast to double — bit-equal on both engines;
- float similarity uses dot/(‖a‖·‖b‖) in double with sequential folds
  (F.aggregate ≙ DuckDB list_dot_product), rounded to 6;
- every query ends in a deterministic total ORDER BY.

Frontier-specific operators that SQL cannot express (murmur3 hashing,
bloom probes, HTML parsing, the full crawl loop) are registered without
an oracle — the driver records a rows-only check and pytest covers them
against the pure-Python reference mirror instead.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pubcrawler_spark.operators import analytics, ann, dedup, schedule as sched, search, textstats
from pubcrawler_spark.operators.seen import filter_unseen_exact

# taxonomy over the documents fixture's vocabulary (the reference's
# trends.yaml taxonomy targets paper abstracts; same operator shape)
DOC_TAXONOMY: dict[str, list[str]] = {
    "aggregation": ["agg", "group"],
    "joins": ["join", "merge"],
    "scans": ["scan", "table"],
    "sorting": ["sort", "order"],
    "streaming": ["stream", "window"],
}

KEYWORD_FILTERS = ["vector", "hash", "stream"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _index_cache_key(sf_dir: str, name: str) -> str:
    """Content-addressed cache key: hashes (a) the SOURCE of the modules
    that build indexes — editing the tokenizer/stemmer invalidates every
    cached index without manual version bumps — and (b) a fingerprint of
    the source parquet files (path, size, mtime), so regenerated fixture
    data at the same path never serves a stale index."""
    import hashlib
    import inspect
    import os

    from pubcrawler_spark import sinks
    from pubcrawler_spark.functions import stem
    from pubcrawler_spark.operators import ann, search

    h = hashlib.sha256()
    for mod in (sinks, search, stem, ann):
        h.update(inspect.getsource(mod).encode())
    h.update(f"{sf_dir}:{name}".encode())
    for fname in ("documents.parquet", "embeddings.parquet"):
        p = os.path.join(sf_dir, fname)
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{fname}:{st.st_size}:{st.st_mtime_ns}".encode())
        elif os.path.isdir(p):
            for part in sorted(os.listdir(p)):
                st = os.stat(os.path.join(p, part))
                h.update(f"{part}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _idx_path(sf_dir: str, name: str) -> str:
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"pubcrawler_idx_{name}_{_index_cache_key(sf_dir, name)}"
    )


def _materialized(spark: SparkSession, sf_dir: str, name: str, build_fn, writer=None) -> DataFrame:
    """Build-once parquet materialization for search indexes (the K4
    index-build step): at scale these are Iceberg tables written by the
    indexing job; queries only JOIN against them — a per-query corpus
    scan is the anti-pattern this removes. Cached per content key under
    /tmp (key covers builder source + source-parquet fingerprint, so
    logic edits and fixture regeneration both invalidate). Built to a
    scratch path and atomically renamed so a concurrent reader never
    sees a half-written index."""
    import os
    import shutil
    import uuid

    path = _idx_path(sf_dir, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        scratch = f"{path}__build_{uuid.uuid4().hex[:8]}"
        if writer is not None:
            # custom writer (e.g. sinks.write_index) — it swaps its own
            # output into `scratch` atomically; we rename once more
            writer(build_fn(), scratch)
        else:
            build_fn().write.mode("overwrite").parquet(scratch)
        try:
            os.rename(scratch, path)  # atomic on the same filesystem
        except OSError:
            # a concurrent builder winning the race leaves a COMPLETE
            # index (with its _SUCCESS marker) at the target; the errno
            # for rename-onto-existing-dir is platform-inconsistent
            # (ENOTEMPTY/EEXIST on Linux, EISDIR/ENOTDIR/EPERM
            # elsewhere), so the marker — not the errno — decides: if
            # the winner's _SUCCESS is present the builds are
            # equivalent (same content key) and ours is dropped;
            # otherwise it's a real failure (EXDEV, EACCES, ...) —
            # re-raise instead of silently discarding the fresh build
            # and then crashing on an unrelated-looking read error
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                shutil.rmtree(scratch, ignore_errors=True)
                raise
            # lost the race — the winner's index is equivalent (same
            # content key); drop ours
            shutil.rmtree(scratch, ignore_errors=True)
    return spark.read.parquet(path)


def _dec(c: str):
    return F.col(c).cast("decimal(18,4)")


def _sql_words(words: list[str]) -> str:
    return r"\b(" + "|".join(re.escape(w) for w in words) + r")\b"


def _stoplist_sql() -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in analytics.ALL_STOPWORDS)


QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ===========================================================================
# relational core (TPC-H-ish; SURVEY.md A1-A8, J1-J5, T1-T3, U1-U3, W2-W4)
# ===========================================================================


@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1 shape (A1/A2 partial+final agg; decimal-exact sums)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))), 2
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(_dec("l_discount")).cast("double") / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q(
    "q02_top_parts_by_revenue",
    """
    SELECT p.p_partkey, p.p_name, p.p_brand,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name, p.p_brand
    ORDER BY revenue DESC, p_partkey
    LIMIT 20
    """,
)
def q02(spark, sf_dir):
    """Broadcast dim join + top-k (J1/T1): part is the small side."""
    li, part = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(20)
    )


@q(
    "q03_region_revenue",
    """
    SELECT r.r_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r_name, n_name
    """,
)
def q03(spark, sf_dir):
    """5-way star join (J4 multi-hop) — dims broadcast, fact shuffles once."""
    c, n, r = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy("r_name", "n_name")
    )


@q(
    "q04_order_priority_pivot",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS oyear,
           SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS urgent,
           SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)::BIGINT AS high,
           SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)::BIGINT AS medium,
           SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)::BIGINT AS notspec,
           SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)::BIGINT AS low,
           COUNT(*) AS total,
           ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS urgent_rate
    FROM orders GROUP BY 1 ORDER BY oyear
    """,
)
def q04(spark, sf_dir):
    """Two-key count + pivot + derived ratio (A3/A4, trends.py:58-67)."""
    o = _t(spark, sf_dir, "orders")
    cnt = lambda v: F.sum(F.when(F.col("o_orderpriority") == v, 1).otherwise(0)).cast("long")
    return (
        o.groupBy(F.year("o_orderdate").cast("int").alias("oyear"))
        .agg(
            cnt("1-URGENT").alias("urgent"),
            cnt("2-HIGH").alias("high"),
            cnt("3-MEDIUM").alias("medium"),
            cnt("4-NOT SPECIFIED").alias("notspec"),
            cnt("5-LOW").alias("low"),
            F.count("*").alias("total"),
            F.round(
                F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)) * 1.0 / F.count("*"), 6
            ).alias("urgent_rate"),
        )
        .orderBy("oyear")
    )


@q(
    "q05_customer_topk_window",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_custkey ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey)
    WHERE rn <= 3 ORDER BY c_custkey, rn
    """,
)
def q05(spark, sf_dir):
    """Per-key top-k window (W3 politeness shape on relational data)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("c_custkey", "rn")
    )


@q(
    "q06_customers_no_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q06(spark, sf_dir):
    """Anti join (J2/U2 — the reference's seen-set semantics)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@q(
    "q07_nations_union_dedup",
    """
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey AS nationkey FROM supplier)
    ORDER BY nationkey
    """,
)
def q07(spark, sf_dir):
    """Union + dedup (U1/U3)."""
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
        .orderBy("nationkey")
    )


@q(
    "q08_events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY hour, event_type
    """,
)
def q08(spark, sf_dir):
    """Tumbling time-window aggregation (streaming shape on batch; X6)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4).cast("double").alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


@q(
    "q09_events_sessionize",
    """
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events)
    SELECT user_id,
           SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)
def q09(spark, sf_dir):
    """Sessionization: lag + gap>30min → session starts (stateful shape)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session tz is UTC, so the LTZ cast is
    # wall-clock-preserving and equals DuckDB's naive epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    g = e.select("user_id", us.alias("us"), F.lag(us).over(w).alias("prev_us"))
    return (
        g.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > 1_800_000_000), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ===========================================================================
# webtext analytics over documents (P4/A5/A6/F5/W1 + training-data ops)
# ===========================================================================


@q(
    "q10_doc_distribution",
    """
    SELECT lang, source, COUNT(*) AS cnt FROM documents
    GROUP BY lang, source ORDER BY cnt DESC, lang, source
    """,
)
def q10(spark, sf_dir):
    """A5 distribution counter (search_service.py:219 most_common)."""
    return analytics.distribution(_t(spark, sf_dir, "documents"), keys=("lang", "source"))


@q(
    "q11_keyword_filter",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE regexp_matches(lower(text), '{_sql_words(KEYWORD_FILTERS)}')
    ORDER BY doc_id
    """,
)
def q11(spark, sf_dir):
    """P4 regex keyword filter (run_crawler.py:92-100)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.lower(F.col("text")).rlike(_sql_words(KEYWORD_FILTERS)))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@q(
    "q12_word_frequency",
    f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(regexp_replace(lower(text), '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g'), '\\s+')) AS word
      FROM documents)
    SELECT word, COUNT(*) AS cnt FROM toks
    WHERE regexp_matches(word, '^\\p{{L}}+$') AND length(word) > 2
      AND word NOT IN ({_stoplist_sql()})
    GROUP BY word ORDER BY cnt DESC, word LIMIT 100
    """,
)
def q12(spark, sf_dir):
    """A6/U4 word frequency with stopword anti-join (analyzer.py:39-44)."""
    return analytics.word_frequency(_t(spark, sf_dir, "documents"), text_cols=("text",), top_n=100)


def _classify_oracle() -> str:
    legs = [
        f"SELECT '{name}' AS sub_field, COUNT(*) AS cnt FROM documents "
        f"WHERE regexp_matches(lower(text), '{_sql_words(kws)}')"
        for name, kws in DOC_TAXONOMY.items()
    ]
    return (
        "SELECT sub_field, cnt FROM (" + " UNION ALL ".join(legs) + ") WHERE cnt > 0 ORDER BY sub_field"
    )


@q("q13_classify_explode", _classify_oracle())
def q13(spark, sf_dir):
    """F5/V1/W1/A1: multi-label classify → explode → count (trends.py:44-49)."""
    d = _t(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    labels = [F.when(low.rlike(_sql_words(kws)), F.lit(name)) for name, kws in DOC_TAXONOMY.items()]
    return (
        d.withColumn("sub_fields", F.array_compact(F.array(*labels)))
        .withColumn("sub_field", F.explode("sub_fields"))
        .groupBy("sub_field")
        .agg(F.count("*").alias("cnt"))
        .orderBy("sub_field")
    )


@q(
    "q14_exact_fingerprint_groups",
    """
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id FROM (
      SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM documents)
    GROUP BY fp ORDER BY fp LIMIT 100
    """,
)
def q14(spark, sf_dir):
    """Exact-dedup fingerprint groups (hash-groupBy; dedup family 1)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        d.withColumn("fp", F.md5(norm))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .orderBy("fp")
        .limit(100)
    )


@q(
    "q15_ngram_jaccard_pairs",
    """
    WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(t) - 3), i -> substr(t, i, 5)))) AS shingle
           FROM d WHERE length(t) >= 5),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, ROUND(n_inter * 1.0 / (x.sz + y.sz - n_inter), 6) AS jaccard
    FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
    WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= 0.35
    ORDER BY doc_a, doc_b
    """,
)
def q15(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (dedup family 2)."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=5, threshold=0.35
    )


@q("q16_minhash_lsh_pairs")  # murmur3 minhash — not SQL-expressible; rows-only
def q16(spark, sf_dir):
    """MinHash+LSH near-dup candidates (dedup family 3; shingle→minhash→
    band→bucket-join). Deterministic (seeded permutations)."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text", k=5, n_perm=64, bands=16, verify_threshold=0.35
    )


@q("q17_simhash_pairs")  # murmur3 simhash — rows-only
def q17(spark, sf_dir):
    """SimHash hamming≤3 near-dup pairs (dedup family 4)."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3)


@q(
    "q18_token_count",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q18(spark, sf_dir):
    """Token counting: whitespace + BPE-ish pre-tokenizer regex."""
    return textstats.token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "ws_tokens", "bpe_tokens"
    ).orderBy("doc_id")


def _langid_oracle() -> str:
    score = {
        lang: f"len(regexp_extract_all(lower(text), '{_sql_words(ws)}'))"
        for lang, ws in textstats.LANG_MARKERS.items()
    }
    inner = ", ".join(f"{expr} AS s_{l}" for l, expr in score.items())
    m = "greatest(" + ", ".join(f"s_{l}" for l in textstats.LANG_MARKERS) + ")"
    cases = " ".join(f"WHEN s_{l} = {m} THEN '{l}'" for l in textstats.LANG_MARKERS)
    return f"""
    WITH s AS (SELECT doc_id, {inner} FROM documents)
    SELECT doc_id, CASE WHEN {m} = 0 THEN 'und' {cases} END AS lang_pred
    FROM s ORDER BY doc_id
    """


@q("q19_lang_id", _langid_oracle())
def q19(spark, sf_dir):
    """Language-ID heuristic (marker-word argmax, first-wins ties)."""
    return textstats.lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred").orderBy("doc_id")


@q(
    "q20_quality_score",
    f"""
    WITH s AS (
      SELECT doc_id,
             length(text) AS n_chars_calc,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             len(regexp_extract_all(lower(text), '{_sql_words(textstats.LANG_MARKERS["en"])}')) AS n_stop
      FROM documents)
    SELECT doc_id, n_chars_calc::BIGINT AS n_chars_calc, n_words::BIGINT AS n_words,
           ROUND(CASE WHEN n_chars_calc > 0 THEN n_punct * 1.0 / n_chars_calc ELSE 0.0 END, 6) AS punct_ratio,
           ROUND(CASE WHEN n_words > 0 THEN n_stop * 1.0 / n_words ELSE 0.0 END, 6) AS stop_ratio,
           ROUND(((CASE WHEN n_words >= 10 AND n_words <= 100000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN n_chars_calc > 0 AND n_punct * 1.0 / n_chars_calc > 0.0 AND n_punct * 1.0 / n_chars_calc < 0.2 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN n_words > 0 AND n_stop * 1.0 / n_words > 0.05 THEN 0.3 ELSE 0.0 END))::DOUBLE, 2) AS quality
    FROM s ORDER BY doc_id
    """,
)
def q20(spark, sf_dir):
    """Webtext quality heuristics (length/punct/stopword ratios)."""
    return textstats.quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars_calc", "n_words", "punct_ratio", "stop_ratio", "quality"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_dot_product(e, qe) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe)))"
)


@q(
    "q21_ann_cosine_topk",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    s AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT vid, ROUND({_COS_SQL}, 6) AS similarity FROM s, q
    ORDER BY similarity DESC, vid LIMIT 10
    """,
)
def q21(spark, sf_dir):
    """Brute-force exact cosine top-k (ANN baseline; T5)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ann.cosine_topk(emb, list(qvec), k=10)


@q("q22_ann_lsh_topk")  # hyperplane signatures — rows-only (approximate path)
def q22(spark, sf_dir):
    """LSH-bucketed ANN (scale path): signature prune + exact re-rank."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ann.lsh_bucket_topk(emb, list(qvec), k=10, n_bits=12, probe_hamming=4)


@q(
    "q23_embedding_neardup",
    f"""
    WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM n a, n b WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
    ORDER BY id_a, id_b
    """,
)
def q23(spark, sf_dir):
    """Embedding-cosine near-dup pairs (dedup family 5)."""
    return dedup.embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


@q("q32_embedding_neardup_lsh")  # hyperplane signatures — rows-only (scale path)
def q32(spark, sf_dir, pin=True):
    """Embedding near-dup via hyperplane-LSH candidates (the 10^8+-vector
    plan): banded sign-bit buckets → equi-join on (band, bucket) → exact
    cosine verify. Pytest asserts its pairs ⊇ the exact q23 pairs on the
    fixture (recall ≈ 1 − 1.6e-4 per pair at τ=0.45 with these params).
    ``pin=False`` drops the scoring barrier so plan tests can see the
    candidate join (see ``dedup.embedding_neardup_pairs``)."""
    return dedup.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.45, mode="lsh", n_bits=32, bands=16, pin=pin,
    )


@q(
    "q24_semantic_search_joinback",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    s AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS e FROM embeddings),
    topk AS (SELECT vid, ROUND({_COS_SQL}, 6) AS similarity FROM s, q
             ORDER BY similarity DESC, vid LIMIT 10)
    SELECT t.vid, t.similarity, d.lang, d.source, d.n_chars
    FROM topk t JOIN documents d ON d.doc_id = t.vid
    ORDER BY t.similarity DESC, t.vid
    """,
)
def q24(spark, sf_dir):
    """T5+J1: ANN top-k joined back to metadata, rank order preserved
    (search_service.py:182-203)."""
    emb, docs = _t(spark, sf_dir, "embeddings"), _t(spark, sf_dir, "documents")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return ann.semantic_search(emb, docs.select("doc_id", "lang", "source", "n_chars"), list(qvec), k=10)


@q(
    "q41_trigram_entropy",
    """
    WITH d AS (SELECT doc_id AS doc, lower(trim(regexp_replace(coalesce(text,''), '\\s+', ' ', 'g'))) AS t FROM documents),
    tri AS (SELECT doc, unnest(list_transform(range(1, length(t) - 1), i -> substr(t, i, 3))) AS tri
            FROM d WHERE length(t) >= 3),
    c AS (SELECT doc, tri, COUNT(*) AS c FROM tri GROUP BY doc, tri),
    e AS (SELECT doc,
                 ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy_bits,
                 COUNT(*) AS n_distinct_tri, SUM(c)::BIGINT AS n_trigrams
          FROM c GROUP BY doc)
    SELECT doc, entropy_bits, n_distinct_tri, n_trigrams FROM e
    UNION ALL
    SELECT doc, 0.0, 0::BIGINT, 0::BIGINT FROM d WHERE length(t) < 3
    ORDER BY doc
    """,
)
def q41(spark, sf_dir):
    """Character-trigram entropy quality signal (the deterministic
    stand-in for CCNet/Gopher LM-perplexity filters) — pure
    expressions, exact SQL oracle."""
    return textstats.trigram_entropy(_t(spark, sf_dir, "documents")).orderBy("doc")


@q(
    "q43_gopher_repetition",
    """
    WITH d AS (SELECT doc_id AS doc, coalesce(text,'') AS t FROM documents),
    l AS (SELECT doc, list_filter(string_split(t, chr(10)), x -> length(x) > 0) AS lines FROM d),
    lf AS (SELECT doc,
      len(lines) AS n_lines, len(list_distinct(lines)) AS n_dist,
      list_aggregate(list_transform(lines, x -> length(x)), 'sum') AS chars,
      list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum') AS dchars
      FROM l),
    linesig AS (SELECT doc,
      ROUND(CASE WHEN n_lines > 0 THEN (n_lines - n_dist)/n_lines::DOUBLE ELSE 0.0 END, 6) AS dup_line_frac,
      ROUND(CASE WHEN chars > 0 THEN (chars - dchars)/chars::DOUBLE ELSE 0.0 END, 6) AS dup_line_char_frac
      FROM lf),
    toks AS (SELECT doc,
      list_filter(string_split_regex(regexp_replace(lower(t), '[^\\p{L}\\p{N}_\\s]', '', 'g'), '\\s+'), x -> length(x) > 0) AS tk
      FROM d),
    bgr AS (SELECT doc, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
            FROM toks WHERE len(tk) >= 2),
    c AS (SELECT doc, bg, COUNT(*) AS c FROM bgr GROUP BY doc, bg),
    r AS (SELECT doc, c, ROW_NUMBER() OVER (PARTITION BY doc ORDER BY c DESC, bg DESC) AS rn,
                 SUM(c) OVER (PARTITION BY doc) AS tot FROM c),
    topsig AS (SELECT doc, ROUND(c/tot::DOUBLE, 6) AS top_bigram_frac, tot::BIGINT AS n_bigrams
               FROM r WHERE rn = 1)
    SELECT ls.doc, ls.dup_line_frac, ls.dup_line_char_frac,
           coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac,
           coalesce(t.n_bigrams, 0)::BIGINT AS n_bigrams
    FROM linesig ls LEFT JOIN topsig t USING (doc)
    ORDER BY ls.doc
    """,
)
def q43(spark, sf_dir):
    """Gopher repetition-removal signals (Rae et al. 2021 Table A1):
    duplicate-line fraction, duplicate-line character fraction, and the
    top-bigram occupancy — the standard boilerplate/template filters of
    a webtext training pipeline, exact SQL oracle."""
    return textstats.gopher_repetition(_t(spark, sf_dir, "documents")).orderBy("doc")


@q("q40_winnow_pairs")  # rolling-hash fingerprints — rows-only
def q40(spark, sf_dir):
    """Winnowing (Schleimer et al. 2003) near-dup candidates: rolling
    k-gram hashes → window-min fingerprints → equi-join on fp. The
    rolling-hash fingerprint index the driver mandate names; any shared
    substring ≥ k+window−1 chars guarantees a shared fingerprint."""
    return textstats.winnow_pairs(
        _t(spark, sf_dir, "documents"), k=8, window=4, min_shared=40
    )


@q(
    "q38_c4_line_filter",
    """
    WITH l AS (
      SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS lines FROM documents),
    k AS (
      SELECT doc_id, lines,
             list_filter(lines, x ->
               regexp_matches(trim(x), '[.!?"”]$')
               AND len(string_split_regex(trim(x), '\\s+')) >= 3
               AND NOT contains(lower(x), 'lorem ipsum')
               AND NOT contains(lower(x), 'javascript')
               AND NOT contains(x, '{')) AS kept
      FROM l)
    SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
           len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_lines_kept
    FROM k ORDER BY doc_id
    """,
)
def q38(spark, sf_dir):
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 heuristics)
    as pure expressions — the standard first pass of a webtext
    training-data pipeline."""
    return textstats.c4_line_filter(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@q(
    "q39_pii_scrub",
    """
    SELECT doc_id,
           regexp_replace(
             regexp_replace(coalesce(text, ''), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?\\d[\\d().\\- ]{7,}\\d', '<PHONE>', 'g') AS scrubbed,
           len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
           len(regexp_extract_all(coalesce(text, ''), '\\+?\\d[\\d().\\- ]{7,}\\d'))::BIGINT AS n_phones
    FROM documents ORDER BY doc_id
    """,
)
def q39(spark, sf_dir):
    """PII scrubbing (emails/phone runs → sentinels) with match
    counters — pure expressions, RE2-compatible regexes."""
    return textstats.scrub_pii(_t(spark, sf_dir, "documents")).orderBy("doc_id")


_POSTING_AGG_SQL = """
    WITH toks AS (
      SELECT doc_id AS doc, 'text' AS col,
             unnest(string_split_regex(regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+')) AS term
      FROM documents
      UNION ALL
      SELECT doc_id AS doc, 'source' AS col,
             unnest(string_split_regex(regexp_replace(lower(source), '[^\\w\\s]', ' ', 'g'), '\\s+')) AS term
      FROM documents),
    postings AS (
      SELECT term, doc, col, COUNT(*) AS tf FROM toks WHERE length(term) > 0 GROUP BY 1,2,3)
    SELECT term, col, COUNT(*) AS df, SUM(tf)::BIGINT AS total_tf
    FROM postings GROUP BY term, col
    ORDER BY df DESC, term, col LIMIT 100
    """


@q("q36_posting_table", _POSTING_AGG_SQL)
def q36(spark, sf_dir):
    """K4 posting-table build under a SQL oracle: per-(term, col)
    document frequency and total tf over the materialized posting rows
    (the FTS index-build step as a first-class oracle-checked query)."""
    from pubcrawler_spark import sinks

    d = _t(spark, sf_dir, "documents")
    postings = sinks.build_posting_table(d, "doc_id", text_cols=("text", "source"))
    return (
        postings.groupBy("term", "col")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("total_tf"))
        .orderBy(F.desc("df"), "term", "col")
        .limit(100)
    )


@q("q42_compacted_posting_index", _POSTING_AGG_SQL)
def q42(spark, sf_dir):
    """K4 compaction path under the SAME SQL oracle as q36: the posting
    table goes through sinks.write_index (the FTS5 post-bulk-load
    ``optimize`` analog — term-range-partitioned, sorted, size-targeted
    files; /root/reference/src/search/indexer.py:99) and the aggregation
    runs over the COMPACTED files. Identical results to q36 prove the
    rewrite preserves content; the compacted layout is what makes
    term-equality scans prune whole files via parquet min/max stats."""
    from pubcrawler_spark import sinks

    d = _t(spark, sf_dir, "documents")
    compacted = _materialized(
        spark, sf_dir, "postings_compacted",
        lambda: sinks.build_posting_table(d, "doc_id", text_cols=("text", "source")),
        writer=lambda df, path: sinks.write_index(df, path, sort_cols=("term", "col", "doc")),
    )
    return (
        compacted.groupBy("term", "col")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("total_tf"))
        .orderBy(F.desc("df"), "term", "col")
        .limit(100)
    )


@q(
    "q37_sanitize_filenames",
    """
    SELECT doc_id,
           CASE WHEN length(regexp_replace(source, '[\\\\/*?:"<>|]', '', 'g')) > 100
                THEN substr(regexp_replace(source, '[\\\\/*?:"<>|]', '', 'g'), 1, 100) || '.pdf'
                ELSE regexp_replace(source, '[\\\\/*?:"<>|]', '', 'g') || '.pdf' END AS fname
    FROM documents ORDER BY doc_id
    """,
)
def q37(spark, sf_dir):
    """P10 filename sanitization under a SQL oracle (processor.py:30-35
    semantics: strip the invalid-char class, truncate to 100, '.pdf')."""
    from pubcrawler_spark import sinks

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", sinks.sanitize_filename(F.col("source")).alias("fname")
    ).orderBy("doc_id")


@q("q35_ann_ivf_topk")  # k-means quantizer — rows-only (approximate path)
def q35(spark, sf_dir):
    """IVF ANN over a MATERIALIZED index: the assigned table is built
    once per corpus and stored partitionBy(cluster_id) — the inverted-
    file layout, so each query scans only the n_probe probed clusters'
    directories (partition pruning). The TRAINED centroids persist
    beside the index (``_centroids.npy``, invisible to the parquet
    reader) and the probe LOADS them — re-deriving the quantizer at
    query time would couple correctness to reproducing the training
    sample under the builder's exact session config (core count /
    maxPartitionBytes change Spark's file partitioning and with it the
    per-partition Bernoulli sample)."""
    import os

    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]

    def _writer(pair, path):
        cent_built, assigned_df = pair
        assigned_df.write.partitionBy("cluster_id").mode("overwrite").parquet(path)
        np.save(os.path.join(path, "_centroids.npy"), cent_built)

    assigned = _materialized(
        spark, sf_dir, "ivf_assigned_v2",
        lambda: ann.build_ivf_index(emb, n_centroids=16),
        writer=_writer,
    )
    cent = np.load(os.path.join(_idx_path(sf_dir, "ivf_assigned_v2"), "_centroids.npy"))
    return ann.ivf_search(assigned, cent, list(qvec), k=10, n_probe=6)


@q("q33_incremental_embed")  # murmur3 hash-encoder — rows-only
def q33(spark, sf_dir):
    """V2 incremental embed pipeline (embedder_chroma.py:56-125 flow):
    ids already in the vector store (here: embeddings with vec_id < 400)
    are skipped via anti-join; only the missing docs are batch-encoded
    (deterministic feature-hashing encoder, Arrow batches). The raw
    vector column is digest-projected — (rounded L2 norm, xxhash64 of
    the 6-dp-rounded vector) — so the result is hashable for the
    driver's canonicalizer while still pinning every vector value; the
    full array<float> semantics stay covered by tests/test_embed.py."""
    from pubcrawler_spark.operators import embed

    docs = _t(spark, sf_dir, "documents")
    existing = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400).select("vec_id")
    out = embed.incremental_embed(docs, existing, id_col="doc_id", text_col="text", dim=64)
    rounded = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double"), 6))
    return out.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(F.aggregate(rounded, F.lit(0.0), lambda acc, x: acc + x * x)), 6
        ).alias("norm"),
        F.xxhash64(F.concat_ws(",", F.transform(rounded, lambda x: x.cast("string")))).alias(
            "vec_digest"
        ),
    ).orderBy("vec_id")


@q(
    "q25_keyword_search",
    """
    SELECT doc_id, lang, source,
           ((CASE WHEN regexp_matches(text, '(?i)\\bstream\\b') THEN 1 ELSE 0 END)
          + (CASE WHEN regexp_matches(source, '(?i)\\bstream\\b') THEN 1 ELSE 0 END)
          + (CASE WHEN regexp_matches(text, '(?i)\\bsrc1\\b') THEN 1 ELSE 0 END)
          + (CASE WHEN regexp_matches(source, '(?i)\\bsrc1\\b') THEN 1 ELSE 0 END)) AS score
    FROM documents
    WHERE (regexp_matches(text, '(?i)\\bstream\\b') OR regexp_matches(source, '(?i)\\bstream\\b'))
      AND (regexp_matches(text, '(?i)\\bsrc1\\b') OR regexp_matches(source, '(?i)\\bsrc1\\b'))
    ORDER BY score DESC, doc_id
    """,
)
def q25(spark, sf_dir):
    """V4/W2: field-scoped keyword query compiler + rank scoring
    (search_service.py:118-170). Query: 'stream src1'. Runs the
    posting-pruned path: candidates come from semi-joins on the
    materialized posting table (K4); the rlike predicate verifies only
    the survivors — same rows as a full scan, oracle-checked."""
    from pubcrawler_spark import sinks

    d = _t(spark, sf_dir, "documents")
    postings = _materialized(
        spark, sf_dir, "postings_docs",
        lambda: sinks.build_posting_table(d, "doc_id", text_cols=("text", "source")),
    )
    out = search.keyword_search(
        d, "stream src1", ["text", "source"], "doc_id", postings=postings
    )
    return out.select("doc_id", "lang", "source", F.col("score").cast("int").alias("score")).orderBy(
        F.desc("score"), F.asc("doc_id")
    )


@q("q34_stemmed_search")  # porter stemming — rows-only (FTS5 recall parity)
def q34(spark, sf_dir):
    """FTS5 tokenize='porter' recall semantics (indexer.py:36) over the
    stemmed posting table: query 'streams joins' matches docs containing
    'stream' AND 'join' — the recall the exact-match surface (q25)
    deliberately does not have."""
    from pubcrawler_spark import sinks

    d = _t(spark, sf_dir, "documents")
    postings = _materialized(
        spark, sf_dir, "postings_stem",
        lambda: sinks.build_posting_table(d, "doc_id", text_cols=("text",), stem=True),
    )
    return search.stemmed_search(postings, "streams joins", id_col_out="doc_id")


_BM25_TERMS = ["stream", "window", "vector"]


@q(
    "q31_bm25_search",
    f"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(regexp_replace(lower(text), '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g'), '\\s+')) AS term
      FROM documents),
    toks2 AS (SELECT * FROM toks WHERE length(term) > 0),
    tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks2 GROUP BY doc, term),
    dl AS (SELECT doc, SUM(tf) AS dl FROM tf GROUP BY doc),
    stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM dl),
    qt AS (SELECT tf.doc, tf.term, tf.tf, dl.dl FROM tf JOIN dl USING (doc)
           WHERE tf.term IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})),
    dft AS (SELECT term, COUNT(DISTINCT doc) AS df FROM qt GROUP BY term)
    SELECT doc, ROUND(SUM(
             ln((s.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
             * (qt.tf * (1.2 + 1)) / (qt.tf + 1.2 * (1 - 0.75 + 0.75 * qt.dl / s.avgdl))
           ), 6) AS bm25,
           COUNT(*) AS n_terms_hit
    FROM qt JOIN dft USING (term), stats s
    GROUP BY doc ORDER BY bm25 DESC, doc LIMIT 20
    """,
)
def q31(spark, sf_dir):
    """W2/K4: BM25 ranking for a fixed 3-term query over the
    MATERIALIZED (tf, dl) posting index — the query plan scans the
    index tables, never the corpus (index built once per sf_dir). The
    (n_docs, avgdl) corpus scalars live in a 1-row stats table written
    at index build and are read driver-side from its parquet footprint
    (no per-query aggregation job — the plan is join-only)."""
    import os

    import pyarrow.parquet as pq

    d = _t(spark, sf_dir, "documents")
    tf = _materialized(
        spark, sf_dir, "bm25_tf", lambda: search.build_bm25_index(d, "doc_id", "text")[0]
    )
    dl = _materialized(
        spark, sf_dir, "bm25_dl", lambda: search.build_bm25_index(d, "doc_id", "text")[1]
    )
    _materialized(
        spark, sf_dir, "bm25_stats",
        lambda: search.bm25_corpus_stats(search.build_bm25_index(d, "doc_id", "text")[1]),
    )
    stats_dir = _idx_path(sf_dir, "bm25_stats")
    srow = pq.read_table(
        [os.path.join(stats_dir, f) for f in sorted(os.listdir(stats_dir)) if f.endswith(".parquet")]
    ).to_pylist()[0]
    return search.bm25_search(
        None, _BM25_TERMS, index=(tf, dl), stats=(srow["n_docs"], srow["avgdl"]), top_n=20
    )


# ===========================================================================
# frontier operators (oracle-checked where ANSI-SQL can express them)
# ===========================================================================


@q(
    "q26_politeness_schedule",
    """
    WITH f AS (
      SELECT concat('https://host', user_id % 50, '.example.org/page', event_id, '.html') AS url_canon,
             concat('host', user_id % 50, '.example.org') AS host,
             value AS priority, 0 AS depth, event_id AS seq
      FROM events),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC, depth, seq) AS rn FROM f),
    p AS (SELECT * FROM r WHERE rn <= 5)
    SELECT (ROW_NUMBER() OVER (ORDER BY priority DESC, depth, seq) - 1)::BIGINT AS seq,
           url_canon, host, priority
    FROM p ORDER BY seq
    """,
)
def q26(spark, sf_dir):
    """W3/W4 politeness scheduler under a SQL oracle: per-host top-5 by
    (priority desc, depth, seq) + deterministic global sequence. The
    Spark side is the crawl engine's own composition: canonicalize UDF,
    ``schedule.schedule_ranks`` (salted two-pass window + global rank),
    then the slim ranks joined back onto the candidates on
    ``url_canon``. The canonicalized candidates are PINNED
    (localCheckpoint) first, as the engine materializes its candidates
    table — unpinned, the canonicalize UDF would run once for the window
    stack and again for the join-back. That checkpoint is the query's
    only persisted RDD."""
    from pubcrawler_spark.functions.urltools import with_canonical_url

    e = _t(spark, sf_dir, "events")
    frontier = with_canonical_url(
        e.select(
            F.concat(
                F.lit("https://host"), (F.col("user_id") % 50).cast("string"),
                F.lit(".example.org/page"), F.col("event_id").cast("string"), F.lit(".html"),
            ).alias("url"),
            F.col("value").alias("priority"),
            F.lit(0).alias("depth"),
            F.col("event_id").alias("seq"),
        )
    ).localCheckpoint(eager=False)
    ranks = sched.schedule_ranks(frontier, host_budget=5, salt_rows=200)
    return frontier.join(ranks, "url_canon").select(
        F.col("sched_seq").alias("seq"), "url_canon", "host", "priority"
    ).orderBy("seq")


@q(
    "q27_url_canonicalize",
    """
    SELECT concat('HTTPS://Host', user_id % 50, '.Example.ORG:443/p/./', event_id,
                  '/x/../page.html?utm_source=feed&b=', event_id % 7, '&a=1#frag') AS url,
           concat('https://host', user_id % 50, '.example.org/p/', event_id,
                  '/page.html?a=1&b=', event_id % 7) AS url_canon,
           concat('host', user_id % 50, '.example.org') AS host
    FROM events ORDER BY url
    """,
)
def q27(spark, sf_dir):
    """P8/V6 canonicalizer under a SQL oracle: scheme/host lowercase,
    default-port strip, dot-segment resolution, tracking-param removal,
    query sort, fragment strip — expected output constructed by the SQL."""
    from pubcrawler_spark.functions.urltools import with_canonical_url

    e = _t(spark, sf_dir, "events")
    messy = e.select(
        F.concat(
            F.lit("HTTPS://Host"), (F.col("user_id") % 50).cast("string"),
            F.lit(".Example.ORG:443/p/./"), F.col("event_id").cast("string"),
            F.lit("/x/../page.html?utm_source=feed&b="), (F.col("event_id") % 7).cast("string"),
            F.lit("&a=1#frag"),
        ).alias("url")
    )
    return with_canonical_url(messy).select("url", "url_canon", "host").orderBy("url")


@q(
    "q28_seen_antijoin",
    """
    SELECT event_id AS url_hash FROM events
    WHERE event_id % 2 = 0
      AND event_id NOT IN (SELECT event_id FROM events WHERE event_id % 3 = 0)
    ORDER BY url_hash
    """,
)
def q28(spark, sf_dir):
    """J2 URL-seen exact anti-join under a SQL oracle."""
    e = _t(spark, sf_dir, "events")
    cand = e.filter(F.col("event_id") % 2 == 0).select(F.col("event_id").alias("url_hash"))
    seen = e.filter(F.col("event_id") % 3 == 0).select(F.col("event_id").alias("url_hash"))
    return filter_unseen_exact(cand, seen).orderBy("url_hash")


@q("q29_parse_extract")  # HTML binary parsing — rows-only (pytest covers byte parity)
def q29(spark, sf_dir):
    """P1/V3 batch HTML extraction on the deterministic pages fixture."""
    from pubcrawler_spark.fixtures import YEAR, generate_pages, pages_spark_df
    from pubcrawler_spark.operators.parse import parse_pages

    fx = generate_pages(150)
    pages = pages_spark_df(spark, fx)
    parsed = parse_pages(pages, YEAR)
    return (
        parsed.filter(F.col("parsed.id").isNotNull())
        .select("parsed.id", "parsed.title", "parsed.authors", "parsed.abstract",
                "parsed.pdf_url", "parsed.source_url", "parsed.text")
        .orderBy("source_url")
    )


@q("q30_crawl_schedule_e2e")  # full iterative crawl — rows-only (pytest: mirror parity)
def q30(spark, sf_dir):
    """End-to-end frontier loop (2 iterations, deterministic fixture):
    returns the fetch schedule. Pytest asserts mirror parity; here the
    driver records rows+schema stability."""
    import tempfile

    from pubcrawler_spark.fixtures import YEAR, generate_pages, pages_spark_df, robots_spark_df
    from pubcrawler_spark.plans.frontier import CrawlEngine

    fx = generate_pages(150)
    ck = tempfile.mkdtemp(prefix="q30_ck_")
    eng = CrawlEngine(
        spark, pages_spark_df(spark, fx), robots_spark_df(spark, fx), fx.seeds,
        checkpoint_dir=ck, year=YEAR, host_budget=5,
    )
    eng.run(max_iterations=2)
    return eng.full_schedule().select("iteration", "seq", "url_canon", "host").orderBy("iteration", "seq")


# ===========================================================================
# source/sink adapters under the driver gate (S4/S5/S6/S9/K1/K5, A7, F17)
# — payloads are SYNTHESIZED from the fixture tables with pure
# expressions, so each adapter's parse/classify/round-trip output has an
# exact ANSI-SQL oracle that constructs the expected records directly.
# ===========================================================================


@q(
    "q44_arxiv_atom_records",
    """
    SELECT '2401.' || doc_id AS id,
           'Paper ' || doc_id || ' on ' || source AS title,
           'A. ' || lang || ', B ' || doc_id AS authors,
           'We show result ' || doc_id || '.' AS summary,
           'http://arxiv.org/pdf/2401.' || doc_id AS pdf_url,
           'http://arxiv.org/abs/2401.' || doc_id AS source_url,
           'cs.' || lang || '|stat.ML' AS cats,
           'cs.' || lang AS primary_category
    FROM documents WHERE doc_id % 97 != 0
    ORDER BY id
    """,
)
def q44(spark, sf_dir):
    """S4 arXiv Atom source adapter under a SQL oracle
    (arxiv_scraper.py:30-49): Atom XML payloads are synthesized from the
    documents table (with whitespace noise so the field cleaner does
    real work, and every 97th payload malformed so the ParseError path
    drops it), parsed batch-wise by the ElementTree pandas UDF, and the
    extracted records compared against the oracle's direct construction."""
    from pubcrawler_spark.sources.api import parse_arxiv_atom

    d = _t(spark, sf_dir, "documents")
    xml = F.format_string(
        '<feed xmlns="http://www.w3.org/2005/Atom"><entry>'
        "<id>http://arxiv.org/abs/2401.%d</id>"
        "<title>Paper   %d\n on %s</title>"
        "<author><name> A. %s </name></author><author><name>B %d</name></author>"
        "<summary> We show   result %d. </summary>"
        '<link title="pdf" href="http://arxiv.org/pdf/2401.%d"/>'
        '<category term="cs.%s"/><category term="stat.ML"/>'
        '<arxiv:primary_category xmlns:arxiv="http://arxiv.org/schemas/atom" term="cs.%s"/>'
        "</entry></feed>",
        "doc_id", "doc_id", "source", "lang", "doc_id", "doc_id", "doc_id", "lang", "lang",
    )
    payloads = d.select(
        F.when(F.col("doc_id") % 97 == 0, F.lit("<feed>not atom")).otherwise(xml).alias("payload")
    )
    out = parse_arxiv_atom(payloads)
    return out.select(
        "id", "title", "authors", "summary", "pdf_url", "source_url",
        F.array_join("categories", "|").alias("cats"),
        "primary_category",
    ).orderBy("id")


@q(
    "q45_openreview_ratings",
    """
    SELECT 'note' || doc_id AS id,
           'T ' || doc_id AS title,
           lang || ', x' AS authors,
           'A ' || n_chars AS abstract,
           '/pdf/' || doc_id || '.pdf' AS pdf_url,
           'Accept' AS decision,
           CASE WHEN doc_id % 11 = 0 THEN NULL
                ELSE ROUND(((doc_id % 10) + (doc_id * 3 % 7) + (doc_id * 5 % 9 + 1)) / 3.0, 2)
           END AS avg_rating
    FROM documents ORDER BY id
    """,
)
def q45(spark, sf_dir):
    """S5 OpenReview notes adapter + A7 rating mean under a SQL oracle
    (iclr_scraper.py:77-105): JSON note payloads synthesized from the
    documents table (every 11th with an EMPTY ratings list — the
    mean-of-zero guard), parsed via from_json + pure expressions;
    avg_rating = round(mean(ratings), 2)."""
    from pubcrawler_spark.sources.api import parse_openreview_notes

    d = _t(spark, sf_dir, "documents")
    ratings_json = F.when(F.col("doc_id") % 11 == 0, F.lit("[]")).otherwise(
        F.format_string(
            "[%d,%d,%d]",
            F.col("doc_id") % 10, F.col("doc_id") * 3 % 7, F.col("doc_id") * 5 % 9 + 1,
        )
    )
    payload = F.format_string(
        '{"id":"note%d","content":{"title":"T %d","abstract":"A %d",'
        '"authors":["%s","x"],"pdf":"/pdf/%d.pdf"},'
        '"details":{"ratings":%s,"decision":"Accept"}}',
        "doc_id", "doc_id", "n_chars", "lang", "doc_id", ratings_json,
    )
    out = parse_openreview_notes(d.select(payload.alias("payload")))
    return out.select(
        "id", "title", "authors", "abstract", "pdf_url", "decision", "avg_rating"
    ).orderBy("id")


@q(
    "q46_paginated_rest_scan",
    """
    SELECT (i // 10 + 1)::INT AS page,
           i::BIGINT AS rec_id,
           'rec' || (i % 10) AS name,
           ((i % 10) * (i // 10 + 1))::BIGINT AS value
    FROM range(0, 50) t(i) ORDER BY rec_id
    """,
)
def q46(spark, sf_dir):
    """S6 paginated REST cursor scan under a SQL oracle
    (tpami_scraper.py:63-116): a deterministic fetch_page stub serves 5
    numbered JSON pages of 10 records; the cursor loop walks to
    totalPages and each page parses JVM-side (from_json + explode). The
    oracle reconstructs the record stream from range()."""
    import json as _json

    from pubcrawler_spark.sources.api import paginated_rest_scan

    def fetch_page(p: int) -> tuple[str, int]:
        recs = [
            {"rec_id": (p - 1) * 10 + i, "name": f"rec{i}", "value": i * p}
            for i in range(10)
        ]
        return _json.dumps({"records": recs}), 5

    out = paginated_rest_scan(
        spark, fetch_page, "rec_id bigint, name string, value bigint"
    )
    return out.select("page", "rec_id", "name", "value").orderBy("rec_id")


@q(
    "q47_csv_sink_roundtrip",
    """
    SELECT doc_id, 'T' || doc_id AS title, lang AS authors,
           'A' || n_chars AS abstract,
           'https://x/' || doc_id || '.pdf' AS pdf_url,
           'kw1;kw2' AS keywords,
           'https://y/' || doc_id AS source_url,
           source AS conference, (doc_id % 3 + 2022)::INT AS year
    FROM documents ORDER BY doc_id
    """,
)
def q47(spark, sf_dir):
    """K1 CSV sink round-trip under a SQL oracle (formatter.py:88-111):
    a papers table derived from documents goes through write_papers_csv
    (preferred column order, (conference, year) partition dirs, header)
    and is READ BACK from the partitioned CSV layout — the oracle checks
    the round-trip preserved every value, including the partition
    columns recovered from directory names."""
    import os
    import tempfile

    from pubcrawler_spark import sinks

    d = _t(spark, sf_dir, "documents")
    papers = d.select(
        "doc_id",
        F.concat(F.lit("T"), F.col("doc_id")).alias("title"),
        F.col("lang").alias("authors"),
        F.concat(F.lit("A"), F.col("n_chars")).alias("abstract"),
        F.concat(F.lit("https://x/"), F.col("doc_id"), F.lit(".pdf")).alias("pdf_url"),
        F.lit("kw1;kw2").alias("keywords"),
        F.concat(F.lit("https://y/"), F.col("doc_id")).alias("source_url"),
        F.col("source").alias("conference"),
        (F.col("doc_id") % 3 + 2022).cast("int").alias("year"),
    )
    out = os.path.join(
        tempfile.gettempdir(), f"pubcrawler_q47_{_index_cache_key(sf_dir, 'q47')}"
    )
    sinks.write_papers_csv(papers, out)
    schema = (
        "title string, authors string, abstract string, pdf_url string, "
        "keywords string, source_url string, doc_id bigint, "
        "conference string, year int"
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return back.select(
        "doc_id", "title", "authors", "abstract", "pdf_url", "keywords",
        "source_url", "conference", "year",
    ).orderBy("doc_id")


@q(
    "q48_catalog_classify",
    """
    WITH f AS (
      SELECT doc_id, source, doc_id % 4 AS kind FROM documents)
    SELECT '/out/' || doc_id || '/' ||
             CASE kind WHEN 0 THEN source || '/2024/analysis/4_summary_table.csv'
                       WHEN 1 THEN source || '/2023/x_data_main.csv'
                       WHEN 2 THEN source || '/2022/analysis/other_report.csv'
                       ELSE source || '/trend_lines.csv' END AS path,
           CASE WHEN kind = 3 THEN 'trends' ELSE 'metadata' END AS dir_type,
           CASE kind WHEN 0 THEN 'summary_table' WHEN 1 THEN 'raw_data'
                     WHEN 2 THEN 'analysis_other' ELSE 'trends' END AS csv_type,
           source AS conference,
           CASE kind WHEN 0 THEN '2024' WHEN 1 THEN '2023'
                     WHEN 2 THEN '2022' ELSE 'Cross-Year' END AS year
    FROM f ORDER BY path
    """,
)
def q48(spark, sf_dir):
    """S9 file-catalog classification under a SQL oracle
    (streamlit_app.py:103-127): a synthetic catalog listing covering all
    four path rules (summary_table / raw_data / analysis_other / trends)
    is classified by the pure-expression rule engine; the oracle
    restates the rules directly."""
    from pubcrawler_spark.sources.catalog import classify_output_files

    d = _t(spark, sf_dir, "documents")
    kind = F.col("doc_id") % 4
    rel = (
        F.when(kind == 0, F.concat(F.col("source"), F.lit("/2024/analysis/4_summary_table.csv")))
        .when(kind == 1, F.concat(F.col("source"), F.lit("/2023/x_data_main.csv")))
        .when(kind == 2, F.concat(F.col("source"), F.lit("/2022/analysis/other_report.csv")))
        .otherwise(F.concat(F.col("source"), F.lit("/trend_lines.csv")))
    )
    files = d.select(
        F.concat(F.lit("/out/"), F.col("doc_id"), F.lit("/"), rel).alias("path"),
        F.when(kind == 3, F.lit("trends")).otherwise(F.lit("metadata")).alias("dir_type"),
        rel.alias("rel_path"),
    )
    return classify_output_files(files)


@q(
    "q49_vector_sink_roundtrip",
    """
    WITH n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id, len(v)::INT AS dim,
           ROUND(sqrt(list_dot_product(v, v)), 6) AS norm, label
    FROM n ORDER BY vec_id
    """,
)
def q49(spark, sf_dir):
    """K5 vector-store sink round-trip under a SQL oracle
    (embedder_chroma.py:111-125): embeddings go through write_embeddings
    (id-hash repartitioned parquet) and are read back; every vector is
    pinned by (dim, L2 norm) against the oracle computed on the SOURCE
    table — a lossy round-trip would shift the norms."""
    import os
    import tempfile

    from pubcrawler_spark import sinks

    emb = _t(spark, sf_dir, "embeddings")
    out = os.path.join(
        tempfile.gettempdir(), f"pubcrawler_q49_{_index_cache_key(sf_dir, 'q49')}"
    )
    sinks.write_embeddings(emb, out, n_buckets=8)
    back = spark.read.parquet(out)
    v = F.col("embedding").cast("array<double>")
    return back.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)), 6).alias("norm"),
        "label",
    ).orderBy("vec_id")


@q(
    "q50_fieldscoped_search",
    r"""
    SELECT doc_id, lang,
           ((CASE WHEN regexp_matches(source, '(?i)\bsrc1\b') THEN 1 ELSE 0 END)
          + (CASE WHEN regexp_matches(text, '(?i)\bvector\b') THEN 1 ELSE 0 END)
          + (CASE WHEN regexp_matches(source, '(?i)\bvector\b') THEN 1 ELSE 0 END)) AS score
    FROM documents
    WHERE regexp_matches(source, '(?i)\bsrc1\b')
      AND (regexp_matches(text, '(?i)\bvector\b') OR regexp_matches(source, '(?i)\bvector\b'))
    ORDER BY score DESC, doc_id
    """,
)
def q50(spark, sf_dir):
    """F17/V4 field-scoped query compiler under a SQL oracle
    (search_service.py:125-151): the query 'source:src1 "vector"'
    exercises field scoping (src1 must word-match the source column
    only — src10 must NOT match), quoted-phrase parsing, AND-combine,
    and the (part, column) hit score."""
    d = _t(spark, sf_dir, "documents")
    out = search.keyword_search(d, 'source:src1 "vector"', ["text", "source"], "doc_id")
    return out.select(
        "doc_id", "lang", F.col("score").cast("int").alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id"))


# ---------------------------------------------------------------------------
# sketch families under the EXACT oracle via candidate re-verification
# ---------------------------------------------------------------------------


def _jaccard_sql(k: int, threshold: float) -> str:
    """Exact char-k-gram Jaccard pairs in DuckDB SQL — the oracle for
    both the exact operator (q15) and the verified sketch twins
    (q51/q52), whose outputs must EQUAL the exact result when the
    sketch's candidate recall is 1 (seeded sketches, deterministic —
    pinned by tests/test_dedup_search.py)."""
    return f"""
    WITH d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(t) - {k - 2}), i -> substr(t, i, {k})))) AS shingle
           FROM d WHERE length(t) >= {k}),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, ROUND(n_inter * 1.0 / (x.sz + y.sz - n_inter), 6) AS jaccard
    FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
    WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= {threshold}
    ORDER BY doc_a, doc_b
    """


@q("q51_minhash_verified_pairs", _jaccard_sql(5, 0.35))
def q51(spark, sf_dir):
    """MinHash-LSH candidates re-verified by EXACT shingle Jaccard —
    the full two-stage dedup plan (sketch bucket-join prunes the pair
    space; the exact metric decides) under the exact-Jaccard SQL
    oracle. The sketch only changes WHICH pairs get verified, never the
    verdict, so the output EQUALS the all-pairs result exactly when LSH
    candidate recall at τ is 1 — true on this corpus at the gate scale
    (verified deterministically; seeded sketch, fixed data). Honest
    scale note: recall at pairs sitting ON the threshold follows the
    band S-curve (≈1−(1−s⁴)¹⁶), so a 10× corpus showed 2/258 borderline
    misses (j ≤ 0.375) — the standard web-dedup trade; raise bands or
    the threshold margin when exact parity at τ matters."""
    d = _t(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=5, n_perm=64, bands=16, verify_threshold=None
    )
    return dedup.verify_pairs_exact(cand, d, "doc_id", "text", k=5, threshold=0.35)


@q("q52_winnow_verified_pairs", _jaccard_sql(8, 0.35))
def q52(spark, sf_dir):
    """Winnowing-fingerprint candidates re-verified by EXACT 8-gram
    Jaccard under the exact-Jaccard SQL oracle (same two-stage shape as
    q51). Candidates use the length-invariant containment rule
    (min_shared_frac=0.2: shared fps ≥ 20% of the smaller doc's set) —
    an absolute min_shared cut silently drops SHORT identical docs
    (few total fingerprints), the failure mode that showed up at 10×
    scale with min_shared=20."""
    d = _t(spark, sf_dir, "documents")
    cand = textstats.winnow_pairs(
        d, "doc_id", "text", k=8, window=4, min_shared=2, min_shared_frac=0.2
    )
    return dedup.verify_pairs_exact(cand, d, "doc_id", "text", k=8, threshold=0.35)


@q(
    "q53_span_dedup_13gram",
    """
    WITH d AS (SELECT doc_id AS doc, coalesce(text, '') AS t FROM documents),
    s AS (SELECT doc,
                 list_filter(list_transform(string_split_regex(t, '\\s+'), x -> trim(x)),
                             x -> length(x) > 0) AS toks
          FROM d),
    b AS (SELECT doc, toks, len(toks) - 12 AS n FROM s),
    spans AS (
      SELECT doc,
             unnest(list_transform(range(1, n + 1),
                    i -> struct_pack(pos := i,
                                     h := md5(array_to_string(toks[i:i+12], ' '))))) AS sp
      FROM b WHERE n > 0),
    flagged AS (
      SELECT doc, sp.pos AS pos, sp.h AS h,
             COUNT(*) OVER (PARTITION BY sp.h) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY sp.h ORDER BY doc, sp.pos) AS rn
      FROM spans),
    per_doc AS (
      SELECT doc, COUNT(*)::BIGINT AS n_spans,
             SUM(CASE WHEN cnt > 1 AND rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
      FROM flagged GROUP BY doc
      UNION ALL
      SELECT doc, 0::BIGINT, 0::BIGINT FROM b WHERE n <= 0)
    SELECT doc, n_spans, n_dup_spans,
           ROUND(CASE WHEN n_spans > 0 THEN n_dup_spans * 1.0 / n_spans ELSE 0.0 END, 6) AS dup_span_frac
    FROM per_doc ORDER BY doc
    """,
)
def q53(spark, sf_dir):
    """Cross-document 13-token-gram span dedup signals (the GPT-3/
    Gopher overlap rule; Brown et al. 2020 App. C) under a SQL oracle:
    a span is duplicate unless its (doc, pos) is the span's first
    occurrence corpus-wide. The only shuffle keys on the 16-byte span
    hash — the exact-dedup shuffle, span-grained. (The C4
    three-SENTENCE variant is the same operator with unit="sentence";
    this corpus has no sentence punctuation, so the token rule is the
    non-degenerate gate signal.)"""
    return textstats.span_dedup_stats(
        _t(spark, sf_dir, "documents"), n=13, unit="token"
    ).orderBy("doc")


@q(
    "q54_dedup_groups",
    """
    WITH RECURSIVE
    d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(t) - 3), i -> substr(t, i, 5)))) AS shingle
           FROM d WHERE length(t) >= 5),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM inter
              JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
              WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= 0.35),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    c AS (SELECT a AS node, least(a, MIN(b)) AS comp FROM reach GROUP BY a)
    SELECT comp, COUNT(*)::BIGINT AS n_docs, MIN(node) AS keep_id
    FROM c GROUP BY comp ORDER BY comp
    """,
)
def q54(spark, sf_dir):
    """Dedup GROUP resolution under a SQL oracle: the exact-Jaccard
    pair graph's transitive closure (iterative min-label propagation,
    localCheckpoint-pinned per round — the Spark-native connected
    components) → (comp, n_docs, keep_id). This is the step that turns
    every pair family (q15/q51/q52) into an actual keep/drop decision
    without the over-deletion of naive drop-doc_b; the oracle computes
    the same closure with a recursive CTE.

    Pair source (r8): the verified-twin construction — MinHash-LSH
    candidates re-scored by EXACT shingle Jaccard (exactly q51, whose
    oracle is the same exact all-pairs SQL as this query's ``pairs``
    CTE). The previous exact-mode shingle self-join is d²-quadratic in
    shingle document frequency (measured 770M join rows at sf0.1 —
    the r7 driver-bench killer); the sketch prunes the pair space and
    the exact verify keeps the keep/drop verdict sketch-free."""
    d = _t(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=5, n_perm=64, bands=16, verify_threshold=None
    )
    pairs = dedup.verify_pairs_exact(cand, d, "doc_id", "text", k=5, threshold=0.35)
    return dedup.dedup_groups(pairs)


@q(
    "q55_dedup_corpus",
    """
    WITH RECURSIVE
    d AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(t) - 3), i -> substr(t, i, 5)))) AS shingle
           FROM d WHERE length(t) >= 5),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
              FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM inter
              JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
              WHERE n_inter * 1.0 / (x.sz + y.sz - n_inter) >= 0.35),
    sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    c AS (SELECT a AS node, least(a, MIN(b)) AS comp FROM reach GROUP BY a)
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM c WHERE node != comp)
    ORDER BY doc_id
    """,
)
def q55(spark, sf_dir):
    """The DEDUPLICATED CORPUS — the artifact a training pipeline
    actually ships (Raffel et al. 2020 §2.2 / Brown et al. 2020 App. C:
    keep the first occurrence, drop the rest). Closes the loop the
    signal queries open: q15/q51/q52 emit pairs, q54 resolves pairs
    into keep/drop groups; this query applies the verdict — documents
    anti-joined against the drop-set (component members minus the
    min-id keeper) via :func:`dedup.deduplicated_corpus`, whose
    broadcast is size-gated (drop-ids broadcast when bounded, shuffle
    anti-join past the limit), so at 100 TB the corpus is read once
    and never shuffled; the oracle computes the same closure with a
    recursive CTE and the NOT IN anti-join. Pair source (r8): the
    verified-twin construction (q51/q54's MinHash-LSH candidates +
    exact-Jaccard verify) — see q54 for why the exact-mode shingle
    self-join had to go."""
    d = _t(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=5, n_perm=64, bands=16, verify_threshold=None
    )
    pairs = dedup.verify_pairs_exact(cand, d, "doc_id", "text", k=5, threshold=0.35)
    labels = dedup.connected_components(pairs)
    return (
        dedup.deduplicated_corpus(d, labels, "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@q(
    "q56_span_dedup_c4_sentences",
    """
    WITH d AS (SELECT doc_id AS doc, coalesce(text, '') AS t0 FROM documents),
    n1 AS (SELECT doc, regexp_replace(trim(t0), '\\s+', ' ', 'g') AS t1 FROM d),
    n2 AS (SELECT doc, regexp_replace(t1, '((?:\\S+ ){2}\\S+) ', '\\1. ', 'g') AS t FROM n1),
    s AS (SELECT doc,
                 list_filter(list_transform(string_split_regex(t, '[.!?]\\s+'),
                             x -> regexp_replace(trim(x), '[.!?]+$', '')),
                             x -> length(x) > 0) AS toks
          FROM n2),
    b AS (SELECT doc, toks, len(toks) - 2 AS n FROM s),
    spans AS (
      SELECT doc,
             unnest(list_transform(range(1, n + 1),
                    i -> struct_pack(pos := i,
                                     h := md5(array_to_string(toks[i:i+2], ' '))))) AS sp
      FROM b WHERE n > 0),
    flagged AS (
      SELECT doc, sp.pos AS pos, sp.h AS h,
             COUNT(*) OVER (PARTITION BY sp.h) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY sp.h ORDER BY doc, sp.pos) AS rn
      FROM spans),
    per_doc AS (
      SELECT doc, COUNT(*)::BIGINT AS n_spans,
             SUM(CASE WHEN cnt > 1 AND rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
      FROM flagged GROUP BY doc
      UNION ALL
      SELECT doc, 0::BIGINT, 0::BIGINT FROM b WHERE n <= 0)
    SELECT doc, n_spans, n_dup_spans,
           ROUND(CASE WHEN n_spans > 0 THEN n_dup_spans * 1.0 / n_spans ELSE 0.0 END, 6) AS dup_span_frac
    FROM per_doc ORDER BY doc
    """,
)
def q56(spark, sf_dir):
    """C4 three-SENTENCE span dedup (Raffel et al. 2020 §2.2 verbatim:
    "we discarded all but one of any three-sentence span occurring more
    than once") under a SQL oracle. The fixture corpus has no sentence
    punctuation, so — the q44-q46 payload-synthesis trick — a
    punctuated column is synthesized deterministically on BOTH sides:
    whitespace collapsed, then '. ' inserted after every third token
    (one left-to-right regex pass, identical semantics in Java regex
    and RE2). span_dedup_stats then runs in unit="sentence" mode, the
    same operator q53 gates in token mode; shared three-sentence spans
    across near-duplicate docs are the non-degenerate signal."""
    d = _t(spark, sf_dir, "documents")
    t1 = F.regexp_replace(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
    t2 = F.regexp_replace(t1, r"((?:\S+ ){2}\S+) ", r"$1. ")
    punct = d.select(F.col("doc_id"), t2.alias("text"))
    return textstats.span_dedup_stats(punct, id_col="doc_id", n=3, unit="sentence").orderBy(
        "doc"
    )
