"""query_mix: the seeded request sequence, its expected answers, and
the Spark side of each request.

Three request classes over the repo's read-only test tables
(TESTDATA.md; sf0.01, and sf0.001 in the self-test):

- ``search``: BM25 over a prebuilt (tf, dl) index, field-scoped keyword
  search pruned by a prebuilt posting table, cosine top-k and the
  semantic join-back over the embeddings;
- ``analytics``: registered queries q01, q03, q05, q09, q12 and the
  frontier operators q26, q27 as one-shot queries;
- ``dedup``: registered queries q16, q53, q54, q55, q56.

The seed varies only the request sequence (terms, sources, query
vectors and where the analytics and dedup requests fall), never the
tables. Expected answers come from DuckDB: the registered
``oracle_sql()`` text for analytics and dedup, and brute-force SQL of
the same shape for the search requests. Results are compared as an
order-insensitive hash of canonicalized rows (the comparison the repo's
oracle tests use). q16 has no oracle of its own; see :func:`q16_ok`.
"""

from __future__ import annotations

import hashlib
import math
import os
import re

import numpy as np

ANALYTICS = [
    "q01_pricing_summary", "q03_region_revenue", "q05_customer_topk_window",
    "q09_events_sessionize", "q12_word_frequency", "q26_politeness_schedule",
    "q27_url_canonicalize",
]
DEDUP = [
    "q16_minhash_lsh_pairs", "q53_span_dedup_13gram", "q54_dedup_groups",
    "q55_dedup_corpus", "q56_span_dedup_c4_sentences",
]
Q16 = "q16_minhash_lsh_pairs"
SEARCH_KINDS = ("bm25", "keyword", "cosine", "semantic")
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")


def _vocabulary(data_dir: str) -> tuple[list[str], list[str], int]:
    """-> (distinct document words, distinct sources, embedding width)."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text", "source"])
    words = sorted({w for t in docs.column("text").to_pylist() for w in t.lower().split()})
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["embedding"])
    return words, sorted(set(docs.column("source").to_pylist())), len(emb.column(0)[0])


def make_requests(seed: int, n_search: int, data_dir: str) -> list[dict]:
    """Seeded request sequence: ``n_search`` search requests with the
    analytics and dedup requests spread through it."""
    words, sources, dim = _vocabulary(data_dir)
    rng = np.random.default_rng(seed * 7919 + 17)
    reqs: list[dict] = []
    for i in range(n_search):
        kind = SEARCH_KINDS[i % len(SEARCH_KINDS)]
        req = {"cls": "search", "name": kind}
        # fixed shapes per kind (2 BM25 terms; one general and one
        # field-scoped keyword part) keep the per-kind work alike
        if kind == "bm25":
            req["terms"] = [words[int(j)] for j in rng.choice(len(words), 2, replace=False)]
        elif kind == "keyword":
            word = words[int(rng.integers(len(words)))]
            req["query"] = f"{word} source:{sources[int(rng.integers(len(sources)))]}"
        else:
            req["qvec"] = [float(v) for v in rng.normal(size=dim)]
        reqs.append(req)
    batch = [{"cls": "analytics", "name": n} for n in ANALYTICS] + [
        {"cls": "dedup", "name": n} for n in DEDUP
    ]
    for req, pos in zip(batch, sorted(rng.choice(n_search + 1, len(batch), replace=False))):
        req["pos"] = int(pos)
    merged: list[dict] = []
    bi = 0
    for i in range(n_search + 1):
        while bi < len(batch) and batch[bi]["pos"] == i:
            merged.append(batch[bi])
            bi += 1
        if i < n_search:
            merged.append(reqs[i])
    for i, req in enumerate(merged):
        req["id"] = i
    return merged


# -- answer comparison ----------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "\x00NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rows_digest(cols: list[str], rows: list[tuple]) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x02".join(canon).encode()).hexdigest()[:20]
    return {"rows": len(rows), "hash": h, "cols": sorted(c.lower() for c in cols)}


# -- expected answers (DuckDB, no Spark) -----------------------------------------


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bm25_sql(terms: list[str]) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(regexp_replace(lower(text), '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g'), '\\s+')) AS term
      FROM documents),
    toks2 AS (SELECT * FROM toks WHERE length(term) > 0),
    tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks2 GROUP BY doc, term),
    dl AS (SELECT doc, SUM(tf) AS dl FROM tf GROUP BY doc),
    stats AS (SELECT COUNT(*)::DOUBLE AS n_docs, AVG(dl) AS avgdl FROM dl),
    qt AS (SELECT tf.doc, tf.term, tf.tf, dl.dl FROM tf JOIN dl USING (doc)
           WHERE tf.term IN ({", ".join(_sql_str(t) for t in terms)})),
    dft AS (SELECT term, COUNT(DISTINCT doc) AS df FROM qt GROUP BY term)
    SELECT doc, ROUND(SUM(
             ln((s.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
             * (qt.tf * (1.2 + 1)) / (qt.tf + 1.2 * (1 - 0.75 + 0.75 * qt.dl / s.avgdl))
           ), 6) AS bm25,
           COUNT(*) AS n_terms_hit
    FROM qt JOIN dft USING (term), stats s
    GROUP BY doc ORDER BY bm25 DESC, doc LIMIT 20
    """


def _keyword_sql(query: str) -> str:
    from pubcrawler_spark.operators.search import parse_query

    field_parts, general = parse_query(query)

    def hit(col: str, v: str) -> str:
        pattern = r"(?i)\b" + re.escape(v) + r"\b"
        return f"regexp_matches({col}, {_sql_str(pattern)})"

    preds, score = [], []
    for col, v in field_parts:
        preds.append(hit(col, v))
        score.append(f"(CASE WHEN {hit(col, v)} THEN 1 ELSE 0 END)")
    for t in general:
        preds.append(f"({hit('text', t)} OR {hit('source', t)})")
        score += [f"(CASE WHEN {hit(c, t)} THEN 1 ELSE 0 END)" for c in ("text", "source")]
    return (
        f"SELECT doc_id, lang, source, ({' + '.join(score)})::INTEGER AS score FROM documents "
        f"WHERE {' AND '.join(preds)}"
    )


def _cosine_sql(qvec: list[float], semantic: bool) -> str:
    q = "[" + ", ".join(repr(float(v)) for v in qvec) + "]::DOUBLE[]"
    cos = f"list_dot_product(e, {q}) / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product({q}, {q})))"
    topk = (
        f"SELECT vid, ROUND({cos}, 6) AS similarity FROM "
        f"(SELECT vec_id AS vid, embedding::DOUBLE[] AS e FROM embeddings) "
        f"ORDER BY similarity DESC, vid LIMIT 10"
    )
    if not semantic:
        return topk
    return (
        f"SELECT t.vid, t.similarity, d.lang, d.source, d.n_chars FROM ({topk}) t "
        f"JOIN documents d ON d.doc_id = t.vid"
    )


def _duckdb(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con


def _digest(con, sql: str) -> dict:
    res = con.execute(sql)
    return rows_digest([d[0] for d in res.description], res.fetchall())


def query_answers(data_dir: str) -> dict[str, dict]:
    """Analytics/dedup request name -> expected answer. These do not
    depend on the seed, so they are computed once per table set."""
    from pubcrawler_spark.queries import ORACLES

    con = _duckdb(data_dir)
    try:
        out = {name: _digest(con, ORACLES[name]) for name in ANALYTICS + DEDUP if name in ORACLES}
        # q16's exact counterpart: the exact 5-gram Jaccard pairs at the
        # same 0.35 threshold (q51's oracle)
        exact = con.execute(ORACLES["q51_minhash_verified_pairs"]).fetchall()
        out[Q16] = {"pairs": [[int(a), int(b)] for a, b, _ in exact]}
        return out
    finally:
        con.close()


def search_answers(data_dir: str, requests: list[dict]) -> dict[str, dict]:
    """Search request id -> expected answer."""
    con = _duckdb(data_dir)
    try:
        out = {}
        for req in requests:
            if req["cls"] != "search":
                continue
            if req["name"] == "bm25":
                sql = _bm25_sql(req["terms"])
            elif req["name"] == "keyword":
                sql = _keyword_sql(req["query"])
            else:
                sql = _cosine_sql(req["qvec"], semantic=req["name"] == "semantic")
            out[str(req["id"])] = _digest(con, sql)
        return out
    finally:
        con.close()


def answer_ok(data_dir: str, req: dict, cols: list[str], rows: list[tuple], want: dict) -> bool:
    if req["name"] == Q16:
        return q16_ok(data_dir, rows, want)
    return rows_digest(cols, rows) == want


def _shingles(text: str, k: int = 5) -> set[str]:
    """Char k-grams after the normalization of the exact Jaccard oracle."""
    t = re.sub(r"\s+", " ", text).strip().lower()
    return {t[i:i + k] for i in range(len(t) - k + 1)}


def q16_ok(data_dir: str, rows: list[tuple], want: dict) -> bool:
    """q16 returns MinHash-LSH pairs whose 64-lane estimate is >= 0.35,
    so it is neither a subset nor a superset of the exact pairs. Check:

    - it finds every exact pair at 0.35 (recall 1 on this corpus, as
      q51's docstring records), so an empty result fails;
    - each estimate is within 0.2 of the pair's exact Jaccard (4 sigma
      of a 64-lane estimate near 0.3), so pairs that are not near
      duplicates fail.
    """
    import pyarrow.parquet as pq

    est = {(int(a), int(b)): float(j) for a, b, j in rows}
    if not est or not {tuple(p) for p in want["pairs"]} <= set(est):
        return False
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    for (a, b), j in est.items():
        sa, sb = _shingles(text[a]), _shingles(text[b])
        if j < 0.35 or abs(j - len(sa & sb) / len(sa | sb)) > 0.2:
            return False
    return True


# -- the Spark side ---------------------------------------------------------------


class Indexes:
    """Search indexes built in set-up: BM25 (tf, dl, corpus stats) and
    the posting table for keyword pruning, all written as parquet."""

    def __init__(self, spark, data_dir: str, out_dir: str) -> None:
        from pyspark.sql import functions as F

        from pubcrawler_spark import sinks
        from pubcrawler_spark.operators import search

        docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
        tf, dl = search.build_bm25_index(docs, "doc_id", "text")
        tf.write.parquet(os.path.join(out_dir, "bm25_tf"))
        dl.write.parquet(os.path.join(out_dir, "bm25_dl"))
        self.tf = spark.read.parquet(os.path.join(out_dir, "bm25_tf"))
        self.dl = spark.read.parquet(os.path.join(out_dir, "bm25_dl"))
        row = search.bm25_corpus_stats(self.dl).collect()[0]
        self.stats = (row["n_docs"], row["avgdl"])
        sinks.build_posting_table(docs, "doc_id", text_cols=("text", "source")).write.parquet(
            os.path.join(out_dir, "postings")
        )
        self.postings = spark.read.parquet(os.path.join(out_dir, "postings"))
        self.docs = docs
        self.meta = docs.select("doc_id", "lang", "source", "n_chars")
        self.emb = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
        self.F = F


def build_request(spark, req: dict, data_dir: str, idx: Indexes):
    """The DataFrame one request returns (lazy; the caller runs it)."""
    from pubcrawler_spark.operators import ann, search
    from pubcrawler_spark.queries import QUERIES

    if req["cls"] != "search":
        return QUERIES[req["name"]](spark, data_dir)
    kind = req["name"]
    if kind == "bm25":
        return search.bm25_search(
            None, req["terms"], index=(idx.tf, idx.dl), stats=idx.stats, top_n=20
        )
    if kind == "keyword":
        out = search.keyword_search(
            idx.docs, req["query"], ["text", "source"], "doc_id", postings=idx.postings
        )
        return out.select("doc_id", "lang", "source", idx.F.col("score").cast("int").alias("score"))
    if kind == "cosine":
        return ann.cosine_topk(idx.emb, req["qvec"], k=10)
    return ann.semantic_search(idx.emb, idx.meta, req["qvec"], k=10)

