"""Deduplication operators for web-scale training data (driver mandate).

Five families, each scale-conscious:

- **exact**        — md5-of-normalized-text groupBy (shuffle on 16-byte
  key only; at 100 TB use two-level: partial agg + repartition by hash).
- **ngram-jaccard**— exact character-shingle Jaccard over candidate
  pairs via shingle-explode + self-join on shingle (the join prunes the
  O(n²) pair space to pairs sharing ≥1 shingle; at scale apply DF
  frequency cut to drop stop-shingles).
- **minhash-LSH**  — shingles → k minhash lanes (numpy, one Arrow pass)
  → band buckets → join on (band, bucket-hash): only same-bucket pairs
  meet, the standard 10^10-doc near-dup plan (cf. GPT-3/Gopher dedup).
- **simhash**      — 64-bit weighted-token hash; near-dups = pairs with
  hamming distance ≤ t, bucketed by 4 16-bit chunks (Charikar).
- **embedding**    — cosine ≥ τ pairs over normalized vectors
  (see ann.py for the top-k variant).

MinHash/SimHash signatures are computed in a single vectorized pandas
UDF per doc (Arrow-batched); all pair-finding is pure DataFrame joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pubcrawler_spark.functions.hashing import murmur3_64_batch

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: fp, dup count, min id."""
    norm = F.lower(F.trim(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), r"\s+", " ")))
    return (
        df.withColumn("fp", F.md5(norm))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
        .orderBy("fp")
    )


# ---------------------------------------------------------------------------
# shingles + exact n-gram jaccard
# ---------------------------------------------------------------------------


def _norm_text(col):
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def char_shingles(df: DataFrame, id_col: str, text_col: str = "text", k: int = 5) -> DataFrame:
    """(doc, shingle) distinct rows — character k-grams of normalized
    text. Pure expressions: sequence → transform(substr) →
    array_distinct → explode (whole-stage codegen'd, no UDF)."""
    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    df2 = df.select(F.col(id_col).alias("doc"), norm.alias("__t")).withColumn(
        "__n", F.length("__t") - F.lit(k - 1)
    )
    return df2.filter(F.col("__n") > 0).select(
        "doc",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.col("__n")),
                    lambda i: F.col("__t").substr(i, F.lit(k)),
                )
            )
        ).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over char k-shingle sets for pairs sharing ≥1 shingle.

    shuffle plan: explode → groupBy(shingle) self-join → count
    intersections → join per-doc sizes → |A∩B| / (|A|+|B|-|A∩B|).

    ``max_shingle_df`` is the stop-shingle cut (the 100 TB guard): a
    shingle appearing in d docs fans out d² pairs in the self-join, so
    one ubiquitous shingle (boilerplate, licence text) re-quadratics the
    whole plan. With the cut, shingles with document frequency >
    ``max_shingle_df`` are dropped BEFORE the self-join — the jaccard is
    then the exact Jaccard of the PRUNED shingle sets (stop-shingles
    excluded from both intersection and sizes, the standard web-dedup
    semantics: ubiquitous boilerplate should not make every page pair
    look similar) and the per-shingle join fan-out is bounded by
    ``max_shingle_df``². Default None = exact over all shingles (the
    sf-fixture/oracle mode).
    """
    sh = char_shingles(df, id_col, text_col, k).cache()
    if max_shingle_df is not None:
        light = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(light, "shingle")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    a = sh.withColumnRenamed("doc", "doc_a")
    b = sh.withColumnRenamed("doc", "doc_b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return out


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1
_UNPERSIST_WARNED = False  # once-per-process accessor-breakage warning


def _minhash_matrix(shingle_hashes: list[np.ndarray], n_perm: int, seed: int = 7) -> np.ndarray:
    """Per-doc minhash signatures via universal hashing a*x+b mod p."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=n_perm, dtype=np.int64).astype(np.uint64)
    out = np.empty((len(shingle_hashes), n_perm), dtype=np.uint64)
    for i, h in enumerate(shingle_hashes):
        if len(h) == 0:
            out[i] = np.uint64(_MERSENNE)
            continue
        x = h.astype(np.uint64)[None, :]
        vals = (a[:, None] * x + b[:, None]) % np.uint64(_MERSENNE)
        out[i] = vals.min(axis=1)
    return out


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 5, n_perm: int = 64
) -> DataFrame:
    """(doc, sig array<long>) — one vectorized Arrow pass.

    Shingle hashing takes the numpy fast path
    (:func:`~pubcrawler_spark.functions.hashing.murmur3_64_ascii_kgrams`
    — sliding-window pack + unique + vectorized murmur tail, zero
    per-gram Python) for ASCII docs with k ≤ 8, which is the entire
    fixture corpus; non-ASCII or wide-k docs fall back to the generic
    per-gram batch hasher. Both produce identical hash sets (pinned by
    tests), and minhash is order-invariant, so the signature values
    are unchanged. Measured r8: the per-gram memcpy loop was ~55% of
    the signature pass at sf0.1 (1.4 s of 2.55 s warm)."""
    from pubcrawler_spark.functions.hashing import murmur3_64_ascii_kgrams

    @F.pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        norm = texts.fillna("").str.lower().str.replace(r"\s+", " ", regex=True).str.strip()
        hashes = []
        for t in norm:
            if len(t) < k:
                hashes.append(np.empty(0, np.int64))
                continue
            if k <= 8 and t.isascii():
                hashes.append(
                    murmur3_64_ascii_kgrams(
                        np.frombuffer(t.encode("ascii"), dtype=np.uint8), k
                    )
                )
            else:
                grams = list({t[i : i + k] for i in range(len(t) - k + 1)})
                hashes.append(murmur3_64_batch(grams))
        mat = _minhash_matrix(hashes, n_perm).astype(np.int64)
        return pd.Series(list(mat))

    return df.select(F.col(id_col).alias("doc"), _sig(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    n_perm: int = 64,
    bands: int = 16,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band bucket, with estimated
    similarity = fraction of matching minhash lanes; optionally verified
    by the signature-level estimate ≥ threshold.

    Scale plan: explode to (band, bucket_hash) rows — the shuffle key is
    the bucket hash, so only true candidates ever meet in a reducer.
    """
    rows_per_band = n_perm // bands
    sig = minhash_signatures(df, id_col, text_col, k, n_perm).cache()
    banded = sig.select(
        "doc",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).cast("string")
                ),
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "bucket")
    b = banded.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = cand.withColumn(
        "est_jaccard",
        F.round(
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            )
            / F.lit(n_perm),
            6,
        ),
    ).select("doc_a", "doc_b", "est_jaccard")
    if verify_threshold is not None:
        est = est.filter(F.col("est_jaccard") >= verify_threshold)
    return est.orderBy("doc_a", "doc_b")


# past this many docs the per-doc shingle-hash-set side of
# verify_pairs_exact stops being broadcast: sets are ~0.5-5 KB/doc
# (distinct k-grams × 8 bytes), so 200k docs is ≤ ~1 GB of broadcast
# relation — past that the verify joins run distributed (the arrays
# still shuffle 6-15× fewer bytes than the pre-r8 string sets). Same
# gate shape as DROPSET_BROADCAST_LIMIT below.
SETS_BROADCAST_LIMIT = 200_000


def shingle_hash_sets(df: DataFrame, id_col: str, text_col: str = "text", k: int = 5) -> DataFrame:
    """(doc, hs array<long>) — the distinct char-k-gram set per doc as
    64-bit xxhash64 values (JVM expression, no Python). The verify
    stage only needs |A|, |B| and |A∩B|, which are hash-invariant, and
    8-byte longs join/intersect far cheaper than 5-char strings (the
    pre-r8 verify shipped ~15 KB of strings per doc through two
    shuffles; hashes are ~2.4 KB). A cross-shingle xxhash64 collision
    inside one candidate pair would perturb |A∩B| — probability
    ≈ |A|·|B|/2⁶⁴ ≈ 10⁻¹⁴ per pair, and the DuckDB oracle gate
    re-checks the string-exact result every round."""
    norm = _norm_text(F.coalesce(F.col(text_col), F.lit("")))
    df2 = df.select(F.col(id_col).alias("doc"), norm.alias("__t")).withColumn(
        "__n", F.length("__t") - F.lit(k - 1)
    )
    return df2.select(
        "doc",
        F.when(
            F.col("__n") > 0,
            F.transform(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.col("__n")),
                        lambda i: F.col("__t").substr(i, F.lit(k)),
                    )
                ),
                lambda s: F.xxhash64(s),
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("hs"),
    )


def verify_pairs_exact(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    sets_broadcast_limit: int = SETS_BROADCAST_LIMIT,
) -> DataFrame:
    """EXACT char-k-gram Jaccard verification of candidate (doc_a,
    doc_b) pairs — the verify stage of every sketch-based dedup family
    (MinHash-LSH, SimHash, winnowing): candidates come from the cheap
    bucketed sketch join; survivors are re-scored with the exact metric
    so downstream keep/drop decisions never depend on sketch error.

    Plan shape (r8): two id equi-joins attach per-doc shingle-HASH
    arrays (:func:`shingle_hash_sets` — 8-byte longs, not strings) to
    the candidate pair set; jaccard = |A∩B| / (|A|+|B|−|A∩B|) via
    array_intersect. The sets side is size-gated: at or under
    ``sets_broadcast_limit`` docs both attach joins broadcast the sets
    table, so the fat shingle arrays never cross an exchange (the
    pre-r8 shape shuffled ~15 KB of strings per candidate through the
    second join — measured 22 s for 100k candidates at sf0.1, ~3 s
    after); past the gate the joins run distributed with the 6×
    narrower hash arrays. Work is O(candidates × doc length). When the
    sketch's recall at ``threshold`` is 1 (seeded sketches,
    deterministic), the output EQUALS the exact all-pairs result, which
    is what lets a DuckDB oracle value-check a murmur3-sketch family
    end to end.
    """
    # cache: the sets table feeds BOTH attach joins (two broadcast
    # builds); uncached, the shingle+hash projection over the corpus
    # runs twice (same in-query pattern as minhash_signatures' cache)
    sets = shingle_hash_sets(df, id_col, text_col, k).cache()
    small_sets = df.count() <= sets_broadcast_limit

    def _side(alias_doc: str, alias_hs: str) -> DataFrame:
        s = sets.select(F.col("doc").alias(alias_doc), F.col("hs").alias(alias_hs))
        return F.broadcast(s) if small_sets else s

    scored = (
        cand.select("doc_a", "doc_b")
        .join(_side("doc_a", "__sa"), "doc_a")
        .join(_side("doc_b", "__sb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("__n_inter"),
            (F.size("__sa") + F.size("__sb")).alias("__sz_sum"),
        )
        # plan barrier (lazy, the q26 localCheckpoint pattern): without
        # it the threshold filter is pushed INTO the second join's
        # condition, where the inlined jaccard expression re-evaluates
        # array_intersect ~6× per candidate row (join condition + the
        # output projection — measured 22 s → 6 s at 100k candidates,
        # sf0.1). The pinned rows are slim (two ids + two ints).
        .localCheckpoint(eager=False)
    )
    union = F.col("__sz_sum") - F.col("__n_inter")
    out = (
        scored.withColumn(
            "jaccard",
            # two empty shingle sets have an undefined Jaccard — score 0
            # (never a near-dup), not a divide-by-zero
            F.when(union > 0, F.round(F.col("__n_inter") / union, 6)).otherwise(0.0),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return out


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash_signatures(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash over word tokens (Charikar): sign-sum of token
    hashes weighted by term frequency; one vectorized Arrow pass."""

    @F.pandas_udf("long")
    def _sim(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        norm = texts.fillna("").str.lower().str.replace(r"[^\w\s]", "", regex=True)
        for i, t in enumerate(norm):
            toks = t.split()
            if not toks:
                continue
            uniq, counts = np.unique(toks, return_counts=True)
            h = murmur3_64_batch(list(uniq)).astype(np.uint64)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
            v = ((bits * 2 - 1) * counts[:, None]).sum(axis=0)
            sig = np.uint64(0)
            for j in np.nonzero(v > 0)[0]:
                sig |= np.uint64(1) << np.uint64(j)
            out[i] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    return df.select(F.col(id_col).alias("doc"), _sim(F.col(text_col)).alias("simhash"))


def _simhash_bucket_keys(col, n_chunks: int, max_hamming: int) -> list:
    """Manku-style bucket keys: split the 64-bit simhash into
    ``n_chunks`` contiguous chunks and emit one key per combination of
    ``n_chunks - max_hamming`` chunks. Pigeonhole: ≤ t differing bits
    dirty at most t chunks, so every true pair agrees on at least one
    full combination — recall is guaranteed for any t < n_chunks.

    Bucket-size math (why n_chunks is a scale knob): each key carries
    ``64·(1 − t/n_chunks)`` bits. The default (n_chunks=4, t=3) keys on
    16 bits → 65k buckets: at 10^10 docs that is ~10^5 docs/bucket and
    the per-bucket verify re-quadratics. n_chunks=6, t=3 keys on ~33
    bits (C(6,3)=20 tables) → ~10^10 buckets → O(1) docs/bucket; the
    candidate volume grows only by the 20/4 table factor.
    """
    from itertools import combinations

    base, rem = divmod(64, n_chunks)
    widths = [base + (1 if i < rem else 0) for i in range(n_chunks)]
    offsets, o = [], 0
    for w in widths:
        offsets.append(o)
        o += w
    chunks = []
    for w, off in zip(widths, offsets):
        e = F.shiftrightunsigned(col, off)
        if w < 64:
            e = e.bitwiseAND(F.lit((1 << w) - 1))
        chunks.append(e)
    keys = []
    for combo in combinations(range(n_chunks), n_chunks - max_hamming):
        key = F.lit(0).cast("long")
        for i in combo:
            key = F.shiftleft(key, widths[i]).bitwiseOR(chunks[i])
        keys.append(key)
    return keys


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ t, found by bucketing on
    chunk-combination keys (see :func:`_simhash_bucket_keys`) then
    verifying with ``bit_count(xor)``. Recall is exact by pigeonhole for
    any ``max_hamming < n_chunks``; raise ``n_chunks`` at scale to widen
    the bucket key space (docs in the helper)."""
    if not 0 <= max_hamming < n_chunks:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_chunks; "
            f"got max_hamming={max_hamming}, n_chunks={n_chunks}"
        )
    sig = simhash_signatures(df, id_col, text_col).cache()
    chunked = sig.select(
        "doc",
        "simhash",
        F.posexplode(F.array(*_simhash_bucket_keys(F.col("simhash"), n_chunks, max_hamming)))
        .alias("table_idx", "bucket"),
    )
    a = chunked.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("h_a"), "table_idx", "bucket")
    b = chunked.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("h_b"), "table_idx", "bucket")
    return (
        a.join(b, ["table_idx", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# pair graph → dedup groups (connected components) → keep list
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, comp) labels for the undirected pair graph — min-label
    propagation to a fixpoint (the standard Spark-native connected
    components; what GraphFrames/GraphX run under the hood).

    Every near-dup family emits PAIRS; turning pairs into a keep/drop
    decision needs the transitive closure (A~B, B~C ⇒ one group), and
    "drop doc_b of every pair" over-deletes chains. Each round is two
    hash joins on the (bounded) edge list; the label frame is pinned
    per round with ``localCheckpoint`` (cuts the growing lineage — the
    iterative-algorithm analog of the crawl loop's per-iteration
    materialization) and the loop stops when a round changes no label
    (one footer-free count per round, on rows that shrink to zero).
    Deterministic: labels converge to the component-minimum id.
    Diameter bounds rounds: ``max_iter`` is a guard, real near-dup
    clusters converge in a handful.
    """
    # materialize the edge list ONCE (eager localCheckpoint): every
    # propagation round joins against `edges`, and an unpinned edge
    # frame re-executes its entire upstream lineage — the full pair
    # pipeline (sketch join + exact verify, or worse the exact
    # shingle self-join) — once per round. Measured r8: q54 at sf0.1
    # went >13 min with unpinned edges vs seconds pinned.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    def _unpersist_ckpt(df: DataFrame) -> None:
        # free the PREVIOUS round's localCheckpoint blocks — without
        # this, executor storage grows O(rounds × nodes). The RDD
        # behind a localCheckpoint'd Dataset is only reachable through
        # the LogicalRDD plan node (Dataset.unpersist only uncaches
        # df.persist entries); best-effort because the accessor is
        # internal.
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception as exc:
            # log once so a Spark-version break of this internal
            # accessor is observable (the regression it guards —
            # O(rounds × nodes) executor-storage growth — would
            # otherwise return invisibly)
            global _UNPERSIST_WARNED
            if not _UNPERSIST_WARNED:
                _UNPERSIST_WARNED = True
                import logging

                logging.getLogger(__name__).warning(
                    "connected-components: localCheckpoint unpersist "
                    "accessor failed (%s: %s); executor storage will "
                    "grow O(rounds × nodes) this run",
                    type(exc).__name__, exc,
                )

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_ckpt = labels
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh_min = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("__nmin"))
            .withColumnRenamed("src", "node")
        )
        new_labels = (
            labels.join(neigh_min, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("__nmin"), F.col("comp"))).alias("comp"),
                (F.coalesce(F.col("__nmin"), F.col("comp")) < F.col("comp")).alias("__chg"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        _unpersist_ckpt(prev_ckpt)  # new round is materialized; old blocks dead
        prev_ckpt = new_labels
        labels = new_labels.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components stopped at max_iter={max_iter} without "
            "converging — labels may split true components (graph diameter "
            f"exceeds {max_iter}); raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    _unpersist_ckpt(edges)  # labels are pinned; edge blocks are dead
    global CC_LAST_ROUNDS
    CC_LAST_ROUNDS = rounds
    return labels


# observability: label-propagation rounds of the most recent
# connected_components run in this process (bench reports it — the CC
# loop is the one registered query with per-round Spark jobs, so its
# round count is a first-class latency driver)
CC_LAST_ROUNDS: int = 0


# past this many drop-ids the anti-join side stops being broadcast:
# at a realistic 100 TB dup rate the drop-set is billions of ids, far
# past driver-serialized broadcast territory. Same gate shape as the
# fetch join's ``FETCH_BROADCAST_ROWS`` (plans/frontier.py).
DROPSET_BROADCAST_LIMIT = 4_000_000


def deduplicated_corpus(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    broadcast_limit: int = DROPSET_BROADCAST_LIMIT,
) -> DataFrame:
    """Apply a keep/drop verdict: anti-join ``docs`` against the
    drop-set of ``labels`` (component members minus the min-id keeper,
    i.e. ``node != comp``) — the corpus is read once, never shuffled.

    The drop side is size-gated: ``labels`` comes out of
    :func:`connected_components` localCheckpoint'd, so the ``count()``
    here is one cheap scan of materialized blocks (no lineage
    recompute). At or under ``broadcast_limit`` drop-ids the anti-join
    broadcasts; past it, it runs as a distributed shuffle anti-join
    (ids-only on the build side, so the shuffle ships a few bytes per
    dropped doc)."""
    drops = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    n_drop = drops.count()
    drop_side = F.broadcast(drops) if n_drop <= broadcast_limit else drops
    return docs.join(drop_side, id_col, "left_anti")


def dedup_groups(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """(comp, n_docs, keep_id) per duplicate GROUP: transitive closure
    of the pair graph, keep the minimum id (the reference policy:
    first-seen survives), drop the rest. ``comp`` equals ``keep_id`` by
    construction (min-label convergence)."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        comp.groupBy("comp")
        .agg(F.count("*").alias("n_docs"), F.min("node").alias("keep_id"))
        .orderBy("comp")
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    mode: str = "exact",
    n_bits: int = 32,
    bands: int = 16,
    seed: int = 11,
    dim: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Pairs with cosine similarity ≥ τ.

    - ``mode="exact"`` — all-pairs non-equi join (BroadcastNestedLoop).
      The ≤10k-row oracle baseline ONLY; O(n²) at scale.
    - ``mode="lsh"`` — the 10^8+-vector plan: random-hyperplane sign
      bits (one Arrow pass), banded into ``bands`` buckets of
      ``n_bits // bands`` bits; candidates = pairs sharing ≥1 band
      bucket (EQUI-join on (band, bucket) — shuffles on the bucket key,
      never materializes the cross product), then the identical exact
      cosine verify. Recall for a pair at cosine τ:
      ``1 − (1 − p^w)^bands`` with ``p = 1 − arccos(τ)/π``, ``w =
      n_bits // bands``. Defaults (w=2, 16 bands) give miss ≈ 1.6e-4 at
      τ=0.45 and ≈ 1e-12 at τ=0.95; at scale raise w (8–16) so buckets
      stay small and add bands to hold recall.

    cosine = dot(a,b) / (‖a‖·‖b‖), computed in double with sequential
    folds so the DuckDB list_dot_product oracle matches bit-for-bit.
    """
    def _dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)

    # hoist per-row norms: higher-order-function lambdas evaluate
    # interpreted, and recomputing dot(v,v) per PAIR tripled the O(n²)
    # work (observed 127 s → ~40 s at 5k vectors)
    n = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(_dot("v", "v")))

    if mode == "lsh":
        from pubcrawler_spark.operators.ann import _hyperplanes

        if dim is None:
            dim = len(emb.select(vec_col).head()[0])  # one-row driver peek
        planes_t = _hyperplanes(dim, n_bits, seed).T.copy()
        w_bits = n_bits // bands

        @F.pandas_udf("long")
        def _sig(vecs: pd.Series) -> pd.Series:
            m = np.stack(vecs.to_numpy())
            bits = (m @ planes_t) > 0
            weights = 1 << np.arange(n_bits, dtype=np.uint64)
            return pd.Series((bits.astype(np.uint64) @ weights).astype(np.int64))

        # sig-only banding: the banded explode and bucket equi-join carry
        # ONLY (vid, band, bucket) — never the vector. Exploding the
        # vector ×bands would inflate the shuffle's largest column
        # 16-fold at 10^8 vectors; instead the deduped candidate id
        # pairs re-attach (v, nrm) via two id equi-joins before the
        # exact cosine verify.
        banded = n.withColumn("__sig", _sig(F.col("v"))).select(
            "vid",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("__sig"), b * w_bits)
                        .bitwiseAND(F.lit((1 << w_bits) - 1))
                        for b in range(bands)
                    ]
                )
            ).alias("band", "bucket"),
        )
        a = banded.select(F.col("vid").alias("id_a"), "band", "bucket")
        b = banded.select(F.col("vid").alias("id_b"), "band", "bucket")
        pairs = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        cand = pairs.join(
            n.select(F.col("vid").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a")),
            "id_a",
        ).join(
            n.select(F.col("vid").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b")),
            "id_b",
        )
    elif mode == "exact":
        a = n.select(F.col("vid").alias("id_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
        b = n.select(F.col("vid").alias("id_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        raise ValueError(f"unknown mode {mode!r} (expected 'exact' or 'lsh')")

    cos = _dot("v_a", "v_b") / (F.col("n_a") * F.col("n_b"))
    if mode == "lsh":
        # slim scoring + lazy barrier (the verify_pairs_exact r8
        # pattern): without it the threshold filter is pushed into the
        # candidate join's condition and the interpreted 64-element
        # cosine fold evaluates twice per candidate pair (condition +
        # output projection). Pinned rows are 24 bytes/candidate —
        # bounded by the banded-bucket candidate volume. The exact mode
        # below keeps the streaming shape: it is the ≤10k all-pairs
        # oracle baseline, where pinning n² scored rows is the worse
        # trade. ``pin=False`` skips the barrier so plan tests can see
        # the candidate join topology the barrier otherwise hides
        # behind a Scan ExistingRDD (the q54 pair-stage pattern).
        scored = cand.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        if pin:
            scored = scored.localCheckpoint(eager=False)
        return (
            scored.filter(F.col("cosine") >= threshold).orderBy("id_a", "id_b")
        )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )
