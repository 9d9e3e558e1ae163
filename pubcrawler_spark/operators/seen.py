"""URL-seen set (SURVEY.md J2/U2/V7): exact and bloom-sharded modes.

The reference's seen-set semantics is an exact anti-join of new ids
against already-indexed ids (/root/reference/src/search/
embedder_chroma.py:56-82). At 10^10-URL scale an exact join of the
frontier against the full seen table every iteration shuffles the
(huge) seen side, so the north rule mandates a partitioned bloom/cuckoo
filter instead:

- **exact mode** — ``left_anti`` join on ``url_hash`` (64-bit murmur3;
  collision FP odds at 10^10 keys ≈ 3e-3 across the whole corpus,
  measured and accepted; fixture tests use this mode so they are
  deterministic).
- **bloom mode** — seen URLs are sharded by ``pmod(url_hash, n_shards)``;
  each shard is a numpy bit-array bloom filter built with
  ``applyInPandas`` (map-side, one blob row per shard). Two probe paths
  (:func:`filter_unseen_bloom` ``mode=``):

  - ``"broadcast"`` — blobs collected + broadcast, probe is a
    shuffle-free ``mapInPandas`` pass. Right while the blob table
    (``n_bits/8 × n_shards`` bytes) fits a broadcast.
  - ``"shard_join"`` — at 10^10 URLs / 1% FPP the blobs total ~12 GB,
    past broadcast: candidates shuffle ONCE on ``shard_id`` and meet
    their shard's single blob row in a cogrouped ``applyInPandas`` —
    no driver collect, no broadcast, each blob shipped to exactly one
    task.

  The seen-update twin of shard_join is :func:`update_bloom_shards`:
  the per-iteration delta of new url_hashes cogroups with the existing
  blob rows and each task ORs its shard's positions — the driver never
  materializes hashes or blobs.

  No false negatives by construction (property-tested); false positives
  only drop re-crawls, never violate politeness.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from pubcrawler_spark.functions.hashing import murmur3_64_batch

SEEN_SCHEMA = "url_hash long, url_canon string"
BLOOM_SCHEMA = "shard_id int, bloom_bytes binary, n_items long, n_bits long, n_hashes int"


def filter_unseen_exact(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact anti-join on url_hash (J2). ``seen`` has SEEN_SCHEMA."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


# ---------------------------------------------------------------------------
# bloom shards
# ---------------------------------------------------------------------------


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Optimal (n_bits, n_hashes) for n items at target fpp.

    n_bits floored at 4096 (512 B/shard): without the floor, a nearly
    empty shard gets a 64-bit filter with ~70% fill and FPP in the 1e-3
    range — observed as a real schedule divergence in testing. k is
    computed from the TARGET ratio (not the floored one) and capped so
    small shards keep FPP ≪ 1e-9.
    """
    n_items = max(1, n_items)
    n_bits = max(4096, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    n_bits = (n_bits + 7) // 8 * 8
    n_hashes = max(1, round(n_bits / n_items * math.log(2)))
    return n_bits, min(16, n_hashes)


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Double hashing: pos_i = (h1 + i*h2) mod n_bits, shape (k, n)."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h >> np.uint64(32)) | (h << np.uint64(32)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).astype(np.int64)


def bloom_build_bytes(hashes: np.ndarray, n_bits: int, n_hashes: int) -> bytes:
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    pos = _positions(hashes, n_bits, n_hashes)
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def bloom_probe_bytes(blob: bytes, hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Boolean array: True where possibly-seen."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(blob, dtype=np.uint8)
    pos = _positions(hashes, n_bits, n_hashes)
    hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=0)


class BloomShards:
    """Incremental sharded bloom filter — the ``seen_shards`` state table.

    Fixed-capacity shards (n_bits sized once from ``capacity``/``fpp``)
    so per-iteration updates are pure bitwise OR — no rebuild over the
    full seen set (rebuilds made the seen update O(total·iterations)).
    Blobs live as binary rows in the checkpoint; the probe broadcasts
    them (n_shards × n_bits/8 bytes). At 10^10 URLs you raise n_shards
    so each blob stays broadcastable, or chain filters (scalable bloom)
    — both are config, not code changes.

    No false negatives ever (bits are only set, never cleared); FPP
    degrades gracefully past capacity and is measured in tests.
    """

    def __init__(self, n_shards: int, n_bits: int, n_hashes: int, blobs: dict[int, np.ndarray] | None = None):
        self.n_shards = n_shards
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.blobs: dict[int, np.ndarray] = blobs or {}
        self.n_items: dict[int, int] = {}
        self._probe_bc = None  # the one live probe broadcast

    @classmethod
    def sized(cls, capacity: int, fpp: float = 0.01, n_shards: int = 32) -> "BloomShards":
        n_bits, n_hashes = _bloom_params(max(1, capacity // n_shards), fpp)
        return cls(n_shards, n_bits, n_hashes)

    def add_hashes(self, hashes: np.ndarray) -> None:
        """OR the hashes into their shards (numpy; driver-side for small
        deltas — the distributed twin is build_bloom_shards + OR merge)."""
        if len(hashes) == 0:
            return
        shard = np.mod(hashes, self.n_shards)
        for sid in np.unique(shard):
            h = hashes[shard == sid]
            blob = self.blobs.get(int(sid))
            if blob is None:
                blob = np.zeros(self.n_bits // 8, dtype=np.uint8)
                self.blobs[int(sid)] = blob
            pos = _positions(h, self.n_bits, self.n_hashes)
            np.bitwise_or.at(blob, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            self.n_items[int(sid)] = self.n_items.get(int(sid), 0) + len(h)

    def add_blob_rows(self, rows) -> None:
        """OR-merge fixed-geometry delta blob rows (the distributed
        big-delta path: build_bloom_delta_shards output, one bounded-size
        row per shard — the driver never sees raw hashes)."""
        for r in rows:
            if int(r["n_bits"]) != self.n_bits or int(r["n_hashes"]) != self.n_hashes:
                raise ValueError(
                    f"shard {r['shard_id']}: delta geometry ({r['n_bits']}, {r['n_hashes']}) "
                    f"!= filter geometry ({self.n_bits}, {self.n_hashes})"
                )
            sid = int(r["shard_id"])
            incoming = np.frombuffer(r["bloom_bytes"], dtype=np.uint8)
            blob = self.blobs.get(sid)
            if blob is None:
                self.blobs[sid] = incoming.copy()
            else:
                np.bitwise_or(blob, incoming, out=blob)
            self.n_items[sid] = self.n_items.get(sid, 0) + int(r["n_items"])

    def filter_unseen(self, candidates: DataFrame) -> DataFrame:
        """mapInPandas probe against broadcast blobs (no shuffle).

        Each call destroys the previous call's broadcast, so only the
        DataFrame from the latest call stays valid: consume (write or
        collect) a probe before probing again."""
        bc = replace_broadcast(
            candidates.sparkSession.sparkContext, self._probe_bc,
            {sid: b.tobytes() for sid, b in self.blobs.items()},
        )
        self._probe_bc = bc
        n_shards, n_bits, n_hashes = self.n_shards, self.n_bits, self.n_hashes
        schema = candidates.schema

        def _probe(it):
            shards = bc.value
            for pdf in it:
                if not len(pdf):
                    yield pdf
                    continue
                h = pdf["url_hash"].to_numpy(dtype=np.int64)
                shard = np.mod(h, n_shards)
                keep = np.ones(len(pdf), dtype=bool)
                for sid in np.unique(shard):
                    blob = shards.get(int(sid))
                    if blob is None:
                        continue
                    mask = shard == sid
                    keep[mask] = ~bloom_probe_bytes(blob, h[mask], n_bits, n_hashes)
                yield pdf[keep]

        return candidates.mapInPandas(_probe, schema=schema)

    # -- checkpoint (pyarrow; no Spark job) ---------------------------------

    def write(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path, exist_ok=True)
        sids = sorted(self.blobs)
        tbl = pa.table(
            {
                "shard_id": pa.array(sids, pa.int32()),
                "bloom_bytes": pa.array([self.blobs[s].tobytes() for s in sids], pa.binary()),
                "n_items": pa.array([self.n_items.get(s, 0) for s in sids], pa.int64()),
                "n_bits": pa.array([self.n_bits] * len(sids), pa.int64()),
                "n_hashes": pa.array([self.n_hashes] * len(sids), pa.int32()),
                "n_shards": pa.array([self.n_shards] * len(sids), pa.int32()),
            }
        )
        pq.write_table(tbl, os.path.join(path, "part-00000-shards.parquet"))

    @classmethod
    def read(cls, path: str) -> "BloomShards":
        import pyarrow.parquet as pq

        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        tbl = pq.read_table(os.path.join(path, files[0]))
        d = tbl.to_pydict()
        if not d["shard_id"]:
            raise ValueError(f"empty seen_shards at {path}")
        out = cls(int(d["n_shards"][0]), int(d["n_bits"][0]), int(d["n_hashes"][0]))
        for sid, blob, n in zip(d["shard_id"], d["bloom_bytes"], d["n_items"]):
            out.blobs[int(sid)] = np.frombuffer(blob, dtype=np.uint8).copy()
            out.n_items[int(sid)] = int(n)
        return out


def replace_broadcast(sc, old, value):
    """Broadcast ``value`` and destroy ``old``: a filter probed once per
    crawl iteration keeps one broadcast alive (pickle file plus JVM
    block), not one per iteration. The destroy blocks until the blocks
    are gone, so no removal runs on behind the next job."""
    if old is not None:
        old.destroy(blocking=True)
    return sc.broadcast(value)


def build_bloom_shards(
    seen: DataFrame, n_shards: int = 32, fpp: float = 0.01, expected_per_shard: int | None = None
) -> DataFrame:
    """seen(url_hash, ...) -> one bloom blob row per shard (V7 build).

    ``applyInPandas`` over ``groupBy(shard_id)``: each shard's bits are
    built map-side in numpy; output is n_shards tiny rows.
    """

    def _build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64)
        n = expected_per_shard or max(len(h), 1)
        n_bits, n_hashes = _bloom_params(n, fpp)
        blob = bloom_build_bytes(h, n_bits, n_hashes)
        return pd.DataFrame(
            {
                "shard_id": [key[0]],
                "bloom_bytes": [blob],
                "n_items": [len(h)],
                "n_bits": [n_bits],
                "n_hashes": [n_hashes],
            }
        )

    return (
        seen.select("url_hash")
        .withColumn("shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
        .groupBy("shard_id")
        .applyInPandas(_build, schema=BLOOM_SCHEMA)
    )


def filter_unseen_bloom(
    candidates: DataFrame,
    bloom_shards: DataFrame,
    n_shards: int = 32,
    mode: str = "broadcast",
) -> DataFrame:
    """Drop candidates whose url_hash probes positive (V7 probe).

    ``mode="broadcast"``: blobs are collected and broadcast (small:
    n_shards rows); the probe itself is a mapInPandas pass — no shuffle
    of the candidate side.

    ``mode="shard_join"``: the 10^10-URL path — no collect, no
    broadcast. Candidates shuffle once on ``shard_id`` and meet their
    shard's blob row in a cogrouped ``applyInPandas``; each blob is
    shipped to exactly one task regardless of candidate count.
    """
    if mode == "shard_join":
        return _filter_unseen_bloom_shard_join(candidates, bloom_shards, n_shards)
    if mode != "broadcast":
        raise ValueError(f"unknown probe mode {mode!r} (expected 'broadcast' or 'shard_join')")
    spark = candidates.sparkSession
    blobs = {
        r["shard_id"]: (r["bloom_bytes"], r["n_bits"], r["n_hashes"])
        for r in bloom_shards.collect()
    }
    bc = spark.sparkContext.broadcast(blobs)
    schema = candidates.schema

    def _probe(it):
        shards = bc.value
        for pdf in it:
            if not len(pdf):
                yield pdf
                continue
            h = pdf["url_hash"].to_numpy(dtype=np.int64)
            shard = np.mod(h, n_shards)  # numpy % matches Spark pmod for int64
            keep = np.ones(len(pdf), dtype=bool)
            for sid in np.unique(shard):
                entry = shards.get(int(sid))
                if entry is None:
                    continue
                mask = shard == sid
                blob, n_bits, n_hashes = entry
                keep[mask] = ~bloom_probe_bytes(blob, h[mask], n_bits, n_hashes)
            yield pdf[keep]

    return candidates.mapInPandas(_probe, schema=schema)


def _filter_unseen_bloom_shard_join(
    candidates: DataFrame, bloom_shards: DataFrame, n_shards: int
) -> DataFrame:
    """Shard-join probe: cogroup candidates×blobs on shard_id.

    One shuffle of the candidate side (by ``pmod(url_hash, n_shards)``),
    zero driver materialization — the scale path once the blob table
    outgrows broadcast (~12 GB at 10^10 URLs / 1% FPP). Shards with no
    blob row pass their candidates through unchanged, so an empty filter
    is a correct no-op.
    """
    out_cols = candidates.columns
    schema = candidates.schema
    cand = candidates.withColumn(
        "__shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )
    blobs = bloom_shards.withColumnRenamed("shard_id", "__shard_id")

    def _probe(cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf[out_cols]
        if not len(cand_pdf) or not len(blob_pdf):
            return out
        blob = blob_pdf["bloom_bytes"].iloc[0]
        n_bits = int(blob_pdf["n_bits"].iloc[0])
        n_hashes = int(blob_pdf["n_hashes"].iloc[0])
        h = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        keep = ~bloom_probe_bytes(blob, h, n_bits, n_hashes)
        return out[keep]

    return (
        cand.groupBy("__shard_id")
        .cogroup(blobs.groupBy("__shard_id"))
        .applyInPandas(_probe, schema=schema)
    )


def build_bloom_delta_shards(
    delta: DataFrame, n_shards: int, n_bits: int, n_hashes: int
) -> DataFrame:
    """delta(url_hash, ...) → one FIXED-geometry blob row per non-empty
    shard. Unlike :func:`build_bloom_shards` (which sizes each shard to
    its own count), the geometry is pinned to the caller's filter so the
    output blobs are OR-compatible with an existing shard table."""

    def _build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {
                "shard_id": [key[0]],
                "bloom_bytes": [bloom_build_bytes(h, n_bits, n_hashes)],
                "n_items": [len(h)],
                "n_bits": [n_bits],
                "n_hashes": [n_hashes],
            }
        )

    return (
        delta.select("url_hash")
        .withColumn("shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
        .groupBy("shard_id")
        .applyInPandas(_build, schema=BLOOM_SCHEMA)
    )


def update_bloom_shards(
    delta: DataFrame,
    bloom_shards: DataFrame,
    n_shards: int,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """Distributed seen-update: OR the per-iteration delta of new
    url_hashes into the existing blob table, fully executor-side.

    Cogroup on shard_id: each task gets its shard's delta hashes plus
    the (single) existing blob row and emits the merged blob. Shards
    present on either side survive (cogroup is full-outer over keys), so
    untouched shards pass through and brand-new shards are created with
    the pinned geometry. The driver never sees a hash or a blob —
    this is the update twin of the shard_join probe.

    Existing blob rows must share the pinned (n_bits, n_hashes)
    geometry (enforced); bits are only ever set, never cleared.
    """

    d = delta.select("url_hash").withColumn(
        "__shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )
    b = bloom_shards.withColumnRenamed("shard_id", "__shard_id")

    def _merge(key, d_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(b_pdf):
            if int(b_pdf["n_bits"].iloc[0]) != n_bits or int(b_pdf["n_hashes"].iloc[0]) != n_hashes:
                raise ValueError(
                    f"shard {key[0]}: blob geometry "
                    f"({int(b_pdf['n_bits'].iloc[0])}, {int(b_pdf['n_hashes'].iloc[0])}) "
                    f"!= pinned ({n_bits}, {n_hashes})"
                )
            bits = np.frombuffer(b_pdf["bloom_bytes"].iloc[0], dtype=np.uint8).copy()
            n_items = int(b_pdf["n_items"].iloc[0])
        else:
            bits = np.zeros(n_bits // 8, dtype=np.uint8)
            n_items = 0
        if len(d_pdf):
            h = d_pdf["url_hash"].to_numpy(dtype=np.int64)
            pos = _positions(h, n_bits, n_hashes)
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            n_items += len(h)
        return pd.DataFrame(
            {
                "shard_id": [key[0]],
                "bloom_bytes": [bits.tobytes()],
                "n_items": [n_items],
                "n_bits": [n_bits],
                "n_hashes": [n_hashes],
            }
        )

    return (
        d.groupBy("__shard_id")
        .cogroup(b.groupBy("__shard_id"))
        .applyInPandas(_merge, schema=BLOOM_SCHEMA)
    )
