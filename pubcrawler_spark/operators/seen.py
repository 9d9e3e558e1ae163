"""URL-seen set (SURVEY.md J2/U2/V7): one :class:`SeenSet` interface,
four implementations.

The reference's seen-set semantics is an exact anti-join of new ids
against already-indexed ids (/root/reference/src/search/
embedder_chroma.py:56-82). At 10^10-URL scale an exact join of the
frontier against the full seen table every iteration shuffles the
(huge) seen side, so the north rule mandates a partitioned bloom/cuckoo
filter instead. Every implementation sits on the same on-disk layout:
the per-iteration delta ledger ``iter=K/seen`` (the URLs first marked
seen in iteration K; the crawl engine writes it) plus, for a filter,
its shard table ``iter=K/seen_shards``.

- :class:`ExactSeen` — ``left_anti`` join of the candidates against the
  ledger on ``url_hash`` (64-bit murmur3; collision FP odds at 10^10
  keys ≈ 3e-3 across the whole corpus, measured and accepted). It is
  the oracle the filters are tested against.
- :class:`BloomShards` — bloom shards held in driver memory, probed by
  broadcasting them into a shuffle-free ``mapInPandas`` pass.
- :class:`BloomTable` — the same shards kept only as the checkpointed
  table, for filters past :data:`DRIVER_FILTER_BYTES` (at 10^10 URLs /
  1% FPP the blobs total ~12 GB): candidates shuffle ONCE on
  ``shard_id`` and meet their shard's blob row in a cogrouped
  ``applyInPandas`` (:func:`filter_unseen_bloom`); the update is the
  cogrouped OR-merge :func:`update_bloom_shards`. The driver never
  materializes a hash or a blob.
- ``cuckoo.CuckooShards`` — driver-held cuckoo shards; the one set that
  can :meth:`SeenSet.delete`.

Shards are keyed by ``pmod(url_hash, N_SHARDS)``. Bloom has no false
negatives by construction (property-tested); false positives only drop
re-crawls, never violate politeness.
"""

from __future__ import annotations

import abc
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

SEEN_SCHEMA = "url_hash long, url_canon string"
BLOOM_SCHEMA = "shard_id int, bloom_bytes binary, n_items long, n_bits long, n_hashes int"

N_SHARDS = 32
# the false-positive rate a bloom filter is sized for; past it the
# filter is over capacity and the engine refuses to commit
FPP_TARGET = 0.01
# Deltas up to this many rows are read on the driver with pyarrow (no
# Spark job); larger ones are built distributed. 2M int64 hashes plus
# their URLs stay within a few hundred MB of driver memory.
DRIVER_DELTA_ROWS = 2_000_000
# Bloom placement: a driver-held filter is pickled into a broadcast on
# every probe and every probe task unpickles all of it, so its cost
# grows with the filter; the table placement ships each blob to one
# task at the price of one shuffle of the candidates. 256 MiB (about
# 2e8 URLs at 1% FPP) keeps the driver's copy and each task's copy a
# small share of Spark's default 1 GiB driver and executor heaps.
DRIVER_FILTER_BYTES = 256 << 20


# ---------------------------------------------------------------------------
# checkpoint layout (pyarrow; no Spark job)
# ---------------------------------------------------------------------------


def iter_dir(ckpt: str, k: int) -> str:
    return os.path.join(ckpt, f"iter={k}")


def committed_iterations(ckpt: str) -> list[int]:
    """Iterations whose directory was renamed into place with a manifest."""
    if not os.path.isdir(ckpt):
        return []
    return sorted(
        int(name.split("=")[1])
        for name in os.listdir(ckpt)
        if name.startswith("iter=") and not name.endswith(".tmp")
        and os.path.exists(os.path.join(ckpt, name, "_manifest.json"))
    )


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def count_parquet(path: str) -> int:
    """Row count from parquet footers — no Spark job."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def read_col(path: str, col: str, mask_col: str | None = None, mask_value=None) -> np.ndarray:
    """Read one column from a parquet dir driver-side (pyarrow; no Spark
    job). Used for deltas under DRIVER_DELTA_ROWS."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    arrays = []
    for f in parquet_files(path):
        t = pq.read_table(f, columns=[col] + ([mask_col] if mask_col else []))
        a = t.column(col)
        if mask_col is not None:
            a = pc.filter(a, pc.equal(t.column(mask_col), mask_value))
        arrays.append(a.to_numpy(zero_copy_only=False))
    if not arrays:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(arrays)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def write_shard_table(path: str, name: str, cols: dict, geometry: dict[str, int]) -> None:
    """One parquet file of per-shard blob rows. The geometry goes in the
    schema metadata, so a zero-row table (an iteration that marked
    nothing seen) reads back as an empty filter of the right shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = pa.table(cols).replace_schema_metadata({k: str(v) for k, v in geometry.items()})
    pq.write_table(tbl, os.path.join(path, f"part-00000-{name}.parquet"))


def read_shard_table(path: str, keys: tuple[str, ...]) -> tuple[dict, dict[str, int]]:
    """(columns as lists, geometry) of a :func:`write_shard_table` dir."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_files(path)[0])
    meta = t.schema.metadata or {}
    missing = [k for k in keys if k.encode() not in meta]
    if missing:
        raise ValueError(f"shard table at {path} has no geometry metadata {missing}")
    return t.to_pydict(), {k: int(meta[k.encode()]) for k in keys}


# ---------------------------------------------------------------------------
# the interface
# ---------------------------------------------------------------------------


class SeenSet(abc.ABC):
    """The crawl's URL-seen set. Per iteration the engine calls
    :meth:`probe`, writes the delta ledger, then :meth:`add` and
    :meth:`write` before its commit rename; on resume it calls
    :meth:`restore` unless the set already reflects the last commit."""

    @abc.abstractmethod
    def probe(self, cand: DataFrame) -> DataFrame:
        """``cand`` minus the rows whose ``url_hash`` is (possibly) seen."""

    @abc.abstractmethod
    def add(self, delta_dir: str, n_delta: int) -> None:
        """Take in this iteration's delta ledger (``n_delta`` rows)."""

    @abc.abstractmethod
    def write(self, shard_dir: str) -> None:
        """Persist the filter as the iteration's ``seen_shards`` table."""

    @abc.abstractmethod
    def restore(self, ckpt: str, done: list[int]) -> None:
        """Reset to the state committed by iterations ``done`` of ``ckpt``
        (empty when ``done`` is)."""

    @abc.abstractmethod
    def stats(self) -> dict:
        """``{items, bytes, est_fpp}``: occupancy and estimated FPP."""

    def delete(self, hashes: np.ndarray) -> int:
        raise ValueError("only seen_mode='cuckoo' can delete from the seen set")


def seen_set(spark: SparkSession, mode: str, expected_urls: int) -> SeenSet:
    """The seen set for ``mode``, sized for ``expected_urls``. Bloom is
    driver-held unless the sized filter passes DRIVER_FILTER_BYTES."""
    if mode == "exact":
        return ExactSeen(spark)
    if mode == "cuckoo":
        from pubcrawler_spark.operators.cuckoo import CuckooShards

        return CuckooShards.sized(expected_urls, n_shards=N_SHARDS)
    if mode == "bloom":
        shards = BloomShards.sized(expected_urls, FPP_TARGET, N_SHARDS)
        if shards.n_shards * shards.n_bits // 8 <= DRIVER_FILTER_BYTES:
            return shards
        return BloomTable(spark, shards.n_shards, shards.n_bits, shards.n_hashes)
    raise ValueError(f"unknown seen_mode {mode!r} (expected 'exact', 'bloom' or 'cuckoo')")


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def filter_unseen_exact(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact anti-join on url_hash (J2). ``seen`` has SEEN_SCHEMA."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


class ExactSeen(SeenSet):
    """Anti-join against the committed delta ledgers. The probe keeps
    only unseen URLs, so the deltas are disjoint and their row counts
    sum to the seen set's size."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._ckpt = ""
        self._items = self._bytes = 0

    def _ledgers(self, done: list[int]) -> list[str]:
        return [os.path.join(iter_dir(self._ckpt, k), "seen") for k in done]

    def probe(self, cand: DataFrame) -> DataFrame:
        ledgers = self._ledgers(committed_iterations(self._ckpt))
        if not ledgers:
            return cand
        return filter_unseen_exact(cand, self.spark.read.schema(SEEN_SCHEMA).parquet(*ledgers))

    def add(self, delta_dir: str, n_delta: int) -> None:
        self._items += n_delta
        self._bytes += _dir_bytes(delta_dir)

    def write(self, shard_dir: str) -> None:
        pass  # the ledger is the whole state

    def restore(self, ckpt: str, done: list[int]) -> None:
        self._ckpt = ckpt
        ledgers = self._ledgers(done)
        self._items = sum(count_parquet(d) for d in ledgers)
        self._bytes = sum(_dir_bytes(d) for d in ledgers)

    def stats(self) -> dict:
        return {"items": self._items, "bytes": self._bytes, "est_fpp": 0.0}


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


def _bloom_stats(n_items: list[int], n_bits: int, n_hashes: int) -> dict:
    """Estimated FPP (1 − e^(−kn/m))^k of the fullest shard — from the
    item counts alone, no popcount."""
    fpp = max(
        ((1 - math.exp(-n_hashes * n / n_bits)) ** n_hashes for n in n_items), default=0.0
    )
    return {"items": int(sum(n_items)), "bytes": len(n_items) * n_bits // 8, "est_fpp": fpp}


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Double hashing: pos_i = (h1 + i*h2) mod n_bits, shape (k, n)."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h >> np.uint64(32)) | (h << np.uint64(32)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, hashes: np.ndarray, n_hashes: int) -> None:
    pos = _positions(hashes, len(bits) * 8, n_hashes)
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def bloom_probe_bytes(blob: bytes, hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Boolean array: True where possibly-seen."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(blob, dtype=np.uint8)
    pos = _positions(hashes, n_bits, n_hashes)
    hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=0)


class BloomShards(SeenSet):
    """Incremental sharded bloom filter held in driver memory — written
    as the ``seen_shards`` state table.

    Fixed-capacity shards (n_bits sized once from ``capacity``/``fpp``)
    so per-iteration updates are pure bitwise OR — no rebuild over the
    full seen set (rebuilds made the seen update O(total·iterations)).
    The probe broadcasts the blobs (n_shards × n_bits/8 bytes).
    Capacity is fixed at sizing: past it the FPP climbs, which
    :meth:`stats` estimates and the crawl engine refuses to commit.
    There is no chaining of filters; size ``capacity`` for the crawl.

    No false negatives ever (bits are only set, never cleared).
    """

    def __init__(self, n_shards: int, n_bits: int, n_hashes: int, blobs: dict[int, np.ndarray] | None = None):
        self.n_shards = n_shards
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.blobs: dict[int, np.ndarray] = blobs or {}
        self.n_items: dict[int, int] = {}
        self._probe_bc = None  # the one live probe broadcast

    @classmethod
    def sized(cls, capacity: int, fpp: float = FPP_TARGET, n_shards: int = N_SHARDS) -> "BloomShards":
        n_bits, n_hashes = _bloom_params(max(1, capacity // n_shards), fpp)
        return cls(n_shards, n_bits, n_hashes)

    def add_hashes(self, hashes: np.ndarray) -> None:
        """OR the hashes into their shards (numpy, driver-side)."""
        if len(hashes) == 0:
            return
        shard = np.mod(hashes, self.n_shards)
        for sid in np.unique(shard):
            h = hashes[shard == sid]
            blob = self.blobs.get(int(sid))
            if blob is None:
                blob = self.blobs[int(sid)] = np.zeros(self.n_bits // 8, dtype=np.uint8)
            _set_bits(blob, h, self.n_hashes)
            self.n_items[int(sid)] = self.n_items.get(int(sid), 0) + len(h)

    def add_blob_rows(self, rows) -> None:
        """OR-merge blob rows of this filter's geometry (the distributed
        big-delta path: one bounded-size row per shard — the driver
        never sees raw hashes)."""
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
        """mapInPandas probe against broadcast blobs (no shuffle). Only
        the DataFrame from the latest call stays valid (see
        :func:`broadcast_probe`)."""
        n_bits, n_hashes = self.n_bits, self.n_hashes
        return broadcast_probe(
            self, candidates, {sid: b.tobytes() for sid, b in self.blobs.items()},
            lambda blob, h: bloom_probe_bytes(blob, h, n_bits, n_hashes),
        )

    # -- SeenSet ---------------------------------------------------------------

    def probe(self, cand: DataFrame) -> DataFrame:
        return self.filter_unseen(cand) if self.blobs else cand  # empty filter passes all

    def add(self, delta_dir: str, n_delta: int) -> None:
        if n_delta > DRIVER_DELTA_ROWS:
            # big delta: blob rows in this filter's geometry built
            # distributed, then OR-merged (bounded size: one per shard)
            spark = SparkSession.active()
            delta = spark.read.schema(SEEN_SCHEMA).parquet(delta_dir)
            empty = spark.createDataFrame([], BLOOM_SCHEMA)
            self.add_blob_rows(update_bloom_shards(
                delta, empty, self.n_shards, self.n_bits, self.n_hashes
            ).collect())
        else:
            self.add_hashes(read_col(delta_dir, "url_hash").astype(np.int64))

    def restore(self, ckpt: str, done: list[int]) -> None:
        if done:
            got = BloomShards.read(os.path.join(iter_dir(ckpt, done[-1]), "seen_shards"))
            self.n_shards, self.n_bits, self.n_hashes = got.n_shards, got.n_bits, got.n_hashes
            self.blobs, self.n_items = got.blobs, got.n_items
        else:
            self.blobs, self.n_items = {}, {}

    def stats(self) -> dict:
        return _bloom_stats(list(self.n_items.values()), self.n_bits, self.n_hashes)

    # -- checkpoint (pyarrow; no Spark job) ---------------------------------

    def write(self, path: str) -> None:
        import pyarrow as pa

        sids = sorted(self.blobs)
        write_shard_table(
            path, "shards",
            {
                "shard_id": pa.array(sids, pa.int32()),
                "bloom_bytes": pa.array([self.blobs[s].tobytes() for s in sids], pa.binary()),
                "n_items": pa.array([self.n_items.get(s, 0) for s in sids], pa.int64()),
            },
            {"n_shards": self.n_shards, "n_bits": self.n_bits, "n_hashes": self.n_hashes},
        )

    @classmethod
    def read(cls, path: str) -> "BloomShards":
        d, g = read_shard_table(path, ("n_shards", "n_bits", "n_hashes"))
        out = cls(g["n_shards"], g["n_bits"], g["n_hashes"])
        for sid, blob, n in zip(d["shard_id"], d["bloom_bytes"], d["n_items"]):
            out.blobs[int(sid)] = np.frombuffer(blob, dtype=np.uint8).copy()
            out.n_items[int(sid)] = int(n)
        return out


def broadcast_probe(owner, candidates: DataFrame, blobs: dict[int, bytes], hit) -> DataFrame:
    """Drop the ``candidates`` rows for which ``hit(blob, hashes)`` says
    seen, with ``blobs`` (one per shard of ``owner``) broadcast into a
    shuffle-free mapInPandas pass.

    The call destroys ``owner``'s previous probe broadcast, so a filter
    probed once per crawl iteration keeps one broadcast alive (pickle
    file plus JVM block), not one per iteration; only the DataFrame from
    the latest call stays valid, so consume (write or collect) a probe
    before probing again. The destroy blocks until the blocks are gone,
    so no removal runs on behind the next job."""
    if owner._probe_bc is not None:
        owner._probe_bc.destroy(blocking=True)
    bc = owner._probe_bc = candidates.sparkSession.sparkContext.broadcast(blobs)
    n_shards = owner.n_shards

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
                blob = shards.get(int(sid))
                if blob is None:
                    continue
                mask = shard == sid
                keep[mask] = ~hit(blob, h[mask])
            yield pdf[keep]

    return candidates.mapInPandas(_probe, schema=candidates.schema)


def filter_unseen_bloom(candidates: DataFrame, bloom_shards: DataFrame, n_shards: int) -> DataFrame:
    """Shard-join probe (V7): drop candidates whose url_hash probes
    positive in ``bloom_shards`` (BLOOM_SCHEMA rows).

    One shuffle of the candidate side (by ``pmod(url_hash, n_shards)``),
    zero driver materialization — each blob is shipped to exactly one
    task regardless of candidate count. Shards with no blob row pass
    their candidates through unchanged, so an empty filter is a correct
    no-op.
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
            _set_bits(bits, d_pdf["url_hash"].to_numpy(dtype=np.int64), n_hashes)
            n_items += len(d_pdf)
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


class BloomTable(SeenSet):
    """Bloom shards kept only as the checkpointed ``seen_shards`` table
    (Spark-written, BLOOM_SCHEMA): the 10^10-URL placement. Probe =
    :func:`filter_unseen_bloom`, update = :func:`update_bloom_shards`;
    only the per-shard item counts reach the driver, for :meth:`stats`."""

    def __init__(self, spark: SparkSession, n_shards: int, n_bits: int, n_hashes: int):
        self.spark = spark
        self.n_shards, self.n_bits, self.n_hashes = n_shards, n_bits, n_hashes
        self._ckpt = ""
        self._delta = ""
        self._stats = _bloom_stats([], n_bits, n_hashes)

    def _committed(self) -> DataFrame | None:
        done = committed_iterations(self._ckpt)
        if not done:
            return None
        path = os.path.join(iter_dir(self._ckpt, done[-1]), "seen_shards")
        return self.spark.read.schema(BLOOM_SCHEMA).parquet(path)

    def _read_stats(self, shard_dir: str) -> dict:
        import pyarrow.parquet as pq

        n_items = [
            n for f in parquet_files(shard_dir)
            for n in pq.read_table(f, columns=["n_items"]).column("n_items").to_pylist()
        ]
        return _bloom_stats(n_items, self.n_bits, self.n_hashes)

    def probe(self, cand: DataFrame) -> DataFrame:
        shards = self._committed()
        return cand if shards is None else filter_unseen_bloom(cand, shards, self.n_shards)

    def add(self, delta_dir: str, n_delta: int) -> None:
        self._delta = delta_dir  # merged by write()

    def write(self, shard_dir: str) -> None:
        base = self._committed()
        if base is None:
            base = self.spark.createDataFrame([], BLOOM_SCHEMA)
        delta = self.spark.read.schema(SEEN_SCHEMA).parquet(self._delta)
        update_bloom_shards(
            delta, base, self.n_shards, self.n_bits, self.n_hashes
        ).write.mode("overwrite").parquet(shard_dir)
        self._stats = self._read_stats(shard_dir)

    def restore(self, ckpt: str, done: list[int]) -> None:
        self._ckpt = ckpt
        self._stats = (
            self._read_stats(os.path.join(iter_dir(ckpt, done[-1]), "seen_shards"))
            if done else _bloom_stats([], self.n_bits, self.n_hashes)
        )

    def stats(self) -> dict:
        return self._stats
