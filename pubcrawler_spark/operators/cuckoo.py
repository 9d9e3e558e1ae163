"""Sharded cuckoo-filter URL-seen set (north rule: "partitioned
bloom/cuckoo filter"; algorithm: Fan, Andersen, Kaminsky, Mitzenmacher,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014).

The cuckoo filter is the seen-set variant that supports DELETION —
the capability bloom cannot express: un-seeing a URL re-admits it to
the frontier (forced re-crawl of stale pages) without rebuilding the
filter. Same sharding layout as ``operators/seen.py``: shard by
``pmod(url_hash, n_shards)``, one binary blob row per shard in the
``seen_shards`` table, probe via broadcast ``mapInPandas``.

Per-shard layout: ``n_buckets × 4`` uint16 slots. 16-bit fingerprints
(0 reserved for empty); two candidate buckets ``i1 = h mod n_buckets``
and ``i2 = i1 XOR (fphash mod n_buckets)`` — the partial-key cuckoo
trick, so eviction only needs the stored fingerprint. Load factor ≤
~0.95 at b=4; inserts are numpy-vectorized in rounds (bucket-place the
easy majority, evict the rest item-at-a-time).

No false negatives while every insert succeeds (enforced: an overfull
shard raises and keeps the table it had before the insert). FPP ≈
8/2^16 ≈ 1.2e-4 at b=4/f=16.

DELETE semantics caveat: inserts are idempotent (an item whose
fingerprint already probes present is not stored again — resume replay
of an iteration must not double-fill slots), which departs from the
CoNEXT'14 paper's store-duplicates rule that makes deletes exact. The
consequence: two DISTINCT URLs colliding on (fingerprint, bucket pair)
— probability ≈ the 1.2e-4 FPP — share one stored copy, so deleting
one also un-sees the other. In a crawler a spurious un-seen is a
benign re-crawl of one page (the seen LEDGER keeps history either
way); the opposite trade — duplicate storage making resume replay
overfill shards and double-delete requirements — is the harmful one
here, so idempotent-insert is the deliberate choice.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

from pubcrawler_spark.operators.seen import (
    N_SHARDS,
    SeenSet,
    broadcast_probe,
    iter_dir,
    read_col,
    read_shard_table,
    write_shard_table,
)

BUCKET_SLOTS = 4
_FP_MASK = np.uint64(0xFFFF)
_MAX_KICKS = 500


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """16-bit fingerprints in [1, 0xFFFF] (0 = empty slot)."""
    h = hashes.astype(np.uint64)
    fp = ((h >> np.uint64(48)) & _FP_MASK).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)


def _fp_hash(fp: np.ndarray) -> np.ndarray:
    """Independent hash of the fingerprint for the i2 derivation
    (multiplicative mix, as in the paper's reference code)."""
    return (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFF)


def _buckets(hashes: np.ndarray, fp: np.ndarray, n_buckets: int) -> tuple[np.ndarray, np.ndarray]:
    nb = np.uint64(n_buckets)
    i1 = (hashes.astype(np.uint64) % nb).astype(np.int64)
    i2 = (np.uint64(i1) ^ (_fp_hash(fp) % nb)).astype(np.int64) % n_buckets
    return i1, i2


class CuckooShard:
    """One shard's table: (n_buckets, 4) uint16."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        # i2 = i1 ^ fphash stays in range, and the in-batch dedup key
        # (fp << 32 | bucket) is collision-free, only under this bound
        if not (0 < n_buckets < 1 << 32 and n_buckets & (n_buckets - 1) == 0):
            raise ValueError(f"n_buckets must be a power of two below 2^32, got {n_buckets}")
        self.n_buckets = n_buckets
        self.table = (
            table if table is not None else np.zeros((n_buckets, BUCKET_SLOTS), np.uint16)
        )

    @classmethod
    def sized(cls, capacity: int, load: float = 0.84) -> "CuckooShard":
        n_buckets = 1
        while n_buckets * BUCKET_SLOTS * load < capacity:
            n_buckets <<= 1  # power of two so i1 ^ fphash stays in range
        return cls(max(n_buckets, 8))

    # -- vectorized bulk insert ------------------------------------------

    def _place_round(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        """Try to place each (bucket, fp) into a free slot of its bucket,
        vectorized; returns the boolean mask of items that did NOT fit.
        Items targeting the same bucket are serialized by processing
        first-occurrence-per-bucket per call (callers loop)."""
        placed = np.zeros(len(idx), dtype=bool)
        # one item per bucket per round avoids write conflicts
        order = np.argsort(idx, kind="stable")
        sidx = idx[order]
        first = np.ones(len(sidx), dtype=bool)
        first[1:] = sidx[1:] != sidx[:-1]
        cand = order[first]
        rows = idx[cand]
        free = self.table[rows] == 0
        has_free = free.any(axis=1)
        slot = free.argmax(axis=1)
        ok = cand[has_free]
        self.table[idx[ok], slot[has_free]] = fp[ok]
        placed[ok] = True
        return ~placed

    def insert(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        fp = _fingerprints(hashes)
        i1, i2 = _buckets(hashes, fp, self.n_buckets)
        # skip items whose fingerprint is already present (idempotent set)
        present = self.contains(hashes)
        fp, i1, i2 = fp[~present], i1[~present], i2[~present]
        # dedupe WITHIN the batch on the canonical (fp, bucket-pair) key:
        # duplicates of a new item all pass the `present` filter above, and
        # >2*BUCKET_SLOTS copies of one key can never place (both candidate
        # buckets fill with its own fingerprint). Sequential inserts would
        # have skipped the repeats via `contains`; do the same vectorized.
        pair_key = (fp.astype(np.uint64) << np.uint64(32)) | np.minimum(i1, i2).astype(
            np.uint64
        )
        keep = np.unique(pair_key, return_index=True)[1]
        fp, i1, i2 = fp[keep], i1[keep], i2[keep]
        before = self.table.copy()  # restored if the batch cannot fit
        pending = np.ones(len(fp), dtype=bool)
        # round-based vectorized placement: i1 first, then i2
        for target in (i1, i2):
            for _ in range(BUCKET_SLOTS + 1):
                if not pending.any():
                    return
                sel = np.nonzero(pending)[0]
                miss = self._place_round(target[sel], fp[sel])
                pending[sel[~miss]] = False
        # eviction loop for the stubborn tail (rare under the load cap)
        rng = np.random.default_rng(12345)
        for j in np.nonzero(pending)[0]:
            cur_fp, cur_i = int(fp[j]), int(i1[j])
            for _ in range(_MAX_KICKS):
                row = self.table[cur_i]
                empty = np.nonzero(row == 0)[0]
                if len(empty):
                    row[empty[0]] = cur_fp
                    break
                victim = int(rng.integers(BUCKET_SLOTS))
                cur_fp, row[victim] = int(row[victim]), cur_fp
                cur_i = (cur_i ^ int(_fp_hash(np.array([cur_fp], np.uint16))[0] % self.n_buckets)) % self.n_buckets
            else:
                # the kicks dropped the fingerprint they carry, which may
                # be an earlier key's: leave the shard as it was instead
                self.table[:] = before
                raise RuntimeError(
                    f"cuckoo shard overfull (capacity {self.n_buckets * BUCKET_SLOTS}); "
                    "raise expected_urls"
                )

    def contains(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp = _fingerprints(hashes)
        i1, i2 = _buckets(hashes, fp, self.n_buckets)
        hit1 = (self.table[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def delete(self, hashes: np.ndarray) -> np.ndarray:
        """Remove one fingerprint copy per present item (the bloom-
        impossible operation). Returns the removed mask. Because inserts
        are idempotent, a (fp, bucket-pair) collision between two
        distinct URLs (~FPP ≈ 1.2e-4) shares one copy and deleting one
        un-sees both — a benign re-crawl, see module docstring."""
        removed = np.zeros(len(hashes), dtype=bool)
        if len(hashes) == 0:
            return removed
        fp = _fingerprints(hashes)
        i1, i2 = _buckets(hashes, fp, self.n_buckets)
        for j in range(len(hashes)):
            for b in (int(i1[j]), int(i2[j])):
                row = self.table[b]
                hits = np.nonzero(row == fp[j])[0]
                if len(hits):
                    row[hits[0]] = 0
                    removed[j] = True
                    break
        return removed


class CuckooShards(SeenSet):
    """Sharded cuckoo filter held in driver memory; the one
    :class:`seen.SeenSet` that can :meth:`delete`."""

    def __init__(self, n_shards: int, n_buckets: int, shards: dict[int, CuckooShard] | None = None):
        self.n_shards = n_shards
        self.n_buckets = n_buckets
        self.shards: dict[int, CuckooShard] = shards or {}
        self._probe_bc = None  # the one live probe broadcast

    @classmethod
    def sized(cls, capacity: int, n_shards: int = N_SHARDS) -> "CuckooShards":
        per = CuckooShard.sized(max(1, capacity // n_shards))
        return cls(n_shards, per.n_buckets)

    def _shard(self, sid: int) -> CuckooShard:
        if sid not in self.shards:
            self.shards[sid] = CuckooShard(self.n_buckets)
        return self.shards[sid]

    def _by_shard(self, hashes: np.ndarray):
        shard = np.mod(hashes, self.n_shards)
        for sid in np.unique(shard):
            yield int(sid), hashes[shard == sid]

    def add_hashes(self, hashes: np.ndarray) -> None:
        for sid, h in self._by_shard(hashes.astype(np.int64)):
            self._shard(sid).insert(h)

    def delete(self, hashes: np.ndarray) -> int:
        """Forget the given url_hashes; returns how many were present."""
        n = 0
        for sid, h in self._by_shard(np.asarray(hashes, dtype=np.int64)):
            if sid in self.shards:
                n += int(self.shards[sid].delete(h).sum())
        return n

    def filter_unseen(self, candidates: DataFrame) -> DataFrame:
        """mapInPandas probe against broadcast tables, as
        BloomShards.filter_unseen."""
        n_buckets = self.n_buckets
        return broadcast_probe(
            self, candidates, {sid: s.table.tobytes() for sid, s in self.shards.items()},
            lambda b, h: CuckooShard(
                n_buckets, np.frombuffer(b, np.uint16).reshape(-1, BUCKET_SLOTS)
            ).contains(h),
        )

    # -- SeenSet ---------------------------------------------------------------

    def probe(self, cand: DataFrame) -> DataFrame:
        return self.filter_unseen(cand) if self.shards else cand

    def add(self, delta_dir: str, n_delta: int) -> None:
        self.add_hashes(read_col(delta_dir, "url_hash"))

    def restore(self, ckpt: str, done: list[int]) -> None:
        if done:
            got = CuckooShards.read(os.path.join(iter_dir(ckpt, done[-1]), "seen_shards"))
            self.n_shards, self.n_buckets, self.shards = got.n_shards, got.n_buckets, got.shards
        else:
            self.shards = {}

    def stats(self) -> dict:
        """Occupancy; est_fpp ≈ 2·b·load / (2^16 − 1) for the fullest
        shard (Fan et al. §4)."""
        slots = self.n_buckets * BUCKET_SLOTS
        used = [int(np.count_nonzero(s.table)) for s in self.shards.values()]
        return {
            "items": sum(used),
            "bytes": len(used) * slots * 2,
            "est_fpp": 2 * BUCKET_SLOTS * max(used, default=0) / slots / 0xFFFF,
        }

    # -- checkpoint (pyarrow; no Spark job) --------------------------------

    def write(self, path: str) -> None:
        import pyarrow as pa

        sids = sorted(self.shards)
        write_shard_table(
            path, "cuckoo",
            {
                "shard_id": pa.array(sids, pa.int32()),
                "table_bytes": pa.array([self.shards[s].table.tobytes() for s in sids], pa.binary()),
            },
            {"n_shards": self.n_shards, "n_buckets": self.n_buckets},
        )

    @classmethod
    def read(cls, path: str) -> "CuckooShards":
        d, g = read_shard_table(path, ("n_shards", "n_buckets"))
        out = cls(g["n_shards"], g["n_buckets"])
        for sid, blob in zip(d["shard_id"], d["table_bytes"]):
            out.shards[int(sid)] = CuckooShard(
                out.n_buckets, np.frombuffer(blob, np.uint16).reshape(-1, BUCKET_SLOTS).copy()
            )
        return out
