"""Frontier crawl engine: iterative batch loop with atomic checkpoints
(SURVEY.md §3.4, K8/X4).

Each iteration is a pure function of the previous checkpoint:

    frontier@K-1, seen@K-1, budgets
      → canonicalize+hash (Arrow UDF)         [urltools]
      → dedup per url_canon                   [schedule.dedup_candidates]
      → probe the seen set                    [seen.SeenSet]
      → robots tag                            [schedule.tag_robots]
      → salted per-host top-k + global seq    [schedule.schedule_ranks]
      → join pages on url_canon (J5)          [simulated fetch]
      → parse UDF (V3) → parsed rows + out-links → frontier@K
      → seen delta@K = fetched ∪ robots-disallowed; seen set += delta
      → metrics@K (per-partition lineage)
      → atomic commit of checkpoints/iter=K/

Checkpointing is an Iceberg-snapshot stand-in (no Iceberg runtime jar in
this sandbox — SURVEY.md §7.0): each iteration writes parquet state dirs
under ``iter=K.tmp/`` and commits with a single atomic directory rename
plus a ``_manifest.json`` carrying row counts and per-partition lineage.
Resume scans for the max committed K and continues at K+1; determinism
of the schedule (total order W4) makes the resumed run byte-equal to an
uninterrupted one (tested in tests/test_frontier.py).

Throughput engineering (north-star metric is URLs/sec):

- ONE Spark job per state table per iteration — no standalone
  ``count()`` actions; row counts come free from the parquet footers of
  the files just written (``seen.count_parquet``).
- Candidates are written first and read back, so every downstream
  consumer (schedule ranks, leftovers, seen update) reuses the
  materialized rows instead of re-running the canonicalize UDF and the
  seen probe. The schedule itself is materialized SLIM — a
  (url_canon, sched_seq) state table a few bytes per scheduled URL —
  instead of pinning the full schedule rows with an eager
  ``localCheckpoint`` (the r3 design): the write is ~50× smaller, the
  slim table broadcast-gates every consumption (fetch keys, the column
  join-back, the leftover anti-join — all broadcast probes under
  ``FETCH_BROADCAST_ROWS``, distributed joins past it), and it is
  committed checkpoint state, so resume can re-derive what iteration K
  scheduled without recomputing windows.
- The fetch join broadcasts the (budget-bounded) schedule keys against
  the cached pages corpus — the corpus never shuffles.
- Small seen deltas (bounded by footer counts) are assembled
  driver-side with pyarrow from the tables already on disk — no fourth
  Spark job; the distributed write remains past
  ``seen.DRIVER_DELTA_ROWS``.
- The seen set is one :class:`seen.SeenSet` whatever the ``seen_mode``;
  every mode keeps the same per-iteration delta ledger ``iter=K/seen``.
- State tables are read back with the schema recorded when this engine
  wrote them, so a read-back runs no parquet schema-inference job.
- ``skipped_seen`` needs an extra aggregation pass, so it is only
  computed when ``detailed_metrics=True`` (tests); bench runs lite.

At cluster scale the same layout maps 1:1 onto Iceberg table snapshots
(append ``parsed``/``metrics``/``seen``, overwrite ``frontier``/
``seen_shards``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from pubcrawler_spark.functions.urltools import with_canonical_url
from pubcrawler_spark.operators import schedule as sched
from pubcrawler_spark.operators import seen as seen_mod
from pubcrawler_spark.operators.parse import parse_pages
from pubcrawler_spark.operators.seen import count_parquet, parquet_files

# written into every _manifest.json; resume refuses a checkpoint without
# it (older engines rewrote the whole exact seen table per iteration and
# kept no geometry in empty shard tables)
FORMAT_VERSION = 2

# past this many scheduled rows the fetch join and the leftover
# anti-join shuffle the schedule keys instead of broadcasting them: the
# driver builds every broadcast relation alone
FETCH_BROADCAST_ROWS = 4_000_000

# retries a fetch miss gets (X3); refmirror.mirror_crawl's default, which
# the parity tests hold the engine to
MAX_RETRIES = 2


def _col_null_count(path: str, col: str, invert: bool = False) -> int:
    """Null count of a column from parquet row-group stats — no IO."""
    import pyarrow.parquet as pq

    total = 0
    for f in parquet_files(path):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    total += c.statistics.null_count or 0
    return total


def _col_sum_false(path: str, col: str) -> int:
    """Count of False in a boolean column (reads only that column)."""
    import pyarrow.parquet as pq

    total = 0
    for f in parquet_files(path):
        t = pq.read_table(f, columns=[col])
        # sum() of an EMPTY column is null — empty part files are normal
        # without AQE's runtime partition coalescing
        n_true = t.column(col).combine_chunks().sum().as_py() or 0
        total += t.num_rows - n_true
    return int(total)


def _write_seen_delta_pyarrow(
    path: str,
    fetched: tuple[np.ndarray, np.ndarray],
    disallowed: tuple[np.ndarray, np.ndarray],
) -> None:
    """Small-delta seen write, driver-side (no Spark job): concat the
    fetched and robots-disallowed (url_hash, url_canon) columns, dedup
    by hash, write one parquet file matching seen_mod.SEEN_SCHEMA. The
    two sources are disjoint by construction (disallowed rows are never
    scheduled), so the dedup only collapses within-source repeats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hashes = np.concatenate([fetched[0], disallowed[0]]).astype(np.int64)
    canons = np.concatenate([fetched[1], disallowed[1]])
    _, idx = np.unique(hashes, return_index=True)
    os.makedirs(path, exist_ok=True)
    tbl = pa.table(
        {
            "url_hash": pa.array(hashes[idx], pa.int64()),
            "url_canon": pa.array(canons[idx].astype(object), pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(path, "part-00000-seen.parquet"))


def _write_metrics_pyarrow(path: str, k: int, scheduled: int, parsed: int, skipped_robots: int) -> None:
    """Lite-mode metrics row written driver-side (no Spark job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    tbl = pa.table(
        {
            "iteration": pa.array([k], pa.int32()),
            "partition_id": pa.array([-1], pa.int32()),
            "scheduled": pa.array([scheduled], pa.int64()),
            "parsed": pa.array([parsed], pa.int64()),
            "skipped_robots": pa.array([skipped_robots], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(path, "part-00000-metrics.parquet"))


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        seeds: list[str],
        checkpoint_dir: str,
        year: int | str,
        host_budget: int = 10,
        seen_mode: str = "exact",
        detailed_metrics: bool = True,
        expected_urls: int = 2_000_000,
        iteration_window_ms: int = 60_000,
    ) -> None:
        """``seen_mode``: ``"exact"`` (anti-join), ``"bloom"`` (no false
        negatives, no deletes), or ``"cuckoo"`` (same probe surface plus
        DELETION — :meth:`mark_unseen` re-admits URLs for re-crawl,
        which bloom cannot express; Fan et al. CoNEXT'14).

        The filters are sized for ``expected_urls``. Bloom keeps its
        shards in driver memory and broadcasts them to probe, unless
        the sized filter passes ``seen.DRIVER_FILTER_BYTES``: then they
        live only as the checkpointed ``seen_shards`` table, probed by a
        shard join and updated by a distributed OR-merge
        (``seen.BloomTable``). An iteration whose filter estimates an
        FPP past ``seen.FPP_TARGET`` raises before its commit.
        """
        self.spark = spark
        self.year = year
        self.host_budget = host_budget
        self.seen_mode = seen_mode
        # the schedule constants as of construction; the perfbench
        # replay re-runs schedule_ranks with these two
        self.salt_rows = sched.SALT_ROWS
        self.seq_serial_limit = sched.SERIAL_RANK_ROWS
        self.seen = seen_mod.seen_set(spark, seen_mode, expected_urls)
        # the committed iteration the in-memory seen set reflects; lets
        # resume keep live state — including mark_unseen deletes —
        # instead of restoring it from the checkpoint
        self._seen_k: int | None = None
        self._seen_total = 0  # cumulative delta-ledger size
        self.detailed_metrics = detailed_metrics
        self.expected_urls = expected_urls
        self.ckpt = checkpoint_dir
        self.seeds = seeds
        # schema of each state table as this engine last wrote it: a
        # read-back with a given schema skips parquet schema inference,
        # a one-task Spark job per read. Empty for a checkpoint written
        # by another engine, whose tables are still inferred.
        self._schemas: dict[str, StructType | str] = {}
        self.robots_rules = sched.parse_robots_rules(robots).cache()
        # one-time detection on the tiny cached dim: does any host need
        # the RFC 9309 longest-match evaluator (Allow rules / wildcards)?
        self._robots_advanced = bool(
            self.robots_rules.filter("has_advanced").head(1)
        )
        # one-time size gate for the per-iteration robots join: the
        # count materializes the cache it already pays for, and past
        # HOST_SIDE_BROADCAST_LIMIT hosts (real-web robots cardinality
        # ~10^8) the rules dim stays a distributed shuffle join instead
        # of a driver-melting broadcast.
        self._robots_small = (
            self.robots_rules.count() <= sched.HOST_SIDE_BROADCAST_LIMIT
        )
        # robots Crawl-delay → per-host slot budgets (tiny dim, cached)
        self.host_budgets = sched.host_budgets_from_robots(
            self.robots_rules, host_budget, iteration_window_ms
        ).cache()
        # fetch-side corpus: canonical url is the join key (J5). At real
        # scale `pages` is the Iceberg corpus partitioned by
        # bucket(url_hash); the schedule side broadcasts, so this table
        # is scanned in place and never shuffled.
        self.pages = with_canonical_url(pages).select("url", "url_canon", "html").cache()

    # -- checkpoint plumbing -------------------------------------------------

    def _iter_dir(self, k: int) -> str:
        return seen_mod.iter_dir(self.ckpt, k)

    def committed_iterations(self) -> list[int]:
        return seen_mod.committed_iterations(self.ckpt)

    def _check_format(self, done: list[int]) -> None:
        for k in done:
            with open(os.path.join(self._iter_dir(k), "_manifest.json")) as fh:
                if json.load(fh).get("format_version") != FORMAT_VERSION:
                    raise ValueError(
                        f"{self._iter_dir(k)}: checkpoint lacks format_version "
                        f"{FORMAT_VERSION} (written by an older engine); it cannot "
                        "be resumed — start the crawl in a fresh checkpoint_dir"
                    )

    def _read(self, k: int, name: str) -> DataFrame:
        return self._read_path(os.path.join(self._iter_dir(k), name), name)

    def _read_path(self, path: str, name: str) -> DataFrame:
        reader = self.spark.read
        if name in self._schemas:
            reader = reader.schema(self._schemas[name])
        return reader.parquet(path)

    # -- iteration -----------------------------------------------------------

    def _initial_frontier(self) -> DataFrame:
        rows = [(u, 1.0, 0, i, 0) for i, u in enumerate(self.seeds)]
        df = self.spark.createDataFrame(
            rows, "url string, priority double, depth int, seq long, attempts int"
        )
        return with_canonical_url(df).select(*_frontier_cols())

    def run(self, max_iterations: int, resume: bool = False) -> dict:
        """Run the loop. While iterating, AQE is turned OFF (and
        restored on exit): the loop's plans are static — shuffle
        partition counts are preset, the one known skew (hot hosts) is
        handled explicitly by window salting, and every join strategy is
        size-gated from parquet footers — so adaptive re-planning buys
        nothing while its per-stage materialize-and-replan barrier costs
        ~10% of steady-iteration wall at bench sizes (measured at both
        local[2] and local[8]). Analytics queries on the same session
        keep AQE (skew-join splitting matters there)."""
        conf = self.spark.conf
        aqe_before = conf.get("spark.sql.adaptive.enabled", "true")
        # experiment escape hatch (BENCH/loop_matrix.py): keep AQE on
        # in-loop to re-measure its cost/benefit per core count
        if os.environ.get("SPARK_GRAFT_LOOP_AQE") != "keep":
            conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._run_loop(max_iterations, resume)
        finally:
            conf.set("spark.sql.adaptive.enabled", aqe_before)

    def _run_loop(self, max_iterations: int, resume: bool) -> dict:
        done = self.committed_iterations()
        if resume and done:
            self._check_format(done)
            start = done[-1] + 1
            frontier = self._read(done[-1], "frontier")
            self._seen_total = sum(
                count_parquet(os.path.join(self._iter_dir(k), "seen")) for k in done
            )
            if self._seen_k != done[-1]:
                self.seen.restore(self.ckpt, done)
                self._seen_k = done[-1]
        else:
            if os.path.exists(self.ckpt):
                shutil.rmtree(self.ckpt)
            os.makedirs(self.ckpt, exist_ok=True)
            start = 0
            frontier = self._initial_frontier()
            self._seen_total = 0
            self.seen.restore(self.ckpt, [])
            self._seen_k = None

        totals = {"scheduled": 0, "parsed": 0, "iterations": 0}
        for k in range(start, max_iterations):
            t0 = time.monotonic()
            result = self._one_iteration(k, frontier)
            if result is None:
                break
            frontier, counts = result
            counts["wall_ms"] = int((time.monotonic() - t0) * 1000)
            totals["scheduled"] += counts["scheduled"]
            totals["parsed"] += counts["parsed"]
            totals["iterations"] += 1
        return totals

    def _one_iteration(self, k: int, frontier: DataFrame):
        tmp = self._iter_dir(k) + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

        job_ms: dict[str, int] = {}

        def _write(df: DataFrame, name: str) -> str:
            t0 = time.monotonic()
            path = os.path.join(tmp, name)
            df.write.mode("overwrite").parquet(path)
            job_ms[name] = int((time.monotonic() - t0) * 1000)
            self._schemas[name] = df.schema
            return path

        def _rb(name: str) -> DataFrame:
            return self._read_path(os.path.join(tmp, name), name)

        unseen = self.seen.probe(sched.dedup_candidates(frontier))

        # JOB 1: deduped+unseen candidates tagged with robots_ok —
        # materialized ONCE; the schedule ranks, leftovers, robots
        # metrics and the seen update are all projections of this table.
        cand_path = _write(
            sched.tag_robots(
                unseen,
                self.robots_rules,
                advanced=self._robots_advanced,
                small_dim=self._robots_small,
            ),
            "candidates",
        )
        cand_rb = _rb("candidates")
        t0 = time.monotonic()
        n_cand = count_parquet(cand_path)
        job_ms["cand_counters"] = int((time.monotonic() - t0) * 1000)
        allowed_rb = cand_rb.filter(F.col("robots_ok")).drop("robots_ok")

        # JOB 2: SLIM schedule ranks (url_canon, sched_seq) — the salted
        # windows read the materialized candidates from disk and write a
        # few bytes per scheduled URL. Compared to pinning the full
        # schedule with an eager localCheckpoint (the r3 design), the
        # materialized slim table (a) costs a ~50× smaller write, (b)
        # broadcast-gates every downstream consumption (fetch keys,
        # column join-back, leftover anti-join), and (c) is committed
        # checkpoint state, so a resumed run can re-derive exactly what
        # iteration K scheduled without recomputing windows.
        ranks = sched.schedule_ranks(
            allowed_rb, self.host_budget,
            salt_rows=self.salt_rows, host_budgets=self.host_budgets,
            size_hint=n_cand,  # footer count: upper bound on schedule rows
            serial_limit=self.seq_serial_limit,
        )
        sched_path = _write(ranks, "sched")
        t0 = time.monotonic()
        n_sched = count_parquet(sched_path)
        job_ms["sched_counter"] = int((time.monotonic() - t0) * 1000)
        if n_sched == 0:
            shutil.rmtree(tmp)
            return None
        sched_rb = _rb("sched")
        small_sched = n_sched <= FETCH_BROADCAST_ROWS
        ranks_join = F.broadcast(sched_rb) if small_sched else sched_rb
        schedule = cand_rb.join(ranks_join, "url_canon").select(
            F.lit(k).alias("iteration"),
            F.col("sched_seq").alias("seq"),
            "url", "url_canon", "url_hash", "host", "priority", "depth",
            F.col("seq").alias("disc_seq"),
            "attempts",
        )

        # JOB 3: fetch join → parse, one pass. Fetch-join strategy,
        # size-gated on the EXACT schedule size (known from the slim
        # table's footers): under FETCH_BROADCAST_ROWS, broadcast ONLY
        # the schedule's url_canon keys as a semi-join filter into the
        # cached corpus (keys are a few bytes/URL — a full-schedule
        # broadcast builds a large hash relation serially on the
        # driver); past the limit the keys exceed broadcast, so it
        # becomes a distributed shuffle semi-join (at Iceberg scale both
        # sides are bucketed by url_canon, so this is a
        # storage-partitioned join with no pages shuffle). Either way
        # the schedule columns are re-attached with a distributed join
        # and the written table carries them — `schedule` and `parsed`
        # are projections.
        fetch_keys = sched_rb.select("url_canon")
        if small_sched:
            fetch_keys = F.broadcast(fetch_keys)
        hit_pages = self.pages.select("url_canon", "html").join(
            fetch_keys, "url_canon", "left_semi"
        )
        parsed_pages = parse_pages(hit_pages, self.year, url_col="url_canon").select(
            "url_canon", "parsed"
        )
        parsed_full = schedule.join(parsed_pages, "url_canon", "left").withColumn(
            "fetched", F.col("parsed").isNotNull()
        )
        pl_projected = parsed_full.select(
            "iteration", "seq", "url_canon", "url_hash", "host",
            "priority", "depth", "disc_seq", "attempts", "url", "fetched",
            F.col("parsed.id").alias("id"),
            F.col("parsed.title").alias("title"),
            F.col("parsed.authors").alias("authors"),
            F.col("parsed.abstract").alias("abstract"),
            F.col("parsed.pdf_url").alias("pdf_url"),
            F.col("parsed.source_url").alias("source_url"),
            F.col("parsed.text").alias("text"),
            F.col("parsed.links").alias("links"),
        )
        pl_path = _write(pl_projected, "parsed_links")
        t0 = time.monotonic()
        pl_rb = _rb("parsed_links")
        n_parsed = n_sched - _col_null_count(pl_path, "id")
        job_ms["pl_counters"] = int((time.monotonic() - t0) * 1000)

        # JOB 4: next frontier = budget-deferred leftovers ∪ new links
        # ∪ fetch-miss retries (X3: decayed priority, bounded attempts).
        # Child discovery seq = parent GLOBAL schedule seq × 100k + link
        # position: bounded (global seq resets each iteration, unlike the
        # raw discovery seq whose product chain overflows int64 at depth
        # ≥3) and semantically the submission order of the parent.
        links = pl_rb.select(
            "priority", "depth", "seq",
            F.posexplode_outer("links").alias("pos", "url"),
        ).filter(F.col("url").isNotNull())
        new_frontier = with_canonical_url(
            links.select(
                "url",
                (F.col("priority") * 0.5).alias("priority"),
                (F.col("depth") + 1).alias("depth"),
                (F.col("seq") * 100_000 + F.col("pos")).alias("seq"),
                F.lit(0).alias("attempts"),
            )
        ).select(*_frontier_cols())
        # leftovers = allowed candidates not scheduled this iteration;
        # the slim ranks broadcast, so this anti-join is a broadcast
        # probe of the candidates scan, not a shuffle (the r3 engine
        # shuffle-anti-joined against the full parsed_links table here)
        leftover = allowed_rb.join(
            F.broadcast(sched_rb.select("url_canon")) if small_sched
            else sched_rb.select("url_canon"),
            "url_canon", "left_anti",
        ).select(*_frontier_cols())
        retries = (
            pl_rb.filter(~F.col("fetched") & (F.col("attempts") < MAX_RETRIES))
            .select(
                "url", "url_canon", "url_hash", "host",
                (F.col("priority") * 0.25).alias("priority"),
                "depth",
                F.col("disc_seq").alias("seq"),
                (F.col("attempts") + 1).alias("attempts"),
            )
            .select(*_frontier_cols())
        )
        # the frontier write is a pure function of tables already on
        # disk, and everything between here and the commit (seen delta,
        # footer counters, seen-set update, metrics) reads those same
        # committed-to-tmp files — not the frontier output. Submit the
        # write from a thread so the driver-side tail work back-fills
        # the Spark job's wall time instead of serializing after it
        # (guide-style job overlap; job descriptions are thread-local).
        frontier_df = leftover.unionByName(new_frontier).unionByName(retries)
        frontier_box: dict = {}

        def _write_frontier() -> None:
            try:
                frontier_box["path"] = _write(frontier_df, "frontier")
            except BaseException as exc:  # re-raised on join
                frontier_box["exc"] = exc

        from pyspark import InheritableThread

        frontier_th = InheritableThread(target=_write_frontier)
        frontier_th.start()
        try:  # joined on every exit: resume rmtree()s this tmp dir
            t0 = time.monotonic()
            n_disallowed = _col_sum_false(cand_path, "robots_ok")
            job_ms["cand_counters"] += int((time.monotonic() - t0) * 1000)

            # JOB 5: seen delta = successfully fetched ∪ robots-disallowed
            # (fetch misses stay un-seen so retries pass the seen filter;
            # bloom shards have no deletes, so this ordering is
            # load-bearing). Only the delta is written — the seen table is
            # an APPEND-ONLY ledger across iterations (Iceberg append), so
            # the per-iteration cost is O(delta), not O(total): rewriting
            # the full seen set every iteration is the rewrite-the-world
            # anti-pattern at a 10^10-URL frontier. Delta-size gate: when
            # this iteration's delta is bounded (n_sched + n_disallowed
            # from footers — both known without an action), the delta is
            # assembled driver-side with pyarrow from the two parquet
            # tables just written (one masked column read each, numpy
            # dedup, one file write) — no Spark job at all. Past the
            # limit, the distributed plan runs.
            seen_path = os.path.join(tmp, "seen")
            if n_sched + n_disallowed <= seen_mod.DRIVER_DELTA_ROWS:
                t0 = time.monotonic()
                _write_seen_delta_pyarrow(
                    seen_path,
                    fetched=(
                        seen_mod.read_col(pl_path, "url_hash", "fetched", True),
                        seen_mod.read_col(pl_path, "url_canon", "fetched", True),
                    ),
                    disallowed=(
                        seen_mod.read_col(cand_path, "url_hash", "robots_ok", False),
                        seen_mod.read_col(cand_path, "url_canon", "robots_ok", False),
                    ),
                )
                self._schemas["seen"] = seen_mod.SEEN_SCHEMA
                job_ms["seen"] = int((time.monotonic() - t0) * 1000)
            else:
                _write(
                    pl_rb.filter(F.col("fetched")).select("url_hash", "url_canon")
                    .unionByName(cand_rb.filter(~F.col("robots_ok")).select("url_hash", "url_canon"))
                    .dropDuplicates(["url_hash"]),
                    "seen",
                )
            t0 = time.monotonic()
            n_fetch_miss = _col_sum_false(pl_path, "fetched")
            job_ms["miss_counter"] = int((time.monotonic() - t0) * 1000)
            # The in-memory seen set is about to take in this iteration's
            # delta BEFORE the commit rename below; mark it dirty
            # immediately before that — not at iteration start — so a
            # failure during the fetch/parse phase (set untouched) keeps
            # it valid and preserves any mark_unseen re-crawl intent,
            # while a failure between here and the commit still forces
            # resume() to restore the committed state instead of keeping
            # a filter contaminated with this iteration's (never-committed)
            # url_hashes — in bloom mode those URLs would otherwise be
            # silently un-crawlable forever (bloom cannot delete).
            self._seen_k = None
            n_delta = count_parquet(seen_path)
            self.seen.add(seen_path, n_delta)
            self.seen.write(os.path.join(tmp, "seen_shards"))
            seen_stats = self.seen.stats()
            if seen_stats["est_fpp"] > seen_mod.FPP_TARGET:
                raise RuntimeError(
                    f"seen set over capacity at iteration {k}: estimated FPP "
                    f"{seen_stats['est_fpp']:.3g} > {seen_mod.FPP_TARGET} with "
                    f"{seen_stats['items']} URLs; start over with a larger "
                    f"expected_urls (now {self.expected_urls})"
                )
        finally:
            frontier_th.join()
        if "exc" in frontier_box:
            raise frontier_box["exc"]
        frontier_path = frontier_box["path"]

        t_commit = time.monotonic()
        self._seen_total += n_delta
        counts = {
            "iteration": k,
            "input_rows": n_cand,
            "scheduled": n_sched,
            "parsed": n_parsed,
            "skipped_robots": n_disallowed,
            "fetch_misses": n_fetch_miss,
            "frontier_next": count_parquet(frontier_path),
            "seen_total": self._seen_total,
            "seen_set": seen_stats,
        }

        # metrics: lite mode writes the counters with pyarrow (no Spark
        # job); detailed mode adds per-partition lineage (JOB 6)
        if self.detailed_metrics:
            metrics = (
                pl_rb.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(
                    F.count("*").alias("scheduled"),
                    F.count("id").alias("parsed"),
                )
                .withColumn("iteration", F.lit(k))
                .withColumn("skipped_robots", F.lit(n_disallowed))
            )
            _write(metrics, "metrics")
        else:
            _write_metrics_pyarrow(
                os.path.join(tmp, "metrics"), k, n_sched, n_parsed, n_disallowed
            )

        job_ms["commit_tail"] = int((time.monotonic() - t_commit) * 1000)
        counts["job_ms"] = job_ms
        manifest = {
            "format_version": FORMAT_VERSION,
            "iteration": k,
            "counts": counts,
            "lineage": {
                name: sorted(
                    f for f in os.listdir(os.path.join(tmp, name)) if f.startswith("part-")
                )
                for name in os.listdir(tmp)
                if os.path.isdir(os.path.join(tmp, name))
            },
        }
        with open(os.path.join(tmp, "_manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1)
        final = self._iter_dir(k)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)  # atomic commit
        self._seen_k = k  # the in-memory seen set now matches iter=k

        # read back committed state (cuts lineage like Iceberg snapshot reads)
        return self._read(k, "frontier"), counts

    def mark_unseen(self, url_hashes) -> int:
        """Cuckoo-only re-crawl hook: delete the given url_hashes from
        the seen filter so a future discovery re-schedules them (stale-
        page refresh). Returns how many were actually removed; any other
        seen_mode raises ValueError. The next committed iteration
        checkpoints the updated shards."""
        # note: the seen LEDGER keeps the URL (it is crawl history);
        # only the filter — which governs scheduling — forgets it
        return self.seen.delete(np.asarray(url_hashes, dtype=np.int64))

    # -- readers over the full run --------------------------------------------
    # `parsed_links` carries the schedule columns (written once per
    # iteration); `schedule` and `parsed` are column-pruned projections.

    def _read_all(self, name: str) -> DataFrame:
        dirs = [os.path.join(self._iter_dir(k), name) for k in self.committed_iterations()]
        return self.spark.read.parquet(*dirs)

    def full_schedule(self) -> DataFrame:
        return self._read_all("parsed_links").select(
            "iteration", "seq", "url_canon", "url_hash", "host",
            "priority", "depth", "attempts", "fetched",
        )

    def full_parsed(self) -> DataFrame:
        return self._read_all("parsed_links").filter(F.col("id").isNotNull()).select(
            "url_canon", "id", "title", "authors", "abstract",
            "pdf_url", "source_url", "text", "iteration",
        )

    def full_metrics(self) -> DataFrame:
        return self._read_all("metrics")

    def final_seen(self) -> DataFrame:
        # the seen table is an append-only delta ledger in every mode
        return self._read_all("seen").dropDuplicates(["url_hash"])


def _frontier_cols():
    return ("url", "url_canon", "url_hash", "host", "priority", "depth", "seq", "attempts")
