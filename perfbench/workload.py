"""One workload run, in its own process with its own JVM.

``run.py`` launches ``python3 perfbench/workload.py <config.json>`` with
a fresh TMPDIR and SPARK_LOCAL_DIRS; this module runs the set-up, the
timed section and the correctness checks, and writes ``result.json``
into the run directory. It prints nothing the caller parses.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import Tracer, inject_delay  # noqa: E402


def _load(path: str):
    with open(path) as fh:
        return json.load(fh)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _aqe_off(spark):
    """The engine turns AQE off while it iterates; replays match that."""
    before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return lambda: spark.conf.set("spark.sql.adaptive.enabled", before)


# ============================================================================
# crawl_steady / crawl_bulk
# ============================================================================

MIN_BLOCKS = 3
COUNT_KEYS = ("input_rows", "scheduled", "parsed", "skipped_robots", "fetch_misses", "frontier_next")


class Crawl:
    def __init__(self, spark, cfg: dict, tracer: Tracer | None) -> None:
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.p = cfg["params"]
        with open(os.path.join(cfg["pages"], "meta.json")) as fh:
            self.meta = json.load(fh)
        if tracer is not None:  # spans around the public calls an iteration makes
            tracer.wrap("pubcrawler_spark.plans.frontier:CrawlEngine.run", "frontier.run")
            tracer.wrap("pubcrawler_spark.plans.frontier:with_canonical_url", "urltools.build")
            tracer.wrap("pubcrawler_spark.plans.frontier:parse_pages", "parse.build")
            tracer.wrap("pubcrawler_spark.operators.schedule:tag_robots", "schedule.build.robots")
            tracer.wrap("pubcrawler_spark.operators.schedule:schedule_ranks", "schedule.build.ranks")
            tracer.wrap("pubcrawler_spark.operators.seen:BloomShards.filter_unseen", "seen.build.probe")
            tracer.wrap("pubcrawler_spark.operators.seen:BloomShards.add_hashes", "seen.add_hashes")
            tracer.wrap("pubcrawler_spark.operators.seen:BloomShards.write", "seen.write")

    def engine(self, ckpt: str, seen_mode: str):
        from pubcrawler_spark.fixtures import YEAR
        from pubcrawler_spark.plans.frontier import CrawlEngine

        pages = self.spark.read.parquet(os.path.join(self.cfg["pages"], "pages"))
        robots = self.spark.createDataFrame(
            sorted(self.meta["robots"].items()), "host string, robots_txt string"
        )
        return CrawlEngine(
            self.spark, pages, robots, self.meta["seeds"], checkpoint_dir=ckpt, year=YEAR,
            host_budget=self.p["host_budget"], seen_mode=seen_mode, detailed_metrics=False,
            expected_urls=max(2_000_000, 2 * self.p["n_pages"]),
        )

    @staticmethod
    def release(eng) -> None:
        for df in (eng.pages, eng.robots_rules, eng.host_budgets):
            df.unpersist()

    def setup(self, ckpt: str, seen_mode: str):
        """Engine + pages cache + robots dims + seed iteration."""
        eng = self.engine(ckpt, seen_mode)
        eng.pages.count()
        eng.run(max_iterations=1)
        return eng

    def manifest(self, eng, k: int) -> dict:
        with open(os.path.join(eng.ckpt, f"iter={k}", "_manifest.json")) as fh:
            return json.load(fh)["counts"]

    def run_iterations(self, eng, n_iter: int) -> list[dict]:
        out = []
        for k in range(1, n_iter + 1):
            t0, e0 = time.monotonic(), time.time()
            eng.run(max_iterations=k + 1, resume=True)
            wall = time.monotonic() - t0
            counts = self.manifest(eng, k)
            out.append({
                "k": k, "wall_s": wall, "start": e0, "end": time.time(),
                "counts": {c: counts[c] for c in COUNT_KEYS},
                "job_ms": counts["job_ms"],
                "ckpt_bytes": _du(os.path.join(eng.ckpt, f"iter={k}")),
            })
        return out

    def schedule_digest(self, eng) -> str:
        pdf = eng.full_schedule().toPandas().sort_values(["iteration", "seq"])
        return hashlib.sha256(pdf.to_csv(index=False).encode()).hexdigest()[:20]

    def parsed_sample_ok(self, eng, seed: int, n: int = 32) -> bool:
        """A seeded sample of parsed rows, byte-equal to the reference
        mirror's extraction of the same page."""
        import numpy as np
        from pyspark.sql import functions as F

        from pubcrawler_spark.refmirror import extract_record

        parsed = eng.full_parsed().orderBy("url_canon").toPandas()
        rng = np.random.default_rng(seed)
        pick = parsed.iloc[sorted(rng.choice(len(parsed), min(n, len(parsed)), replace=False))]
        html = {
            r["url_canon"]: r["html"]
            for r in eng.pages.filter(F.col("url_canon").isin(list(pick["url_canon"])))
            .select("url_canon", "html").collect()
        }
        for _, row in pick.iterrows():
            want = extract_record(bytes(html[row["url_canon"]]), row["url_canon"])
            for key in ("id", "title", "authors", "abstract", "pdf_url", "source_url", "text"):
                if row[key] != want[key]:
                    return False
        return True

    def counts(self, eng, n_iter: int) -> list[dict]:
        return [{c: self.manifest(eng, k)[c] for c in COUNT_KEYS} for k in range(1, n_iter + 1)]

    def run(self, out: dict, t_launch: float, session_s: float) -> None:
        p, run_dir = self.p, self.cfg["run_dir"]
        n_iter = p["iters"]
        # set-up pass 1 (cold JVM) builds the seen_mode="exact" reference
        # engine; its iterations 1..n_iter give the expected counts and
        # schedule digest and warm the JVM and Python workers on the
        # iteration's code paths before anything is timed. A traced
        # invocation (its untraced twin and the traced child) skips it to
        # stay within the time limit: the traced run checks itself
        # through the replay tables instead
        setups, exp = [], None
        if not (self.cfg["trace"] or self.cfg.get("twin")):
            t0 = time.monotonic()
            ref = self.setup(os.path.join(run_dir, "ck_exact"), "exact")
            setups.append(time.monotonic() - t0)
            ref.run(max_iterations=n_iter + 1, resume=True)
            exp = {"counts": self.counts(ref, n_iter), "digest": self.schedule_digest(ref)}
            self.release(ref)
        # set-up pass 2 builds the bloom engine that is timed
        t0 = time.monotonic()
        eng = self.setup(os.path.join(run_dir, "ck_bloom"), "bloom")
        setups.append(time.monotonic() - t0)
        out["setup_reps_s"] = setups
        out["setup_s"] = session_s + statistics.median(setups)
        out["first_op_s"] = time.monotonic() - t_launch

        # timed: blocks of iterations 1..n_iter, each resumed from the
        # committed seed iteration, until --seconds have been measured
        # and at least MIN_BLOCKS blocks have run (a traced run runs
        # exactly as many blocks as its untraced twin). The first block
        # is the first to probe the bloom filter (the seed iteration
        # skips the empty filter), so it runs slow; every crawl figure is
        # a median over blocks or iterations
        iters, blocks = [], 0
        n_fixed = self.cfg.get("ops")
        t_timed = time.monotonic()
        while (blocks < n_fixed if n_fixed else
               blocks < MIN_BLOCKS or time.monotonic() - t_timed < self.cfg["seconds"]):
            for k in range(1, n_iter + 1):
                shutil.rmtree(os.path.join(eng.ckpt, f"iter={k}"), ignore_errors=True)
            iters += self.run_iterations(eng, n_iter)
            blocks += 1
        out["timed_s"] = time.monotonic() - t_timed
        out["ops"] = blocks
        out["iterations"] = iters
        out["blocks"] = blocks
        if self.cfg.get("twin"):  # only the timing is wanted
            out["attempted"], out["failed"] = len(iters), 0
            return

        # correctness (untimed)
        checks = {"parsed_sample": self.parsed_sample_ok(eng, self.cfg["seed"])}
        for rec in iters:
            rec["ok"] = exp is None or rec["counts"] == exp["counts"][rec["k"] - 1]
        if exp is not None:
            checks["digest"] = self.schedule_digest(eng) == exp["digest"]
        if self.tracer is not None:
            out["replay"] = self.replay(eng, p["replay_k"])
            checks.update({f"replay.{k}": v for k, v in out["replay"]["equal"].items()})
        out["checks"] = checks
        out["attempted"] = len(iters) + len(checks)
        out["failed"] = sum(not r["ok"] for r in iters) + sum(not v for v in checks.values())
        self.release(eng)

    # -- traced: staged replay of one committed iteration ----------------------

    def replay(self, eng, k: int) -> dict:
        """Re-run iteration ``k`` from the committed state of ``k-1``,
        one public operator per stage, each written to parquet, and check
        the stage tables against the fused iteration's committed ones."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from pubcrawler_spark.functions.urltools import with_canonical_url
        from pubcrawler_spark.operators import schedule as sched
        from pubcrawler_spark.operators.parse import parse_pages
        from pubcrawler_spark.operators.seen import BloomShards

        spark, tr = self.spark, self.tracer
        prev = os.path.join(eng.ckpt, f"iter={k - 1}")
        cur = os.path.join(eng.ckpt, f"iter={k}")
        out_dir = os.path.join(self.cfg["run_dir"], "replay")
        read = spark.read.parquet
        res: dict = {"k": k, "stages": {}, "rows": {}}

        def stage(name: str, build, table: str):
            path = os.path.join(out_dir, table)
            with tr.span(f"replay.{name}") as sp:
                build().write.parquet(path)
            res["stages"][name] = sp["end"] - sp["start"]
            res["rows"][table] = sum(  # from the parquet footers, no job
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path) if f.endswith(".parquet")
            )
            return read(path)

        restore = _aqe_off(spark)
        try:
            rules = eng.robots_rules
            advanced = bool(rules.filter("has_advanced").head(1))
            small = rules.count() <= sched.HOST_SIDE_BROADCAST_LIMIT
            shards = BloomShards.read(os.path.join(prev, "seen_shards"))
            frontier = read(os.path.join(prev, "frontier"))

            cand = stage("schedule.dedup", lambda: sched.dedup_candidates(frontier), "cand")
            unseen = stage(
                "seen.probe",
                lambda: shards.filter_unseen(cand) if shards.blobs else cand,
                "unseen",
            )
            tagged = stage(
                "schedule.robots",
                lambda: sched.tag_robots(unseen, rules, advanced=advanced, small_dim=small),
                "candidates",
            )
            allowed = tagged.filter(F.col("robots_ok")).drop("robots_ok")
            ranks = stage(
                "schedule.ranks",
                lambda: sched.schedule_ranks(
                    allowed, eng.host_budget, salt_rows=eng.salt_rows,
                    host_budgets=eng.host_budgets, size_hint=res["rows"]["candidates"],
                    serial_limit=eng.seq_serial_limit,
                ),
                "sched",
            )
            fetched = stage(
                "parse.fetch_join",
                lambda: eng.pages.select("url_canon", "html").join(
                    F.broadcast(ranks.select("url_canon")), "url_canon", "left_semi"
                ),
                "fetched",
            )
            parsed = stage(
                "parse.parse",
                lambda: parse_pages(fetched, eng.year, url_col="url_canon").select(
                    "url_canon", "parsed.*"
                ),
                "parsed",
            )
            links = stage(
                "urltools.canon",
                lambda: with_canonical_url(
                    parsed.select(F.explode("links").alias("url"))
                ).select("url", "url_canon", "host", "url_hash"),
                "links",
            )
            delta = read(os.path.join(cur, "seen")).select("url_hash").toPandas()["url_hash"].to_numpy()
            with tr.span("replay.seen.update") as sp:
                shards.add_hashes(delta)
                shards.write(os.path.join(out_dir, "seen_shards"))
            res["stages"]["seen.update"] = sp["end"] - sp["start"]
            res["seen_filter_bytes"] = _du(os.path.join(cur, "seen_shards"))

            with tr.span("replay.check"):
                res["seen"] = self._false_drops(eng, k, cand, unseen)
                committed_pl = read(os.path.join(cur, "parsed_links"))
                cols = ["id", "title", "authors", "abstract", "pdf_url", "source_url", "text", "links"]
                res["equal"] = {
                    "candidates": _same(tagged, read(os.path.join(cur, "candidates"))),
                    "sched": _same(ranks, read(os.path.join(cur, "sched"))),
                    "parsed": _same(
                        parsed.select("url_canon", *cols),
                        committed_pl.filter("fetched").select("url_canon", *cols),
                    ),
                    "links_in_frontier": links.join(
                        read(os.path.join(cur, "frontier")).select("url", "url_canon", "host", "url_hash"),
                        ["url", "url_canon", "host", "url_hash"], "left_anti",
                    ).count() == 0,
                    "seen_shards": _shard_bytes(os.path.join(out_dir, "seen_shards"))
                    == _shard_bytes(os.path.join(cur, "seen_shards")),
                }
        finally:
            restore()
        return res

    def _false_drops(self, eng, k: int, cand, unseen) -> dict:
        """Bloom drops whose url is absent from the exact seen ledger."""
        ledger = self.spark.read.parquet(
            *[os.path.join(eng.ckpt, f"iter={j}", "seen") for j in range(k)]
        ).select("url_hash")
        dropped = cand.select("url_hash").join(unseen.select("url_hash"), "url_hash", "left_anti")
        n_dropped = dropped.count()
        n_false = dropped.join(ledger, "url_hash", "left_anti").count()
        return {"dropped": n_dropped, "false_drops": n_false}


def _same(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _shard_bytes(path: str) -> dict[int, bytes]:
    from pubcrawler_spark.operators.seen import BloomShards

    return {sid: blob.tobytes() for sid, blob in BloomShards.read(path).blobs.items()}


# ============================================================================
# query_mix
# ============================================================================


class QueryMix:
    def __init__(self, spark, cfg: dict, tracer: Tracer | None) -> None:
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.captured: dict[str, list] = {"candidates": [], "verified": []}
        if tracer is not None:
            self._wrap(tracer)

    def _wrap(self, tr: Tracer) -> None:
        keep = self.captured
        tr.wrap("pubcrawler_spark.operators.search:bm25_search", "search.build.bm25")
        tr.wrap("pubcrawler_spark.operators.search:keyword_search", "search.build.keyword")
        tr.wrap("pubcrawler_spark.operators.ann:cosine_topk", "search.build.cosine")
        tr.wrap("pubcrawler_spark.operators.ann:semantic_search", "search.build.semantic")
        tr.wrap(
            "pubcrawler_spark.operators.dedup:minhash_lsh_pairs", "dedup.build.minhash",
            on_result=lambda df, a, kw: kw.get("verify_threshold", 0.5) is None
            and keep["candidates"].append(df),
        )
        tr.wrap(
            "pubcrawler_spark.operators.dedup:verify_pairs_exact", "dedup.build.verify",
            on_result=lambda df, a, kw: keep["verified"].append(df),
        )
        tr.wrap("pubcrawler_spark.operators.textstats:span_dedup_stats", "dedup.build.spans")

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name)

    def run(self, out: dict, t_launch: float, session_s: float) -> None:
        from perfbench import querymix as qm

        spark, cfg, p = self.spark, self.cfg, self.cfg["params"]
        data = cfg["tables"]
        setups, idx = [], None
        for rep in range(p["setup_reps"]):
            t0 = time.monotonic()
            idx_dir = os.path.join(cfg["run_dir"], f"idx{rep}")
            with self._span("search.index_build"):
                idx = qm.Indexes(spark, data, idx_dir)
            setups.append(time.monotonic() - t0)
        out["setup_reps_s"] = setups
        out["setup_s"] = session_s + statistics.median(setups)
        out["first_op_s"] = time.monotonic() - t_launch
        out["index_bytes"] = _du(idx_dir)
        out["n_docs"] = idx.stats[0]

        fixed, by_id = (_load(path) for path in cfg["expected"])
        requests = cfg["requests"]
        sc = spark.sparkContext
        # the seeded sequence once, then its search requests again in
        # order until --seconds have passed since the first request (a
        # traced run issues exactly as many requests as its untraced twin)
        searches = [r for r in requests if r["cls"] == "search"]
        n_fixed = cfg.get("ops")
        t_stream = time.monotonic()

        def stream():
            yield from requests
            i = len(requests)
            while (i < n_fixed if n_fixed else time.monotonic() - t_stream < cfg["seconds"]):
                yield searches[(i - len(requests)) % len(searches)]
                i += 1

        recs = []
        for req in stream():
            spark.catalog.clearCache()
            group = f"{req['cls']}.{req['name']}"
            rec = {"id": req["id"], "cls": req["cls"], "name": req["name"]}
            try:
                with self._span(group) as sp:
                    rec.update(self._timed(spark, req, data, idx))
                rec["start"], rec["end"] = sp.get("start"), sp.get("end")
                rec["pins"] = sc._jsc.getPersistentRDDs().size()
                cols, rows = rec.pop("result")
                want = by_id[str(req["id"])] if req["cls"] == "search" else fixed[req["name"]]
                rec["ok"] = qm.answer_ok(data, req, cols, rows, want)
            except Exception as exc:  # a failed request counts, the run goes on
                rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
                rec.pop("result", None)
            recs.append(rec)
        out["timed_s"] = time.monotonic() - t_stream
        out["ops"] = len(recs)
        out["requests"] = recs
        out["attempted"] = len(recs)
        out["failed"] = sum(not r["ok"] for r in recs)
        if self.tracer is not None:
            sc.setJobGroup("check", "check", False)
            out["pairs"] = {
                k: sum(df.count() for df in dfs) for k, dfs in self.captured.items()
            }

    @staticmethod
    def _timed(spark, req, data, idx) -> dict:
        from perfbench import querymix as qm

        t0 = time.monotonic()
        df = qm.build_request(spark, req, data, idx)
        t1 = time.monotonic()
        rows = [tuple(r) for r in df.collect()]
        t2 = time.monotonic()
        return {"wall_s": t2 - t0, "build_s": t1 - t0, "exec_s": t2 - t1,
                "result": (list(df.columns), rows)}


# ============================================================================


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    inject_delay(cfg.get("delay"))
    from pubcrawler_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{cfg['workload']}", master=f"local[{cfg['cores']}]",
        shuffle_partitions=cfg["cores"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.monotonic() - cfg["t_launch"]
    out: dict = {"session_start_s": session_s}
    tracer = Tracer(spark) if cfg["trace"] else None
    try:
        workload = QueryMix if cfg["workload"] == "query_mix" else Crawl
        workload(spark, cfg, tracer).run(out, cfg["t_launch"], session_s)
        if tracer is not None:
            out["calls"] = tracer.calls()
    finally:
        spark.stop()
    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as fh:
        json.dump(out, fh)



if __name__ == "__main__":
    main(sys.argv[1])
