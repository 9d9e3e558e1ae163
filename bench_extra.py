"""Extra measurement harness for the optimization rounds (guide §1).

NOT the driver contract — ``bench.py`` stays frozen for measurement.
This file exists so every registered query can be timed in isolation
(noop sink, warm + timed, per-query wall cap so one pathological query
cannot zero the capture) and so physical plans can be captured to
``plans/rNN/<query>_<tag>.txt`` for the plan-diff evidence.

Usage:
    python bench_extra.py --queries q54_dedup_groups,q55_dedup_corpus
    python bench_extra.py --all                 # every registered query
    python bench_extra.py --plans --tag before  # capture explain output
    python bench_extra.py --sf /root/testdata/sf0.01 --cap 120
    python bench_extra.py --worker-latency      # Python task start-up cost
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _explain_str(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, sf_dir: str, cap_s: float) -> dict:
    """warm + timed noop-sink run with a wall cap: the query runs in a
    (JVM-thread-local) job group on a worker thread; on cap expiry the
    group is cancelled and the query is recorded as a timeout instead
    of zeroing the whole capture."""
    from pyspark import InheritableThread

    out: dict = {}

    def _run() -> None:
        try:
            spark.sparkContext.setJobGroup("bench_extra", "bench_extra query", True)
            _noop(fn(spark, sf_dir))  # warmup (codegen, index builds)
            t0 = time.monotonic()
            _noop(fn(spark, sf_dir))
            out["sec"] = round(time.monotonic() - t0, 3)
        except Exception as exc:  # cancelled or failed
            out["err"] = f"{type(exc).__name__}: {exc}"[:300]

    t = InheritableThread(target=_run)
    t.daemon = True
    start = time.monotonic()
    t.start()
    t.join(cap_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup("bench_extra")
        t.join(30)
        return {"timeout": round(time.monotonic() - start, 1)}
    return out


def worker_latency(spark, cores: int, reps: int = 7) -> dict:
    """Fixed per-task cost of a Python stage: median wall of a warm
    identity ``mapInPandas`` stage at ``cores`` and ``4*cores`` tasks
    (one row per task, so the wall is task set-up, not rows), plus the
    median in-worker ``importlib.invalidate_caches()`` time, the call
    the package daemon makes cheap (see pubcrawler_spark/daemon.py)."""

    def _identity(it):
        yield from it

    def _invalidate_ms(it):
        import importlib

        import pandas as pd

        for pdf in it:
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            yield pd.DataFrame({"ms": [(time.perf_counter() - t0) * 1000] * len(pdf)})

    out: dict = {
        "cores": cores,
        "daemon_module": spark.conf.get("spark.python.daemon.module", "pyspark.daemon"),
    }
    for n_tasks in (cores, 4 * cores):
        df = spark.range(n_tasks, numPartitions=n_tasks).mapInPandas(_identity, "id long")
        _noop(df)  # warm: daemon fork, worker imports
        walls = []
        for _ in range(reps):
            t0 = time.monotonic()
            _noop(df)
            walls.append(time.monotonic() - t0)
        out[f"identity_s_{n_tasks}_tasks"] = round(statistics.median(walls), 4)
    inv = spark.range(cores, numPartitions=cores).mapInPandas(_invalidate_ms, "ms double")
    inv.collect()
    ms = [r.ms for _ in range(reps) for r in inv.collect()]
    out["invalidate_caches_ms"] = round(statistics.median(ms), 3)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", type=str, default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--plans", action="store_true")
    ap.add_argument("--tag", type=str, default="before")
    ap.add_argument("--sf", type=str, default=SF_DIR)
    ap.add_argument("--cap", type=float, default=180.0)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--worker-latency", action="store_true")
    args = ap.parse_args()

    from pubcrawler_spark.queries import QUERIES
    from pubcrawler_spark.session import get_spark

    if args.all:
        names = list(QUERIES)
    else:
        names = [n for n in args.queries.split(",") if n]
        # allow bare prefixes like "q54"
        names = [
            next((q for q in QUERIES if q == n or q.startswith(n + "_")), n) for n in names
        ]

    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 16))
    spark = get_spark("bench-extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if args.worker_latency:
        print(json.dumps(worker_latency(spark, cpus)))
        spark.stop()
        return

    if args.plans:
        plan_dir = os.path.join(REPO, "plans", "r08")
        os.makedirs(plan_dir, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, args.sf)
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(_explain_str(df))
            print(f"captured plan: {name}_{args.tag}.txt")
        spark.stop()
        return

    results: dict[str, object] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        r = time_query(spark, QUERIES[name], args.sf, args.cap)
        results[name] = r.get("sec", r)
        print(json.dumps({name: results[name]}), flush=True)
    print(json.dumps({"sf_dir": args.sf, "cpus": cpus, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
