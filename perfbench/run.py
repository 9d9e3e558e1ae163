"""Benchmark entry point: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 6 --trace 0

Builds the seeded crawl corpus or the query_mix request sequence and its
expected answers (cached under ``.perfbench_work/cache``; not part of
any timed figure), then runs the workload in a child process with a
fresh TMPDIR and SPARK_LOCAL_DIRS under ``.perfbench_work/runs``. Spark
runs at ``local[N]``, N = the cores this process may use.

Prints two lines. The first is a detail record: the workload's named
metrics (``iteration_s_p50``, ``search_s_p50``, ...) by name and unit,
per-iteration/per-request figures, N, the start loadavg and the
hypervisor-steal delta. The last line is the summary:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A
traced run first runs an untraced twin of the same seed, then the
traced child with the Spark event log on (through
SPARK_GRAFT_EXTRA_CONF), and parses the log after the child has exited.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = {
    # frontier loop, per-iteration fixed cost dominates: Zipf hosts with
    # one hot host, a host budget, 4 KB pages, a growing bloom seen set
    "crawl_steady": {
        "kind": "crawl", "n_pages": 12_000, "filler_kb": 4.0, "max_outlinks": 6,
        "host_budget": 400, "iters": 2, "replay_k": 2,
    },
    # same engine, 16 KB pages and no host budget: one iteration carries
    # most of the corpus, so the canonicalize/parse UDFs and the fetch
    # join do the work
    "crawl_bulk": {
        "kind": "crawl", "n_pages": 12_000, "filler_kb": 16.0, "max_outlinks": 6,
        "host_budget": 1_000_000, "iters": 1, "replay_k": 1,
    },
    # one closed-loop client over the read-only test tables: search,
    # analytics and dedup requests, no frontier
    "query_mix": {"kind": "query", "tables": "sf0.01", "n_search": 24, "setup_reps": 2},
}
# self-test sizes: a 2k-page corpus, the sf0.001 tables
TINY = {
    "crawl_steady": {"n_pages": 2_000},
    "crawl_bulk": {"n_pages": 2_000},
    "query_mix": {"tables": "sf0.001", "n_search": 12, "setup_reps": 1},
}
# the repo's read-only test tables (see TESTDATA.md)
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")

# end-to-end (untraced) metrics, same names on every workload. The
# per-operation median (op_median_s) is on the detail line only: the
# short search requests follow hypervisor steal more than any other
# figure, and their 10-seed spread reached the 0.25 bound
E2E_UNITS = {"setup_s": "s", "batch_s": "s", "items_per_s": "1/s", "bytes_per_item": "B"}
# the iteration segments the engine times in its _manifest.json job_ms
JOB_MS_KEYS = ("candidates", "sched", "parsed_links", "frontier", "seen", "commit_tail")
# per-layer (traced) metrics; a layer a workload does not run reads 0
LAYER_UNITS = {
    "session.start_s": "s", "session.peak_pss_mb": "MB",
    "frontier.iteration_s": "s", "frontier.jobs": "count", "frontier.stages": "count",
    "frontier.tasks": "count", "frontier.no_job_s": "s",
    **{f"frontier.job_ms.{k}": "ms" for k in JOB_MS_KEYS},
    "frontier.task_skew": "ratio", "frontier.shuffle_bytes": "B", "frontier.spill_bytes": "B",
    "frontier.gc_s": "s", "frontier.ckpt_bytes": "B",
    "urltools.canon_s": "s", "urltools.rows": "count", "urltools.arrow_bytes": "B",
    "seen.probe_s": "s", "seen.update_s": "s", "seen.candidates_in": "count",
    "seen.unseen_out": "count", "seen.false_drop_ratio": "ratio", "seen.filter_bytes": "B",
    "schedule.robots_s": "s", "schedule.ranks_s": "s", "schedule.rows_in": "count",
    "schedule.rows_out": "count",
    "parse.fetch_join_s": "s", "parse.parse_s": "s", "parse.rows": "count", "parse.arrow_bytes": "B",
    "search.index_build_s": "s", "search.build_s": "s", "search.exec_s": "s", "search.jobs": "count",
    "search.shuffle_bytes": "B",
    "analytics.build_s": "s", "analytics.exec_s": "s", "analytics.jobs": "count",
    "analytics.shuffle_bytes": "B", "queries.leaked_pins": "count",
    "dedup.build_s": "s", "dedup.exec_s": "s", "dedup.jobs": "count", "dedup.shuffle_bytes": "B",
    "dedup.task_cpu_s": "s", "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "trace.overhead_s": "s",
}
CHILD_TIMEOUT_S = 170


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def _steal() -> int:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _kind_medians(samples: list[tuple]) -> dict:
    """Median wall per operation kind (iteration index, search kind).
    The kinds differ in cost, so ``op_median_s`` is the mean of these:
    a plain median of the mixed samples would sit in the gap between
    two kinds."""
    kinds: dict = {}
    for kind, wall in samples:
        kinds.setdefault(str(kind), []).append(wall)
    return {k: statistics.median(v) for k, v in kinds.items()}


def _p90(xs):
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)


# -- inputs and expectations (untimed) ------------------------------------------------


def _cached_json(path: str, build) -> str:
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as fh:
            json.dump(build(), fh)
        os.replace(path + ".tmp", path)
    return path


def prepare(params: dict, seed: int) -> dict:
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    if params["kind"] == "crawl":
        from perfbench import inputs

        return {"pages": inputs.pages_dir(
            cache, seed, params["n_pages"], params["filler_kb"], params["max_outlinks"])}
    from perfbench import querymix as qm

    tables = os.path.join(TESTDATA, params["tables"])
    if not os.path.isfile(os.path.join(tables, "documents.parquet")):
        raise SystemExit(f"perfbench: query_mix needs the test tables in {tables}")
    reqs = qm.make_requests(seed, params["n_search"], tables)
    fixed = _cached_json(
        os.path.join(cache, f"expect-{params['tables']}-queries.json"),
        lambda: qm.query_answers(tables))
    search = _cached_json(
        os.path.join(cache, f"expect-{params['tables']}-s{seed}-n{params['n_search']}.json"),
        lambda: qm.search_answers(tables, reqs))
    return {"tables": tables, "requests": reqs, "expected": [fixed, search]}


# -- the child process ---------------------------------------------------------------


def _reap_group(pgid: int) -> None:
    """Kill what is left of the child's process group and reap it (this
    process is a subreaper, so orphaned descendants come back to us)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def run_child(cfg: dict, trace: bool) -> tuple[dict, float, float]:
    """-> (result, child wall seconds, peak PSS MB of the process tree)."""
    from perfbench.trace import PssSampler

    run_dir = cfg["run_dir"]
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.update(
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        # no hsperfdata file: HotSpot writes it to the system temp dir
        # whatever java.io.tmpdir says
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
    )
    env.setdefault("SPARK_DRIVER_MEM", "3g")
    if trace:
        env["SPARK_GRAFT_EXTRA_CONF"] = json.dumps({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
        })
    cfg_path = os.path.join(run_dir, "config.json")
    log_path = os.path.join(run_dir, "child.log")
    cfg["t_launch"] = time.monotonic()
    with open(cfg_path, "w") as fh:
        json.dump({**cfg, "trace": trace}, fh)
    t0 = cfg["t_launch"]
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"), cfg_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        sampler = PssSampler(proc.pid) if trace else None
        if sampler:
            sampler.start()
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            peak_kb = sampler.stop() if sampler else 0
            _reap_group(proc.pid)
    wall = time.monotonic() - t0
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, "rb") as fh:
            tail = fh.read()[-4000:].decode("utf-8", "replace")
        raise RuntimeError(f"workload child failed (rc={rc}):\n{tail}")
    with open(result_path) as fh:
        return json.load(fh), wall, peak_kb / 1024.0


# -- metrics -------------------------------------------------------------------------------


def e2e_metrics(kind: str, res: dict) -> tuple[dict, dict]:
    """-> (summary metrics, named metrics for the detail line)."""
    if kind == "crawl":
        iters = res["iterations"]
        per_block = len(iters) // res["blocks"]
        blocks = [iters[b * per_block:(b + 1) * per_block] for b in range(res["blocks"])]
        block_s = [sum(i["wall_s"] for i in b) for b in blocks]
        urls_per_s = _median([
            sum(i["counts"]["scheduled"] + i["counts"]["parsed"] for i in b) / s
            for b, s in zip(blocks, block_s)
        ])
        sched = sum(i["counts"]["scheduled"] for i in iters)
        ckpt = sum(i["ckpt_bytes"] for i in iters) / sched
        kinds = _kind_medians([(i["k"], i["wall_s"]) for i in iters])
        summary = {
            "setup_s": res["setup_s"],
            "batch_s": _median(block_s),
            "items_per_s": urls_per_s, "bytes_per_item": ckpt,
        }
        detail = {
            "setup_s": (res["setup_s"], "s"), "crawl_urls_per_s": (urls_per_s, "URLs/s"),
            "iteration_s_p50": (_median([i["wall_s"] for i in iters]), "s"),
            "ckpt_bytes_per_url": (ckpt, "B/URL"),
        }
    else:
        reqs = [r for r in res["requests"] if "wall_s" in r]
        search = [r["wall_s"] for r in reqs if r["cls"] == "search"]
        analytics = sum(r["wall_s"] for r in reqs if r["cls"] == "analytics")
        dedup = sum(r["wall_s"] for r in reqs if r["cls"] == "dedup")
        kinds = _kind_medians([(r["name"], r["wall_s"]) for r in reqs if r["cls"] == "search"])
        summary = {
            "setup_s": res["setup_s"],
            "batch_s": analytics + dedup,
            "items_per_s": len(reqs) / sum(r["wall_s"] for r in reqs),
            "bytes_per_item": res["index_bytes"] / res["n_docs"],
        }
        detail = {
            "setup_s": (res["setup_s"], "s"), "search_s_p50": (_median(search), "s"),
            "search_s_p90": (_p90(search), "s"), "analytics_s": (analytics, "s"),
            "dedup_s": (dedup, "s"),
        }
    detail["error_rate"] = (res["failed"] / res["attempted"], "ratio")
    detail["op_median_s"] = (statistics.fmean(kinds.values()), "s")
    detail.update({f"op_median_s.{k}": (v, "s") for k, v in kinds.items()})
    return summary, detail


def layer_metrics(kind: str, res: dict, events_dir: str, peak_mb: float) -> tuple[dict, dict]:
    """-> (per-layer metrics, extra detail such as the layer-cover check)."""
    from perfbench import eventlog as ev

    jobs = ev.parse(events_dir)
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m["session.start_s"] = res["session_start_s"]
    m["session.peak_pss_mb"] = peak_mb
    extra: dict = {}
    if kind == "crawl":
        per_iter, cover, jobs_by_table = [], [], []
        for it in res["iterations"]:
            win = ev.in_window(jobs, it["start"], it["end"])
            tot = ev.totals(win)
            tables = {}
            for j in win:
                tables[j.table or "other"] = tables.get(j.table or "other", 0) + 1
            jobs_by_table.append(tables)
            no_job = (it["end"] - it["start"]) - ev.busy_s(win, it["start"], it["end"])
            jm = it["job_ms"]
            job_ms = {k: jm.get(k, 0) for k in JOB_MS_KEYS}
            cover.append((sum(job_ms.values()) / 1000 + no_job) / it["wall_s"])
            per_iter.append({**tot, "no_job_s": no_job, "wall_s": it["wall_s"],
                             **{f"job_ms.{k}": v for k, v in job_ms.items()},
                             "ckpt_bytes": it["ckpt_bytes"]})
        med = lambda key: _median([p[key] for p in per_iter])  # noqa: E731
        m.update({
            "frontier.iteration_s": med("wall_s"), "frontier.jobs": med("jobs"),
            "frontier.stages": med("stages"), "frontier.tasks": med("tasks"),
            "frontier.no_job_s": med("no_job_s"), "frontier.task_skew": med("task_skew"),
            "frontier.shuffle_bytes": med("shuffle_bytes"), "frontier.spill_bytes": med("spill_bytes"),
            "frontier.gc_s": med("gc_s"), "frontier.ckpt_bytes": med("ckpt_bytes"),
            **{f"frontier.{k}": med(k) for k in per_iter[0] if k.startswith("job_ms.")},
        })
        extra["layer_cover"] = [round(c, 3) for c in cover]
        extra["jobs_by_table"] = jobs_by_table[0]
        rp = res["replay"]
        st, rows = rp["stages"], rp["rows"]
        group = lambda name: ev.totals(ev.by_group(jobs, f"replay.{name}"))  # noqa: E731
        seen = rp["seen"]
        m.update({
            "urltools.canon_s": st["urltools.canon"], "urltools.rows": rows["links"],
            "urltools.arrow_bytes": group("urltools.canon")["python_bytes"],
            "seen.probe_s": st["seen.probe"], "seen.update_s": st["seen.update"],
            "seen.candidates_in": rows["cand"], "seen.unseen_out": rows["unseen"],
            "seen.false_drop_ratio": seen["false_drops"] / seen["dropped"] if seen["dropped"] else 0.0,
            "seen.filter_bytes": rp["seen_filter_bytes"],
            "schedule.robots_s": st["schedule.robots"], "schedule.ranks_s": st["schedule.ranks"],
            "schedule.rows_in": rows["candidates"], "schedule.rows_out": rows["sched"],
            "parse.fetch_join_s": st["parse.fetch_join"], "parse.parse_s": st["parse.parse"],
            "parse.rows": rows["parsed"], "parse.arrow_bytes": group("parse.parse")["python_bytes"],
        })
        extra["replay"] = {"k": rp["k"], "stages_s": st, "equal": rp["equal"],
                           "dedup_s": st["schedule.dedup"]}
    else:
        reqs = [r for r in res["requests"] if "wall_s" in r]
        for r in reqs:
            r["t"] = ev.totals(ev.in_window(jobs, r["start"], r["end"]))
        cls = lambda c: [r for r in reqs if r["cls"] == c]  # noqa: E731
        search, analytics, dedup = cls("search"), cls("analytics"), cls("dedup")
        pairs = res["pairs"]
        m.update({
            "search.index_build_s": _median(res["setup_reps_s"]),
            "search.build_s": _median([r["build_s"] for r in search]),
            "search.exec_s": _median([r["exec_s"] for r in search]),
            "search.jobs": _median([r["t"]["jobs"] for r in search]),
            "search.shuffle_bytes": _median([r["t"]["shuffle_bytes"] for r in search]),
            "analytics.build_s": sum(r["build_s"] for r in analytics),
            "analytics.exec_s": sum(r["exec_s"] for r in analytics),
            "analytics.jobs": sum(r["t"]["jobs"] for r in analytics),
            "analytics.shuffle_bytes": sum(r["t"]["shuffle_bytes"] for r in analytics),
            "queries.leaked_pins": sum(r["pins"] for r in analytics + dedup),
            "dedup.build_s": sum(r["build_s"] for r in dedup),
            "dedup.exec_s": sum(r["exec_s"] for r in dedup),
            "dedup.jobs": sum(r["t"]["jobs"] for r in dedup),
            "dedup.shuffle_bytes": sum(r["t"]["shuffle_bytes"] for r in dedup),
            "dedup.task_cpu_s": sum(r["t"]["cpu_s"] for r in dedup),
            "dedup.candidate_pairs": pairs["candidates"], "dedup.verified_pairs": pairs["verified"],
            "dedup.verify_yield": pairs["verified"] / pairs["candidates"] if pairs["candidates"] else 0.0,
        })
        extra["per_request_jobs"] = {f"{r['cls']}.{r['name']}": r["t"]["jobs"] for r in analytics + dedup}
    return m, extra


# -- main -------------------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "pubcrawler_spark", "plans", "frontier.py")):
        print("perfbench: the pubcrawler_spark sources are not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # orphaned JVM / Python workers get reparented here and are reaped
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER

    wl = args.workload
    params = {**WORKLOADS[wl], **(TINY[wl] if args.tiny else {})}
    cores = _cores()
    paths = prepare(params, args.seed)
    load0, steal0 = os.getloadavg()[0], _steal()
    tag = f"{wl}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    cfg = {
        "workload": wl, "seed": args.seed, "seconds": args.seconds, "cores": cores,
        "params": params, "cache": os.path.join(WORK, "cache"), "run_dir": run_dir,
        "delay": os.environ.get("PERFBENCH_DELAY"), **paths,
    }
    try:
        detail: dict = {"workload": wl, "seed": args.seed, "master": f"local[{cores}]",
                        "cores": cores, "start_loadavg": load0}
        if args.trace:
            # the untraced twin: same seed, same code, same operations;
            # trace.overhead_s compares the walls of the two timed
            # sections, which exclude the traced run's replay and checks
            twin, _, _ = run_child({**cfg, "run_dir": run_dir + "-untraced", "twin": True}, trace=False)
            res, wall, peak = run_child({**cfg, "ops": twin["ops"]}, trace=True)
            metrics, extra = layer_metrics(
                params["kind"], res, os.path.join(run_dir, "events"), peak)
            metrics["trace.overhead_s"] = res["timed_s"] - twin["timed_s"]
            units = LAYER_UNITS
            detail.update(extra, calls=res["calls"], untraced_timed_s=twin["timed_s"])
        else:
            res, wall, _ = run_child(cfg, trace=False)
            metrics, named = e2e_metrics(params["kind"], res)
            units = E2E_UNITS
            detail["named_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in named.items()}
        detail.update(
            steal_jiffies=_steal() - steal0, child_wall_s=wall, timed_s=res["timed_s"],
            setup_reps_s=res["setup_reps_s"], first_op_s=res["first_op_s"],
            checks=res.get("checks"),
            failures=[r for r in res.get("requests", []) if not r.get("ok", True)][:5],
        )
        if params["kind"] == "crawl":
            detail["iterations"] = [
                {"k": i["k"], "wall_s": round(i["wall_s"], 4), **i["counts"], "ok": i["ok"]}
                for i in res["iterations"]
            ]
        print(json.dumps(detail))
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(run_dir + "-untraced", ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
