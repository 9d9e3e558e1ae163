"""Self-test of the benchmark (not part of the timed runs).

    python3 perfbench/selftest.py

1. Every workload, tiny sizes (2k-page corpus, the sf0.001 tables),
   runs end to end untraced and traced; each summary line must be
   correct and carry every metric its mode promises. For each traced
   crawl iteration, the engine's six job_ms segments plus the time with
   no Spark job running must be within 15% of the iteration wall.
2. An injected 0.5 s delay in ``BloomShards.add_hashes`` must raise the
   traced ``seen.update_s`` by at least 0.4 s and move no other leaf
   layer time by 0.25 s or more. The two runs compared are minutes
   apart, so a load spike from a neighbouring VM can move every stage;
   on a miss the check runs once more as a fresh back-to-back pair.
3. Run from a directory holding only BENCHMARK.json and perfbench/, the
   command must fail without printing a result line.

Exits 0 when every check holds; prints one line per check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import E2E_UNITS, LAYER_UNITS, WORKLOADS  # noqa: E402

SEED = 7
# the write segments' planning and commit run outside Spark jobs, so they
# count in both job_ms and no_job_s: the sum reads 1.08-1.15 of the wall
COVER_TOL = 0.15
DELAY = "pubcrawler_spark.operators.seen:BloomShards.add_hashes=0.5"
# replay stages: each times exactly one public operator
LEAF_TIMES = (
    "urltools.canon_s", "seen.probe_s", "seen.update_s", "schedule.robots_s",
    "schedule.ranks_s", "parse.fetch_join_s", "parse.parse_s",
)


def run(workload: str, trace: int, cwd: str = ROOT, delay: str | None = None):
    env = dict(os.environ)
    env.pop("PERFBENCH_DELAY", None)
    if delay:
        env["PERFBENCH_DELAY"] = delay
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "3", "--trace", str(trace), "--tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return proc.returncode, None, None, proc
    return proc.returncode, json.loads(lines[-1]), json.loads(lines[-2]), proc


def check(name: str, ok: bool, note: str = "") -> bool:
    print(f"{'PASS' if ok else 'FAIL'} {name}{': ' + note if note else ''}", flush=True)
    return ok


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ok = check(
        "BENCHMARK.json lists the metrics run.py prints",
        {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
        and {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
        and {w["name"] for w in spec["workloads"]} <= set(WORKLOADS),
    )
    traced: dict = {}
    for wl in WORKLOADS:
        for trace, units in ((0, E2E_UNITS), (1, LAYER_UNITS)):
            rc, res, detail, proc = run(wl, trace)
            good = rc == 0 and res is not None and res["correct"] and set(res["metrics"]) == set(units)
            ok &= check(f"{wl} trace={trace}", good, "" if good else proc.stderr[-800:])
            if good and trace:
                traced[wl] = res["metrics"]
            if good and trace and wl.startswith("crawl"):
                cover = detail["layer_cover"]
                ok &= check(
                    f"{wl} layer cover within {COVER_TOL:.0%}",
                    all(abs(c - 1) <= COVER_TOL for c in cover),
                    f"(sum job_ms + no_job_s) / iteration wall = {cover}",
                )

    base = traced.get("crawl_steady")
    for attempt in (1, 2):
        if attempt == 2:  # a neighbour's load spike can move every stage: retry as a fresh pair
            _, base, _, _ = run("crawl_steady", 1)
            base = base and base["metrics"]
        rc, slowed, _, proc = run("crawl_steady", 1, delay=DELAY)
        if rc != 0 or slowed is None or base is None:
            landed, note = False, proc.stderr[-800:]
            continue
        moved = {k: slowed["metrics"][k]["value"] - base[k]["value"] for k in LEAF_TIMES}
        others = {k: round(v, 3) for k, v in moved.items() if k != "seen.update_s"}
        landed = moved["seen.update_s"] >= 0.4 and all(abs(v) < 0.25 for v in others.values())
        note = f"attempt {attempt}: seen.update_s +{moved['seen.update_s']:.3f} s, others {others}"
        if landed:
            break
    ok &= check("injected delay lands in seen.update_s", landed, note)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, _, proc = run("crawl_steady", 0, cwd=bare)
    ok &= check("bare directory fails without a result", rc != 0 and res is None, f"rc={rc}")
    shutil.rmtree(bare, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
