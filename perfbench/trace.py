"""Spans recorded from outside the engine.

A :class:`Tracer` wraps public functions of the engine's modules by
replacing the module (or class) attribute with a timing wrapper. Each
span also sets the Spark job group for its duration, so the event log
can attribute every job to the span that launched it. Nothing here
imports or edits engine internals beyond the attribute swap, and an
untraced run installs no wrapper at all.

The same attribute swap injects a fixed delay into one call for the
self-test (``PERFBENCH_DELAY=module:Attr.path=seconds``).
"""

from __future__ import annotations

import functools
import importlib
import os
import threading
import time
from contextlib import contextmanager


def _resolve(target: str):
    """``pkg.mod:Class.attr`` -> (owner object, attribute name)."""
    mod_name, _, path = target.partition(":")
    owner = importlib.import_module(mod_name)
    parts = path.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


def inject_delay(spec: str | None) -> None:
    """Add ``seconds`` of sleep in front of every call to the target."""
    if not spec:
        return
    target, _, seconds = spec.rpartition("=")
    owner, attr = _resolve(target)
    fn, delay = getattr(owner, attr), float(seconds)

    @functools.wraps(fn)
    def slowed(*a, **kw):
        time.sleep(delay)
        return fn(*a, **kw)

    setattr(owner, attr, slowed)


class Tracer:
    """In-memory span list; one job group per open span."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._stack, "names", None)
        if stack is None:
            stack = self._stack.names = []
        rec = {"name": name, "parent": stack[-1] if stack else None, **attrs}
        stack.append(name)
        self.sc.setJobGroup(name, name, False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1], stack[-1], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def wrap(self, target: str, name: str, on_result=None) -> None:
        """Record a span around every call of ``target``; ``on_result``
        sees each call's return value and arguments (e.g. to keep a lazy
        DataFrame for counting after the timed section)."""
        owner, attr = _resolve(target)
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, call=True):
                out = fn(*a, **kw)
            if on_result is not None:
                on_result(out, a, kw)
            return out

        setattr(owner, attr, traced)

    def calls(self) -> dict[str, list]:
        """Per wrapped function: [number of calls, seconds inside them]."""
        out: dict[str, list] = {}
        for sp in self.spans:
            if sp.get("call"):
                c = out.setdefault(sp["name"], [0, 0.0])
                c[0] += 1
                c[1] += sp["end"] - sp["start"]
        return out


# -- memory --------------------------------------------------------------------


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(d))
    return pids


def group_pss_kb(pgid: int) -> int:
    """Summed proportional set size of one process group (shared pages
    are split between the processes mapping them, so forked Python
    workers are not double-counted)."""
    total = 0
    for pid in _group_pids(pgid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PssSampler(threading.Thread):
    """Samples the process group's PSS every ``period`` seconds."""

    def __init__(self, pgid: int, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.pgid, self.period = pgid, period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            self.peak_kb = max(self.peak_kb, group_pss_kb(self.pgid))

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_kb
