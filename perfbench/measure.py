"""Measurement helpers: spans, Spark job/plan probes, RSS, environment.

Spans and counters are taken from outside the program, around calls into
its public functions; nothing here changes what the program does.  Spans
stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import re
import subprocess
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans with name, start, end, parent span and operation id.  When
    disabled every span is a no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op=None, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self.spans[self._stack[-1]] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None or parent is None else parent["op"],
            "parent": parent and parent["id"],
            "start": time.perf_counter() - self.t0,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter() - self.t0

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


def ms(sp: dict) -> float:
    return (sp["end"] - sp["start"]) * 1000.0


class Jobs:
    """Spark jobs, stages and tasks started between two points.  Job ids
    are handed out in submission order, so the scheduler's next job id read
    before and after a call brackets exactly the jobs it started, including
    jobs the program submits from its own threads (the index build's bucket
    pool).  The benchmark has one client thread, so no other caller's jobs
    fall in the window.  Stage and task counts come from ``statusTracker``
    once the asynchronous listener bus has caught up, outside every span."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()
        self._dag = sc._jsc.sc().dagScheduler()

    def next_id(self) -> int:
        return int(self._dag.nextJobId())

    def stats(self, lo: int, hi: int) -> dict:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        stages = set()
        for j in range(lo, hi):
            info = self.st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran = [
            s for s in map(self.st.getStageInfo, stages)
            if s is not None and s.numCompletedTasks > 0
        ]
        return {
            "jobs": hi - lo,
            "stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran),
        }


# physical operators that hand rows to a Python worker
_PYTHON_NODES = re.compile(
    r"\b(?:MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow"
    r"|FlatMapCoGroupsInArrow|AggregateInPandas|WindowInPandas"
    r"|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\b"
)


def plan(df) -> dict:
    """Force physical planning of ``df`` and read Catalyst's own phase
    timings (``QueryPlanningTracker``) and the executed plan's Python nodes."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    executed = qe.executedPlan()
    plan_ms = (time.perf_counter() - t0) * 1000.0
    phases = qe.tracker().phases()
    out = {"plan_ms": plan_ms}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[f"{name}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    out["python_nodes"] = len(_PYTHON_NODES.findall(executed.toString()))
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out[1:]


def _rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Peak summed RSS of this process and every descendant (the JVM and
    its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _rss_bytes([me, *descendants(me)]))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def mb(self) -> float:
        return self.peak / 2**20


def steal_probe_ms() -> float:
    """Single-thread fixed-work wall time, as in bench.py: recorded next to
    each run so a degraded window shows in the artifact."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5 * 10**6):
        x += i * i
    return (time.perf_counter() - t0) * 1000.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_digest(root: Path, package: str) -> str:
    h = hashlib.sha256()
    for f in sorted((root / package).rglob("*.py")):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_sha(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        r = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() or None


def environment(root: Path, seed: int, sf: str) -> dict:
    import pyspark

    return {
        "cpus": cpus(),
        "seed": seed,
        "sf": sf,
        "git_sha": git_sha(root),
        "source_sha256": source_digest(root, "probe_spark"),
        "bench_sha256": source_digest(root, "perfbench"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def pct(values, q: float) -> float:
    """The q-quantile (0..1) of ``values``, linear between order statistics."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)

