"""Bookkeeping for the benchmark: spans and self time, Spark job
attribution, the percentile rule, operation counting, process-tree
memory sampling, and the result line checked against BENCHMARK.json.

Nothing here imports Spark or the program under test, so the unit tests
in ``perfbench/tests`` run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: percentiles the tail rule chooses from, lowest first
PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
#: samples that must lie beyond a reported tail percentile
TAIL_MIN_BEYOND = 10


# ------------------------------------------------------------ percentiles
def _rank(pct: float, n: int) -> int:
    """1-based nearest rank; rounding first keeps 99.9% of 10000 at 9990."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(sorted_samples: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_samples:
        raise ValueError("no samples")
    return sorted_samples[_rank(pct, len(sorted_samples)) - 1]


def tail_percentile(samples: list[float]) -> tuple[float | None, float | None, int]:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples above its rank, as (pct, value, sample count); (None, None,
    n) when even the median has fewer than that beyond it."""
    n = len(samples)
    best = None
    for pct in PERCENTILE_LADDER:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            best = pct
    if best is None:
        return None, None, n
    return best, nearest_rank(sorted(samples), best), n


def median(samples: list[float]) -> float:
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    name: str
    layer: str
    span_id: int
    parent: int | None
    start: float
    end: float | None = None
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    failed_tasks: int = 0


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> its duration minus the part of it that its direct
    children cover (overlapping children are merged, and clipped to the
    parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        dur = s.end - s.start
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = dur - covered
    return out


class Tracer:
    """Spans around the calls into each layer, kept in memory and written
    once at the end. When enabled, each span also runs its Spark jobs in a
    job group of its own, so the jobs a call started can be read back from
    the status tracker when the span closes. ``get_sc`` returns the active
    SparkContext or None. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool, run_id: str, get_sc=lambda: None,
                 clock=time.perf_counter):
        self.enabled = enabled
        self.run_id = run_id
        self.get_sc = get_sc
        self.clock = clock
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        t0 = self.clock()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, len(self.spans),
                 parent.span_id if parent else None, start=t0)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.get_sc()
        if sc is not None:
            sc.setJobGroup(self._group(s), name)
        s.start = self.clock()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            sc_now = self.get_sc()
            if sc is not None and sc_now is sc:
                self._attribute(sc, s)
                if parent is not None:
                    sc.setJobGroup(self._group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += self.clock() - s.end

    def _group(self, s: Span) -> str:
        return f"{self.run_id}:{s.span_id}"

    def _attribute(self, sc, s: Span) -> None:
        st = sc.statusTracker()
        s.jobs = sorted(st.getJobIdsForGroup(self._group(s)))
        for jid in s.jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue  # a reused (skipped) stage ran in an earlier job
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                self._seen_stages.add(sid)
                s.tasks += si.numCompletedTasks
                s.failed_tasks += si.numFailedTasks

    def lines(self):
        """Every span with its job attribution and self time, one JSON
        object per line, for writing out when the run ends."""
        st = self_times(self.spans)
        for s in self.spans:
            yield json.dumps({
                "run_id": self.run_id, "span_id": s.span_id,
                "parent": s.parent, "name": s.name, "layer": s.layer,
                "start": s.start, "end": s.end, "self_s": st[s.span_id],
                "jobs": s.jobs, "tasks": s.tasks,
                "failed_tasks": s.failed_tasks,
            })


# ------------------------------------------------------------- operations
class OpsCounter:
    """Counts operations: every timed call into the program and every
    output check. An exception or a failed check is a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @contextmanager
    def op(self, name: str):
        """One call into the program; an exception fails it and is
        re-raised, since later steps depend on its result."""
        self.attempted += 1
        try:
            yield
        except BaseException as e:
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            raise

    def check(self, name: str, fn) -> bool:
        """One output check: ``fn()`` returns True when the output is
        right; False or an exception fails it. Never raises."""
        self.attempted += 1
        try:
            ok = bool(fn())
        except Exception as e:  # a check that cannot run has failed
            ok = False
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
        else:
            if not ok:
                self.failures.append(f"{name}: mismatch")
        if not ok:
            self.failed += 1
        return ok


# --------------------------------------------------------- memory sampling
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass  # the process ended while being read
    return out


def process_tree(root: int) -> list[int]:
    """root and all of its descendants (JVM, Python workers)."""
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Background sampler of the whole process tree's resident memory."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


# ----------------------------------------------------------------- result
def load_spec(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def result_line(spec: dict, trace: bool, values: dict[str, float],
                ops: OpsCounter) -> dict:
    """The run's result object. ``values`` must hold exactly the metrics
    the spec lists for this mode (end_to_end untraced, per_layer traced);
    each is emitted with the unit the spec gives it."""
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    names = [m["name"] for m in metrics]
    missing = [n for n in names if n not in values]
    extra = [n for n in values if n not in names]
    if missing or extra:
        raise ValueError(f"metrics differ from the spec: missing={missing} extra={extra}")
    out = {}
    for m in metrics:
        v = float(values[m["name"]])
        if not math.isfinite(v):
            raise ValueError(f"metric {m['name']} is not finite: {v}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = ops.failed == 0 and ops.attempted > 0
    return {"correct": correct, "attempted": ops.attempted,
            "failed": ops.failed, "metrics": out}
