"""Spans, checks, the Spark status-store reader and the memory sampler.

Every call the benchmark makes into the library goes through
:meth:`Recorder.call`, which records a span (name, layer, start, end,
parent, pass id). In a traced run each span also becomes its own Spark job
group, so after the run the status store tells which jobs, stages, task
time, shuffle and spill each layer caused; the library itself is not
changed.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("sources", "generators", "sampler", "diffy", "corpus", "dedup", "snapshots")
ARROW_NODES = ("MapInPandas", "ArrowEvalPython")


@dataclass
class Span:
    sid: int
    name: str
    layer: str | None
    pass_id: int
    parent: int | None
    start: float  # time.time(), the clock Spark stamps jobs with
    end: float = 0.0
    failed: bool = False  # raised, or an output check failed

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Records spans and check outcomes for one benchmark run."""

    spark: object
    trace: bool
    spans: list[Span] = field(default_factory=list)
    pass_id: int = 0
    trace_self_s: float = 0.0  # time spent setting job groups
    _stack: list[int] = field(default_factory=list)
    _pass_errors: int = 0  # passes that raised outside any library call
    failures: list[str] = field(default_factory=list)

    def _set_group(self, sid: int | None) -> None:
        t = time.perf_counter()
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"pb{sid}", self.spans[sid].name)
        self.trace_self_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self.pass_id, parent, time.time())
        self.spans.append(s)
        self._stack.append(s.sid)
        grouped = self.trace and layer is not None
        if grouped:
            self._set_group(s.sid)
        try:
            yield s
        except Exception:
            s.failed = True
            raise
        finally:
            s.end = time.time()
            self._stack.pop()
            if grouped:
                self._set_group(None)

    def call(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` — a public library function — inside a span."""
        with self.span(f"{layer}.{fn.__name__}", layer):
            return fn(*args, **kwargs)

    def check(self, span: Span, ok: bool, what: str) -> bool:
        """Record an output check of the call ``span``; a failed check marks
        that call failed."""
        if not ok:
            span.failed = True
            self.failures.append(f"pass {self.pass_id} {span.name}: {what}")
            print(f"# CHECK FAILED pass {self.pass_id} {span.name}: {what}", file=sys.stderr)
        return ok

    def fail_pass(self, exc: BaseException) -> None:
        """A pass raised. A library call that raised is already marked
        failed; anything else counts as one more failed operation."""
        if not any(s.failed for s in self.spans if s.pass_id == self.pass_id):
            self._pass_errors += 1
        self.failures.append(f"pass {self.pass_id}: {exc!r}")
        traceback.print_exception(exc, file=sys.stderr)

    def calls(self, first_pass: int = 1) -> list[Span]:
        return [s for s in self.spans if s.layer and s.pass_id >= first_pass]

    def ops(self, first_pass: int = 1) -> tuple[int, int]:
        """(attempted, failed) library calls in the measured passes."""
        cs = self.calls(first_pass)
        failed = sum(1 for s in cs if s.failed) + self._pass_errors
        return len(cs) + self._pass_errors, failed

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer, "pass": s.pass_id,
                    "parent": s.parent, "start": s.start, "end": s.end, "failed": s.failed,
                }) + "\n")


# ---------------------------------------------------------------- statistics


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99.9/p99/p95/p90/p75/p50 with at
    least ten samples beyond it; p50 when there are too few samples."""
    xs = sorted(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if len(xs) * (1 - p / 100) >= 10:
            return p, xs[min(int(p / 100 * len(xs)), len(xs) - 1)]
    return 50.0, statistics.median(xs)


# ------------------------------------------------------- status-store reader


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_counters(spark, spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per-layer Spark counters of the given spans, read from the status
    store. Each span's job group is ``pb<span id>``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    by_group: dict[str, list] = {}
    for j in _seq(store.jobsList(None)):
        g = _opt(j.jobGroup())
        if g is not None:
            by_group.setdefault(g, []).append(j)
    stages = {}
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        if st.status().toString() == "COMPLETE":
            stages[(st.stageId(), st.attemptId())] = st
    stage_attempts: dict[int, list] = {}
    for (sid, _), st in stages.items():
        stage_attempts.setdefault(sid, []).append(st)
    arrow = _arrow_rows_by_group(spark)

    out = {L: dict(calls=0, wall_s=0.0, driver_s=0.0, jobs=0, stages=0, task_s=0.0,
                   shuffle_write_bytes=0, spill_bytes=0, arrow_rows=0) for L in LAYERS}
    for s in spans:
        if s.layer not in out:
            continue
        m = out[s.layer]
        g = f"pb{s.sid}"
        jobs = by_group.get(g, [])
        spans_ms = []
        for j in jobs:
            t0, t1 = _opt(j.submissionTime()), _opt(j.completionTime())
            if t0 is not None and t1 is not None:
                lo = max(t0.getTime() / 1000.0, s.start)
                hi = min(t1.getTime() / 1000.0, s.end)
                if hi > lo:
                    spans_ms.append((lo, hi))
            for sid in _seq(j.stageIds()):
                for st in stage_attempts.pop(sid, []):  # a stage counts once
                    m["stages"] += 1
                    m["task_s"] += st.executorRunTime() / 1000.0
                    m["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        m["calls"] += 1
        m["wall_s"] += s.dur
        m["driver_s"] += s.dur - _union(spans_ms)
        m["jobs"] += len(jobs)
        m["arrow_rows"] += arrow.get(g, 0)
    return out


def _arrow_rows_by_group(spark) -> dict[str, int]:
    """Output rows of the Arrow/Python nodes in each SQL execution's final
    (post-AQE) plan, summed per job group."""
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    group_of_job = {}
    for j in _seq(store.jobsList(None)):
        g = _opt(j.jobGroup())
        if g is not None:
            group_of_job[j.jobId()] = g
    sql = spark._jsparkSession.sharedState().statusStore()
    rows: dict[str, int] = {}
    for e in _seq(sql.executionsList()):
        job_ids = [int(x) for x in _seq(e.jobs().keys().toSeq())]
        groups = {group_of_job[i] for i in job_ids if i in group_of_job}
        if len(groups) != 1:
            continue
        vals = sql.executionMetrics(e.executionId())
        n = 0
        for node in _seq(sql.planGraph(e.executionId()).allNodes()):
            if node.name() not in ARROW_NODES:
                continue
            for m in _seq(node.metrics()):
                if m.name() == "number of output rows":
                    v = _opt(vals.get(m.accumulatorId()))
                    if v is not None:
                        n += int(str(v).replace(",", ""))
        g = groups.pop()
        rows[g] = rows.get(g, 0) + n
    return rows


def storage_bytes(spark) -> int:
    """Memory + disk bytes of every cached RDD/DataFrame right now."""
    return sum(
        i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


# ------------------------------------------------------------ memory sampler


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p:
                out.append(c)
                frontier.append(c)
    return out


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the JVM and the
    Python workers are children of the driver process)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s on a
    background thread; ``peak`` is the highest sum seen since ``reset``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, _tree_rss_bytes(pid))

    def reset(self) -> None:
        self.peak = _tree_rss_bytes(os.getpid())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
