"""Traced-run machinery: in-memory spans, per-layer instrumentation of
the engine's public functions, and per-operation counters read from
Spark's own status stores.

Spans are plain dicts (name, start, end, parent, op) kept in a list and
written once when the run ends. Self time is a span's duration minus
the time covered by its direct children. The span and interval helpers
are Spark-free; everything that touches the JVM takes the session as an
argument.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from typing import Any, Callable


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer costs one
    attribute check per boundary. Spans named in ``counted`` also record
    how many Spark jobs ``job_count()`` saw start inside them."""

    def __init__(self, enabled: bool, counted: frozenset[str] = frozenset()) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.counted = counted
        self.job_count: Callable[[], int] | None = None

    @contextmanager
    def span(self, name: str):
        """Yields the span's record (None when disabled), so a caller can
        attach counts measured at the boundary."""
        if not self.enabled:
            yield None
            return
        count = self.job_count if name in self.counted else None
        rec = {
            "name": name,
            "start": 0.0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        jobs0 = count() if count else 0
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if count:
                rec["jobs"] = count() - jobs0

    def wrap(self, name: str, fn: Callable) -> Callable:
        """``fn`` inside a span."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict[str, Any]]) -> list[float]:
    """Per span: its duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - covered(kids.get(i, []))
        for i, s in enumerate(spans)
    ]


def layer_totals(spans: list[dict[str, Any]]) -> dict[str, dict[str, float]]:
    """Per span name: count, summed duration and summed self time."""
    out: dict[str, dict[str, float]] = {}
    for s, own in zip(spans, self_times(spans)):
        d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        d["count"] += 1
        d["total_s"] += s["end"] - s["start"]
        d["self_s"] += own
    return out


def instrument(package: str, owner: Any, attr: str, wrap: Callable[[Callable], Callable]) -> None:
    """Replace ``owner.attr`` with ``wrap(original)``, and every
    module-level binding of the same function inside ``package`` (names
    imported with ``from x import f`` are separate bindings)."""
    import sys

    orig = getattr(owner, attr)
    wrapped = wrap(orig)
    setattr(owner, attr, wrapped)
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(package) and mod is not owner and getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapped)


# ---------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> tuple[float, str]:
    """Value of a formatted SQL metric, in bytes, seconds or a plain
    count. Multi-task metrics read ``total (min, med, max ...)\\n<total>
    (...)``; the total is the first number of the second line."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0, ""
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit], "bytes"
    if unit in _TIME:
        return v * _TIME[unit], "s"
    return v, "count"


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def drain_listener(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status stores hold the operation that just finished."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.2)


def stage_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages and task metrics of every job in ``group``, read
    from the live AppStatusStore. Raises when a job or a stage its jobs
    reference is no longer in the store (evicted by the retained-jobs or
    retained-stages limits): counters that silently miss stages would
    understate the layer."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    referenced: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            raise RuntimeError(f"job {j} of group {group!r} evicted from the status store")
        referenced.update(info.stageIds)
    out = {
        "jobs": len(jobs), "stages": 0, "stages_skipped": 0, "tasks": 0,
        "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "peak_mem_bytes": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "fetch_wait_s": 0.0, "spill_bytes": 0,
    }
    seen = 0
    for sid in sorted(referenced):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:
            continue
        seen += 1
        if s.status().toString() == "SKIPPED":
            out["stages_skipped"] += 1
            continue
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["failed_tasks"] += s.numFailedTasks()
        out["run_s"] += s.executorRunTime() / 1e3
        out["cpu_s"] += s.executorCpuTime() / 1e9
        out["peak_mem_bytes"] = max(out["peak_mem_bytes"], s.peakExecutionMemory())
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    if seen < len(referenced):
        raise RuntimeError(
            f"group {group!r}: status store holds {seen} of the "
            f"{len(referenced)} stages its jobs reference"
        )
    return out


#: SQL metrics of the Python-worker plan nodes, summed into the
#: Python-boundary layer (worker start and init times stay out)
PY_METRICS = {
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_out",
    "data returned from Python workers": "bytes_in",
}


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def python_counters(spark, after_exec: int, jobs: set[int]) -> dict[str, float]:
    """Python-boundary SQL metrics (time running Python workers, bytes
    sent to and returned from them) summed over the SQL executions started
    after ``after_exec`` whose jobs belong to the operation. Read from
    the SQL status store, which works with the UI disabled."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {"run_s": 0.0, "bytes_out": 0.0, "bytes_in": 0.0, "executions": 0}
    for ex in _seq(store.executionsList()):
        eid = ex.executionId()
        if eid <= after_exec:
            continue
        ex_jobs = {int(j) for j in _seq(ex.jobs().keys().toSeq())}
        if jobs and not (ex_jobs & jobs):
            continue
        out["executions"] += 1
        values = store.executionMetrics(eid)
        for node in _seq(store.planGraph(eid).allNodes()):
            for m in _seq(node.metrics()):
                name = m.name()
                key = PY_METRICS.get(name)
                if key is None:
                    continue
                acc = m.accumulatorId()
                if not values.contains(acc):
                    continue
                v, _unit = parse_metric(values.apply(acc))
                out[key] += v
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this Python
    process, in MiB."""
    import resource

    total_kb = float(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += float(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
