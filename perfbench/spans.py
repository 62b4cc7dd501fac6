"""Outside-in tracing for the traced benchmark run.

Spans are recorded around calls INTO the program's modules, from the
benchmark's side: public functions and methods are wrapped in place for
the life of the process, and Spark's own status store and query
planning tracker supply the job, stage, task and Catalyst numbers.
Nothing inside `pipegen_spark/` changes. Metric names use the query-trace
vocabulary (build / eager_jobs / plan / exec / action_jobs), so spans
emitted later from inside the program can replace these one for one.

Only operations opened with `Tracer.op(..., traced=True)` record
anything; the wrappers pass straight through otherwise, so the traced run
can interleave traced and untraced operations and report the difference
as the tracing overhead. Spans stay in memory until `write`.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        #: op id -> metric -> summed value
        self.op_metrics: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- operations and spans -------------------------------------------
    @contextmanager
    def op(self, op_id: str, traced: bool):
        """Scope one operation on this thread; spans inside it are its children."""
        self._local.op = op_id if traced else None
        self._local.stack = [op_id]
        try:
            yield
        finally:
            self._local.op = None
            self._local.stack = []

    @property
    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    @contextmanager
    def span(self, name: str):
        """Time the block as span `name` and add its duration to the op's
        metric `name`. A span nested in a span of the same name is folded
        into the outer one."""
        op = self.current_op
        stack = getattr(self._local, "stack", [])
        if op is None or (len(stack) > 1 and stack[-1] == name):
            yield
            return
        parent = stack[-1]
        stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"op": op, "name": name, "parent": parent, "t0": t0, "t1": t1}
                )
                self.op_metrics[op][name] += t1 - t0

    def add(self, metric: str, value: float, op: str | None = None) -> None:
        """Add `value` to the current (or given) op's metric."""
        op = op or self.current_op
        if op is not None:
            with self._lock:
                self.op_metrics[op][metric] += value

    def top_level_s(self, op: str) -> float:
        """Summed duration of the op's direct child spans."""
        return sum(s["t1"] - s["t0"] for s in self.spans if s["op"] == op and s["parent"] == op)

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, metric: str, after=None) -> None:
        """Replace `owner.attr` by a wrapper timing span `metric`; for a
        module-level function also every `from ... import` alias of it in
        already-loaded pipegen_spark modules. `after(tracer, args, kwargs,
        result)` runs after the call inside a traced op."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer.current_op is None:
                return orig(*args, **kwargs)
            with tracer.span(metric):
                result = orig(*args, **kwargs)
            if after is not None:
                after(tracer, args, kwargs, result)
            return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for name, m in list(sys.modules.items())
                if name.startswith("pipegen_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            setattr(t, attr, wrapper)
            self._undo.append((t, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- output ------------------------------------------------------------
    def layer_means(self, ops: list[str], names) -> dict[str, float]:
        """Per-op mean of each metric over `ops` (0 where never recorded)."""
        out = {}
        for name in names:
            vals = [self.op_metrics.get(op, {}).get(name, 0.0) for op in ops]
            out[name] = sum(vals) / len(vals) if vals else 0.0
        return out

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "meta": meta,
                    "spans": self.spans,
                    "op_metrics": {k: dict(v) for k, v in self.op_metrics.items()},
                },
                fh,
            )


# -- Spark-side numbers -------------------------------------------------------
def wait_listener_bus(spark) -> None:
    """Block until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_stats(spark, job_ids) -> dict[str, float]:
    """Jobs, stages, tasks, task time, GC, shuffle and spill of `job_ids`,
    read from the live status store (skipped stages excluded)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for j in job_ids:
        it = store.job(int(j)).stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
    out = defaultdict(float)
    out["jobs"] = float(len(job_ids))
    for s in stage_ids:
        try:
            sd = store.lastStageAttempt(s)
        except Exception:  # evicted or never submitted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_memory_bytes"] += sd.memoryBytesSpilled()
        out["spill_disk_bytes"] += sd.diskBytesSpilled()
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per QueryPlanningTracker phase of the DataFrame's
    execution (analysis, optimization, planning), read after the action."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


def jobs_in_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
