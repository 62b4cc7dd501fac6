"""Shared machinery of the benchmark: run environment, Spark session
lifetime, peak memory, latency statistics and the result line.

Everything a run writes stays inside the checkout the benchmark runs from:
Spark local dirs, temp files, sinks, projects and the trace file all live
under `.perfbench_work/` at the checkout root.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

WORK_DIRNAME = ".perfbench_work"
#: Driver heap (local mode: executors too). The sf 0.01 workloads need far
#: less than the engine's 8g default; a smaller fixed heap keeps RSS small.
DRIVER_MEM = "3g"
BENCHMARK_JSON = "BENCHMARK.json"

#: The end-to-end metrics every workload computes, name -> unit.
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "items_per_s": "1/s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it (nearest rank), never below the median. Below 20
    samples that is the median itself; the percentile says which."""
    n = len(values)
    if n == 0:
        return 0.0, 50.0, 0
    pct = max(50.0, 100.0 * (1.0 - 10.0 / n))
    rank = max(1, math.ceil(pct / 100.0 * n))
    return max(float(sorted(values)[rank - 1]), median(values)), round(pct, 2), n


def error_summary(exc: BaseException) -> str:
    """One line naming the innermost error: Spark wraps Python worker
    failures in a long traceback whose last `...Error: msg` line is it."""
    text = str(exc)
    found = re.findall(r"^\s*([A-Za-z_][\w.]*(?:Error|Exception): .*)$", text, re.M)
    return (found[-1].strip() if found else f"{type(exc).__name__}: {text}")[:240]


def another_round(t_start: float, seconds: float, rounds: list) -> bool:
    """Whether to start another measured round (a pipeline run): always
    the first; later ones while the expected end, half a round on from the
    last one's length, stays inside `seconds`. Whole rounds keep the
    throughput comparable across runs."""
    if not rounds:
        return True
    return time.perf_counter() - t_start + rounds[-1][1] / 2 < seconds


@dataclass
class OpRecord:
    """One measured operation: a query, a stream batch or a pipeline run."""

    op_id: str
    latency_s: float
    items: float = 0.0  # queries, rows ... what items_per_s counts
    ok: bool = True
    wrong: bool = False  # finished but returned a wrong result
    traced: bool = False
    error: str = ""
    digest: str = ""  # result hash, where the op has one


@dataclass
class Run:
    """What one workload run produces; `result_line` turns it into metrics."""

    workload: str
    seed: int
    ops: list[OpRecord] = field(default_factory=list)
    setup_s: float = 0.0
    measured_s: float = 0.0  # wall time of the measured window
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    #: (traced, wall s, items) per measured round (a pipeline run; for the
    #: corpus, all its queries over clients / mean latency); when present,
    #: items_per_s = sum of items / sum of wall
    rounds: list[tuple[bool, float, float]] = field(default_factory=list)


class Env:
    """Directories and process-wide settings for one run.

    Must be built before pyspark is imported: the JVM and the Python
    workers inherit TMPDIR, SPARK_LOCAL_DIRS and PYTHONPATH from here."""

    def __init__(self, root: str, workload: str, seed: int, t0: float):
        self.root = root
        self.t0 = t0  # process start: set-up time counts from here
        self.work = os.path.join(root, WORK_DIRNAME, f"{workload}-{seed}-{os.getpid()}")
        self.traces = os.path.join(root, WORK_DIRNAME, "traces")
        for d in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(self.traces, exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        path = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        self.cores = cores()
        self.spark = None
        self.memory = {"jvm_peak_mb": 0.0, "python_workers_mb": 0.0}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self, app: str):
        """Engine session at local[cores], every scratch path in the work dir."""
        from pipegen_spark.session import get_spark

        wh = self.path("warehouse")
        tmp = self.path("tmp")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.spark = get_spark(
            app,
            cpus=self.cores,
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": wh,
                # A fixed-size heap, touched at JVM start: G1's grow-on-demand
                # decisions and first-touch page faults otherwise land in the
                # measured window, differently from run to run (a stream run
                # right after a corpus run read 25-40% slower without it).
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={tmp} -Dderby.system.home={wh}",
                "spark.sql.streaming.checkpointLocation": self.path("checkpoints"),
            },
        )
        return self.spark

    def close(self) -> None:
        """Read peak memory, stop the session and the JVM, wait for both,
        drop the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.memory = memory_mb(_gateway_pid())
            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def _gateway_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _proc_table() -> dict[int, tuple[str, int]]:
    """pid -> (command name, parent pid) of every process, from /proc."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, rest = fh.read().rsplit(")", 1)
        except OSError:  # exited since the listing
            continue
        procs[int(name)] = (head.split("(", 1)[1], int(rest.split()[1]))
    return procs


def _kb(path: str, keys: tuple[str, ...]) -> int:
    """Sum of the `key:  N kB` lines of a /proc status-style file."""
    total = 0
    try:
        with open(path) as fh:
            for line in fh:
                key, _, value = line.partition(":")
                if key in keys:
                    total += int(value.split()[0])
    except OSError:
        return 0
    return total


def memory_mb(jvm_pid: int | None) -> dict[str, float]:
    """Peak memory of the driver JVM plus its Python workers, read once.

    The JVM's peak is the kernel's high-water mark (`VmHWM`). The Python
    workers are the `python*` processes below the JVM: the daemon the JVM
    starts counts with its own high-water mark, the workers it forks with
    their unique set size (private pages), because the pages they share with
    the daemon are already counted there. Workers are reused until the
    session stops, so reading them before the stop sees them all."""
    if jvm_pid is None:
        return {"jvm_peak_mb": 0.0, "python_workers_mb": 0.0}
    procs = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (_, ppid) in procs.items():
        children.setdefault(ppid, []).append(pid)
    py_kb, stack = 0, [(c, False) for c in children.get(jvm_pid, ())]
    while stack:
        pid, forked = stack.pop()
        is_py = procs[pid][0].startswith("python")
        if is_py:
            py_kb += (_kb(f"/proc/{pid}/smaps_rollup", ("Private_Clean", "Private_Dirty"))
                      if forked else _kb(f"/proc/{pid}/status", ("VmHWM",)))
        stack.extend((c, is_py) for c in children.get(pid, ()))
    return {"jvm_peak_mb": _kb(f"/proc/{jvm_pid}/status", ("VmHWM",)) / 1024.0,
            "python_workers_mb": py_kb / 1024.0}


def e2e_metrics(run: Run, ops: list[OpRecord], rounds, peak_rss_mb: float) -> dict:
    """The end-to-end metrics over `ops` (successful ones time the
    latency; every attempted one counts toward ok_ratio)."""
    good = [o for o in ops if o.ok]
    lat_ms = [o.latency_s * 1000.0 for o in good]
    tail_ms, pct, n = tail(lat_ms)
    if rounds:
        wall = sum(r[1] for r in rounds)
        items = sum(r[2] for r in rounds)
        items_per_s = items / wall if wall > 0 else 0.0
    else:  # per-op rate: median of items / latency
        items_per_s = median([o.items / o.latency_s for o in good if o.latency_s > 0])
    return {
        "setup_s": run.setup_s,
        "op_p50_ms": median(lat_ms),
        "op_tail_ms": tail_ms,
        "items_per_s": items_per_s,
        "ok_ratio": len(good) / len(ops) if ops else 0.0,
        "peak_rss_mb": peak_rss_mb,
        "_tail_pct": pct,
        "_tail_n": n,
    }


#: The end-to-end metrics under the names a user of each workload reads
#: them by: name -> (e2e metric or detail key, scale, unit).
USER_METRICS = {
    "corpus": {
        "pass_s": ("pass_s", 1.0, "s"),
        "query_p50_s": ("op_p50_ms", 1e-3, "s"),
        "query_tail_s": ("op_tail_ms", 1e-3, "s"),
    },
    "stream": {
        "rows_per_s": ("items_per_s", 1.0, "rows/s"),
        "batch_p50_ms": ("op_p50_ms", 1.0, "ms"),
        "batch_tail_ms": ("op_tail_ms", 1.0, "ms"),
    },
    "pipeline": {
        "pipeline_s": ("op_p50_ms", 1e-3, "s"),
        "pipeline_tail_s": ("op_tail_ms", 1e-3, "s"),
        "rows_per_s": ("items_per_s", 1.0, "rows/s"),
    },
}


def user_metrics(run: Run, e2e: dict, fail_ratio: float) -> dict:
    """setup_s, fail_ratio and peak_rss_mb plus the workload's own
    latency and rate metrics, each with its unit."""
    family = run.workload.split("_")[0]
    out = {"setup_s": {"value": e2e["setup_s"], "unit": "s"}}
    for name, (src, scale, unit) in USER_METRICS[family].items():
        value = e2e[src] if src in e2e else run.detail.get(src, 0.0)
        out[name] = {"value": value * scale, "unit": unit}
    out["fail_ratio"] = {"value": fail_ratio, "unit": "failed/attempted"}
    out["peak_rss_mb"] = {"value": e2e["peak_rss_mb"], "unit": "MB"}
    return out


def load_benchmark(root: str) -> dict:
    with open(os.path.join(root, BENCHMARK_JSON)) as fh:
        return json.load(fh)


def result_line(run: Run, spec: dict, trace: bool, memory: dict) -> tuple[dict, dict]:
    """(detail, final): the detail object and the result line's object.
    With `trace` the final metrics are the per-layer ones, from traced ops
    only; otherwise the end-to-end ones over every op. `memory` is what
    `memory_mb` read; peak_rss_mb is its sum."""
    peak_rss_mb = memory["jvm_peak_mb"] + memory["python_workers_mb"]
    wrong = sum(o.wrong for o in run.ops)
    failed = sum(not o.ok for o in run.ops)
    untraced = [o for o in run.ops if not o.traced]
    traced = [o for o in run.ops if o.traced]
    e2e_all = e2e_metrics(
        run, untraced if trace else run.ops,
        [r for r in run.rounds if not r[0]] if trace else run.rounds,
        peak_rss_mb,
    )
    detail = {
        "workload": run.workload,
        "seed": run.seed,
        "trace": int(trace),
        "attempted": len(run.ops),
        "failed": failed,
        "wrong": wrong,
        "fail_ratio": failed / len(run.ops) if run.ops else 0.0,
        "measured_s": round(run.measured_s, 3),
        "tail_percentile": e2e_all.pop("_tail_pct"),
        "tail_samples": e2e_all.pop("_tail_n"),
        "memory_mb": {k: round(v, 1) for k, v in memory.items()},
        "op_ms": [round(o.latency_s * 1000.0, 1) for o in run.ops],
        **run.detail,
    }
    detail["metrics"] = user_metrics(run, e2e_all, detail["fail_ratio"])
    if trace:
        e2e_tr = e2e_metrics(run, traced, [r for r in run.rounds if r[0]], peak_rss_mb)
        for k in ("op_p50_ms", "op_tail_ms", "items_per_s"):
            run.layer[f"trace.overhead_{k}"] = e2e_tr[k] - e2e_all[k]
        for k, v in memory.items():
            run.layer[f"memory.{k}"] = v
        detail["untraced"] = {k: e2e_all[k] for k in E2E_UNITS}
        detail["traced"] = {k: e2e_tr[k] for k in E2E_UNITS}
        metrics = {
            m["name"]: {"value": float(run.layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e_all[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    final = {
        "correct": wrong == 0 and bool(run.ops) and not run.detail.get("warmup_wrong"),
        "attempted": max(1, len(run.ops)),
        "failed": failed if run.ops else 1,
        "metrics": metrics,
    }
    return detail, final
