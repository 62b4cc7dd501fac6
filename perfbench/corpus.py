"""The two query-corpus workloads.

corpus_sql: a closed loop of `CLIENTS` threads sharing one session. Each
pass is a seeded shuffle of the relational queries; a client takes the
next query as soon as its previous one returns, and the run ends when
its passes are drained. This is the FlinkSQL query surface: Catalyst
planning plus JVM execution, with construction a small share.

corpus_ops: one client, sequential, over LLM-data operator queries in a
seeded order. The eager-construction group fires several Spark jobs while
the DataFrame is being built (the lineage-cut loops); the multimodal
group is Python-UDF-bound codec work. corpus_sql runs neither mechanism,
so it is the bypass workload for both.

A run measures a fixed number of whole passes, so every run of a workload
executes the same queries the same number of times whatever the program's
speed; the seed fixes their order. The tables are the sf 0.01 testdata
the repository's correctness gate uses, kept in `perfbench/data/`.
Every execution is hashed with `queries.canon.result_sha256` and compared
with the DuckDB oracle run over the same tables.
"""

from __future__ import annotations

import os
import random
import re
import threading
import time

import harness
from harness import Env, OpRecord, Run
import spans as tr

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF = 0.01
CLIENTS = 4
#: The file-stream parity queries reset the session's state-partition conf,
#: which would race the other clients; q61 runs the graph loop (corpus_ops).
STREAM_PARITY = frozenset({
    "q39_stream_session", "q41_stream_join", "q42_stream_dedup",
    "q60_stream_enrich", "q82_stream_outer_join", "q83_stream_full_outer_join",
})
GRAPH_LOOP = "q61_pagerank"
#: Operator queries whose construction fires Spark jobs (iteration barriers
#: and lineage cuts): the connected-components loop and a spilling curation
#: pass. With q61's graph loop and the two Python-UDF codec queries (where
#: JPEG and FLAC batching act) a warm pass takes 4-5 s on 4 cores.
OPS_EAGER = ("dedup_cc_star", "curate_dsir")
OPS_UDF = ("multimodal_jpeg_420", "multimodal_flac_features")

#: Untimed passes before measuring, while the JVM compiles the hot paths:
#: on 4 cores the cold 4-client pass takes 13-18 s, the next ones 8-10 s.
#: A second warm-up pass did not narrow the spread over seeds.
WARMUP_PASSES = 1
#: Wall time of one warm pass on 4 cores: a run measures
#: round(--seconds / PASS_S) passes, at least one.
PASS_S = {"corpus_sql": 8.0, "corpus_ops": 5.0}

LINEAGE_CUTS = ("localCheckpoint", "checkpoint", "persist", "cache")


def workload_names(kind: str, queries: dict) -> list[str]:
    if kind == "corpus_sql":
        return [n for n in queries
                if re.match(r"q\d\d_", n) and n not in STREAM_PARITY and n != GRAPH_LOOP]
    return list(OPS_EAGER) + [GRAPH_LOOP] + list(OPS_UDF)


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one pass (warm-up passes are numbered 0, -1, ...)."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def measured_passes(kind: str, seconds: float, trace: bool) -> int:
    """Whole passes a run measures. A traced run measures an even number,
    so that every query runs traced and untraced equally often."""
    n = max(1, round(seconds / PASS_S[kind]))
    return n + n % 2 if trace else n


def plan(names: list[str], seed: int, pass_nos, trace: bool) -> list[tuple[str, str, bool]]:
    """[(op id, query, traced)] of the passes `pass_nos`, each in its seeded
    order. A traced run traces each query on every other pass, so with an
    even number of passes every query runs traced and untraced equally often."""
    rank = {n: i for i, n in enumerate(names)}
    return [(f"p{p}.{i}:{name}", name, trace and (p + rank[name]) % 2 == 1)
            for p in pass_nos for i, name in enumerate(pass_order(names, seed, p))]


def oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    """result_sha256 of each query's DuckDB oracle over `data_dir`."""
    import duckdb

    from pipegen_spark.queries.canon import result_sha256
    from pipegen_spark.queries.registry import oracle_queries

    sql = oracle_queries()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for f in sorted(os.listdir(data_dir)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = result_sha256([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def run_query(spark, name: str, build, data_dir: str, expected: str | None,
              tracer: tr.Tracer, op_id: str, traced: bool, cores: int) -> OpRecord:
    """Build, collect and check one query. The latency covers the builder
    call and the collect; hashing the rows happens after the clock stops.
    Untraced, the tracer's op scope and span record nothing."""
    from pipegen_spark.queries.canon import result_sha256

    rec = OpRecord(op_id=op_id, latency_s=0.0, items=1.0, traced=traced)
    group = spark.sparkContext.setJobGroup if traced else (lambda *a: None)
    t0 = time.perf_counter()
    try:
        group(f"{op_id}:build", name)
        with tracer.op(op_id, traced), tracer.span("queries.build_s"):
            df = build(spark, data_dir)
        group(f"{op_id}:action", name)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        rec.latency_s = t2 - t0
        rec.digest = result_sha256(df.columns, [tuple(r) for r in rows])
        if expected is not None and rec.digest != expected:
            rec.ok, rec.wrong, rec.error = False, True, "result differs from the oracle"
        if traced:
            _trace_query(spark, tracer, op_id, df, t2 - t1, cores)
    except Exception as e:  # a failed query is counted, never dropped
        rec.ok, rec.error = False, harness.error_summary(e)
        rec.latency_s = rec.latency_s or time.perf_counter() - t0
    finally:
        group("perfbench:idle", "")
    return rec


def _trace_query(spark, tracer, op_id, df, action_s, cores) -> None:
    tr.wait_listener_bus(spark)
    eager = tr.jobs_in_group(spark, f"{op_id}:build")
    action = tr.jobs_in_group(spark, f"{op_id}:action")
    phases = tr.catalyst_phases(df)
    plan_in_action = phases.get("optimization", 0.0) + phases.get("planning", 0.0)
    exec_s = max(action_s - plan_in_action, 1e-9)
    a = tr.job_stats(spark, action)
    both = tr.job_stats(spark, eager + action)
    add = lambda k, v: tracer.add(k, v, op=op_id)  # noqa: E731
    add("queries.eager_jobs", len(eager))
    for ph in ("analysis", "optimization", "planning"):
        add(f"catalyst.{ph}_s", phases.get(ph, 0.0))
    add("action.exec_s", exec_s)
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s"):
        add(f"action.{k}", a[k])
    add("action.busy_ratio", a["task_run_s"] / (exec_s * cores))
    add("shuffle.write_bytes", both["shuffle_write_bytes"])
    add("shuffle.read_bytes", both["shuffle_read_bytes"])
    add("spill.memory_bytes", both["spill_memory_bytes"])
    add("spill.disk_bytes", both["spill_disk_bytes"])


def install_tracing(tracer: tr.Tracer) -> None:
    """Count lineage cuts (DataFrame checkpoint/persist/cache and the
    parquet spill) made while a traced query is being built or run."""
    from pyspark.sql import DataFrame

    from pipegen_spark.operators import spill

    for attr in LINEAGE_CUTS:
        tracer.wrap(DataFrame, attr, "operators.lineage_cut_s",
                    after=lambda t, a, k, r: t.add("operators.lineage_cuts", 1.0))
    tracer.wrap(spill, "spill_to_parquet", "operators.lineage_cut_s",
                after=lambda t, a, k, r: (t.add("operators.lineage_cuts", 1.0),
                                          t.add("operators.spill_writes", 1.0)))


def run(env: Env, kind: str, seed: int, seconds: float, trace: bool) -> Run:
    spark = env.start_spark(f"perfbench-{kind}")
    session_s = time.perf_counter() - env.t0

    from pipegen_spark.queries.registry import all_queries

    queries = all_queries()
    names = workload_names(kind, queries)
    clients = CLIENTS if kind == "corpus_sql" else 1
    tracer = tr.Tracer()
    if trace:
        install_tracing(tracer)

    # The oracle runs beside the warm-up passes; both are set-up.
    expected: dict[str, str] = {}
    oracle_err: list[Exception] = []

    def _oracle():
        try:
            expected.update(oracle_hashes(DATA_DIR, names))
        except Exception as e:  # re-raised on the main thread below
            oracle_err.append(e)

    th = threading.Thread(target=_oracle, name="oracle")
    th.start()
    t_warm = time.perf_counter()
    warm_plan = plan(names, seed, range(0, -WARMUP_PASSES, -1), False)
    warm = run_passes(spark, queries, warm_plan, {}, tracer, clients, env.cores)
    warmup_s = time.perf_counter() - t_warm
    th.join()
    if oracle_err:
        raise oracle_err[0]
    warm_wrong = [r.op_id for r in warm
                  if r.ok and r.digest != expected[r.op_id.split(":", 1)[1]]]
    setup_s = time.perf_counter() - env.t0

    result = Run(workload=kind, seed=seed, setup_s=setup_s)
    passes = measured_passes(kind, seconds, trace)
    todo = plan(names, seed, range(1, passes + 1), trace)
    t_meas = time.perf_counter()
    result.ops = run_passes(spark, queries, todo, expected, tracer, clients, env.cores)
    result.measured_s = time.perf_counter() - t_meas
    # Throughput of the closed loop is clients / mean latency (Little's law
    # with no think time): it does not depend on how the last queries of a
    # pass happen to overlap.
    for traced in ((False, True) if trace else (False,)):
        ok = [o for o in result.ops if o.ok and o.traced == traced]
        if ok:
            result.rounds.append((traced, sum(o.latency_s for o in ok) / clients, float(len(ok))))
    untraced = [r for r in result.rounds if not r[0]]

    result.detail = {
        "queries": len(names),
        "clients": clients,
        "sf": SF,
        "passes": passes,
        # the list's length over the loop's throughput
        "pass_s": len(names) * untraced[0][1] / untraced[0][2] if untraced else 0.0,
        "session_s": round(session_s, 3),
        "warmup_s": round(warmup_s, 3),
        # warm-up executions are checked too: a wrong one fails the run
        "warmup_wrong": warm_wrong,
        "warmup_errors": [r.error for r in warm if not r.ok][:5],
        "query_p50_s": _per_query_median(result.ops),
        "errors": sorted({f"{r.op_id.split(':')[-1]}: {r.error}" for r in result.ops if not r.ok})[:10],
    }
    if trace:
        tracer.unwrap_all()
        ops = [r.op_id for r in result.ops if r.traced]
        result.layer.update(tracer.layer_means(ops, CORPUS_LAYER))
        result.layer["session.start_s"] = session_s
        tracer.write(os.path.join(env.traces, f"{kind}-{seed}.json"),
                     {"workload": kind, "seed": seed})
    return result


def _per_query_median(ops: list[OpRecord]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            by.setdefault(o.op_id.split(":", 1)[1], []).append(o.latency_s)
    return {k: round(harness.median(v), 4) for k, v in sorted(by.items())}


CORPUS_LAYER = (
    "queries.build_s", "queries.eager_jobs", "operators.lineage_cuts",
    "operators.spill_writes", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "action.exec_s", "action.jobs", "action.stages",
    "action.tasks", "action.task_run_s", "action.task_cpu_s", "action.gc_s",
    "action.busy_ratio", "shuffle.write_bytes", "shuffle.read_bytes",
    "spill.memory_bytes", "spill.disk_bytes",
)


def run_passes(spark, queries, todo, expected, tracer, clients, cores) -> list[OpRecord]:
    """Closed loop over the executions `todo` (see `plan`), in order: each of
    `clients` threads takes the next one as soon as its last one returns."""
    it = iter(todo)
    lock = threading.Lock()
    out: list[OpRecord] = []

    def client():
        while True:
            with lock:
                op_id, name, traced = next(it, (None, None, None))
            if op_id is None:
                return
            rec = run_query(spark, name, queries[name], DATA_DIR, expected.get(name),
                            tracer, op_id, traced, cores)
            with lock:
                out.append(rec)

    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out
