"""pipeline_wire: `pipegen run` from scaffold to validated sink and report.

One op: `cli.cmd_init` scaffolds a project, its source and sink are
re-pointed at the Kafka templates (the edit a user makes to leave the
datagen default), and `plans.runner.PipelineRunner.run` produces ROWS
synthetic Avro rows to the in-process `sources.kafka_wire.FakeKafkaBroker`
over the socket, deploys the SQL, processes, consumes the output topic,
validates it and writes the HTML report. A Schema Registry mock is up, as
the reference stack always deploys one. The message rate is set so high
that the producer never waits for a tick, so per-row codec and wire work
dominates.

Correctness per run: every statement succeeded, consumed equals produced
equals ROWS, the consumer stopped on the expected count, and validation
counted ROWS rows with zero missing fields.

Known defect, probed once during set-up and reported, not timed: without
a registry the kafka source decodes the input topic with a schema derived
from the DDL (nullable unions) instead of the writer's schema, and the run
fails with `AvroCodecError: union branch ... out of range`.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import threading
import time
import types
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import harness
from harness import Env, OpRecord, Run
import spans as tr

ROWS = 10_000
#: Rows of the no-registry probe: the decode fails on the first record.
PROBE_ROWS = 100
OUTPUT_SQL = (
    "CREATE TABLE revenue (\n"
    "    name STRING,\n"
    "    total INT\n"
    ") WITH (\n"
    "    'connector' = 'kafka',\n"
    "    'topic' = '${OUTPUT_TOPIC}',\n"
    "    'properties.bootstrap.servers' = '${BOOTSTRAP_SERVERS}',\n"
    "    'format' = 'avro-confluent'\n"
    ");\n"
)

PIPELINE_LAYER = (
    "cli.init_s", "plans.load_s", "registry.s", "kafka.admin_s",
    "kafka.produce_calls", "kafka.produce_records", "kafka.produce_bytes",
    "kafka.produce_s", "kafka.fetch_calls", "kafka.fetch_records",
    "kafka.fetch_bytes", "kafka.fetch_s", "generator.s", "schema.s",
    "plans.execute_s", "plans.execute_jobs", "monitor.validate_s",
    "monitor.report_s", "pipeline.spark_jobs", "pipeline.untraced_s",
)


class RegistryMock:
    """Minimal Schema Registry REST endpoint on localhost."""

    def __init__(self):
        state = {"subjects": {}, "by_id": {}, "next_id": 7}
        self.state = state

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def _json(self, payload, code=200):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path == "/subjects":
                    self._json(list(state["subjects"]))
                elif self.path.startswith("/schemas/ids/"):
                    sid = int(self.path.rsplit("/", 1)[1])
                    if sid in state["by_id"]:
                        self._json({"schema": state["by_id"][sid]})
                    else:
                        self._json({"error_code": 40403}, 404)
                else:
                    self._json({"error_code": 404}, 404)

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                payload = json.loads(self.rfile.read(n))
                subject = self.path.split("/")[2]
                if self.path.endswith("/versions"):
                    sid = state["subjects"].get(subject)
                    if sid is None:
                        sid = state["next_id"]
                        state["next_id"] += 1
                        state["subjects"][subject] = sid
                        state["by_id"][sid] = payload["schema"]
                    self._json({"id": sid})
                elif subject in state["subjects"]:
                    self._json({"id": state["subjects"][subject]})
                else:
                    self._json({"error_code": 40401}, 404)

        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._srv.serve_forever, name="registry")
        self.url = f"http://127.0.0.1:{self._srv.server_address[1]}"

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)


def scaffold(project_dir: str, name: str) -> None:
    """`pipegen init`, then source and sink re-pointed at Kafka."""
    from pipegen_spark import templates as tpl
    from pipegen_spark.cli import cmd_init

    args = types.SimpleNamespace(project_dir=project_dir, project_name=name,
                                 input_csv=None, avro_schema=None, describe=None)
    with contextlib.redirect_stdout(io.StringIO()):
        if cmd_init(args) != 0:
            raise RuntimeError("cmd_init failed")
    with open(os.path.join(project_dir, "sql", "01_create_source_table.sql"), "w") as fh:
        fh.write(tpl.SQL_SOURCE_KAFKA)
    with open(os.path.join(project_dir, "sql", "02_create_output_table.sql"), "w") as fh:
        fh.write(OUTPUT_SQL)


def check(result, rows: int) -> str:
    """'' when the run is correct, else what is wrong with it."""
    bad = [r for r in result.statement_results if r["status"] != "OK"]
    if bad:
        return f"statement failed: {bad[0]['name']}"
    ps = result.producer_stats
    cons = ps.get("consumer", {})
    v = cons.get("validation", {})
    if ps.get("produced") != rows or cons.get("consumed") != rows:
        return f"produced {ps.get('produced')} consumed {cons.get('consumed')} of {rows}"
    if cons.get("stop_reason") != "expected_count":
        return f"consumer stopped on {cons.get('stop_reason')}"
    missing = {k: n for k, n in v.items() if k.startswith("missing_") and n}
    if v.get("total_rows") != rows or missing:
        return f"validation: {v}"
    return ""


def run_pipeline(spark, env: Env, name: str, broker: str, registry_url: str | None,
                 tracer: tr.Tracer, traced: bool, rows: int = ROWS) -> OpRecord:
    from pipegen_spark.plans.runner import PipelineRunner, RunnerConfig

    rec = OpRecord(op_id=name, latency_s=0.0, traced=traced)
    proj = env.path("projects", name)
    sc = spark.sparkContext
    # a rate ten times the row count: one producer tick holds every row
    cfg = RunnerConfig(project_dir=proj, wire_broker=broker, message_rate=10 * rows,
                       duration_seconds=0.1, report_dir=env.path("reports"),
                       variables={"SCHEMA_REGISTRY_URL": registry_url or ""})
    group = sc.setJobGroup if traced else (lambda *a: None)
    t0 = time.perf_counter()
    try:
        group(f"{name}:pipeline", name)
        with tracer.op(name, traced):
            with tracer.span("cli.init_s"):
                scaffold(proj, name)
            result = PipelineRunner(spark, cfg).run()
        rec.latency_s = time.perf_counter() - t0
        rec.error = check(result, rows)
        rec.ok, rec.wrong = not rec.error, bool(rec.error)
        rec.items = float(result.producer_stats.get("consumer", {})
                          .get("validation", {}).get("total_rows", 0))
    except Exception as e:  # a failed run is counted, never dropped
        rec.latency_s = time.perf_counter() - t0
        rec.ok, rec.error = False, harness.error_summary(e)
    finally:
        group("perfbench:idle", "")
    if traced:
        tr.wait_listener_bus(spark)
        pipe_jobs = tr.jobs_in_group(spark, f"{name}:pipeline")
        exec_jobs = tr.jobs_in_group(spark, f"{name}:execute")
        tracer.add("plans.execute_jobs", len(exec_jobs), op=name)
        tracer.add("pipeline.spark_jobs", len(pipe_jobs) + len(exec_jobs), op=name)
        tracer.add("pipeline.untraced_s", rec.latency_s - tracer.top_level_s(name), op=name)
    return rec


def install_tracing(tracer: tr.Tracer, spark) -> None:
    """Wrap the public entry points the runner calls into, module by module."""
    from pipegen_spark.generator import synthetic
    from pipegen_spark.monitor import report, validator
    from pipegen_spark.plans import statements
    from pipegen_spark.plans.executor import SQLPipelineExecutor
    from pipegen_spark.schema import avsc
    from pipegen_spark.sources.kafka_admin import KafkaWireAdmin
    from pipegen_spark.sources.kafka_wire import KafkaWireClient
    from pipegen_spark.sources.registry import SchemaRegistryClient

    def produced(t, args, kwargs, result):
        records = args[3] if len(args) > 3 else kwargs["records"]
        t.add("kafka.produce_calls", 1.0)
        t.add("kafka.produce_records", len(records))
        t.add("kafka.produce_bytes", sum(len(r[1] or b"") for r in records))

    def fetched(t, args, kwargs, result):
        recs = result[2]
        t.add("kafka.fetch_calls", 1.0)
        t.add("kafka.fetch_records", len(recs))
        t.add("kafka.fetch_bytes", sum(len(r[3] or b"") for r in recs))

    tracer.wrap(statements, "load_statements", "plans.load_s")
    tracer.wrap(avsc, "load_schemas", "schema.s")
    tracer.wrap(avsc, "avro_to_struct", "schema.s")
    for attr in ("is_healthy", "get_or_register"):
        tracer.wrap(SchemaRegistryClient, attr, "registry.s")
    for attr in ("delete_topic", "create_all", "list_topics"):
        tracer.wrap(KafkaWireAdmin, attr, "kafka.admin_s")
    tracer.wrap(KafkaWireClient, "produce_v2", "kafka.produce_s", after=produced)
    tracer.wrap(KafkaWireClient, "fetch_v2", "kafka.fetch_s", after=fetched)
    tracer.wrap(synthetic, "generate_from_avro_fields", "generator.s")
    tracer.wrap(validator, "validate", "monitor.validate_s")
    tracer.wrap(report, "write_report", "monitor.report_s")

    sc = spark.sparkContext
    execute = SQLPipelineExecutor.execute

    def in_execute_group(self, *args, **kwargs):
        op = tracer.current_op
        if op is None:
            return execute(self, *args, **kwargs)
        sc.setJobGroup(f"{op}:execute", op)
        try:
            return execute(self, *args, **kwargs)
        finally:
            sc.setJobGroup(f"{op}:pipeline", op)

    SQLPipelineExecutor.execute = in_execute_group
    tracer._undo.append((SQLPipelineExecutor, "execute", execute))
    tracer.wrap(SQLPipelineExecutor, "execute", "plans.execute_s")


def run(env: Env, kind: str, seed: int, seconds: float, trace: bool) -> Run:
    spark = env.start_spark("perfbench-pipeline")
    session_s = time.perf_counter() - env.t0

    from pipegen_spark.sources.kafka_wire import FakeKafkaBroker

    tracer = tr.Tracer()
    if trace:
        install_tracing(tracer, spark)
    result = Run(workload=kind, seed=seed)
    with FakeKafkaBroker() as (host, port), RegistryMock() as registry:
        broker = f"{host}:{port}"
        warm = run_pipeline(spark, env, f"p{seed}-warm", broker, registry.url, tracer, False)
        defect = run_pipeline(spark, env, f"p{seed}-noreg", broker, None, tracer, False,
                              PROBE_ROWS)
        result.setup_s = time.perf_counter() - env.t0
        t_meas = time.perf_counter()
        i = 0
        while harness.another_round(t_meas, seconds, result.rounds):
            i += 1
            traced = trace and i % 2 == 0
            rec = run_pipeline(spark, env, f"p{seed}-{i}", broker, registry.url, tracer, traced)
            result.ops.append(rec)
            result.rounds.append((traced, rec.latency_s, rec.items))
        result.measured_s = time.perf_counter() - t_meas
    result.detail = {
        "rows_per_pipeline": ROWS,
        "pipelines": len(result.ops),
        "session_s": round(session_s, 3),
        "warmup_error": warm.error,
        "known_defect_no_registry": defect.error or "no longer fails",
        "errors": sorted({o.error for o in result.ops if not o.ok})[:5],
    }
    if not warm.ok:
        result.detail["warmup_wrong"] = [warm.error]
    if trace:
        tracer.unwrap_all()
        ops = [o.op_id for o in result.ops if o.traced]
        result.layer.update(tracer.layer_means(ops, PIPELINE_LAYER))
        result.layer["session.start_s"] = session_s
        tracer.write(os.path.join(env.traces, f"{kind}-{seed}.json"),
                     {"workload": kind, "seed": seed})
    return result
