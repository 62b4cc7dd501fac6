"""stream_window: the micro-batch engine at a fixed offered rate.

Open loop: the `rate` source offers RATE rows/s on the wall clock whether
or not the engine keeps up. Pipeline, all from the program:
`generator.synthetic.synthetic_stream` (4 source partitions) ->
`streaming.windows.windowed_counts` (1 s tumbling window, 2 s watermark,
keyed by event_type) in update mode -> `streaming.sink.idempotent_dir_sink`
with batch stamps, writing parquet, on a 1 s processing-time trigger with
state sized by `streaming.filesource.state_partitions(n=4)`.

One op is one micro-batch; its latency is the progress event's
`triggerExecution`. The per-layer split is the progress `durationMs`
breakdown, read from outside the program.

Correctness: after the stop, every window's latest emission, summed over
event types, equals a recount of the ids the processed batches read,
stamped by the rate source's own timestamp rule; and every event type is
one the generator's pool holds. The event type of a given id cannot be
recounted: the micro-batch engine re-seeds `rand` with a fresh random
seed in every batch, so `synthetic_stream`'s seed does not fix it.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

import numpy as np

from harness import Env, OpRecord, Run
import spans as tr

RATE = 200_000
PARTITIONS = 4
TRIGGER_S = 1.0
#: Batches let pass before measuring: the batch time keeps falling for the
#: first 12-14 batches while the JVM compiles the per-batch path.
WARMUP_BATCHES = 15
FIELDS = [
    {"name": "event_id", "type": "string"},
    {"name": "event_type", "type": "string"},
    {"name": "amount", "type": "double"},
]
KEY_INDEX = 1  # position of event_type in FIELDS: its rand seed is seed + 1

STREAM_LAYER = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.get_batch_ms": "getBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def _offset(v) -> int:
    """Rate-source offset: whole seconds since the stream started."""
    return 0 if v in (None, "None", "null") else int(json.loads(v) if isinstance(v, str) else v)


def _epoch_ms(iso: str) -> int:
    return int(round(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000))


def recount_windows(batches: list[dict]) -> dict[int, int]:
    """window start (epoch ms) -> rows, rebuilt from the ids each batch
    read and the rate source's timestamp rule: id v of a batch covering
    seconds [s, e) is stamped creation + 1000*s + round((v - R*s) * ms),
    with ms = 1000*(e - s) / (R*(e - s)) as a double and Java's
    round-half-up. The creation time is the first batch's min event time."""
    first = next((b for b in batches if b["p"]["numInputRows"] > 0), None)
    if first is None:
        return {}
    creation = _epoch_ms(first["p"]["eventTime"]["min"]) - 1000 * _offset(first["start"])
    out: dict[int, int] = {}
    for b in batches:
        s, e = _offset(b["start"]), _offset(b["end"])
        if e <= s:
            continue
        lo, hi = s * RATE, e * RATE
        ms_per_id = float(1000 * (e - s)) / float(hi - lo)
        x = np.arange(hi - lo, dtype=np.float64) * ms_per_id
        fl = np.floor(x)
        ts = creation + 1000 * s + (fl + (x - fl >= 0.5)).astype(np.int64)
        win, n = np.unique(ts // 1000 * 1000, return_counts=True)
        for w, c in zip(win.tolist(), n.tolist()):
            out[w] = out.get(w, 0) + c
    return out


def emitted_windows(spark, sink_dir: str, last_batch: int) -> tuple[dict[int, int], set[str]]:
    """(window start ms -> sum over event types of the latest emitted
    count, event types seen), from the sink's committed batches up to
    `last_batch`."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pipegen_spark.streaming.sink import read_committed

    df = read_committed(spark, sink_dir).filter(F.col("_batch_id") <= last_batch)
    w = Window.partitionBy("window_start", "event_type").orderBy(F.col("_batch_id").desc())
    latest = df.withColumn("_rk", F.row_number().over(w)).filter("_rk = 1")
    rows = (latest.groupBy(F.unix_millis("window_start").alias("w"))
            .agg(F.sum("cnt").alias("n"), F.collect_set("event_type").alias("types"))
            .collect())
    return {int(r["w"]): int(r["n"]) for r in rows}, {t for r in rows for t in r["types"]}


def run(env: Env, kind: str, seed: int, seconds: float, trace: bool) -> Run:
    spark = env.start_spark("perfbench-stream")
    session_s = time.perf_counter() - env.t0

    from pipegen_spark.generator.synthetic import STRING_POOLS, synthetic_stream
    from pipegen_spark.streaming.filesource import state_partitions
    from pipegen_spark.streaming.sink import idempotent_dir_sink
    from pipegen_spark.streaming.windows import windowed_counts

    sink_dir = env.path("sink")
    sink = idempotent_dir_sink(sink_dir, stamp_batch=True)
    write_ms: dict[int, float] = {}
    if trace:
        plain = sink

        def sink(df, batch_id):  # odd batches are the traced ones
            if batch_id % 2 == 0:
                return plain(df, batch_id)
            t = time.perf_counter()
            plain(df, batch_id)
            write_ms[batch_id] = (time.perf_counter() - t) * 1000.0

    result = Run(workload=kind, seed=seed)
    with state_partitions(spark, n=4):
        src = synthetic_stream(spark, FIELDS, RATE, seed=seed, num_partitions=PARTITIONS)
        counts = windowed_counts(src, "_emit_ts", "1 second", ["event_type"],
                                 watermark="2 seconds")
        query = (
            counts.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", env.path("checkpoint"))
            .trigger(processingTime=f"{int(TRIGGER_S)} seconds")
            .start()
        )
        try:
            while len(query.recentProgress) < WARMUP_BATCHES:
                if query.exception() is not None:
                    break
                time.sleep(0.05)
            warm_ids = {p["batchId"] for p in query.recentProgress}
            result.setup_s = time.perf_counter() - env.t0
            t_meas = time.perf_counter()
            time.sleep(seconds)
            result.measured_s = time.perf_counter() - t_meas
            progress = [json.loads(p.json) for p in query.recentProgress]
            failure = query.exception()
        finally:
            spark.sparkContext.setLogLevel("FATAL")  # the stop aborts the in-flight batch
            try:
                query.stop()
            finally:
                spark.sparkContext.setLogLevel("ERROR")

    batches = [
        {"id": p["batchId"], "start": p["sources"][0]["startOffset"],
         "end": p["sources"][0]["endOffset"], "p": p}
        for p in progress
    ]
    measured = [b for b in batches if b["id"] not in warm_ids]
    for b in measured:
        p = b["p"]
        trig = float(p["durationMs"].get("triggerExecution", 0.0))
        result.ops.append(OpRecord(
            op_id=f"b{b['id']}", latency_s=trig / 1000.0,
            items=float(p["numInputRows"]), traced=trace and b["id"] % 2 == 1,
        ))
    # zero-row batches only advance the watermark: their rate is not a rate
    result.ops = [o for o in result.ops if o.items > 0] or result.ops
    if failure is not None:
        result.ops.append(OpRecord(op_id="query", latency_s=0.0, ok=False,
                                   error=str(failure)[:200]))

    want = recount_windows(batches)
    got, types = emitted_windows(spark, sink_dir, max(b["id"] for b in batches)) \
        if batches else ({}, set())
    if want != got or not types <= set(STRING_POOLS["event_type"]):
        result.ops.append(OpRecord(op_id="check", latency_s=0.0, ok=False, wrong=True,
                                   error="window totals differ from the id recount"))
    input_rows = sum(int(b["p"]["numInputRows"]) for b in batches)
    overruns = sum(o.latency_s > TRIGGER_S for o in result.ops)
    result.detail = {
        "rate_rows_per_s": RATE,
        "batches": len(measured),
        "session_s": round(session_s, 3),
        "rows_checked": input_rows,
        "windows_checked": len(want),
        "recount_equal": want == got,
        "overrun_batches": overruns,
    }
    if trace:
        tracer = tr.Tracer()
        traced = [b for b in measured if b["id"] % 2 == 1 and b["p"]["numInputRows"] > 0]
        for b in traced:
            op, p = f"b{b['id']}", b["p"]
            for metric, key in STREAM_LAYER.items():
                tracer.add(metric, float(p["durationMs"].get(key, 0.0)), op=op)
            state = (p.get("stateOperators") or [{}])[0]
            tracer.add("stream.state_commit_ms", float(state.get("commitTimeMs", 0)), op=op)
            tracer.add("stream.state_rows", float(state.get("numRowsTotal", 0)), op=op)
            tracer.add("stream.state_memory_bytes", float(state.get("memoryUsedBytes", 0)), op=op)
            tracer.add("stream.input_rows", float(p["numInputRows"]), op=op)
            tracer.add("sink.write_ms", write_ms.get(b["id"], 0.0), op=op)
        names = list(STREAM_LAYER) + [
            "stream.state_commit_ms", "stream.state_rows", "stream.state_memory_bytes",
            "stream.input_rows", "sink.write_ms"]
        result.layer.update(tracer.layer_means([f"b{b['id']}" for b in traced], names))
        result.layer["stream.overrun_batches"] = float(overruns)
        result.layer["session.start_s"] = session_s
        tracer.write(os.path.join(env.traces, f"{kind}-{seed}.json"),
                     {"workload": kind, "seed": seed, "progress": [b["p"] for b in batches]})
    return result
