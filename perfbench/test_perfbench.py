"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import corpus  # noqa: E402
import harness  # noqa: E402
import spans as tr  # noqa: E402
import stream  # noqa: E402
from harness import OpRecord, Run  # noqa: E402

SPEC = harness.load_benchmark(ROOT)
NO_MEMORY = {"jvm_peak_mb": 90.0, "python_workers_mb": 10.0}


def test_same_seed_gives_same_order():
    names = [f"q{i:02d}" for i in range(40)]
    assert corpus.pass_order(names, 5, 1) == corpus.pass_order(names, 5, 1)
    assert corpus.pass_order(names, 5, 1) != corpus.pass_order(names, 6, 1)
    assert corpus.pass_order(names, 5, 1) != corpus.pass_order(names, 5, 2)
    assert sorted(corpus.pass_order(names, 5, 1)) == names


def test_measured_passes_do_not_depend_on_speed():
    assert corpus.measured_passes("corpus_sql", 10, False) == 1
    assert corpus.measured_passes("corpus_ops", 10, False) == 2
    assert corpus.measured_passes("corpus_ops", 1, False) == 1
    assert corpus.measured_passes("corpus_sql", 10, True) == 2


def test_traced_passes_trace_every_query_half_the_time():
    names = [f"q{i:02d}" for i in range(7)]
    todo = corpus.plan(names, 3, range(1, 3), True)
    assert len({op for op, _, _ in todo}) == 14
    for name in names:
        assert sorted(t for _, n, t in todo if n == name) == [False, True]
    assert not any(t for _, _, t in corpus.plan(names, 3, range(1, 3), False))


def test_corpus_tables_are_in_the_benchmark():
    tables = {f.removesuffix(".parquet") for f in os.listdir(corpus.DATA_DIR)}
    assert {"lineitem", "orders", "events", "documents", "embeddings"} <= tables


def test_every_execution_of_the_passes_runs_once():
    calls = []

    def build(spark, data_dir):
        calls.append(1)
        return _FakeDF([(1, "a")])

    todo = corpus.plan(["a", "b", "c"], 1, range(1, 3), False)
    recs = corpus.run_passes(None, {"a": build, "b": build, "c": build}, todo, {},
                             tr.Tracer(), 2, 4)
    assert len(recs) == len(calls) == 6
    assert sorted(r.op_id.split(":")[1] for r in recs) == ["a", "a", "b", "b", "c", "c"]


def test_memory_reads_the_kernels_high_water_mark():
    assert harness.memory_mb(None) == {"jvm_peak_mb": 0.0, "python_workers_mb": 0.0}
    mem = harness.memory_mb(os.getpid())
    assert mem["jvm_peak_mb"] > 1.0


class _FakeDF:
    def __init__(self, rows):
        self._rows = rows
        self.columns = ["k", "v"]

    def collect(self):
        return self._rows


def test_planted_wrong_result_is_counted_failed():
    from pipegen_spark.queries.canon import result_sha256

    right = [(1, "a"), (2, "b")]
    expected = result_sha256(["k", "v"], right)
    t = tr.Tracer()
    ok = corpus.run_query(None, "q", lambda s, d: _FakeDF(right), "", expected,
                          t, "p1:q", False, 4)
    bad = corpus.run_query(None, "q", lambda s, d: _FakeDF([(1, "a"), (2, "X")]), "",
                           expected, t, "p1:q", False, 4)
    boom = corpus.run_query(None, "q", lambda s, d: 1 / 0, "", expected, t, "p1:q", False, 4)
    assert ok.ok and not ok.wrong
    assert not bad.ok and bad.wrong
    assert not boom.ok and not boom.wrong and "ZeroDivisionError" in boom.error

    run = Run(workload="corpus_sql", seed=1, ops=[ok, bad, boom], setup_s=1.0)
    run.rounds = [(False, 1.0, 1.0)]
    detail, final = harness.result_line(run, SPEC, False, NO_MEMORY)
    assert final["attempted"] == 3 and final["failed"] == 2
    assert final["correct"] is False
    assert detail["fail_ratio"] == pytest.approx(2 / 3)


def _fake_run(workload: str) -> Run:
    ops = [OpRecord(op_id=f"p{i % 2}:q{i}", latency_s=0.1 + i / 100, items=1.0,
                    traced=i % 2 == 1) for i in range(30)]
    run = Run(workload=workload, seed=1, ops=ops, setup_s=2.0,
              rounds=[(False, 1.0, 15.0), (True, 1.1, 15.0)],
              detail={"pass_s": 1.0})
    return run


@pytest.mark.parametrize("workload", ["corpus_sql", "corpus_ops", "stream_window",
                                      "pipeline_wire"])
def test_every_metric_is_printed_with_its_unit(workload):
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        detail, final = harness.result_line(_fake_run(workload), SPEC, trace, NO_MEMORY)
        assert set(final) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: v["unit"] for k, v in final["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in final["metrics"].values())
        json.dumps(detail)
    # the workload's own names: every one of them with a unit
    named = detail["metrics"]
    assert {"setup_s", "fail_ratio", "peak_rss_mb"} <= set(named)
    assert all(v["unit"] for v in named.values())


def test_workload_metric_names_cover_all_eleven():
    names = {"setup_s", "fail_ratio", "peak_rss_mb"}
    for family in harness.USER_METRICS.values():
        names |= set(family)
    assert names == {
        "setup_s", "pass_s", "query_p50_s", "query_tail_s", "pipeline_s",
        "pipeline_tail_s", "rows_per_s", "batch_p50_ms", "batch_tail_ms",
        "fail_ratio", "peak_rss_mb",
    }


def test_tail_rule():
    assert harness.tail(list(range(1, 101))) == (90.0, 90.0, 100)
    value, pct, n = harness.tail([5.0, 1.0, 3.0])
    assert (value, pct, n) == (3.0, 50.0, 3)


def test_another_round_keeps_whole_rounds_inside_the_window():
    now = time.perf_counter()
    assert harness.another_round(now, 10.0, [])
    assert harness.another_round(now - 6.0, 10.0, [(False, 6.0, 1.0)])
    assert not harness.another_round(now - 9.0, 10.0, [(False, 9.0, 1.0)])


def test_stream_recount_counts_every_id_once():
    def batch(i, s, e):
        return {"id": i, "start": None if s is None else str(s), "end": str(e),
                "p": {"numInputRows": stream.RATE * (e - (s or 0)),
                      "eventTime": {"min": "2026-01-01T00:00:00.400Z"}}}

    batches = [batch(0, None, 0), batch(1, 0, 2), batch(2, 2, 3)]
    batches[0]["p"]["numInputRows"] = 0
    wins = stream.recount_windows(batches)
    assert sum(wins.values()) == 3 * stream.RATE
    # ids are stamped creation + round(0.005 * k) ms from 00:00:00.400, so
    # the first window holds the ids that round below 600 ms: k < 119900
    assert wins[min(wins)] == 119_900


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, harness.BENCHMARK_JSON), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_sql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
