"""Tests of the benchmark's own parts: the generators and the trace parser.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os

from perfbench import gen, trace

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


# --------------------------------------------------------------------------
# generator determinism
# --------------------------------------------------------------------------


def _stage_all(seed: int, root: str) -> None:
    gen.stage_ingest(gen.IngestPlan(seed, rows=300, n_ops=6), f"{root}/ingest")
    gen.stage_queries(seed, 0.0005, f"{root}/query")
    gen.stage_stream(gen.StreamPlan(seed, corpus_n=40, batch_rows=20), f"{root}/stream", 2)


def _files(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _stage_all(7, f"{tmp_path}/a")
    _stage_all(7, f"{tmp_path}/b")
    names = _files(f"{tmp_path}/a")
    assert names == _files(f"{tmp_path}/b") and len(names) > 20
    _, mismatch, errors = filecmp.cmpfiles(f"{tmp_path}/a", f"{tmp_path}/b", names,
                                           shallow=False)
    assert mismatch == [] and errors == []


def test_different_seed_gives_different_inputs(tmp_path):
    _stage_all(7, f"{tmp_path}/a")
    _stage_all(8, f"{tmp_path}/b")
    names = _files(f"{tmp_path}/a")
    assert names == _files(f"{tmp_path}/b")
    _, mismatch, _ = filecmp.cmpfiles(f"{tmp_path}/a", f"{tmp_path}/b", names,
                                      shallow=False)
    # every data file differs; only the fixed-size dimension tables repeat
    assert set(names) - set(mismatch) == {"query/region.parquet", "query/nation.parquet"}


def test_cdc_feed_changes_each_key_once_per_batch():
    plan = gen.IngestPlan(3, rows=100, n_ops=5)
    live: dict = {}
    dead = 0
    for op in range(5):
        t = plan.cdc_table(op, live)
        keys = t["KEY"].to_pylist()
        assert len(keys) == len(set(keys))
        dead += sum(t["DELETED"].to_pylist())
    assert dead > 0 and sum(len(v) for v in live.values()) == 5 * 100 - dead


def test_substring_reference_rejects_shared_windows_but_not_boilerplate():
    boiler = "x" * 30
    corpus = [(i, f"{boiler} doc{i:03d} " + "abcdefghijklmnopqrst"[i % 5:] + f" tail{i}")
              for i in range(12)]
    ref = gen.SubstringReference(corpus, k=20, max_df=10)
    near = (100, "edited " + corpus[3][1][12:])
    fresh = (101, f"{boiler} completely new text here")
    assert ref.admit([near, fresh]) == {101}


def test_planted_near_duplicates_keep_the_sinks_signal():
    text = "w1 w2 w3 w4"
    assert gen.near_duplicate("hotlog", text).lower().split() == text.split()
    assert gen.near_duplicate("substring", text).endswith("w2 w3 w4")
    shifted = gen.near_duplicate("fingerprint", "AB")
    assert shifted == "BC"
    bmp = gen.bmp_payload("x" * 40)
    assert bmp[:2] == b"BM" and len(bmp) == 54 + 2 * 36


# --------------------------------------------------------------------------
# trace parser
# --------------------------------------------------------------------------


def _job(jid, submit, end, stages, exec_id=None):
    props = {} if exec_id is None else {"spark.sql.execution.id": str(exec_id)}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, run_ms, cpu_ns, gc_ms=0, shuffle=0, out=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Output Metrics": {"Bytes Written": out}}}


def _sql(kind, eid, t):
    return {"Event": f"org.apache.spark.sql.execution.ui.SparkListenerSQLExecution{kind}",
            "executionId": eid, "time": t}


def test_attribution_by_submit_time():
    events = [
        _sql("Start", 1, 1000),
        *_job(0, 1010, 1200, [0, 1], exec_id=1),
        _task(0, 100, 50_000_000, gc_ms=10, shuffle=2_000_000),
        _task(1, 150, 60_000_000, out=500_000),
        _task(1, 50, 10_000_000),
        _sql("End", 1, 1300),
        # a later job lists stage 1 again but skips it
        *_job(1, 1400, 1500, [1, 2]),
        _task(2, 80, 40_000_000),
        # submitted inside the window but in no span
        *_job(2, 2100, 2150, [3]),
        _task(3, 5, 1_000_000),
        # before the window: the warm-up pass
        *_job(3, 100, 150, [4]),
    ]
    spans = [("a.write", 1000, 1600), ("b.idle", 1700, 2000)]
    per_span, unattributed = trace.attribute(trace.parse_events(events), spans,
                                             (900, 2500))
    a = per_span["a.write"]
    assert (a["jobs"], a["stages"], a["tasks"], a["write_tasks"]) == (2, 3, 4, 1)
    assert a["s"] == 0.6
    assert abs(a["driver_s"] - (0.6 - 0.19 - 0.1)) < 1e-9
    assert abs(a["task_run_s"] - 0.38) < 1e-9 and abs(a["task_cpu_s"] - 0.16) < 1e-9
    assert abs(a["gc_s"] - 0.01) < 1e-9 and a["shuffle_mb"] == 2 and a["output_mb"] == 0.5
    assert abs(a["commit_s"] - 0.1) < 1e-9  # SQL end 1300 - last job end 1200
    b = per_span["b.idle"]
    assert b["jobs"] == 0 and b["driver_s"] == b["s"] == 0.3
    assert unattributed == 1


def test_span_metrics_are_means_per_call():
    events = [*_job(0, 10, 20, [0]), _task(0, 4, 0), *_job(1, 110, 130, [1]), _task(1, 8, 0)]
    per_span, _ = trace.attribute(trace.parse_events(events),
                                  [("x", 0, 50), ("x", 100, 150)], (0, 200))
    assert per_span["x"]["jobs"] == 1 and abs(per_span["x"]["task_run_s"] - 0.006) < 1e-9


def test_trigger_metrics():
    spans = [("streaming.pipeline.stream_x", 0, 5000), ("ingestion.other", 6000, 7000)]
    progress = [
        {"ts_ms": 1000, "rows": 10, "duration_ms": {"addBatch": 3000, "triggerExecution": 3500}},
        {"ts_ms": 4600, "rows": 0, "duration_ms": {"triggerExecution": 100}},
        {"ts_ms": 6500, "rows": 5, "duration_ms": {"addBatch": 1, "triggerExecution": 1}},
    ]
    m = trace.trigger_metrics(progress, spans)
    assert m["streaming.trigger.add_batch_s"] == 3.0
    assert m["streaming.trigger.overhead_s"] == (0.5 + 0.1) / 2
    assert abs(m["streaming.query_start_s"] - 1.4) < 1e-9


def test_recorded_event_log():
    """A log Spark recorded for a traced ``ingest_incremental`` op
    (one ``ingest_table``, ``cdc_upsert`` and ``maintain_rollup`` call),
    trimmed to the events the parser reads."""
    events = trace.read_event_log(f"{FIXTURES}/eventlog")
    with open(f"{FIXTURES}/spans.json") as f:
        rec = json.load(f)
    log = trace.parse_events(events)
    per_span, unattributed = trace.attribute(log, [tuple(s) for s in rec["spans"]],
                                             tuple(rec["window"]))
    assert unattributed == 0
    for name, want in rec["expected"].items():
        got = per_span[name]
        for key, value in want.items():
            assert abs(got[key] - value) < 1e-9, (name, key, got[key], value)
    for row in per_span.values():
        assert 0 <= row["driver_s"] <= row["s"] and row["commit_s"] >= 0


# --------------------------------------------------------------------------
# end-to-end metrics
# --------------------------------------------------------------------------


def test_op_latency_counts_every_shape():
    from perfbench import harness

    ops = [harness.Op(n, s, 0.0, 0.0, 1, True)
           for n, s in [("a", 8.0), ("b", 2.0), ("c", 1.0), ("a", 8.0)]]
    # the median op would be "b" in every run; the shapes' geometric mean is not
    assert abs(harness.op_latency_s(ops) - 16 ** (1 / 3)) < 1e-12
    ops[0] = harness.Op("a", 1.0, 0.0, 0.0, 1, True)
    ops[3] = harness.Op("a", 1.0, 0.0, 0.0, 1, True)
    assert abs(harness.op_latency_s(ops) - 2 ** (1 / 3)) < 1e-12


def test_no_correct_item_reports_no_cpu_cost():
    from perfbench import harness

    failed = harness.end_to_end([harness.Op("x", 1.0, 0.5, 0.0, 0, False)], setup_s=2.0)
    assert "cpu_s_per_item" not in failed and failed["items_per_s"]["value"] == 0.0


def test_benchmark_json_names_what_the_runs_print():
    from perfbench import harness
    from perfbench.run import _workloads

    with open(os.path.join(os.path.dirname(FIXTURES), os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == trace.per_layer_names()
    e2e = harness.end_to_end([harness.Op("x", 1.0, 0.5, 0.0, 10, True)], setup_s=2.0)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()}
    assert {w["name"] for w in bench["workloads"]} == set(_workloads())
