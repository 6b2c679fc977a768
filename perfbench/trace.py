"""Per-layer metrics of a traced run.

Spans are taken in the benchmark around each public call (``harness.Spans``).
Spark's own event log (enabled through the session's ``extra_conf``) adds
jobs, stages, tasks and SQL executions; a ``StreamingQueryListener`` adds
the trigger durations. A job belongs to the span that is open when it is
submitted — by time, not by job group, because the sinks' overlapped
writes run on plain thread pools and ``foreachBatch`` on the stream
thread, neither of which inherits a job group. The program itself is not
instrumented.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field

SPAN_KEYS = ("s", "driver_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
             "gc_s", "shuffle_mb", "output_mb", "write_tasks", "commit_s")
READ_KEYS = SPAN_KEYS[:9]  # for read-only spans, which write nothing to commit
SPANS = {
    "sources.readers.read_file": SPAN_KEYS,
    "ingestion.pipeline.ingest_table": SPAN_KEYS,
    "ingestion.cdc.cdc_upsert": SPAN_KEYS,
    "ingestion.rollup.maintain_rollup": SPAN_KEYS,
    "streaming.pipeline.stream_dedup_admission": SPAN_KEYS,
    "streaming.pipeline.stream_substring_admission": SPAN_KEYS,
    "streaming.pipeline.stream_fingerprint_admission": SPAN_KEYS,
    "queries.build": READ_KEYS,
    "queries.plan": READ_KEYS,
    "queries.exec": READ_KEYS,
}
_SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"


@dataclass
class Job:
    submit: float
    end: float = 0.0
    exec_id: int | None = None
    stages: list = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    write_tasks: int = 0


@dataclass
class EventLog:
    jobs: dict
    stages: dict  # stage id -> StageTotals
    sql: dict  # execution id -> [start ms, end ms]


def read_event_log(directory: str) -> list[dict]:
    """Every event of the (uncompressed, possibly rolled) log under ``directory``."""
    def index(path: str) -> int:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = [f for f in glob.glob(f"{directory}/**/*", recursive=True)
             if os.path.isfile(f) and "events" in os.path.basename(f)
             and not f.endswith((".crc", ".inprogress"))]
    if len({os.path.dirname(f) for f in files}) > 1:
        raise ValueError(f"{directory} holds the logs of more than one application")
    events = []
    for path in sorted(files, key=index):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def parse_events(events: list[dict]) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, list] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            job = jobs[e["Job ID"]] = Job(e["Submission Time"],
                                          exec_id=int(eid) if eid is not None else None,
                                          stages=list(e["Stage IDs"]))
            for s in job.stages:
                stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault(e["Stage ID"], StageTotals())
            st.tasks += 1
            st.run_ms += m["Executor Run Time"]
            st.cpu_ns += m["Executor CPU Time"]
            st.gc_ms += m["JVM GC Time"]
            st.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            out = m["Output Metrics"]["Bytes Written"]
            st.output_bytes += out
            st.write_tasks += out > 0
        elif kind == _SQL + "Start":
            sql.setdefault(e["executionId"], [e["time"], None])[0] = e["time"]
        elif kind == _SQL + "End":
            sql.setdefault(e["executionId"], [None, e["time"]])[1] = e["time"]
    # a stage runs in the first job that lists it; later jobs skip it
    for jid, job in jobs.items():
        job.stages = [s for s in job.stages if stage_job[s] == jid]
    return EventLog(jobs, stages, sql)


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(log: EventLog, spans: list, window: tuple) -> tuple[dict, int]:
    """Per span name, the mean per call of every ``SPAN_KEYS`` metric;
    plus the number of jobs submitted inside ``window`` but in no span."""
    by_span: dict[int, list] = {}
    unattributed = 0
    for jid, job in log.jobs.items():
        owner = next((k for k, (_, t0, t1) in enumerate(spans) if t0 <= job.submit <= t1),
                     None)
        if owner is not None:
            by_span.setdefault(owner, []).append(job)
        elif window[0] <= job.submit <= window[1]:
            unattributed += 1
    sums: dict[str, dict] = {}
    calls: dict[str, int] = {}
    for k, (name, t0, t1) in enumerate(spans):
        jobs = by_span.get(k, [])
        stage_ids = [s for j in jobs for s in j.stages if s in log.stages]
        st = [log.stages[s] for s in stage_ids]
        # commit: a writing SQL execution's end minus the end of its last job
        writes = {j.exec_id for j in jobs if j.exec_id is not None
                  and any(log.stages[s].write_tasks for s in j.stages if s in log.stages)}
        last_job_end: dict[int, float] = {}
        for j in jobs:
            if j.exec_id in writes:
                last_job_end[j.exec_id] = max(last_job_end.get(j.exec_id, 0), j.end)
        commit_ms = sum(max(0.0, log.sql[x][1] - end) for x, end in last_job_end.items()
                        if x in log.sql and log.sql[x][1] is not None)
        row = {
            "s": (t1 - t0) / 1000,
            "driver_s": ((t1 - t0) - _covered([(j.submit, j.end or t1) for j in jobs],
                                               t0, t1)) / 1000,
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": sum(x.tasks for x in st),
            "task_run_s": sum(x.run_ms for x in st) / 1000,
            "task_cpu_s": sum(x.cpu_ns for x in st) / 1e9,
            "gc_s": sum(x.gc_ms for x in st) / 1000,
            "shuffle_mb": sum(x.shuffle_bytes for x in st) / 1e6,
            "output_mb": sum(x.output_bytes for x in st) / 1e6,
            "write_tasks": sum(x.write_tasks for x in st),
            "commit_s": commit_ms / 1000,
        }
        acc = sums.setdefault(name, dict.fromkeys(SPAN_KEYS, 0.0))
        for key in SPAN_KEYS:
            acc[key] += row[key]
        calls[name] = calls.get(name, 0) + 1
    return {n: {k: v / calls[n] for k, v in acc.items()} for n, acc in sums.items()}, unattributed


def _ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def trigger_metrics(progress: list[dict], spans: list) -> dict:
    """Streaming trigger split from listener records: mean addBatch and
    mean non-addBatch time per trigger, and mean time per sink call spent
    outside triggers (query start and stop)."""
    streaming = [(t0, t1) for name, t0, t1 in spans if name.startswith("streaming.")]
    trig = [p for p in progress
            if any(t0 <= p["ts_ms"] <= t1 for t0, t1 in streaming)]
    data = [p for p in trig if p["rows"] > 0]
    outside = []
    for t0, t1 in streaming:
        inside = sum(p["duration_ms"].get("triggerExecution", 0) for p in trig
                     if t0 <= p["ts_ms"] <= t1)
        outside.append((t1 - t0 - inside) / 1000)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    return {
        "streaming.trigger.add_batch_s":
            mean([p["duration_ms"].get("addBatch", 0) / 1000 for p in data]),
        "streaming.trigger.overhead_s":
            mean([(p["duration_ms"].get("triggerExecution", 0)
                   - p["duration_ms"].get("addBatch", 0)) / 1000 for p in trig]),
        "streaming.query_start_s": mean(outside),
    }


class Tracer:
    """Collects ``StreamingQueryListener`` progress records."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        records = self.progress = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                records.append({"ts_ms": _ms(p.timestamp), "rows": p.numInputRows,
                                "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark, self.listener = spark, _Listener()
        spark.streams.addListener(self.listener)

    def detach(self) -> None:
        time.sleep(0.5)  # the listener bus delivers asynchronously
        self.spark.streams.removeListener(self.listener)


OTHER = ("streaming.trigger.add_batch_s", "streaming.trigger.overhead_s",
         "streaming.query_start_s", "streaming.admitted_ratio", "session.start_s",
         "env.calib_cpu_start_s", "env.calib_cpu_end_s", "env.steal_s",
         "trace.overhead_pct", "trace.unattributed_jobs")


def per_layer_names() -> list[str]:
    """The per-layer metrics every traced run prints (``BENCHMARK.json``)."""
    from perfbench.wl_query import QUERIES

    return ([f"{s}.{k}" for s, keys in SPANS.items() for k in keys]
            + [f"queries.{q}.s" for q in QUERIES] + list(OTHER))


def per_layer(wl, spans: list, tracer, eventlog_dir: str, window: tuple, ops: list,
              env: dict, untraced_items_per_s: float, items_per_s: float) -> dict:
    """Every name of ``per_layer_names``; zero for the spans and queries
    the traced workload never runs."""
    from perfbench.wl_query import QUERIES

    log = parse_events(read_event_log(eventlog_dir))
    per_span, unattributed = attribute(log, spans, window)
    out = {}
    for name, keys in SPANS.items():
        row = per_span.get(name, dict.fromkeys(SPAN_KEYS, 0.0))
        for key in keys:
            out[f"{name}.{key}"] = row[key]
    for shape in QUERIES:
        secs = [o.seconds for o in ops if o.name == shape]
        out[f"queries.{shape}.s"] = statistics.median(secs) if secs else 0.0
    out.update(trigger_metrics(tracer.progress, spans))
    rows = getattr(wl, "rows", 0)
    out.update({
        "streaming.admitted_ratio": wl.admitted / rows if rows else 0.0,
        "session.start_s": env["session_start_s"],
        "env.calib_cpu_start_s": env["calib_cpu_s_start"],
        "env.calib_cpu_end_s": env["calib_cpu_s_end"],
        "env.steal_s": env["steal_s"],
        "trace.unattributed_jobs": unattributed,
    })
    if untraced_items_per_s:  # else every untraced op failed: no baseline
        out["trace.overhead_pct"] = (100.0 * (untraced_items_per_s - items_per_s)
                                     / untraced_items_per_s)
    return {k: {"value": v, "unit": unit_of(k)} for k, v in out.items()}


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s") or last == "s":
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_pct"):
        return "%"
    if last.endswith("ratio"):
        return "ratio"
    return "count"
