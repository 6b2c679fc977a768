"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints the result as the last stdout
line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (see ``README.md``). Everything the run writes lives
under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workloads():
    from perfbench.wl_ingest import IngestIncremental
    from perfbench.wl_query import QueryMix
    from perfbench.wl_stream import StreamAdmission

    return {w.name: w for w in (IngestIncremental, QueryMix, StreamAdmission)}


def run(args) -> dict:
    """Start a session, stage the inputs, run the warm-up pass, then the
    timed ops; stop the session and its JVM. A traced run times its ops
    with the event log, the streaming listener and the spans on, then
    times as many again with all three off in the same session, for
    ``trace.overhead_pct``."""
    from perfbench import harness

    wl_cls = _workloads()[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    env = {"seed": args.seed, "local_n": harness.LOCAL_N, "nproc": os.cpu_count(),
           "calib_cpu_s_start": harness.calib_cpu_s()}
    trace = bool(args.trace)
    try:
        spans = harness.Spans()
        spark, start_s = harness.start_spark(work, trace=trace)
        try:
            wl = wl_cls(spark, args.seed, spans)
            t0 = time.perf_counter()
            wl.stage(f"{work}/stage")
            stage_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            warm = harness.warm_up(wl)
            warm_s = time.perf_counter() - t0
            if trace:
                from perfbench.trace import Tracer

                tracer = Tracer(spark)
                spans.enabled = True
            t_begin = time.time() * 1000
            ops = harness.measure(wl, args.seconds, wl.round_len)
            window = (t_begin, time.time() * 1000)
            untraced = []
            if trace:
                tracer.detach()
                spans.enabled = False
                harness.stop_event_log(spark)
                untraced = harness.measure(wl, args.seconds, wl.round_len + len(ops))
        finally:
            spark.stop()
        harness.stop_jvm()
        env["calib_cpu_s_end"] = harness.calib_cpu_s()
        all_ops = warm + ops + untraced
        attempted, failed = len(all_ops), sum(not o.ok for o in all_ops)
        metrics = harness.end_to_end(ops, start_s + stage_s + warm_s)
        env.update(session_start_s=start_s, stage_s=stage_s, warm_s=warm_s,
                   warm_op_s=[o.seconds for o in warm], op_s=[o.seconds for o in ops],
                   steal_s=sum(o.steal_s for o in ops))
        print(json.dumps({"env": env}))
        if trace:
            from perfbench.trace import per_layer

            metrics = per_layer(
                wl, spans.records, tracer, f"{work}/eventlog", window, ops, env=env,
                items_per_s=metrics["items_per_s"]["value"],
                untraced_items_per_s=harness.items_per_s(untraced))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import pyspark_ingestion_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in _workloads():
        print(f"unknown workload {args.workload!r}; one of {sorted(_workloads())}",
              file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
