"""Interleaved parent/change A/B, judged by the rule a change is held to.

    python tools/ab.py --parent <rev> [--change <rev>] [--pairs N] <target> ...

Each named revision is checked out with ``git worktree add --detach``
into a temporary directory, which is removed again on every exit path;
``--change`` defaults to this working tree, uncommitted edits included.
Pair i runs the parent first when i is even and the change first when it
is odd. Every run is one subprocess in its arm's tree. A target is one of:

- a ``BENCHMARK.json`` workload: ``perfbench/run.py`` for the file's
  ``run_seconds`` with ``--trace 0`` and seed 101 + i on both sides of
  pair i; the metrics are the file's end-to-end ones, with their bounds;
- ``query:<registry name>`` (a unique ``<name>_`` prefix also matches, so
  ``query:q1``): one untimed warm pass, then two timed passes over the
  tables at ``$SPARK_GRAFT_SF_DIR`` (the sf0.1 tables, as for
  ``bench.py``); the metric is ``op_s``, the median timed pass;
- ``bench:<hotlog|substring|fingerprint>``: the arm's own ``bench.py``
  ``_stream_*_ctx`` fixture; batch 0, the bootstrap, is dropped and four
  batches are timed; the metric is ``op_s``, the median batch.

A run fails when it exits non-zero, prints no last-line JSON object, or
reports ``failed > 0`` or ``correct: false``. Failed runs are counted per
side and shown, never dropped. The verdict rule is :func:`verdict`. The
report is a table; its last stdout line holds the same numbers as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10  # a gain needs at least this many pairs ...
WIN_SHARE = 0.9  # ... with the change better in this share of all of them
FIRST_SEED = 101
RUN_TIMEOUT_S = 1800
BENCH_CTX = {"hotlog": "_stream_admission_ctx", "substring": "_stream_substring_ctx",
             "fingerprint": "_stream_fingerprint_ctx"}
OP_S = {"op_s": ("lower", None)}

# one query: or bench: run, executed with the arm's tree as working directory
_CHILD = r"""
import json, os, shutil, statistics, sys, tempfile, time
from pyspark_ingestion_spark.session import get_spark_session

kind, arg = sys.argv[1:]
spark = get_spark_session(app_name="ab")
tmp = tempfile.mkdtemp(prefix="ab_")
try:
    if kind == "query":
        from pyspark_ingestion_spark.queries import all_queries

        reg = all_queries()
        names = [k for k in reg if k == arg] or [k for k in reg if k.startswith(arg + "_")]
        if len(names) != 1:
            sys.exit(f"query {arg!r} matches {names}")
        fn, sf = reg[names[0]].fn, os.environ["SPARK_GRAFT_SF_DIR"]

        def run(_):
            t0 = time.perf_counter()
            fn(spark, sf).collect()
            return time.perf_counter() - t0

        times = [run(i) for i in range(3)][1:]  # pass 0 warms, untimed
    else:
        import bench

        run = getattr(bench, arg)(spark, tmp + "/t")
        times = [run(b) for b in range(5)][1:]  # batch 0 is the bootstrap
finally:
    shutil.rmtree(tmp, ignore_errors=True)
spark.stop()
print(json.dumps({"metrics": {"op_s": {"value": statistics.median(times)}},
                  "times": times}))
"""


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def verdict(parent: list, change: list, better: str, bound: float | None) -> dict:
    """Judge one metric over paired runs. ``parent[i]`` and ``change[i]``
    are pair i's values, None where that run failed; ``better`` is
    ``"higher"`` or ``"lower"``; ``bound`` is the metric's relative bound
    from ``BENCHMARK.json``, or None when it has none.

    - ``gain``: at least MIN_PAIRS pairs, the change better in at least
      WIN_SHARE of all pairs (a tie, or a pair with a failed run, counts
      for neither side), and the medians apart by more than the parent's
      interquartile range, in the better direction;
    - ``worse``: the change's median worse than the parent's by more than
      the bound;
    - ``unresolved``: either side's IQR/median wider than the bound,
      unless every change run beats every parent run;
    - ``same`` otherwise. Without a bound only the gain test is made, and
      its negative reads ``no gain``. ``failed`` when a side has no run."""
    sign = 1 if better == "higher" else -1
    p = [x for x in parent if x is not None]
    c = [x for x in change if x is not None]
    n = len(parent)
    wins = sum(a is not None and b is not None and sign * (b - a) > 0
               for a, b in zip(parent, change))
    out = {"pairs": n, "wins": wins, "failed": [n - len(p), n - len(c)]}
    if not p or not c:
        return {**out, "verdict": "failed"}
    mp, mc, iqr = statistics.median(p), statistics.median(c), _iqr(p)
    out.update(parent={"median": mp, "min": min(p), "max": max(p), "iqr": iqr},
               change={"median": mc, "min": min(c), "max": max(c), "iqr": _iqr(c)},
               delta=(mc - mp) / abs(mp) if mp else None)
    if n >= MIN_PAIRS and wins >= WIN_SHARE * n and sign * (mc - mp) > iqr:
        return {**out, "verdict": "gain"}
    if bound is None:
        return {**out, "verdict": "no gain"}
    if -sign * (mc - mp) > bound * abs(mp):
        return {**out, "verdict": "worse"}
    spread = max(iqr / abs(mp) if mp else 0.0, _iqr(c) / abs(mc) if mc else 0.0)
    dominates = all(sign * (b - a) > 0 for a in p for b in c)
    return {**out, "verdict": "unresolved" if spread > bound and not dominates else "same"}


def _targets(names: list[str], cfg: dict) -> dict:
    """target -> (argv for the run of a seed, {metric: (better, bound)})."""
    e2e = {m["name"]: (m["better"], m["bound"]) for m in cfg["end_to_end"]}
    workloads = {w["name"] for w in cfg["workloads"]}
    out = {}
    for t in names:
        kind, _, arg = t.partition(":")
        if t in workloads:
            out[t] = (lambda s, w=t: [*cfg["command"], "--workload", w, "--seed", str(s),
                                      "--seconds", str(cfg["run_seconds"]), "--trace", "0"],
                      e2e)
        elif kind == "query" and arg:
            out[t] = (lambda s, q=arg: [sys.executable, "-c", _CHILD, "query", q], OP_S)
        elif kind == "bench" and arg in BENCH_CTX:
            out[t] = (lambda s, b=BENCH_CTX[arg]: [sys.executable, "-c", _CHILD, "bench", b],
                      OP_S)
        else:
            raise SystemExit(f"unknown target {t!r}: one of {sorted(workloads)}, "
                             f"query:<registry name>, bench:<{'|'.join(BENCH_CTX)}>")
    return out


def _run(argv: list[str], tree: str) -> dict | None:
    """One run's last-line JSON object, or None when the run failed."""
    try:
        p = subprocess.run(argv, cwd=tree, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except json.JSONDecodeError:
        out = None
    if (not isinstance(out, dict) or out.get("failed", 0) > 0
            or out.get("correct") is False):
        print(f"  failed run (exit {p.returncode}):\n{p.stderr[-1500:]}", file=sys.stderr)
        return None
    return out


def _value(out: dict | None, metric: str) -> float | None:
    return None if out is None else out["metrics"].get(metric, {}).get("value")


def _worktree(rev: str, tmp: str, made: list[str]) -> str:
    path = os.path.join(tmp, f"tree{len(made)}")
    made.append(path)
    subprocess.run(["git", "worktree", "add", "--detach", path, rev], cwd=ROOT,
                   check=True, capture_output=True)
    return path


def _cells(r: dict) -> tuple:
    p, c, delta = r.get("parent"), r.get("change"), r.get("delta")
    return (r["target"], r["metric"],
            *(f"{s['median']:.4g} [{s['min']:.4g}..{s['max']:.4g}]" if s else "-"
              for s in (p, c)),
            f"{p['iqr']:.3g}" if p else "-", f"{r['wins']}/{r['pairs']}",
            "{}/{}".format(*r["failed"]), "-" if delta is None else f"{delta:+.1%}",
            r["verdict"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="the parent revision")
    ap.add_argument("--change", help="the change revision (default: the working tree)")
    ap.add_argument("--pairs", type=int, default=MIN_PAIRS)
    ap.add_argument("targets", nargs="+")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        targets = _targets(args.targets, json.load(f))
    if any(t.startswith("query:") for t in targets) and not os.environ.get(
            "SPARK_GRAFT_SF_DIR"):
        raise SystemExit("query: targets read $SPARK_GRAFT_SF_DIR; set it to the sf0.1 tables")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp, made = tempfile.mkdtemp(prefix="ab_"), []
    runs = {(t, side): [] for t in targets for side in ("parent", "change")}
    try:
        arms = {"parent": _worktree(args.parent, tmp, made),
                "change": _worktree(args.change, tmp, made) if args.change else ROOT}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for t, (cmd, metrics) in targets.items():
                for side in order:
                    out = _run(cmd(FIRST_SEED + i), arms[side])
                    runs[t, side].append(out)
                    got = "FAILED" if out is None else " ".join(
                        f"{m}=" + ("-" if (v := _value(out, m)) is None else f"{v:.4g}")
                        for m in metrics)
                    print(f"pair {i + 1}/{args.pairs} {t} {side}: {got}", file=sys.stderr,
                          flush=True)
    finally:
        for path in made:
            subprocess.run(["git", "worktree", "remove", "--force", path], cwd=ROOT,
                           capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)

    rows = [{"target": t, "metric": m, "better": better, "bound": bound,
             **verdict([_value(o, m) for o in runs[t, "parent"]],
                      [_value(o, m) for o in runs[t, "change"]], better, bound)}
            for t, (_, metrics) in targets.items() for m, (better, bound) in metrics.items()]
    head = ("target", "metric", "parent median [min..max]", "change median [min..max]",
            "parent IQR", "wins", "failed p/c", "delta", "verdict")
    table = [head] + [_cells(r) for r in rows]
    widths = [max(len(row[k]) for row in table) for k in range(len(head))]
    for row in table:
        print("  ".join(cell.ljust(w) for cell, w in zip(row, widths)).rstrip())
    print(json.dumps({"parent": args.parent, "change": args.change or "working tree",
                      "pairs": args.pairs, "rows": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
