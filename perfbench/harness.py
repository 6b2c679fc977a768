"""Measurement plumbing shared by the workloads: Spark session life
cycle, process-tree CPU from ``/proc``, the weather probe, spans and the
closed measurement loop."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

#: Spark runs on local[N]; N is fixed here, never the factory's local[*]
LOCAL_N = min(4, os.cpu_count() or 1)
_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` and every live descendant, each with its
    reaped children's time: the Python driver, the JVM and the Python
    workers the JVM forks."""
    root = os.getpid() if root is None else root
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        rest = raw[raw.rindex(b")") + 2:].split()
        stats[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot
    (``steal`` in /proc/stat): weather, recorded next to the results."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def calib_cpu_s() -> float:
    """Wall seconds of a fixed CPU-bound loop: a weather diagnostic only,
    never used to scale a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


class CheckError(AssertionError):
    """An op ran but its output differs from the generator's expectation."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckError(what)


@dataclass
class Spans:
    """Flat spans around public calls, kept in memory. ``enabled=False``
    makes ``span`` a no-op timer so untraced runs pay nothing."""

    enabled: bool = False
    records: list = field(default_factory=list)

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, owner: Spans, name: str):
        self.owner, self.name = owner, name

    def __enter__(self):
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        if self.owner.enabled:
            self.owner.records.append((self.name, self.t0 * 1000, time.time() * 1000))
        return False


def start_spark(work: str, trace: bool):
    """Start the program's session on local[N] with every scratch path
    inside ``work``; return (spark, seconds to a finished first job)."""
    from pyspark_ingestion_spark.session import get_spark_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # -XX:-UsePerfData: no JVM counters file under /tmp
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp "
                                         f"-Dderby.system.home={work}/tmp",
    }
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM
    if trace:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    t0 = time.perf_counter()
    spark = get_spark_session(app_name="perfbench", master=f"local[{LOCAL_N}]",
                              shuffle_partitions=LOCAL_N, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(LOCAL_N * 2).selectExpr("id % 2 AS k").groupBy("k").count().collect()
    return spark, time.perf_counter() - t0


def stop_event_log(spark) -> None:
    """Detach Spark's event-log writer from the live context once it has
    written every event posted so far, so the rest of the session runs
    untraced; the context's stop still closes the log file."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger()
    if logger.isDefined():
        sc.listenerBus().waitUntilEmpty()
        sc.removeSparkListener(logger.get())


def stop_jvm() -> None:
    """Shut down the JVM behind the (stopped) sessions and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


@dataclass
class Op:
    name: str  # op shape, e.g. the query or the sink
    seconds: float
    cpu_s: float
    steal_s: float
    items: int
    ok: bool


def run_op(wl, i: int) -> Op:
    """One timed op plus its (untimed) output check. ``wl.op(i)`` returns
    (items, output); ``wl.check(i, output)`` raises if the output is wrong."""
    c0, st0, t0 = tree_cpu_s(), steal_s(), time.perf_counter()
    ok = True
    try:
        items, out = wl.op(i)
    except Exception as e:  # a failed op counts against attempted
        print(f"op {i} failed: {e!r}"[:2000], file=sys.stderr)
        items, ok = 0, False
    secs, cpu, steal = time.perf_counter() - t0, tree_cpu_s() - c0, steal_s() - st0
    if ok:
        try:
            wl.check(i, out)
        except Exception as e:  # a wrong output is a failed op
            print(f"op {i} check failed: {e!r}"[:2000], file=sys.stderr)
            ok = False
    return Op(wl.shape(i), secs, cpu, steal, items, ok)


def warm_up(wl) -> list[Op]:
    """The untimed first op of every shape. Shapes whose ops touch no
    common state (``wl.independent_shapes``) warm up side by side, which
    takes the cold start of each off the set-up time but not out of it."""
    if getattr(wl, "independent_shapes", False):
        with ThreadPoolExecutor(wl.round_len) as pool:
            return list(pool.map(lambda i: run_op(wl, i), range(wl.round_len)))
    return [run_op(wl, i) for i in range(wl.round_len)]


def measure(wl, seconds: float, start: int) -> list[Op]:
    """Closed loop, one client: from op ``start``, run whole rounds of
    ``wl.round_len`` ops until the ops' own wall time reaches ``seconds``
    (or the staged inputs run out)."""
    ops: list[Op] = []
    i = start
    while sum(o.seconds for o in ops) < seconds and i + wl.round_len <= wl.max_ops:
        for _ in range(wl.round_len):
            ops.append(run_op(wl, i))
            i += 1
    return ops


def op_latency_s(ops: list[Op]) -> float:
    """Geometric mean over op shapes of each shape's median latency, so
    every shape moves it, whichever one happens to be in the middle."""
    shapes: dict[str, list[float]] = {}
    for o in ops:
        shapes.setdefault(o.name, []).append(o.seconds)
    return math.exp(statistics.fmean(math.log(statistics.median(v))
                                     for v in shapes.values()))


def items_per_s(ops: list[Op]) -> float:
    """Items of the correct ops ÷ the wall seconds of all ops."""
    wall = sum(o.seconds for o in ops)
    return sum(o.items for o in ops if o.ok) / wall if wall else 0.0


def end_to_end(ops: list[Op], setup_s: float) -> dict:
    """The end-to-end metrics. Without a single correct item there is no
    CPU cost per item, so that metric is left out rather than read as 0."""
    items = sum(o.items for o in ops if o.ok)
    cpu = sum(o.cpu_s for o in ops)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "items_per_s": {"value": items_per_s(ops), "unit": "1/s"},
        "op_p50_s": {"value": op_latency_s(ops), "unit": "s"},
    }
    if items:
        metrics["cpu_s_per_item"] = {"value": cpu / items, "unit": "s"}
    return metrics
