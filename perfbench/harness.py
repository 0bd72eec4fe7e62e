"""Run infrastructure shared by the workloads: the Spark session, the
timed loop, host and memory sampling from ``/proc``, and the result
record the command prints."""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import threading
import time
import traceback
from pathlib import Path

from tracing import OP_PROPERTY, SQL_METRICS, TASK_KEYS, Spans

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")

# Driver heap sized for a 15 GB host shared with other jobs.
DRIVER_MEMORY = "3g"


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def tree_cpu_s(pid: int) -> float:
    """user+system CPU of the process tree, reaped children included."""
    total = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except OSError:
            continue
    return total / TICK


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class RssSampler:
    """Samples the RSS of this process and all its descendants (the
    driver JVM, the Python worker daemon and its workers) every
    ``period`` seconds until ``stop``; ``peak_mb`` is the highest sum."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


class Run:
    """One benchmark run: operation counts, metrics, host stamps and
    (traced runs) spans."""

    def __init__(self, args, root: Path, work: Path):
        """``args``: the command's parsed ``--trace/--seed/--seconds``."""
        self.root = root
        self.work = work
        self.trace = bool(args.trace)
        self.seed = args.seed
        self.seconds = args.seconds
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.probes: dict[str, bool] = {}
        self.e2e: dict[str, tuple[float, str, int]] = {}
        self.layer: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.spans = Spans(enabled=self.trace)
        # workload objects shared between a workload's phases
        self.state: dict[str, object] = {}
        self.spark = None
        self.setup_done = None
        self.spark_ready = None

    # -- operations -------------------------------------------------
    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one checked operation; a wrong output is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:300])

    def guarded(self, name: str, fn):
        """Run ``fn``; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception as e:  # the run must report, not die, on a bad op
            self.check(name, False, f"{type(e).__name__}: {e}")
            traceback.print_exc()
            return None

    def verify(self, name: str, mismatch) -> None:
        """Count one operation checked by ``mismatch()``, which returns
        None when the output is right and else why it is wrong."""
        self.guarded(name, lambda: self.check(name, (err := mismatch()) is None, err or ""))

    @contextlib.contextmanager
    def op(self, name: str):
        """A traced operation: a span, and (traced runs) the Spark jobs
        submitted inside it tagged with ``name``."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty(OP_PROPERTY)
        sc.setLocalProperty(OP_PROPERTY, name)
        try:
            with self.spans.span(name):
                yield
        finally:
            sc.setLocalProperty(OP_PROPERTY, outer)

    # -- session ----------------------------------------------------
    def start_spark(self, streaming: bool = False, master: str | None = None):
        from windflow_spark.session import get_spark

        n = cores()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            logs = self.work / "eventlog"
            logs.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(logs),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.time()
        self.spark = get_spark(
            "perfbench", master=master or f"local[{n}]", shuffle_partitions=n,
            streaming=streaming, extra_conf=conf,
        )
        if self.spark_ready is None:
            self.spark_ready = time.time()
            self.layer["session.get_spark_s"] = self.spark_ready - t0
        return self.spark

    # -- measurement ------------------------------------------------
    def timed_loop(self, op, seconds: float) -> list[float]:
        """Call ``op(i)`` once, then again while the next call is
        expected to end within ``seconds``; returns each call's wall
        seconds. Steal jiffies and process CPU are stamped beside the
        timings for attribution only."""
        walls = []
        steal0, cpu0 = steal_jiffies(), tree_cpu_s(os.getpid())
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() + statistics.median(walls) <= t_end:
            t0 = time.perf_counter()
            op(len(walls))
            walls.append(time.perf_counter() - t0)
        self.layer["host.steal_jiffies"] = float(steal_jiffies() - steal0)
        self.layer["host.cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        self.info["ops_timed"] = len(walls)
        return walls

    def mark_setup_done(self) -> None:
        """The first timed operation starts now."""
        self.setup_done = time.time()

    def layer_exec(self, log, ops, n_ops: int) -> None:
        """Task and SQL metrics summed over the jobs of ``ops``, per
        timed operation, plus the driver spans recorded around them."""
        totals = log.op_totals(ops)
        for key in TASK_KEYS + list(SQL_METRICS.values()):
            self.layer[key] = totals.get(key, 0.0) / n_ops
        self.layer["shuffle.skew"] = log.shuffle_skew(set(ops))
        for span, key in (("operators.plan_build", "operators.plan_build_ms"),
                          ("driver.compile", "driver.compile_ms")):
            self.layer[key] = sum(self.spans.durations(span)) * 1e3 / n_ops

    def metric(self, name: str, values, unit: str) -> None:
        vals = list(values)
        self.e2e[name] = (float(statistics.median(vals)), unit, len(vals))

    def latencies(self, ms, tail_q: float) -> None:
        """latency_p50_ms, and latency_tail_ms as the ``tail_q``-th
        percentile; each workload fixes ``tail_q`` and which operations
        give samples, so neither moves with the operations that fit in
        ``--seconds``."""
        n = len(ms)
        self.e2e["latency_p50_ms"] = (percentile(ms, 50), "ms", n)
        self.e2e["latency_tail_ms"] = (percentile(ms, tail_q), "ms", n)
        self.info["latency_tail_percentile"] = tail_q


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("no samples")
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM gateway down and wait until every
    process the run started (the JVM, the Python worker daemon and its
    workers) has ended; survivors after 15 s are killed."""
    from pyspark import SparkContext

    started = [p for p in _tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 15
    while (alive := [p for p in started if _running(p)]) and time.time() < deadline:
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
