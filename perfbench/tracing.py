"""Traced-run tooling: in-memory spans, Spark event-log accounting and
a streaming-progress collector.

Everything here observes the program from outside: spans wrap calls
into its public functions, the event log is Spark's own
(``spark.eventLog.enabled``, uncompressed, not rolling), and progress
comes from a ``StreamingQueryListener`` the benchmark attaches.
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

# Local property that tags every Spark job with the benchmark
# operation that submitted it.
OP_PROPERTY = "perfbench.op"
# Local property that tags a job with the line of the watched source
# file (``call_sites``) that submitted it.
SITE_PROPERTY = "perfbench.callsite"


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its child spans cover
    (children clipped to the parent, overlaps counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length([(s, e) for s, e in clipped if e > s])


class Spans:
    """Spans kept in memory: ``(id, name, parent, start, end)``, times
    in epoch seconds (the event log's clock); written out at exit.
    Disabled, ``span`` records nothing and yields None."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.rows)
        row = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.rows.append(row)
        self._stack.append(sid)
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.rows if r["name"] == name]

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(r) for r in self.rows) + "\n")


def _innermost_line(filename: str) -> int | None:
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_filename == filename:
            return f.f_lineno
        f = f.f_back
    return None


@contextmanager
def call_sites(sc, filename: str):
    """Inside, tag every Spark job with the line of ``filename`` that is
    innermost on the Python stack of the call that submitted it
    (``SITE_PROPERTY``; unset when ``filename`` is not on the stack).

    PySpark sets Spark's own call site for a few actions only, so this
    wraps py4j's method call: before each call into the JVM, the
    calling thread's tag is updated when its line changed."""
    from py4j.java_gateway import JavaMember

    jsc = sc._jsc
    orig = JavaMember.__call__
    local = threading.local()

    def call(member, *args):
        if not getattr(local, "busy", False):
            site = _innermost_line(filename)
            if site != getattr(local, "site", None):
                local.busy = True
                try:
                    jsc.setLocalProperty(SITE_PROPERTY, None if site is None else str(site))
                finally:
                    local.busy = False
                local.site = site
        return orig(member, *args)

    JavaMember.__call__ = call
    try:
        yield
    finally:
        JavaMember.__call__ = orig
        jsc.setLocalProperty(SITE_PROPERTY, None)


def _metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in plan.get("children", []):
        _metric_types(child, out)


# SQL metric name -> per-layer key; timings are normalised to ms.
SQL_METRICS = {
    "sort time": "sort.ms",
    "time in aggregation build": "agg.ms",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_out",
    "data returned from Python workers": "python.bytes_in",
}
TASK_KEYS = [
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.tasks", "scan.bytes",
    "spill.bytes", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.fetch_wait_ms",
]


class EventLog:
    """Per-operation accounting over one application's event log.

    Jobs are attributed to the operation named by their ``OP_PROPERTY``
    local property (and to a call site by ``SITE_PROPERTY``); a stage
    belongs to the job that submitted it, and a task to its stage."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stage_op: dict[int, str] = {}
        self.acc_types: dict[int, tuple[str, str]] = {}
        self.totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.stage_reads: dict[tuple[str, int], list[float]] = defaultdict(list)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            op = props.get(OP_PROPERTY)
            site = props.get(SITE_PROPERTY)
            self.jobs[ev["Job ID"]] = {"op": op, "site": None if site is None else int(site),
                                       "start": ev["Submission Time"] / 1e3, "end": None}
            for sid in ev["Stage IDs"]:
                self.stage_op[sid] = op
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1e3
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _metric_types(ev.get("sparkPlanInfo", {}), self.acc_types)
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)

    def _task(self, ev: dict) -> None:
        op = self.stage_op.get(ev["Stage ID"])
        if op is None:
            return
        t = self.totals[op]
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["exec.tasks"] += 1
        t["exec.run_ms"] += m.get("Executor Run Time", 0)
        t["exec.cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        t["exec.gc_ms"] += m.get("JVM GC Time", 0)
        t["scan.bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        t["spill.bytes"] += m.get("Disk Bytes Spilled", 0)
        t["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        t["shuffle.read_bytes"] += read
        t["shuffle.fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        self.stage_reads[(op, ev["Stage ID"])].append(read)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name, mtype = self.acc_types.get(acc.get("ID"), (acc.get("Name"), None))
            key = SQL_METRICS.get(name)
            upd = acc.get("Update")
            if key is None or upd is None:
                continue
            v = float(upd)
            if mtype == "nsTiming":
                v /= 1e6
            t[key] += v

    def op_totals(self, ops) -> dict[str, float]:
        """Sums of task and SQL metrics over the jobs of ``ops``."""
        out: dict[str, float] = defaultdict(float)
        for op in ops:
            for k, v in self.totals.get(op, {}).items():
                out[k] += v
        return dict(out)

    def job_intervals(self, op: str) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs.values()
                if j["op"] == op and j["end"] is not None]

    def site_intervals(self, op: str) -> dict[int | None, list[tuple[float, float]]]:
        """The job intervals of ``op`` by call site."""
        out: dict[int | None, list[tuple[float, float]]] = defaultdict(list)
        for j in self.jobs.values():
            if j["op"] == op and j["end"] is not None:
                out[j["site"]].append((j["start"], j["end"]))
        return dict(out)

    def shuffle_skew(self, ops) -> float:
        """max ÷ median per-task shuffle read (÷ mean when the median task
        read nothing) on the widest shuffle-reading stage of ``ops`` (most
        tasks, then most bytes); 0 without one."""
        cands = [(len(v), sum(v), v) for (op, _s), v in self.stage_reads.items()
                 if op in ops and sum(v) > 0]
        if not cands:
            return 0.0
        reads = max(cands, key=lambda c: (c[0], c[1]))[2]
        return max(reads) / (statistics.median(reads) or statistics.mean(reads))


def event_log_path(log_dir: Path, app_id: str) -> Path:
    """The finished event log of application ``app_id``."""
    path = log_dir / app_id
    if not path.is_file():
        raise RuntimeError(f"no finished event log for {app_id} in {log_dir}")
    return path


class ProgressCollector:
    """Streaming progress per query name, from a listener attached to
    the session (``attach``/``detach``)."""

    def __init__(self):
        self.by_query: dict[str, list[dict]] = defaultdict(list)
        self._listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                outer.by_query[p.get("name") or "?"].append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None


DURATION_KEYS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}


def progress_metrics(batches: list[dict]) -> dict[str, float]:
    """Per-batch medians of the trigger phases, and state-store figures,
    over the progress records of batches that read input."""
    data = [b for b in batches if b.get("numInputRows", 0) > 0]
    out = {"batches": float(len(data)),
           "rows_per_batch": statistics.mean(b["numInputRows"] for b in data) if data else 0.0}
    for key, phase in DURATION_KEYS.items():
        vals = [b.get("durationMs", {}).get(phase, 0) for b in data]
        out[key] = float(statistics.median(vals)) if vals else 0.0
    commits = [sum(s.get("commitTimeMs", 0) for s in b.get("stateOperators", [])) for b in data]
    out["state.commit_ms"] = float(statistics.median(commits)) if commits else 0.0
    last = batches[-1].get("stateOperators", []) if batches else []
    out["state.rows_total"] = float(sum(s.get("numRowsTotal", 0) for s in last))
    out["state.memory_bytes"] = float(max(
        (sum(s.get("memoryUsedBytes", 0) for s in b.get("stateOperators", [])) for b in batches),
        default=0))
    out["state.rows_dropped_by_watermark"] = float(sum(
        s.get("numRowsDroppedByWatermark", 0) for b in batches for s in b.get("stateOperators", [])))
    return out
