"""stream: seeded transcripts through ``streaming.engine`` in two phases.

- Drain (closed loop): an availableNow drain of a pre-written backlog
  in large micro-batches, through ``stream_win_tb`` (TB sliding,
  RocksDB state) and through ``stream_cb_windows`` over ``turn_idx``;
  each drain's sink plus its EOS flush is checked against DuckDB.
- Live (open loop): one generator thread writes a file every
  ``FILE_EVERY_S`` on a wall-clock schedule at a fixed rate, each
  event stamped with its scheduled creation time, into a watermarked
  tumbling ``stream_win_tb`` with a processingTime trigger. A window's
  emit latency is the time the sink received its row minus the
  creation time of the window's last event.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks
import gen
import tracing
from harness import Run, percentile
from windflow_spark.operators.windows import WinSpec
from windflow_spark.streaming import engine as se

# 6,000 conversations with F1's lengths: 33,057 turns
BACKLOG = {"n_convs": 6_000, "n_files": 2}
# One file per micro-batch: stream_cb_windows needs each key's rows to
# reach it in id order, which Spark keeps only when a micro-batch is one
# file read by one task (probes.cb_multi_file_batch tracks the rest).
FILES_PER_TRIGGER = 1
# the warm-up drains read a smaller backlog (12,165 turns)
WARM_BACKLOG = {**BACKLOG, "n_convs": 1_000}
TB_WIN_S, TB_SLIDE_S = 60, 15
CB_WIN, CB_SLIDE = 8, 4
# live feed at FIXTURES.md F10's rate and shape: a file of 2,000 events
# every 250 ms, keys assigned round-robin; KEYS conversations in 250 ms
# tumbling windows with zero watermark delay
RATE, FILE_EVERY_S, LIVE_WIN_MS = 8000, 0.25, 250
# 4 windows/s over the 4 s measured (half of an 8 s run) give 16 window
# ends per key: 125 keys give 2,000 results, twice LIVE_MIN_SAMPLES
KEYS = 125
LIVE_WARM_S = 1.5
# windows ending after the warm-up that a run must emit, so p99 has at
# least 10 samples beyond it; the feed runs on past the measuring time
# (up to LIVE_EXTEND_S) until the sink has received them
LIVE_MIN_SAMPLES, LIVE_EXTEND_S = 1000, 10.0
# A trigger interval well above the batch time keeps batches on the
# epoch-aligned trigger grid: with back-to-back batches the period snaps
# between multiples of a short interval as the batch time drifts, and
# the emit latency jumps with it from run to run.
TRIGGER = "1 second"
PARAMS = {
    "backlog": BACKLOG, "warm_backlog": WARM_BACKLOG, "files_per_trigger": FILES_PER_TRIGGER,
    "tb_window_s": [TB_WIN_S, TB_SLIDE_S], "cb_window": [CB_WIN, CB_SLIDE],
    "live": {"rate_per_s": RATE, "keys": KEYS, "file_every_s": FILE_EVERY_S,
             "window_ms": LIVE_WIN_MS, "trigger": TRIGGER, "warm_s": LIVE_WARM_S},
}


def drain(df, name: str, out: Path) -> None:
    """availableNow drain of ``df`` into a parquet sink under ``out``."""
    q = (df.writeStream.format("parquet").queryName(name)
         .option("path", str(out / "sink")).option("checkpointLocation", str(out / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(f"{name} did not drain")


def run(r: Run, inputs) -> None:
    backlog = inputs.transcripts(r.seed, **BACKLOG)
    warm_backlog = inputs.transcripts(r.seed, **WARM_BACKLOG)
    spark = r.start_spark(streaming=True)
    schema = spark.read.parquet(str(backlog)).schema
    tb_spec, cb_spec = WinSpec("tb", TB_WIN_S, TB_SLIDE_S), WinSpec("cb", CB_WIN, CB_SLIDE)
    cb_aggs = {"chars": ("sum", "n_chars"), "cnt": ("count", None)}
    base = r.work / "stream"

    def tb_query(path=backlog):
        src = se.stream_source(r.spark, str(path), schema, max_files_per_trigger=FILES_PER_TRIGGER)
        aggs = {"cnt": F.count(F.lit(1)), "chars": F.sum(F.length("text"))}
        return se.stream_win_tb(src, ["conv_id"], "ts", tb_spec, aggs, watermark="1 minute")

    def cb_query(path=backlog):
        src = se.stream_source(r.spark, str(path), schema, max_files_per_trigger=FILES_PER_TRIGGER)
        return se.stream_cb_windows(src.withColumn("n_chars", F.length("text").cast("double")),
                                    "conv_id", "turn_idx", None, cb_spec, aggs=cb_aggs)

    # warm-up: one drain of each query over a smaller backlog, side by side
    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(drain, tb_query(warm_backlog), "warm_tb", base / "warm_tb"),
                  pool.submit(drain, cb_query(warm_backlog), "warm_cb", base / "warm_cb")]:
            f.result()
    r.state["tb_query"] = tb_query
    r.state["warm_backlog"] = warm_backlog
    if r.trace:
        r.state["progress"] = progress = tracing.ProgressCollector()
        progress.attach(spark)

    tb_walls, cb_walls = [], []

    def once(i: int) -> None:
        for kind, make, walls in (("tb", tb_query, tb_walls), ("cb", cb_query, cb_walls)):
            name = f"drain_{kind}.{i}"
            t0 = time.perf_counter()
            with r.op(name):
                drain(make(), name.replace(".", "_"), base / name)
            walls.append(time.perf_counter() - t0)

    # half of the measuring time drains, half feeds the live query
    r.mark_setup_done()
    walls = r.timed_loop(once, r.seconds / 2)
    r.metric("op_s", walls, "s")
    n = int(gen.conversation_sizes(BACKLOG["n_convs"]).sum())
    r.info["drain_tb_rows_per_s"] = (n / statistics.median(tb_walls), "1/s", len(tb_walls))
    r.info["drain_cb_rows_per_s"] = (n / statistics.median(cb_walls), "1/s", len(cb_walls))
    r.layer["streaming.drain_tb_rows_per_s"] = r.info["drain_tb_rows_per_s"][0]
    r.layer["streaming.drain_cb_rows_per_s"] = r.info["drain_cb_rows_per_s"][0]

    live = Live(r, base / "live", schema)
    live.run(r.seconds / 2)

    last = len(walls) - 1
    con = checks.duck({"tx": f"{backlog}/*.parquet"})
    r.verify("drain_tb", lambda: tb_mismatch(r, con, base / f"drain_tb.{last}", tb_spec))
    r.verify("drain_cb", lambda: cb_mismatch(r, con, base / f"drain_cb.{last}", cb_spec, cb_aggs))
    r.verify("live", live.mismatch)
    con.close()


def _flush(r: Run, df_fn, span: str = "streaming.flush"):
    with r.spans.span(span):
        return df_fn().toPandas()


def tb_mismatch(r: Run, con, out: Path, spec) -> str | None:
    """Sink plus EOS flush of a TB drain against DuckDB over ``tx``."""

    emitted = r.spark.read.parquet(str(out / "sink")).select(
        "conv_id", "gwid", "cnt", F.col("chars").cast("double").alias("chars")).toPandas()
    flushed = _flush(r, lambda: se.flush_tb_partials(
        r.spark, str(out / "ckpt"), ["conv_id"], spec, aggs={"cnt": "count", "chars": "sum"}
    ).select("conv_id", "gwid", "cnt", F.col("chars").cast("double").alias("chars")))
    want = con.execute(f"""
        SELECT conv_id, gwid, count(*) AS cnt, cast(sum(length(text)) AS DOUBLE) AS chars
        FROM (SELECT conv_id, text, unnest(range(
                cast(floor((epoch_us(ts) - {TB_WIN_S * 10**6}) / {TB_SLIDE_S * 10**6}.0) AS BIGINT) + 1,
                cast(floor(epoch_us(ts) / {TB_SLIDE_S * 10**6}.0) AS BIGINT) + 1)) AS gwid
              FROM tx)
        GROUP BY 1, 2""").df()
    return checks.compare(pd.concat([emitted, flushed], ignore_index=True), want)


def cb_mismatch(r: Run, con, out: Path, spec, aggs, flush_span: str = "streaming.flush") -> str | None:
    """Sink plus EOS flush of a CB drain (aggs as in ``run``) against
    DuckDB over ``tx``; the flush is timed as ``flush_span``."""
    emitted = r.spark.read.parquet(str(out / "sink")).toPandas()
    flushed = _flush(r, lambda: se.flush_cb_partials(r.spark, str(out / "ckpt"), "conv_id", spec, aggs=aggs),
                     flush_span)
    want = con.execute(f"""
        SELECT conv_id, gwid, cast(sum(length(text)) AS DOUBLE) AS chars,
               count(*) AS cnt, gwid * {CB_SLIDE} + {CB_WIN - 1} AS win_end
        FROM (SELECT conv_id, text, unnest(range(
                greatest(0, cast(floor((turn_idx - {CB_WIN}) / {CB_SLIDE}.0) AS BIGINT) + 1),
                cast(floor(turn_idx / {CB_SLIDE}.0) AS BIGINT) + 1)) AS gwid
              FROM tx)
        GROUP BY 1, 2""").df()
    return checks.compare(pd.concat([emitted, flushed], ignore_index=True), want)


class Live:
    """The open-loop phase: generator thread, query, sink and checks."""

    def __init__(self, r: Run, base: Path, schema):
        self.r = r
        self.dir = base / "in"
        self.ckpt = base / "ckpt"
        self.dir.mkdir(parents=True)
        self.schema = schema
        self.received: list[tuple[int, float, list]] = []
        self.lags: list[float] = []
        self.rows_written = 0
        self.measured = 0
        self.stop_feed = threading.Event()
        self.rng = np.random.default_rng([r.seed, 4])

    def feed(self) -> None:
        """Write one file per FILE_EVERY_S on the wall-clock schedule;
        the events of a file are created evenly over the interval
        before its due time."""
        per_file = int(RATE * FILE_EVERY_S)
        step_us = int(FILE_EVERY_S * 1e6) // per_file
        t0 = time.time()
        k = 0
        while not self.stop_feed.is_set():
            due = t0 + (k + 1) * FILE_EVERY_S
            wait = due - time.time()
            if wait > 0:
                self.stop_feed.wait(wait)
                if self.stop_feed.is_set():
                    break
            created = int((due - FILE_EVERY_S) * 1e6) + np.arange(per_file) * step_us
            keys = (k * per_file + np.arange(per_file)) % KEYS
            df = pd.DataFrame({
                "conv_id": pd.Series(keys).map("live-{:04d}".format),
                "turn_idx": np.full(per_file, k, dtype=np.int32),
                "role": gen.ROLE_CYCLE[keys % 4],
                "text": pd.Series(self.rng.integers(0, 10**6, per_file)).map("live turn {}".format),
                "tool": "none",
                "ts": created.astype("datetime64[us]"),
            })
            tmp = self.dir / f".part-{k:06d}.tmp"
            gen.write_parquet(df, tmp)
            os.replace(tmp, self.dir / f"part-{k:06d}.parquet")
            self.lags.append((time.time() - due) * 1e3)
            self.rows_written += per_file
            k += 1

    def sink(self, df, batch_id: int) -> None:
        rows = df.collect()
        self.received.append((batch_id, time.time(), rows))
        self.measured += sum(self._measured(row) for row in rows)

    def _measured(self, row) -> bool:
        return row["gwid"] * LIVE_WIN_MS * 1000 >= self.measure_from * 1e6

    def run(self, measure_s: float) -> None:
        r = self.r
        spec = WinSpec("tb", LIVE_WIN_MS, LIVE_WIN_MS)
        src = se.stream_source(r.spark, str(self.dir), self.schema)
        out = se.stream_win_tb(
            src, ["conv_id"], "ts", spec,
            {"cnt": F.count(F.lit(1)), "chars": F.sum(F.length("text")),
             "last_us": F.max(F.unix_micros("ts"))},
            watermark="0 seconds", unit="millisecond")
        feeder = threading.Thread(target=self.feed, daemon=True)
        self.measure_from = time.time() + LIVE_WARM_S
        feeder.start()
        with r.op("live"):  # the query's jobs inherit the tag at start
            q = (out.writeStream.queryName("live").foreachBatch(self.sink)
                 .option("checkpointLocation", str(self.ckpt)).outputMode("append")
                 .trigger(processingTime=TRIGGER).start())
        try:
            t_end = self.measure_from + measure_s
            while time.time() < t_end or (
                self.measured < LIVE_MIN_SAMPLES * 1.1 and time.time() < t_end + LIVE_EXTEND_S
            ):
                time.sleep(0.05)
            self.stop_feed.set()
            feeder.join(timeout=10)
            r.layer["feed.backlog_rows"] = float(self.rows_written - self._rows_read(q))
            q.processAllAvailable()
            # let a trailing no-data batch finish before stopping
            for _ in range(50):
                if not q.status["isTriggerActive"]:
                    break
                time.sleep(0.05)
        finally:
            q.stop()
            self.stop_feed.set()
            feeder.join(timeout=10)
        committed = max((int(p.name) for p in (self.ckpt / "commits").iterdir()
                         if p.name.isdigit()), default=-1)
        self.emitted = [(t, row) for b, t, rows in self.received if b <= committed for row in rows]
        lat = [(t - row["last_us"] / 1e6) * 1e3 for t, row in self.emitted if self._measured(row)]
        r.check("live.samples", len(lat) >= LIVE_MIN_SAMPLES, f"only {len(lat)} measured windows")
        if not lat:  # nothing emitted while measuring: the latency exceeded it
            lat = [(time.time() - self.measure_from) * 1e3]
        r.latencies(lat, 99)
        r.info["emit_p50_ms"] = r.e2e["latency_p50_ms"]
        r.info["emit_p99_ms"] = (percentile(lat, 99), "ms", len(lat))
        r.layer["feed.lag_p99_ms"] = percentile(self.lags, 99)
        r.info["live_rows"] = self.rows_written

    def _rows_read(self, q) -> int:
        """Rows the query has taken in so far (0 without progress)."""
        return sum(p.get("numInputRows", 0) for p in (q.recentProgress or []))

    def mismatch(self) -> str | None:
        """Sink rows of committed batches plus the EOS flush against
        DuckDB over every file the feed wrote."""
        r = self.r
        spec = WinSpec("tb", LIVE_WIN_MS, LIVE_WIN_MS)
        emitted = pd.DataFrame([row.asDict() for _, row in self.emitted])
        flushed = _flush(r, lambda: se.flush_tb_partials(
            r.spark, str(self.ckpt), ["conv_id"], spec,
            aggs={"cnt": "count", "chars": "sum", "last_us": "max"}, unit="millisecond"))
        got = pd.concat([emitted, flushed], ignore_index=True).astype(
            {"cnt": "int64", "chars": "float64", "last_us": "int64"})
        con = checks.duck({"live": f"{self.dir}/*.parquet"})
        want = con.execute(f"""
            SELECT conv_id, cast(floor(epoch_us(ts) / {LIVE_WIN_MS * 1000}.0) AS BIGINT) AS gwid,
                   count(*) AS cnt, cast(sum(length(text)) AS DOUBLE) AS chars,
                   max(epoch_us(ts)) AS last_us
            FROM live GROUP BY 1, 2""").df()
        con.close()
        return checks.compare(got, want)


def after_trace(r: Run) -> None:
    """Streaming-progress layers, then streaming.speedup_vs_1core: one
    TB drain in a fresh local[1] context, after a warm-up drain there,
    against the median local[n] TB drain (same shuffle partitions, so
    the same plan)."""
    progress = r.state["progress"]
    progress.detach(r.spark)
    r.layer.update(_progress_layers(progress))
    tn = statistics.median(
        r.spans.durations(f"drain_tb.{i}")[0] for i in range(r.info["ops_timed"]))
    r.spark.stop()
    r.start_spark(streaming=True, master="local[1]")
    drain(r.state["tb_query"](r.state["warm_backlog"]), "warm_tb_1core", r.work / "stream" / "warm_tb_1core")
    t0 = time.perf_counter()
    drain(r.state["tb_query"](), "drain_tb_1core", r.work / "stream" / "drain_tb_1core")
    r.layer["streaming.speedup_vs_1core"] = (time.perf_counter() - t0) / tn


def _progress_layers(progress: tracing.ProgressCollector) -> dict[str, float]:
    out = {}
    groups = {"drain": [b for name, bs in progress.by_query.items()
                        if name.startswith("drain_") for b in bs],
              "live": progress.by_query.get("live", [])}
    for phase, batches in groups.items():
        m = tracing.progress_metrics(batches)
        for k in ("batches", "rows_per_batch", *tracing.DURATION_KEYS):
            out[f"streaming.{phase}.{k}"] = m[k]
        if phase == "drain":
            for k in ("state.commit_ms", "state.rows_total", "state.memory_bytes"):
                out[k] = m[k]
    out["state.rows_dropped_by_watermark"] = sum(
        tracing.progress_metrics(bs)["state.rows_dropped_by_watermark"] for bs in groups.values())
    return out


def layers(r: Run, log: tracing.EventLog, n_ops: int) -> None:
    ops = [f"drain_{k}.{i}" for k in ("tb", "cb") for i in range(n_ops)]
    r.layer_exec(log, ops, n_ops)
    flushes = r.spans.durations("streaming.flush")
    r.layer["streaming.flush_ms"] = sum(flushes) * 1e3 / len(flushes) if flushes else 0.0
