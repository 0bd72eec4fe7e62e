"""Structured Streaming parity + exactly-once tests (SURVEY.md §5.4:
batch == streaming availableNow == resume-from-checkpoint).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import datagen
from tests.conftest import assert_frames_equal
from windflow_spark.operators.windows import WinSpec, epoch_us, win_seq
from windflow_spark.streaming import engine as se


@pytest.fixture(scope="module")
def tx_path(spark, tdir):
    """Transcripts written as several files (per-conv order preserved:
    each conversation lives in exactly one file)."""
    pdf = datagen.gen_transcripts(n_convs=20, seed=42, mean_turns=30)
    path = str(tdir / "transcripts")
    os.makedirs(path, exist_ok=True)
    for shard in range(4):
        part = pdf[pdf["conv_id"].map(lambda c: hash(c) % 4 == shard)]
        if len(part):
            datagen.write_parquet_us(part, f"{path}/part-{shard}.parquet")
    return path


def _schema(spark, path):
    return spark.read.parquet(path).schema


def test_stream_tumbling_equals_batch(spark, tx_path):
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema)
    stream = se.stream_win_tb(
        src, ["conv_id"], "ts", WinSpec("tb", 30, 30),
        aggs={"cnt": F.count(F.lit(1)), "sum_len": F.sum(F.length("text"))},
        watermark="10 seconds", unit="second",
    )
    got = se.run_to_memory(stream, "t_tumb", spark, output_mode="complete").toPandas()
    batch = spark.read.parquet(tx_path)
    want = win_seq(
        batch.withColumn("us", epoch_us("ts")), ["conv_id"], "us",
        WinSpec("tb", 30_000_000, 30_000_000),
        aggs={"cnt": F.count(F.lit(1)), "sum_len": F.sum(F.length("text"))},
        with_win_end=False,
    ).toPandas()
    assert_frames_equal(got, want, ["conv_id", "gwid"])


def test_stream_sliding_equals_batch(spark, tx_path):
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    stream = se.stream_win_tb(
        src, ["conv_id"], "ts", WinSpec("tb", 60, 15),
        aggs={"cnt": F.count(F.lit(1))}, watermark="10 seconds", unit="second",
    )
    got = se.run_to_memory(stream, "t_slide", spark, output_mode="complete").toPandas()
    want = win_seq(
        spark.read.parquet(tx_path).withColumn("us", epoch_us("ts")),
        ["conv_id"], "us", WinSpec("tb", 60_000_000, 15_000_000),
        aggs={"cnt": F.count(F.lit(1))}, with_win_end=False,
    ).toPandas()
    assert_frames_equal(got, want, ["conv_id", "gwid"])


def test_stream_session_equals_batch(spark, tx_path):
    from windflow_spark.operators.sessions import session_windows

    schema = _schema(spark, tx_path)
    gap_s = 60
    src = se.stream_source(spark, tx_path, schema)
    stream = se.stream_session(
        src, ["conv_id"], "ts", f"{gap_s} seconds",
        aggs={"cnt": F.count(F.lit(1))}, watermark="10 seconds",
    )
    got = se.run_to_memory(stream, "t_sess", spark, output_mode="complete").toPandas()
    batch = spark.read.parquet(tx_path).withColumn("us", epoch_us("ts"))
    want = session_windows(
        batch, ["conv_id"], "us", gap_s * 1_000_000, aggs={"cnt": F.count(F.lit(1))}
    ).toPandas()
    # native session_window end is exclusive (last_ts + gap); align on
    # (conv_id, session_start, cnt)
    g = got[["conv_id", "session_start", "cnt"]]
    w = want[["conv_id", "session_start", "cnt"]]
    assert_frames_equal(g, w, ["conv_id", "session_start"])


def test_stream_cb_windows_fired_equal_batch_full_windows(spark, tx_path):
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    spec = WinSpec("cb", 8, 4)
    stream = se.stream_cb_windows(
        src.withColumn("text_len", F.length("text").cast("double")),
        "conv_id", "turn_idx", "text_len", spec,
    )
    got = se.run_to_memory(stream, "t_cb", spark, output_mode="append").toPandas()
    batch = spark.read.parquet(tx_path).withColumn(
        "text_len", F.length("text").cast("double")
    )
    want_all = win_seq(
        batch, ["conv_id"], "turn_idx", spec,
        aggs={"sum_value": F.sum("text_len"), "cnt": F.count(F.lit(1))},
    ).toPandas()
    # stream fires only FULL windows (last tuple seen); batch EOS also
    # flushes partials — restrict to full windows
    maxid = batch.groupBy("conv_id").agg(F.max("turn_idx").alias("m")).toPandas()
    want = want_all.merge(maxid, on="conv_id")
    want = want[want["win_end"] <= want["m"]].drop(columns=["m"])
    assert len(got) > 0
    assert_frames_equal(got, want, ["conv_id", "gwid"])


def test_stream_interval_join_equals_batch(spark, tx_path):
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema)
    left = src.filter(F.col("role") == "assistant").select(
        "conv_id", F.col("turn_idx").alias("a_turn"), F.col("ts").alias("a_ts")
    )
    right = src.filter(F.col("role") == "user").select(
        "conv_id", F.col("turn_idx").alias("u_turn"), F.col("ts").alias("u_ts")
    )
    joined = se.stream_interval_join(
        left, right, ["conv_id"], "a_ts", "u_ts", bound_secs=120,
        watermark="300 seconds",
    ).select("l.conv_id", "a_turn", "u_turn")
    got = se.run_to_memory(joined, "t_join", spark, output_mode="append").toPandas()
    b = spark.read.parquet(tx_path).withColumn("us", epoch_us("ts"))
    bl = b.filter(F.col("role") == "assistant").select(
        "conv_id", F.col("turn_idx").alias("a_turn"), F.col("us").alias("a_us")
    )
    br = b.filter(F.col("role") == "user").select(
        F.col("conv_id").alias("r_conv"), F.col("turn_idx").alias("u_turn"),
        F.col("us").alias("u_us"),
    )
    want = (
        bl.join(
            br,
            (F.col("conv_id") == F.col("r_conv"))
            & (F.col("u_us") <= F.col("a_us"))
            & (F.col("u_us") >= F.col("a_us") - F.lit(120 * 1_000_000)),
        )
        .select("conv_id", "a_turn", "u_turn")
        .toPandas()
    )
    assert len(got) > 0
    assert_frames_equal(got, want, ["conv_id", "a_turn", "u_turn"])


def test_checkpoint_resume_exactly_once(spark, tdir):
    """Kill-and-resume == uninterrupted run (SURVEY.md §7 P4): drain
    phase-1 files, 'crash', add phase-2 files, resume from the same
    checkpoint — sink must equal a single-shot run, no dups/loss."""
    pdf = datagen.gen_transcripts(n_convs=12, seed=7, mean_turns=20)
    src_dir = str(tdir / "resume_src")
    os.makedirs(src_dir, exist_ok=True)
    half = len(pdf) // 2
    datagen.write_parquet_us(pdf.iloc[:half], f"{src_dir}/a.parquet")

    schema = spark.read.parquet(src_dir).schema
    sink = str(tdir / "resume_sink")
    ckpt = str(tdir / "resume_ckpt")

    def q():
        src = se.stream_source(spark, src_dir, schema, max_files_per_trigger=1)
        return src.withColumn("text_len", F.length("text")).select(
            "conv_id", "turn_idx", "text_len"
        )

    se.run_available_now(q(), sink, ckpt)
    n1 = len(spark.read.parquet(sink).toPandas())
    assert n1 == half
    # phase 2: new file arrives, resume from checkpoint
    datagen.write_parquet_us(pdf.iloc[half:], f"{src_dir}/b.parquet")
    se.run_available_now(q(), sink, ckpt)
    got = spark.read.parquet(sink).toPandas()
    assert len(got) == len(pdf)  # exactly-once: no dups, no loss
    want = pdf.assign(text_len=pdf["text"].str.len())[
        ["conv_id", "turn_idx", "text_len"]
    ]
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])
    # idempotent re-run: nothing new
    se.run_available_now(q(), sink, ckpt)
    assert len(spark.read.parquet(sink).toPandas()) == len(pdf)


def test_late_data_dropped_below_watermark(spark, tdir):
    """Watermark late-data policy: a row older than watermark behind the
    max event time is dropped from append-mode aggregation."""
    src_dir = str(tdir / "late_src")
    os.makedirs(src_dir, exist_ok=True)
    base = pd.Timestamp("2026-01-01 00:00:00")
    # file 1: ts up to 10:00; file 2: one very late row (2 hours back)
    f1 = pd.DataFrame(
        {"k": ["a"] * 5, "ts": [base + pd.Timedelta(minutes=m) for m in range(0, 600, 120)], "v": 1.0}
    )
    f2 = pd.DataFrame({"k": ["a"], "ts": [base - pd.Timedelta(hours=2)], "v": 100.0})
    datagen.write_parquet_us(f1, f"{src_dir}/f1.parquet")
    schema = spark.read.parquet(src_dir).schema
    sink, ckpt = str(tdir / "late_sink"), str(tdir / "late_ckpt")

    def run():
        src = se.stream_source(spark, src_dir, schema, max_files_per_trigger=1)
        return se.stream_win_tb(
            src, ["k"], "ts", WinSpec("tb", 3600, 3600),
            aggs={"cnt": F.count(F.lit(1)), "sum_v": F.sum("v")},
            watermark="30 minutes", unit="second",
        )

    se.run_available_now(run(), sink, ckpt)
    datagen.write_parquet_us(f2, f"{src_dir}/f2.parquet")
    se.run_available_now(run(), sink, ckpt)
    out = spark.read.parquet(sink).toPandas()
    # the late row's window (base-2h) must NOT appear
    late_gwid = int((base - pd.Timedelta(hours=2)).value // 1000 // 3_600_000_000)
    assert late_gwid not in set(out["gwid"])


def test_metrics_listener_lineage(spark, tx_path, tdir):
    metrics_path = str(tdir / "metrics.jsonl")
    listener = se.MetricsListener(metrics_path)
    listener.attach(spark)
    try:
        schema = _schema(spark, tx_path)
        src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
        stream = se.stream_win_tb(
            src, ["conv_id"], "ts", WinSpec("tb", 60, 60),
            aggs={"cnt": F.count(F.lit(1))}, watermark="10 seconds", unit="second",
        )
        se.run_to_memory(stream, "t_metrics", spark, output_mode="complete")
        import time

        for _ in range(20):  # listener is async
            if len(listener.rows) >= 2:
                break
            time.sleep(0.5)
    finally:
        listener.detach(spark)
    assert len(listener.rows) >= 2  # one per micro-batch (4 files)
    assert sum(r["num_input_rows"] for r in listener.rows) > 0
    assert os.path.exists(metrics_path)
    assert listener.p99_batch_ms() is not None


def test_metrics_listener_p99_is_nearest_rank():
    """p99 is the ceil(0.99·n)-th smallest batch duration: of 100
    batches that is the 99th, not the maximum."""
    listener = se.MetricsListener("unused.jsonl")
    assert listener.p99_batch_ms() is None
    listener.rows = [{"batch_duration_ms": 7}]
    assert listener.p99_batch_ms() == 7
    listener.rows = [{"batch_duration_ms": d} for d in range(100, 0, -1)]
    assert listener.p99_batch_ms() == 99


def test_stream_accumulate_equals_batch(spark, tx_path):
    """Streaming keyed rolling reduce == batch Accumulator
    (running value after every input tuple)."""
    from windflow_spark.operators.core import accumulate

    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    stream = se.stream_accumulate(
        src.withColumn("text_len", F.length("text").cast("double")),
        "conv_id", "turn_idx", "text_len",
    )
    got = se.run_to_memory(stream, "t_acc", spark, output_mode="append").toPandas()
    batch = spark.read.parquet(tx_path).withColumn(
        "text_len", F.length("text").cast("double")
    )
    want = accumulate(
        batch, ["conv_id"], ["turn_idx"],
        {"running_sum": F.sum("text_len"), "running_cnt": F.count(F.lit(1))},
    ).select("conv_id", "turn_idx", "running_sum", "running_cnt").toPandas()
    want["turn_idx"] = want["turn_idx"].astype("int64")
    assert len(got) == len(want)
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])


def test_ysb_streaming_e2e(spark, tdir):
    """YSB shape in streaming: filter → broadcast static dim join →
    tumbling 10s count+max per campaign (yahoo_app.hpp:149-176),
    streaming result == batch oracle."""
    import datagen as dg

    events_pd, campaigns_pd = dg.gen_ysb(n_events=6000)
    src_dir = str(tdir / "ysb_src")
    os.makedirs(src_dir, exist_ok=True)
    dg.write_parquet_us(events_pd, f"{src_dir}/events.parquet")
    campaigns = spark.createDataFrame(campaigns_pd)

    schema = spark.read.parquet(src_dir).schema
    src = se.stream_source(spark, src_dir, schema)
    joined = (
        src.filter(F.col("event_type") == 0)
        .join(F.broadcast(campaigns), "ad_id")
    )
    stream = se.stream_win_tb(
        joined, ["cmp_id"], "ts", WinSpec("tb", 10, 10),
        aggs={"cnt": F.count(F.lit(1)), "last_us": F.max(F.unix_micros(F.col("ts").cast("timestamp")))},
        watermark="60 seconds", unit="second",
    )
    got = se.run_to_memory(stream, "t_ysb", spark, output_mode="complete").toPandas()
    f = events_pd[events_pd.event_type == 0].merge(campaigns_pd, on="ad_id")
    us = f["ts"].astype("int64") // 1000
    want = (
        f.assign(gwid=us // 10_000_000, u=us)
        .groupby(["cmp_id", "gwid"])
        .agg(cnt=("u", "size"), last_us=("u", "max"))
        .reset_index()
    )
    assert_frames_equal(got, want, ["cmp_id", "gwid"])


def test_union_three_pipes(spark, tx_path):
    """union_test analogue: 3-way union of disjoint sub-streams
    reconstitutes the stream (src/union_test/test_union_3.cpp)."""
    from windflow_spark.api import Pipe

    df = spark.read.parquet(tx_path)
    parts = [Pipe.source(df.filter(F.col("turn_idx") % 3 == i)) for i in range(3)]
    merged = parts[0].union_(parts[1], parts[2]).collect_pandas()
    assert len(merged) == df.count()
    assert merged["turn_idx"].sum() == df.toPandas()["turn_idx"].sum()


def test_stream_cb_out_of_order_drop_parity(spark, tdir):
    """Reference out-of-order drop rule (win_seq.hpp:289-305): a later
    batch delivering earlier ids gets them DROPPED; fired windows match
    an oracle applying the same rule to the arrival sequence."""
    import numpy as np

    src_dir = str(tdir / "ooo_src")
    os.makedirs(src_dir, exist_ok=True)
    # file 1 (batch 1): ids 0..9 and 20..29; file 2 (batch 2): ids
    # 10..19 (late — all ≤ last seen id 29 → dropped) and 30..39
    ids1 = list(range(0, 10)) + list(range(20, 30))
    ids2 = list(range(10, 20)) + list(range(30, 40))
    mk = lambda ids: pd.DataFrame(
        {"k": "c0", "i": np.array(ids, dtype=np.int64),
         "v": np.array(ids, dtype=np.float64)}
    )
    datagen.write_parquet_us(mk(ids1), f"{src_dir}/a.parquet")

    schema = spark.read.parquet(src_dir).schema
    spec = WinSpec("cb", 10, 10)
    sink, ckpt = str(tdir / "ooo_sink"), str(tdir / "ooo_ckpt")

    def run():
        src = se.stream_source(spark, src_dir, schema, max_files_per_trigger=1)
        return se.stream_cb_windows(src, "k", "i", "v", spec, on_late="drop")

    se.run_available_now(run(), sink, ckpt)
    datagen.write_parquet_us(mk(ids2), f"{src_dir}/b.parquet")
    se.run_available_now(run(), sink, ckpt)
    got = spark.read.parquet(sink).toPandas().sort_values("gwid")
    # oracle: arrival order = ids1 then ids2; drop i <= last seen
    survived, last = [], -1
    for i in ids1 + ids2:
        if i > last:
            survived.append(i)
            last = i
    # fired windows: w with all of [w*10, w*10+9] ... fire on last id seen;
    # surviving ids: 0..9, 20..29, 30..39 → windows 0,2,3 fire; window 1 never
    assert got["gwid"].tolist() == [0, 2, 3]
    for _, r in got.iterrows():
        w = int(r["gwid"])
        expect = [i for i in survived if w * 10 <= i < w * 10 + 10]
        assert r["cnt"] == len(expect)
        assert r["sum_value"] == float(sum(expect))


def test_stream_cb_sparse_ids_fire_without_last_id(spark, tdir):
    """Triggerer_CB (window.hpp:49-67): a CB window fires once a later
    id passes its end, even when its own last id never arrives. Key k0
    has ids 0-5, then 9-23 in a second micro-batch; under CB 4/4, gwid 1
    (ids 4-7) holds only 4 and 5 and sits in state across the batch
    boundary. It must reach the sink from the drain itself, leaving no
    window open to flush, and fired ∪ flushed == batch win_seq."""
    src_dir = str(tdir / "sparse_src")
    os.makedirs(src_dir, exist_ok=True)
    for n, ids in enumerate([range(0, 6), range(9, 24)]):
        datagen.write_parquet_us(pd.DataFrame({
            "k": "k0", "i": np.array(ids, dtype=np.int64),
            "v": np.array(ids, dtype=np.float64),
        }), f"{src_dir}/part-{n}.parquet")
    spec = WinSpec("cb", 4, 4)
    src = se.stream_source(spark, src_dir, spark.read.parquet(src_dir).schema,
                           max_files_per_trigger=1)
    sink, ckpt = str(tdir / "sparse_sink"), str(tdir / "sparse_ckpt")
    se.run_available_now(se.stream_cb_windows(src, "k", "i", "v", spec), sink, ckpt)
    fired = spark.read.parquet(sink)
    assert sorted(fired.toPandas()["gwid"]) == [0, 1, 2, 3, 4, 5]
    flushed = se.flush_cb_partials(spark, ckpt, "k", spec, value_col="v")
    assert flushed.count() == 0
    want = win_seq(
        spark.read.parquet(src_dir), ["k"], "i", spec,
        aggs={"sum_value": F.sum("v"), "cnt": F.count(F.lit(1))},
    ).toPandas()
    cols = ["k", "gwid", "sum_value", "cnt", "win_end"]
    got = fired.unionByName(flushed).toPandas()
    assert_frames_equal(got[cols], want[cols], ["k", "gwid"])


def test_stream_hopping_equals_batch(spark, tx_path):
    """Streaming TB hopping (win < slide): the tumbling-of-slide +
    gap-filter route must equal the batch assign_wids hopping plan —
    F.window itself cannot express win < slide."""
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    stream = se.stream_win_tb(
        src, ["conv_id"], "ts", WinSpec("tb", 15, 60),
        aggs={"cnt": F.count(F.lit(1))}, watermark="10 seconds", unit="second",
    )
    got = se.run_to_memory(stream, "t_hop", spark, output_mode="complete").toPandas()
    want = win_seq(
        spark.read.parquet(tx_path).withColumn("us", epoch_us("ts")),
        ["conv_id"], "us", WinSpec("tb", 15_000_000, 60_000_000),
        aggs={"cnt": F.count(F.lit(1))}, with_win_end=False,
    ).toPandas()
    assert len(got) > 0
    assert_frames_equal(got, want, ["conv_id", "gwid"])


def test_stream_nic_skyline_equals_batch(spark, tdir):
    """Streaming NIC whole-window UDF (win_seq.hpp:355-392 analogue):
    the spatial skyline (src/spatial_test/test_spatial_wf.cpp:91-107)
    over sliding windows on a drained stream == the python windowed
    oracle (same fixture as the batch NIC skyline test)."""
    import numpy as np
    import oracle

    rng = np.random.default_rng(5)
    n, base = 150, pd.Timestamp("2026-01-01")
    frames = []
    for k in range(2):
        secs = np.cumsum(rng.integers(1, 5, n)).astype(np.int64)
        frames.append(pd.DataFrame({
            "key": np.int64(k),
            "ts": [base + pd.Timedelta(seconds=int(s)) for s in secs],
            **{f"x{d}": rng.integers(0, 50, n).astype(np.int64) for d in range(3)},
        }))
    pdf = pd.concat(frames, ignore_index=True)
    src_dir = str(tdir / "nic_src")
    os.makedirs(src_dir, exist_ok=True)
    for k in range(2):  # one file per key: per-key order preserved
        datagen.write_parquet_us(pdf[pdf.key == k], f"{src_dir}/k{k}.parquet")

    def _skyline_pts(rows: pd.DataFrame) -> list:
        pts = rows[[f"x{d}" for d in range(3)]].to_numpy()
        keep = []
        for i in range(len(pts)):
            if not any(
                (pts[j] <= pts[i]).all() and (pts[j] < pts[i]).any()
                for j in range(len(pts)) if j != i
            ):
                keep.append(tuple(int(v) for v in pts[i]))
        return sorted(set(keep))

    def nic(w: pd.DataFrame) -> dict:
        return {"pts": [list(p) for p in _skyline_pts(w)]}

    schema = spark.read.parquet(src_dir).schema
    src = se.stream_source(spark, src_dir, schema, max_files_per_trigger=1)
    stream = se.stream_win_tb_nic(
        src, ["key"], "ts", WinSpec("tb", 40, 10), nic, "pts array<array<long>>",
        payload_cols=["x0", "x1", "x2"], watermark="10 seconds", unit="second",
    )
    got = se.run_to_memory(stream, "t_nic", spark, output_mode="complete").toPandas()

    us = pdf.assign(us=pdf["ts"].astype("int64") // 1000)
    ow = oracle.windowed_agg(
        us, ["key"], "us", 40_000_000, 10_000_000,
        lambda w: {"pts": _skyline_pts(w)},
    )
    want = {
        (r["key"], r["gwid"]): r["pts"] for _, r in ow.iterrows()
    }
    assert len(got) == len(want) > 0
    for _, r in got.iterrows():
        g = [tuple(p) for p in r["pts"]]
        assert g == want[(r["key"], r["gwid"])], (r["key"], r["gwid"])


def test_stream_cb_multi_agg_equals_batch(spark, tx_path):
    """Generalized CB fold registry: sum/count/min/max/mean in one
    stateful pass == batch win_seq INC aggregates on full windows."""
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    spec = WinSpec("cb", 10, 5)
    stream = se.stream_cb_windows(
        src.withColumn("text_len", F.length("text").cast("double")),
        "conv_id", "turn_idx", None, spec,
        aggs={
            "s": ("sum", "text_len"), "c": ("count", None),
            "mn": ("min", "text_len"), "mx": ("max", "text_len"),
            "avg": ("mean", "text_len"),
        },
    )
    got = se.run_to_memory(stream, "t_cb_multi", spark, output_mode="append").toPandas()
    batch = spark.read.parquet(tx_path).withColumn(
        "text_len", F.length("text").cast("double")
    )
    want_all = win_seq(
        batch, ["conv_id"], "turn_idx", spec,
        aggs={
            "s": F.sum("text_len"), "c": F.count(F.lit(1)),
            "mn": F.min("text_len"), "mx": F.max("text_len"),
            "avg": F.avg("text_len"),
        },
    ).toPandas()
    maxid = batch.groupBy("conv_id").agg(F.max("turn_idx").alias("m")).toPandas()
    want = want_all.merge(maxid, on="conv_id")
    want = want[want["win_end"] <= want["m"]].drop(columns=["m"])
    got = got[["conv_id", "gwid", "s", "c", "mn", "mx", "avg", "win_end"]]
    want = want[["conv_id", "gwid", "s", "c", "mn", "mx", "avg", "win_end"]]
    assert len(got) > 0
    assert_frames_equal(got, want, ["conv_id", "gwid"])


def test_stream_cb_buffer_reorders_within_bound(spark, tdir):
    """on_late='buffer': cross-batch disorder within the lateness bound
    reproduces the fully-ordered result (NOTES backlog #1) — windows in
    the ripe region fire with complete content; the trailing span stays
    buffered until later data arrives."""
    import numpy as np

    src_dir = str(tdir / "buf_src")
    os.makedirs(src_dir, exist_ok=True)
    rng = np.random.default_rng(3)
    ids = np.arange(60, dtype=np.int64)
    # shuffle within a ±6 disorder bound, split across two files so the
    # disorder crosses batch boundaries
    perm = np.argsort(ids + rng.uniform(-6, 6, len(ids)))
    shuffled = ids[perm]
    mk = lambda a: pd.DataFrame(
        {"k": "c0", "i": a, "v": a.astype(np.float64)}
    )
    datagen.write_parquet_us(mk(shuffled[:30]), f"{src_dir}/a.parquet")
    datagen.write_parquet_us(mk(shuffled[30:]), f"{src_dir}/b.parquet")

    schema = spark.read.parquet(src_dir).schema
    spec = WinSpec("cb", 10, 10)
    src = se.stream_source(spark, src_dir, schema, max_files_per_trigger=1)
    stream = se.stream_cb_windows(
        src, "k", "i", "v", spec, on_late="buffer", lateness=12
    )
    got = (
        se.run_to_memory(stream, "t_cb_buf", spark, output_mode="append")
        .toPandas().sort_values("gwid")
    )
    # ripe region: ids <= 59-12=47 → windows 0..3 fire (win_end 9..39);
    # window 4 (win_end 49) fires only if 49 <= 47 — it stays buffered
    assert got["gwid"].tolist() == [0, 1, 2, 3]
    for _, r in got.iterrows():
        w = int(r["gwid"])
        lo, hi = w * 10, w * 10 + 9
        assert r["cnt"] == 10
        assert r["sum_value"] == float(sum(range(lo, hi + 1)))


def test_stream_cb_hopping_equals_batch(spark, tx_path):
    """Streaming CB hopping (win < slide): gap ids get an empty wid
    range (win_seq.hpp:326-338) instead of blowing up the vectorized
    explosion; fired windows == batch full windows."""
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    spec = WinSpec("cb", 3, 8)
    stream = se.stream_cb_windows(
        src.withColumn("text_len", F.length("text").cast("double")),
        "conv_id", "turn_idx", "text_len", spec,
    )
    got = se.run_to_memory(stream, "t_cb_hop", spark, output_mode="append").toPandas()
    batch = spark.read.parquet(tx_path).withColumn(
        "text_len", F.length("text").cast("double")
    )
    want_all = win_seq(
        batch, ["conv_id"], "turn_idx", spec,
        aggs={"sum_value": F.sum("text_len"), "cnt": F.count(F.lit(1))},
    ).toPandas()
    maxid = batch.groupBy("conv_id").agg(F.max("turn_idx").alias("m")).toPandas()
    want = want_all.merge(maxid, on="conv_id")
    want = want[want["win_end"] <= want["m"]].drop(columns=["m"])
    assert len(got) > 0
    assert_frames_equal(got, want, ["conv_id", "gwid"])


def test_session_gap_boundary_stream_batch_agree(spark, tdir):
    """Events exactly gap apart MERGE in both engines (measured: native
    session_window merges at diff == gap, so the batch gap-split starts
    a new session only at diff > gap) — the boundary case the round-1
    fixture never hit."""
    from windflow_spark.operators.sessions import session_windows

    src_dir = str(tdir / "gapb_src")
    os.makedirs(src_dir, exist_ok=True)
    base = pd.Timestamp("2026-01-01")
    gap_s = 30
    # 'a': events at 0, 30, 60 s (exactly gap apart → ONE session in
    # both engines) then 91 s (31 s > gap → splits); 'b': 29 s apart
    pdf = pd.DataFrame({
        "conv_id": ["a"] * 4 + ["b"] * 2,
        "turn_idx": [0, 1, 2, 3, 0, 1],
        "ts": [base, base + pd.Timedelta(seconds=30), base + pd.Timedelta(seconds=60),
               base + pd.Timedelta(seconds=91),
               base, base + pd.Timedelta(seconds=29)],
    })
    datagen.write_parquet_us(pdf, f"{src_dir}/f.parquet")
    schema = spark.read.parquet(src_dir).schema
    src = se.stream_source(spark, src_dir, schema)
    stream = se.stream_session(
        src, ["conv_id"], "ts", f"{gap_s} seconds",
        aggs={"cnt": F.count(F.lit(1))}, watermark="1 second",
    )
    got = se.run_to_memory(stream, "t_gapb", spark, output_mode="complete").toPandas()
    batch = spark.read.parquet(src_dir).withColumn("us", epoch_us("ts"))
    want = session_windows(
        batch, ["conv_id"], "us", gap_s * 1_000_000,
        aggs={"cnt": F.count(F.lit(1))}, tiebreak=["turn_idx"],
    ).toPandas()
    g = got[["conv_id", "session_start", "cnt"]].sort_values(
        ["conv_id", "session_start"]).reset_index(drop=True)
    w = want[["conv_id", "session_start", "cnt"]].sort_values(
        ["conv_id", "session_start"]).reset_index(drop=True)
    # 'a' merges 0/30/60 (boundary) then splits at 91 → 2 sessions;
    # 'b' merges → 1 session. Both engines agree.
    assert len(g) == 3 and g["cnt"].tolist() == [3, 1, 2], g
    assert_frames_equal(g, w, ["conv_id", "session_start"])


def test_ordered_streaming_emission(spark, tx_path, tdir):
    """WF_Collector in streaming: per-batch sorted parquet emission;
    per-key gwids arrive consecutive from 0 (sum_cb.hpp:142-153)."""
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    stream = se.stream_cb_windows(
        src.withColumn("v", F.length("text").cast("double")),
        "conv_id", "turn_idx", "v", WinSpec("cb", 4, 4),
    )
    sink, ckpt = str(tdir / "ord_sink"), str(tdir / "ord_ckpt")
    se.run_available_now_ordered(stream, sink, ckpt, ["conv_id", "gwid"])
    out = spark.read.parquet(sink).toPandas()
    assert len(out) > 0
    for _, g in out.groupby("conv_id"):
        wids = sorted(g["gwid"])
        assert wids == list(range(len(wids)))


def test_cb_fold_rejects_nan_values():
    """The decomposable CB fold refuses null/NaN in non-count input
    columns: pandas skipna would silently exclude them from sum/min/max
    while the reference's per-row fold propagates — better to fail loud
    at the operator boundary (count itself uses size(), every tuple)."""
    import numpy as np
    import pytest

    from windflow_spark.streaming.engine import _make_cb_fold

    fold = _make_cb_fold(4, 4, {"s": ("sum", "v"), "c": ("count", None)})
    none = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), np.empty((0, 2)))
    kid = np.zeros(4, dtype=np.int64)
    _open, (fk, fw, fp) = fold(kid, np.arange(4), {"v": np.ones(4)}, none)
    assert (fk.tolist(), fw.tolist(), fp.tolist()) == ([0], [0], [[4.0, 4.0]])
    with pytest.raises(ValueError, match="NaN"):
        fold(kid, np.arange(4), {"v": np.array([1.0, np.nan, 1.0, 1.0])}, none)


def test_stream_cb_eos_flush_restores_batch_parity(spark, tx_path, tdir):
    """EOS partial-window flush (win_seq.hpp:432-474 eosnotify): after
    an availableNow drain, flush_cb_partials reads the still-open
    windows back from the checkpoint's state store and finalizes them —
    fired ∪ flushed == the batch win_seq result INCLUDING partial
    windows, across the FULL registry — sum/count/min/max/mean, the
    non-scalar argmax (Catalyst finalizer projects the id slot out of
    the persisted (value, id) pair), and var/std (3-slot Catalyst
    finalizer over the (sum, sumsq, count) triple) — on a sliding spec
    (every open window of every key, not just the last)."""
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    spec = WinSpec("cb", 10, 5)
    aggs = {
        "s": ("sum", "text_len"), "c": ("count", None),
        "mn": ("min", "text_len"), "mx": ("max", "text_len"),
        "avg": ("mean", "text_len"), "am": ("argmax", "text_len"),
        "vr": ("var", "text_len"), "sd": ("std", "text_len"),
    }
    stream = se.stream_cb_windows(
        src.withColumn("text_len", F.length("text").cast("double")),
        "conv_id", "turn_idx", None, spec, aggs=aggs,
    )
    sink = str(tdir / "cb_eos_sink")
    ckpt = str(tdir / "cb_eos_ckpt")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    fired = spark.read.parquet(sink)
    flushed = se.flush_cb_partials(spark, ckpt, "conv_id", spec, aggs=aggs)
    assert flushed.count() > 0  # truncated streams leave open windows
    got = fired.unionByName(flushed).toPandas()
    batch = spark.read.parquet(tx_path).withColumn(
        "text_len", F.length("text").cast("double")
    )
    want = win_seq(  # batch emits partials at EOS — full parity target
        batch, ["conv_id"], "turn_idx", spec,
        aggs={
            "s": F.sum("text_len"), "c": F.count(F.lit(1)),
            "mn": F.min("text_len"), "mx": F.max("text_len"),
            "avg": F.avg("text_len"),
            "_mb": F.max(F.struct(
                F.col("text_len").alias("v"),
                (-F.col("turn_idx")).alias("ni"),
            )),
            "vr": F.var_pop("text_len"),
            "sd": F.stddev_pop("text_len"),
        },
    ).withColumn("am", (-F.col("_mb.ni")).cast("long")).drop("_mb").toPandas()
    cols = ["conv_id", "gwid", "s", "c", "mn", "mx", "avg", "am",
            "vr", "sd", "win_end"]
    assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])


def test_stream_cb_multi_chunk_batch_equals_batch(spark, tdir, multi_chunk_batch):
    """Regression: a key whose rows straddle Arrow chunks out of id
    order in one micro-batch must not lose rows to the drop rule — the
    processor sorts and folds each key once per batch. fired ∪ flushed
    == the batch win_seq result, partial windows included."""
    path = multi_chunk_batch
    spec = WinSpec("cb", 8, 4)
    aggs = {"s": ("sum", "v"), "c": ("count", None), "am": ("argmax", "v")}
    src = se.stream_source(spark, path, spark.read.parquet(path).schema)
    stream = se.stream_cb_windows(src, "conv_id", "turn_idx", None, spec, aggs=aggs)
    sink, ckpt = str(tdir / "multi_chunk_sink"), str(tdir / "multi_chunk_ckpt")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    fired = spark.read.parquet(sink)
    flushed = se.flush_cb_partials(spark, ckpt, "conv_id", spec, aggs=aggs)
    got = fired.unionByName(flushed).toPandas()
    want = win_seq(
        spark.read.parquet(path), ["conv_id"], "turn_idx", spec,
        aggs={
            "s": F.sum("v"), "c": F.count(F.lit(1)),
            "_mb": F.max(F.struct(F.col("v").alias("v"),
                                  (-F.col("turn_idx")).alias("ni"))),
        },
    ).withColumn("am", (-F.col("_mb.ni")).cast("long")).drop("_mb").toPandas()
    cols = ["conv_id", "gwid", "s", "c", "am", "win_end"]
    assert len(want) == 4 * 75
    assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])


def test_stream_accumulate_multi_chunk_batch(spark, multi_chunk_batch):
    """Running sums follow id order even when a key's rows reach the
    processor as several out-of-order Arrow chunks."""
    from windflow_spark.operators.core import accumulate

    path = multi_chunk_batch
    src = se.stream_source(spark, path, spark.read.parquet(path).schema)
    stream = se.stream_accumulate(src, "conv_id", "turn_idx", "v")
    got = se.run_to_memory(stream, "t_acc_chunks", spark, output_mode="append").toPandas()
    want = accumulate(
        spark.read.parquet(path), ["conv_id"], ["turn_idx"],
        {"running_sum": F.sum("v"), "running_cnt": F.count(F.lit(1))},
    ).select("conv_id", "turn_idx", "running_sum", "running_cnt").toPandas()
    assert len(got) == len(want) == 1200
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])


def _write_turns(path, keys: int, turns: int, cuts, sort_by=("turn_idx", "conv_id")):
    """``keys`` conversations of ``turns`` turns each, sorted by
    ``sort_by`` and split into one parquet file per [a, b) row range of
    ``cuts``; returns the frame."""
    turn = np.tile(np.arange(turns, dtype=np.int64), keys)
    conv = np.repeat(np.arange(keys), turns)
    pdf = pd.DataFrame({
        "conv_id": [f"k{c:06d}" for c in conv],
        "turn_idx": turn,
        "v": ((turn * 7 + conv * 3) % 11).astype(np.float64),
    }).sort_values(list(sort_by), kind="stable")
    os.makedirs(path, exist_ok=True)
    for k, (a, b) in enumerate(cuts):
        datagen.write_parquet_us(pdf.iloc[a:b], f"{path}/part-{k}.parquet")
    return pdf


_KG_AGGS = {"s": ("sum", "v"), "c": ("count", None), "am": ("argmax", "v")}


def _kg_batch_want(spark, path, spec):
    """The batch win_seq result of ``_KG_AGGS`` over ``path``."""
    return win_seq(
        spark.read.parquet(path), ["conv_id"], "turn_idx", spec,
        aggs={
            "s": F.sum("v"), "c": F.count(F.lit(1)),
            "_mb": F.max(F.struct(F.col("v").alias("v"),
                                  (-F.col("turn_idx")).alias("ni"))),
        },
    ).withColumn("am", (-F.col("_mb.ni")).cast("long")).drop("_mb").toPandas()


@pytest.mark.parametrize("on_late", ["drop", "buffer", "assume_ordered"])
def test_stream_cb_key_groups_equal_batch(spark, tdir, monkeypatch, on_late):
    """Many keys share each hash bucket (3 buckets here, 8 keys each)
    and reach the key-group processor as out-of-order Arrow chunks of
    50 rows over two micro-batches: under every on_late policy, fired ∪
    flushed == the batch win_seq result, partial windows included, and
    the state holds one row per bucket."""
    monkeypatch.setattr(se, "_KEY_BUCKETS", 3)
    path = str(tdir / f"kg_src_{on_late}")
    _write_turns(path, 24, 100, [(0, 300), (300, 1200), (1200, 1500), (1500, 2400)])
    spec = WinSpec("cb", 8, 3)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "50")
    try:
        src = se.stream_source(spark, path, spark.read.parquet(path).schema,
                               max_files_per_trigger=2)
        stream = se.stream_cb_windows(src, "conv_id", "turn_idx", None, spec,
                                      on_late=on_late, aggs=_KG_AGGS,
                                      lateness=5 if on_late == "buffer" else 0)
        sink, ckpt = str(tdir / f"kg_sink_{on_late}"), str(tdir / f"kg_ckpt_{on_late}")
        se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    finally:
        spark.conf.set(conf, old)
    flushed = se.flush_cb_partials(spark, ckpt, "conv_id", spec, aggs=_KG_AGGS,
                                   on_late=on_late)
    got = spark.read.parquet(sink).unionByName(flushed).toPandas()
    want = _kg_batch_want(spark, path, spec)
    cols = ["conv_id", "gwid", "s", "c", "am", "win_end"]
    assert len(want) == 24 * 34
    assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])
    assert spark.read.format("statestore").option("path", ckpt).load().count() <= 3


def _null_key_turns(path, vals=None):
    """Keys k0, k1 and a null key, 20 turns each, one parquet file per
    half of the turns; the second file holds the null key's rows only
    (as its own micro-batch under max_files_per_trigger=1, it hands a
    bucket nothing but null keys). ``vals`` overrides the value column."""
    conv = np.repeat(np.array(["k0", "k1", None], dtype=object), 20)
    turn = np.tile(np.arange(20, dtype=np.int64), 3)
    pdf = pd.DataFrame({
        "conv_id": conv, "turn_idx": turn,
        "v": vals if vals is not None else ((turn * 7) % 11).astype(np.float64),
    })
    os.makedirs(path, exist_ok=True)
    late = (pdf["turn_idx"] >= 10) & pdf["conv_id"].isna()
    typed = pdf.astype({"conv_id": "string"})  # an all-null file stays string
    datagen.write_parquet_us(typed[~late], f"{path}/part-0.parquet")
    datagen.write_parquet_us(typed[late], f"{path}/part-1.parquet")
    return pdf


@pytest.mark.parametrize("on_late", ["drop", "buffer"])
def test_stream_cb_null_key_equals_batch(spark, tdir, monkeypatch, on_late):
    """A null key is a key of its own, as under the batch groupBy: with
    one bucket, null-key rows share it with k0 and k1 in the first
    micro-batch and have it to themselves in the second, and fired ∪
    flushed == the batch win_seq result."""
    monkeypatch.setattr(se, "_KEY_BUCKETS", 1)
    path = str(tdir / f"null_key_src_{on_late}")
    _null_key_turns(path)
    spec = WinSpec("cb", 4, 3)
    src = se.stream_source(spark, path, spark.read.parquet(path).schema,
                           max_files_per_trigger=1)
    stream = se.stream_cb_windows(src, "conv_id", "turn_idx", None, spec,
                                  on_late=on_late, aggs=_KG_AGGS,
                                  lateness=2 if on_late == "buffer" else 0)
    sink = str(tdir / f"null_key_sink_{on_late}")
    ckpt = str(tdir / f"null_key_ckpt_{on_late}")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    flushed = se.flush_cb_partials(spark, ckpt, "conv_id", spec, aggs=_KG_AGGS,
                                   on_late=on_late)
    got = spark.read.parquet(sink).unionByName(flushed).toPandas()
    want = _kg_batch_want(spark, path, spec)
    cols = ["conv_id", "gwid", "s", "c", "am", "win_end"]
    assert len(want) == 3 * 7 and want["conv_id"].isna().sum() == 7
    assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])


@pytest.mark.parametrize("files_per_trigger", [1, 2])
def test_stream_accumulate_null_key_and_value(spark, tdir, monkeypatch,
                                              files_per_trigger):
    """The accumulator keeps a null key apart from the keys it shares a
    bucket with and treats a null value as batch ``accumulate``'s SQL
    ``sum`` does: running_sum skips it and is null until the key's first
    non-null value, running_cnt counts it — the same output whether the
    input is drained as one micro-batch or as two. k0's null is its last
    row of the first file, and the null key's first ten values (the
    whole first file) are null, so under two batches both are carried
    in state."""
    from windflow_spark.operators.core import accumulate

    monkeypatch.setattr(se, "_KEY_BUCKETS", 1)
    path = str(tdir / f"null_acc_src_{files_per_trigger}")
    vals = np.arange(60, dtype=np.float64)
    vals[9] = vals[24] = np.nan  # k0 turn 9, k1 turn 4
    vals[40:50] = np.nan  # null key, turns 0-9
    _null_key_turns(path, vals)
    src = se.stream_source(spark, path, spark.read.parquet(path).schema,
                           max_files_per_trigger=files_per_trigger)
    stream = se.stream_accumulate(src, "conv_id", "turn_idx", "v")
    got = se.run_to_memory(stream, f"t_acc_null_{files_per_trigger}", spark,
                           output_mode="append").toPandas()
    want = accumulate(
        spark.read.parquet(path), ["conv_id"], ["turn_idx"],
        {"running_sum": F.sum("v"), "running_cnt": F.count(F.lit(1))},
    ).select("conv_id", "turn_idx", "running_sum", "running_cnt").toPandas()
    assert want["running_sum"].isna().sum() == 10
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])


def _long_key_turns(path):
    """Keys 7, 8 and 2**40 (a ``long`` key column), 20 turns each, one
    parquet file per half of the turns."""
    turn = np.tile(np.arange(20, dtype=np.int64), 3)
    pdf = pd.DataFrame({
        "conv_id": np.repeat(np.array([7, 8, 2**40], dtype=np.int64), 20),
        "turn_idx": turn,
        "v": ((turn * 7) % 11).astype(np.float64),
    })
    os.makedirs(path, exist_ok=True)
    datagen.write_parquet_us(pdf[turn < 10], f"{path}/part-0.parquet")
    datagen.write_parquet_us(pdf[turn >= 10], f"{path}/part-1.parquet")


@pytest.mark.parametrize("on_late", ["drop", "buffer"])
def test_stream_cb_long_key_equals_batch(spark, tdir, on_late):
    """A non-string key flows through the CB processor, its state and
    both EOS flush arms: fired ∪ flushed == the batch win_seq result,
    with the key still a long."""
    path = str(tdir / f"long_key_src_{on_late}")
    _long_key_turns(path)
    spec = WinSpec("cb", 4, 3)
    src = se.stream_source(spark, path, spark.read.parquet(path).schema,
                           max_files_per_trigger=1)
    stream = se.stream_cb_windows(src, "conv_id", "turn_idx", None, spec,
                                  on_late=on_late, aggs=_KG_AGGS,
                                  lateness=2 if on_late == "buffer" else 0)
    sink = str(tdir / f"long_key_sink_{on_late}")
    ckpt = str(tdir / f"long_key_ckpt_{on_late}")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    flushed = se.flush_cb_partials(spark, ckpt, "conv_id", spec, aggs=_KG_AGGS,
                                   on_late=on_late)
    got = spark.read.parquet(sink).unionByName(flushed).toPandas()
    want = _kg_batch_want(spark, path, spec)
    cols = ["conv_id", "gwid", "s", "c", "am", "win_end"]
    assert len(want) == 3 * 7 and got.dtypes["conv_id"].kind == "i"
    assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])


def test_stream_accumulate_long_key_equals_batch(spark, tdir):
    """A non-string key through the accumulator == batch accumulate."""
    from windflow_spark.operators.core import accumulate

    path = str(tdir / "long_key_acc_src")
    _long_key_turns(path)
    src = se.stream_source(spark, path, spark.read.parquet(path).schema,
                           max_files_per_trigger=1)
    stream = se.stream_accumulate(src, "conv_id", "turn_idx", "v")
    got = se.run_to_memory(stream, "t_acc_long_key", spark, output_mode="append").toPandas()
    want = accumulate(
        spark.read.parquet(path), ["conv_id"], ["turn_idx"],
        {"running_sum": F.sum("v"), "running_cnt": F.count(F.lit(1))},
    ).select("conv_id", "turn_idx", "running_sum", "running_cnt").toPandas()
    assert len(got) == 60 and got.dtypes["conv_id"].kind == "i"
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])


def test_stream_cb_resume_under_other_shuffle_partitions(spark, tdir):
    """The bucket count is a constant of the plan, not the live
    shuffle-partition setting: a drain resumed from its checkpoint after
    spark.sql.shuffle.partitions changed must find every key's state in
    the same bucket, so fired ∪ flushed == the batch result."""
    path = str(tdir / "kg_resume_src")
    pdf = _write_turns(path, 40, 60, [(0, 1200)])
    spec = WinSpec("cb", 8, 3)
    sink, ckpt = str(tdir / "kg_resume_sink"), str(tdir / "kg_resume_ckpt")
    schema = spark.read.parquet(path).schema

    def drain():
        src = se.stream_source(spark, path, schema)
        se.run_available_now(
            se.stream_cb_windows(src, "conv_id", "turn_idx", None, spec, aggs=_KG_AGGS),
            sink, ckpt, timeout_sec=300,
        )

    drain()
    datagen.write_parquet_us(pdf.iloc[1200:], f"{path}/part-1.parquet")
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        drain()
    finally:
        spark.conf.set(conf, old)
    flushed = se.flush_cb_partials(spark, ckpt, "conv_id", spec, aggs=_KG_AGGS)
    got = spark.read.parquet(sink).unionByName(flushed).toPandas()
    want = _kg_batch_want(spark, path, spec)
    cols = ["conv_id", "gwid", "s", "c", "am", "win_end"]
    assert len(want) == 40 * 20
    assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])


def test_stream_cb_state_bytes_100k_keys(spark, tdir, record_property):
    """State growth is measured: a drain over 10⁵ keys (two turns each,
    one per micro-batch, so every key keeps an open window) holds at
    most _KEY_BUCKETS state rows in every batch. Each batch's state
    memory and bytes written are recorded; the bytes written stay
    within 200 per key (the whole state is rewritten, since every
    bucket receives rows)."""
    n = 100_000
    path = str(tdir / "kg_100k_src")
    _write_turns(path, n, 2, [(0, n), (n, 2 * n)], sort_by=("turn_idx",))
    src = se.stream_source(spark, path, spark.read.parquet(path).schema,
                           max_files_per_trigger=1)
    stream = se.stream_cb_windows(src, "conv_id", "turn_idx", "v", WinSpec("cb", 4, 4))
    q = (stream.writeStream.format("noop").option("checkpointLocation",
                                                  str(tdir / "kg_100k_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(300)
    per_batch = [
        (o["numRowsTotal"], o["memoryUsedBytes"],
         o["customMetrics"]["rocksdbTotalBytesWritten"])
        for o in (p["stateOperators"][0] for p in q.recentProgress if p["numInputRows"])
    ]
    record_property("cb_state_rows_memory_written_per_batch", per_batch)
    print("CB state (rows, memory bytes, bytes written) per batch, 1e5 keys:", per_batch)
    assert len(per_batch) == 2
    assert all(rows <= se._KEY_BUCKETS for rows, _m, _w in per_batch), per_batch
    assert all(0 < w <= 200 * n for _r, _m, w in per_batch), per_batch


def test_cb_fold_kernels_match_per_window_reference():
    """Property check of the numpy batch-kernel contract: for random
    sparse ids of up to three keys, folded together in two spans (so
    partials also merge), every registry op — hll64 and a histq
    included — equals a plain per-window reference over the window's
    members, on tumbling, sliding and hopping (win < slide: ids in gaps
    fold nowhere) specs. Values are small integers, so argmax ties are
    common and must keep the smallest id; some fall outside the
    histogram's range (edge buckets), and hll inputs repeat (registers
    take the max)."""
    name = "histq_t_prop"
    se.register_quantile_hist_op(name, lo=1.0, hi=7.0, bins=4, q=0.5)
    try:
        ops = ["sum", "count", "min", "max", "mean", "argmax", "var",
               "std", "hll64", name]
        aggs = {op: (op, "h" if op == "hll64" else "v") for op in ops}
        aggs["count"] = ("count", None)
        cb_ops = se._cb_ops(aggs)
        hist_fin = se._CB_OPS[name][3]
        rng = np.random.default_rng(11)
        pool = rng.integers(0, 1 << 24, 6)
        for case in range(60):
            win, slide = [(6, 6), (8, 3), (3, 7), (5, 2), (1, 4)][case % 5]
            n_keys = 1 + case % 3
            ids = [np.sort(rng.choice(120, size=rng.integers(1, 60), replace=False))
                   for _ in range(n_keys)]
            kid = np.repeat(np.arange(n_keys), [len(i) for i in ids])
            ids = np.concatenate(ids)
            vals = {"v": rng.integers(0, 9, len(ids)).astype(np.float64),
                    "h": rng.choice(pool, len(ids)).astype(np.float64)}
            fold = se._make_cb_fold(win, slide, aggs)
            open_ = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
                     np.empty((0, se._cb_slots(aggs))))
            # each key's rows split at its own random cut
            cut = np.zeros(len(ids), dtype=bool)
            for k in range(n_keys):
                rows = np.flatnonzero(kid == k)
                cut[rows[:rng.integers(0, len(rows) + 1)]] = True
            got = {}

            def emit(windows):
                wk, wid, parts = windows
                outs = se._cb_finalize(cb_ops, parts)
                for i, (k, w) in enumerate(zip(wk.tolist(), wid.tolist())):
                    assert (k, w) not in got, (case, k, w)
                    got[k, w] = [col[i] for col in outs]

            folded = np.full(n_keys, -1)
            for part in (cut, ~cut):
                if part.any():
                    open_, fired = fold(kid[part], ids[part],
                                        {c: x[part] for c, x in vals.items()}, open_)
                    emit(fired)
                    # Triggerer_CB: once a key's largest folded id
                    # reaches a window's last id, that window has fired
                    np.maximum.at(folded, kid[part], ids[part])
                    ends = open_[1] * slide + win - 1
                    assert (ends > folded[open_[0]]).all(), (case, win, slide)
            emit(open_)
            want = {}
            for k in range(n_keys):
                for w in range(int(ids[kid == k].max()) // slide + 1):
                    m = (kid == k) & (ids >= w * slide) & (ids < w * slide + win)
                    if not m.any():
                        continue
                    v, i, h = vals["v"][m], ids[m], vals["h"][m].astype(np.int64)
                    regs = np.zeros(64)
                    for x in h:
                        b, r = (x >> 16) & 63, 17 - int(x & 0xFFFF).bit_length()
                        regs[b] = max(regs[b], r)
                    hist = np.zeros(4)
                    for x in v:
                        hist[min(3, max(0, int((x - 1) // 1.5)))] += 1
                    want[k, w] = [v.sum(), len(v), v.min(), v.max(), v.mean(),
                                  int(i[v == v.max()].min()), v.var(), v.std(),
                                  se._hll_final(list(regs)), hist_fin(list(hist))]
            assert sorted(got) == sorted(want), (case, win, slide)
            for kw in want:
                np.testing.assert_allclose(got[kw], want[kw], rtol=1e-9, atol=1e-9,
                                           err_msg=f"case {case} window {kw}")
        bad = {c: x.copy() for c, x in vals.items()}
        bad["v"][0] = np.nan
        with pytest.raises(ValueError, match="NaN"):
            fold(kid, ids, bad, open_)
    finally:
        del se._CB_OPS[name]


def test_stream_tb_eos_flush_restores_batch_parity(spark, tx_path, tdir):
    """TB arm of the eosnotify flush: an append-mode availableNow drain
    leaves every window inside the final watermark delay in state;
    flush_tb_partials reads them back (aggregation buffers in declared
    order, avg = sum/count) — emitted ∪ flushed == the batch sliding
    aggregate, row for row."""
    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema)
    spec = WinSpec("tb", 60, 15)
    stream = se.stream_win_tb(
        src, ["conv_id"], "ts", spec,
        aggs={"cnt": F.count(F.lit(1)), "sum_len": F.sum(F.length("text")),
              "mx": F.max(F.length("text")),
              "av": F.avg(F.length("text"))},
        watermark="10 seconds", unit="second",
    )
    sink = str(tdir / "tb_eos_sink")
    ckpt = str(tdir / "tb_eos_ckpt")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    emitted = spark.read.parquet(sink)
    flushed = se.flush_tb_partials(
        spark, ckpt, ["conv_id"], spec,
        aggs={"cnt": "count", "sum_len": "sum", "mx": "max", "av": "avg"},
        unit="second",
    )
    assert flushed.count() > 0  # the trailing windows were in state
    got = emitted.unionByName(flushed).toPandas()
    want = win_seq(
        spark.read.parquet(tx_path).withColumn("us", epoch_us("ts")),
        ["conv_id"], "us", WinSpec("tb", 60_000_000, 15_000_000),
        aggs={"cnt": F.count(F.lit(1)), "sum_len": F.sum(F.length("text")),
              "mx": F.max(F.length("text")),
              "av": F.avg(F.length("text"))},
        with_win_end=False,
    ).toPandas()
    cols = ["conv_id", "gwid", "cnt", "sum_len", "mx", "av"]
    assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])
    # ADVICE r6: a NAME-PREFIX aggs dict (fewer ops whose buffer
    # fields prefix the drain's) must fail the length check loud, not
    # pass the per-field zip and die later at the positional cast
    with pytest.raises(ValueError, match="buffer fields"):
        se.flush_tb_partials(
            spark, ckpt, ["conv_id"], spec,
            aggs={"cnt": "count"}, unit="second",
        )


def test_stream_cb_argmax_equals_batch(spark, tx_path):
    """The argmax registry op (non-scalar (value, id) slot pair —
    VERDICT r4 #6) through the classic CB processor == a deterministic
    batch struct-max oracle: max value, ties broken by SMALLEST id
    (text lengths tie constantly, so the tiebreak carries real
    weight in this fixture)."""
    from windflow_spark.operators.windows import GWID

    schema = _schema(spark, tx_path)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    spec = WinSpec("cb", 10, 5)
    stream = se.stream_cb_windows(
        src.withColumn("text_len", F.length("text").cast("double")),
        "conv_id", "turn_idx", None, spec,
        aggs={"c": ("count", None), "am": ("argmax", "text_len"),
              "mx": ("max", "text_len")},
    )
    got = se.run_to_memory(stream, "t_cb_am", spark, output_mode="append").toPandas()
    batch = spark.read.parquet(tx_path).withColumn(
        "text_len", F.length("text").cast("double")
    )
    # deterministic batch argmax: max over (value, -id) structs → the
    # max value's smallest id (the registry's tie rule)
    want_all = win_seq(
        batch, ["conv_id"], "turn_idx", spec,
        aggs={
            "c": F.count(F.lit(1)),
            "_mb": F.max(F.struct(
                F.col("text_len").alias("v"),
                (-F.col("turn_idx")).alias("ni"),
            )),
            "mx": F.max("text_len"),
        },
    ).withColumn("am", (-F.col("_mb.ni")).cast("long")).drop("_mb").toPandas()
    maxid = batch.groupBy("conv_id").agg(F.max("turn_idx").alias("m")).toPandas()
    want = want_all.merge(maxid, on="conv_id")
    want = want[want["win_end"] <= want["m"]].drop(columns=["m"])
    cols = ["conv_id", GWID, "c", "am", "mx", "win_end"]
    assert len(got) > 0
    assert_frames_equal(got[cols], want[cols], ["conv_id", GWID])


def test_stream_cb_buffered_eos_flush_parity(spark, tdir):
    """ADVICE r4 (medium): a drain with on_late='buffer' leaves the
    trailing lateness span un-folded in (buf_ids, buf_vals) —
    flush_cb_partials(on_late='buffer') folds that span first (windows
    whose last tuple sat in the buffer fire HERE, never double-emitted)
    then finalizes the remaining partials: fired ∪ flushed == the batch
    result including partials, even under cross-batch disorder."""
    import numpy as np

    src_dir = str(tdir / "bufeos_src")
    os.makedirs(src_dir, exist_ok=True)
    rng = np.random.default_rng(5)
    ids = np.arange(58, dtype=np.int64)  # window 5 (ids 50-57) partial
    perm = np.argsort(ids + rng.uniform(-6, 6, len(ids)))
    shuffled = ids[perm]
    mk = lambda a: pd.DataFrame({"k": "c0", "i": a, "v": a.astype(np.float64)})
    datagen.write_parquet_us(mk(shuffled[:29]), f"{src_dir}/a.parquet")
    datagen.write_parquet_us(mk(shuffled[29:]), f"{src_dir}/b.parquet")

    schema = spark.read.parquet(src_dir).schema
    spec = WinSpec("cb", 10, 10)
    src = se.stream_source(spark, src_dir, schema, max_files_per_trigger=1)
    stream = se.stream_cb_windows(src, "k", "i", "v", spec,
                                  on_late="buffer", lateness=12)
    sink, ckpt = str(tdir / "bufeos_sink"), str(tdir / "bufeos_ckpt")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    fired = spark.read.parquet(sink)
    flushed = se.flush_cb_partials(spark, ckpt, "k", spec, value_col="v",
                                   on_late="buffer")
    fl = flushed.toPandas().sort_values("gwid")
    # the drain fired 0..3 (ripe region ids ≤ 57-12=45); the flush must
    # emit window 4 (full — last tuple was buffered) AND partial 5
    assert fl["gwid"].tolist() == [4, 5]
    got = fired.unionByName(flushed).toPandas()
    want = win_seq(
        spark.read.parquet(src_dir), ["k"], "i", spec,
        aggs={"sum_value": F.sum("v"), "cnt": F.count(F.lit(1))},
    ).toPandas()
    cols = ["k", "gwid", "sum_value", "cnt", "win_end"]
    assert_frames_equal(got[cols], want[cols], ["k", "gwid"])


def test_flush_session_partials_restores_batch_parity(spark, tx_path, tdir):
    """Session arm of the eosnotify flush (VERDICT r4 #7): append-mode
    drain emits only watermark-closed sessions; flush_session_partials
    reads the open sessions from the session-merge state (positional
    buffer cast) and emitted ∪ flushed == the batch gap-split output."""
    from windflow_spark.operators.sessions import session_windows

    schema = _schema(spark, tx_path)
    gap_s = 60
    src = se.stream_source(spark, tx_path, schema)
    stream = se.stream_session(
        src, ["conv_id"], "ts", f"{gap_s} seconds",
        aggs={"cnt": F.count(F.lit(1)), "sum_len": F.sum(F.length("text"))},
        watermark="10 seconds",
    )
    sink, ckpt = str(tdir / "sess_eos_sink"), str(tdir / "sess_eos_ckpt")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    emitted = spark.read.parquet(sink)
    flushed = se.flush_session_partials(
        spark, ckpt, ["conv_id"], aggs={"cnt": "count", "sum_len": "sum"}
    )
    assert flushed.count() > 0  # trailing sessions were still in state
    cols = ["conv_id", "session_start", "cnt", "sum_len"]
    got = emitted.select(*cols).unionByName(flushed.select(*cols)).toPandas()
    batch = spark.read.parquet(tx_path).withColumn("us", epoch_us("ts"))
    want = session_windows(
        batch, ["conv_id"], "us", gap_s * 1_000_000,
        aggs={"cnt": F.count(F.lit(1)), "sum_len": F.sum(F.length("text"))},
    ).toPandas()[cols]
    assert_frames_equal(got, want, ["conv_id", "session_start"])
    # declared-aggs mismatch fails loud, not silently wrong
    with pytest.raises(ValueError, match="expected"):
        se.flush_session_partials(spark, ckpt, ["conv_id"], aggs={"cnt": "count"})
    # EQUAL-slot-total mismatch (ADVICE r5 #2): drain ran (count, sum)
    # — a flush declaring (count, min) has the same slot count but a
    # different buffer; the field-name cross-check catches it
    with pytest.raises(ValueError, match="buffer fields"):
        se.flush_session_partials(
            spark, ckpt, ["conv_id"], aggs={"cnt": "count", "sum_len": "min"}
        )


def test_register_cb_op_user_fold_end_to_end(spark, tx_path, tdir):
    """User-declared decomposable fold (the reference's arbitrary INC
    lambda, win_seq.hpp:63-65): register an argmin (min value, smallest
    id on ties) through register_cb_op — validated for decomposability
    at registration — and run it through the classic CB processor AND
    the EOS flush (no Catalyst finalizer declared, so the flush must
    transparently route through the mapInPandas arm): fired ∪ flushed
    == batch win_seq including partials."""

    def _argmin_batch(v, ids, s):
        m = np.minimum.reduceat(v, s)
        seg = np.repeat(np.arange(len(s)), np.diff(s, append=len(v)))
        best = np.minimum.reduceat(np.where(v == m[seg], ids, ids.max() + 1), s)
        return [m, best.astype("float64")]

    def _argmin_merge(o, n):
        return list(n) if n[0] < o[0] or (n[0] == o[0] and n[1] < o[1]) \
            else list(o)

    se.register_cb_op(
        "argmin_t", n_slots=2, batch=_argmin_batch, merge=_argmin_merge,
        finalize=lambda s: int(s[1]), out_type="long",
        validate_with=[5.0, 2.0, 9.0, 2.0, 7.0, 1.0, 3.0],
    )
    try:
        schema = _schema(spark, tx_path)
        src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
        spec = WinSpec("cb", 10, 5)
        aggs = {"c": ("count", None), "amn": ("argmin_t", "text_len")}
        stream = se.stream_cb_windows(
            src.withColumn("text_len", F.length("text").cast("double")),
            "conv_id", "turn_idx", None, spec, aggs=aggs,
        )
        sink = str(tdir / "user_fold_sink")
        ckpt = str(tdir / "user_fold_ckpt")
        se.run_available_now(stream, sink, ckpt, timeout_sec=300)
        fired = spark.read.parquet(sink)
        flushed = se.flush_cb_partials(spark, ckpt, "conv_id", spec, aggs=aggs)
        assert flushed.count() > 0
        got = fired.unionByName(flushed).toPandas()
        batch = spark.read.parquet(tx_path).withColumn(
            "text_len", F.length("text").cast("double")
        )
        want = win_seq(
            batch, ["conv_id"], "turn_idx", spec,
            aggs={
                "c": F.count(F.lit(1)),
                "_mb": F.min(F.struct(
                    F.col("text_len").alias("v"),
                    F.col("turn_idx").alias("i"),
                )),
            },
        ).withColumn("amn", F.col("_mb.i").cast("long")).drop("_mb").toPandas()
        cols = ["conv_id", "gwid", "c", "amn", "win_end"]
        assert_frames_equal(got[cols], want[cols], ["conv_id", "gwid"])
    finally:
        del se._CB_OPS["argmin_t"]


def test_register_cb_op_rejects_non_decomposable():
    """The decomposability property-check: a kernel whose merge cannot
    reproduce the whole-sample fold (median with mean-of-medians merge)
    is rejected at registration, not silently wrong at runtime."""

    def _median_batch(v, ids, s):
        return [np.array([np.median(w) for w in np.split(v, s[1:])])]

    with pytest.raises(ValueError, match="not decomposable"):
        se.register_cb_op(
            "median_bad_t", n_slots=1, batch=_median_batch,
            merge=lambda o, n: [(o[0] + n[0]) / 2], finalize=lambda s: s[0],
            validate_with=[1.0, 2.0, 100.0, 3.0, 4.0],
        )
    assert "median_bad_t" not in se._CB_OPS

    with pytest.raises(ValueError, match="already registered"):
        se.register_cb_op(
            "sum", n_slots=1, batch=_median_batch, merge=lambda o, n: o,
            finalize=lambda s: s[0],
        )


def test_stream_exact_dedup_cross_batch(spark, tx_path, tdir):
    """Every digest arrives in >= 2 different micro-batches (the same
    shards staged twice, one file per trigger): the stateful dedup must
    emit each digest exactly once, equal to the batch distinct set."""
    import uuid

    src_dir = str(tdir / "dedup_src")
    os.makedirs(src_dir, exist_ok=True)
    for f in os.listdir(tx_path):
        shutil.copy(os.path.join(tx_path, f), os.path.join(src_dir, "a_" + f))
        shutil.copy(os.path.join(tx_path, f), os.path.join(src_dir, "b_" + f))
    schema = spark.read.parquet(src_dir).schema
    src = se.stream_source(spark, src_dir, schema, max_files_per_trigger=1)
    out = se.stream_exact_dedup(src, "text").select("digest")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    got = se.run_to_memory(out, name, spark, output_mode="append").toPandas()
    want = (
        spark.read.parquet(src_dir)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .toPandas()
    )
    assert not got["digest"].duplicated().any()
    assert sorted(got["digest"]) == sorted(want["digest"])


def test_stream_exact_dedup_keeper_min_id(spark, tdir):
    """keeper_id arm (VERDICT r6 #6): the survivor per digest is the
    MIN keeper_id of its first batch — staged so the same texts carry
    DIFFERENT ids in two files drained in ONE availableNow batch, the
    output must equal the batch min-id rule for BOTH file orders (the
    plain dropDuplicates arm is arrival-order-dependent here)."""
    import uuid

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = (
        docs.groupBy(F.md5("text").alias("digest"))
        .agg(F.min("doc_id").alias("doc_id"))
        .toPandas()
    )
    shifted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(100_000))
    for order in ("orig_first", "shift_first"):
        src_dir = str(tdir / f"kdedup_{order}")
        os.makedirs(src_dir, exist_ok=True)
        first, second = (docs, shifted) if order == "orig_first" else (shifted, docs)
        first.coalesce(1).write.mode("overwrite").parquet(src_dir + "/f1")
        second.coalesce(1).write.mode("overwrite").parquet(src_dir + "/f2")
        flat = str(tdir / f"kdedup_flat_{order}")
        os.makedirs(flat, exist_ok=True)
        for i, sub in enumerate(("f1", "f2")):
            for f in os.listdir(os.path.join(src_dir, sub)):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src_dir, sub, f),
                                os.path.join(flat, f"{i}_{f}"))
        schema = spark.read.parquet(flat).schema
        src = se.stream_source(spark, flat, schema)
        out = se.stream_exact_dedup(src, "text", keeper_id="doc_id").select(
            "digest", "doc_id"
        )
        name = f"kdedup_{uuid.uuid4().hex[:8]}"
        got = se.run_to_memory(out, name, spark, output_mode="append").toPandas()
        assert_frames_equal(got, want, ["digest"])


def test_stream_exact_dedup_keeper_rejects_watermark(spark, tx_path):
    schema = spark.read.parquet(tx_path).schema
    src = se.stream_source(spark, tx_path, schema)
    with pytest.raises(ValueError, match="keeper_id"):
        se.stream_exact_dedup(
            src, "text", ts_col="ts", watermark="1 hour", keeper_id="conv_id"
        )


def test_stream_exact_dedup_watermark_mode(spark, tx_path):
    """dropDuplicatesWithinWatermark arm: bounded digest state, still
    a full dedup within the drained backlog."""
    import uuid

    schema = spark.read.parquet(tx_path).schema
    src = se.stream_source(spark, tx_path, schema)
    out = se.stream_exact_dedup(
        src, "text", ts_col="ts", watermark="365 days"
    ).select("digest")
    name = f"dedupwm_{uuid.uuid4().hex[:8]}"
    got = se.run_to_memory(out, name, spark, output_mode="append").toPandas()
    want = (
        spark.read.parquet(tx_path)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .toPandas()
    )
    assert not got["digest"].duplicated().any()
    assert sorted(got["digest"]) == sorted(want["digest"])


def test_stream_exact_dedup_requires_ts_for_watermark(spark, tx_path):
    schema = spark.read.parquet(tx_path).schema
    src = se.stream_source(spark, tx_path, schema)
    with pytest.raises(ValueError, match="ts_col"):
        se.stream_exact_dedup(src, "text", watermark="1 hour")


# ---- hll64: mergeable approx count-distinct fold (r7) ---------------


def _hll_prep_py(v):
    """Independent (hashlib) replica of hll_prep: first 6 hex chars of
    md5(str(v)) as a 24-bit int — cross-checks the Catalyst conv path."""
    import hashlib

    return int(hashlib.md5(str(v).encode()).hexdigest()[:6], 16)


def test_hll_fold_mergeable_dup_insensitive_accurate():
    """Pure-kernel properties: merging split partials reproduces the
    whole-sample registers EXACTLY (mergeable sketch); duplicates never
    change registers; the estimate tracks the true cardinality within
    the p=6 error envelope (deterministic md5 — these are fixed
    numbers, not statistical luck)."""
    import numpy as np

    def regs(vals):
        regs = se._hll_batch(np.asarray(vals, dtype=np.float64),
                             np.arange(len(vals)), np.zeros(1, dtype=np.int64))
        return [float(r[0]) for r in regs]

    for n in (40, 300, 3000, 30000):
        vals = [_hll_prep_py(i * 7919 + 13) for i in range(n)]
        whole = regs(vals)
        merged = se._hll_merge(regs(vals[: n // 2]), regs(vals[n // 2:]))
        assert merged == whole
        assert regs(vals + vals[: n // 3]) == whole  # dup-insensitive
        est = se._hll_final(whole)
        # p=6 std error ≈ 13%; the estimator is unbiased (simulated
        # bias −0.2% ± 14.7% over random draws) but THIS deterministic
        # md5 draw sits at +30% for n=3000 — a ~2σ point, hence 0.35
        assert abs(est - n) / n < 0.35, (n, est)


def test_stream_cb_hll_matches_replay_and_exact(spark, tx_path, tdir):
    """Streaming hll64 windows == a pandas replay of the same
    deterministic sketch per window (independent hashlib prep +
    register construction), and the estimates sit within the p=6
    envelope of the window-exact distinct counts. Exercises the
    64-slot state layout end-to-end including the Catalyst EOS flush
    finalizer (fired ∪ flushed == every window)."""
    import numpy as np

    schema = _schema(spark, tx_path)
    spec = WinSpec("cb", 12, 12)
    src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
    stream = se.stream_cb_windows(
        src.withColumn("lh", se.hll_prep(F.length("text").cast("long"))),
        "conv_id", "turn_idx", None, spec,
        aggs={"du": ("hll64", "lh"), "c": ("count", None)},
    )
    sink, ckpt = str(tdir / "hll_sink"), str(tdir / "hll_ckpt")
    se.run_available_now(stream, sink, ckpt, timeout_sec=300)
    fired = spark.read.parquet(sink)
    flushed = se.flush_cb_partials(
        spark, ckpt, "conv_id", spec,
        aggs={"du": ("hll64", "lh"), "c": ("count", None)},
    )
    got = fired.unionByName(flushed).toPandas()
    assert (flushed.count() > 0) and len(got) > 0
    # replay: same windows, independent hash/registers, same finalize
    pdf = spark.read.parquet(tx_path).toPandas()
    pdf["lh"] = pdf["text"].str.len().map(_hll_prep_py)
    want = {}
    exact = {}
    for (k, w), g in pdf.assign(_w=pdf["turn_idx"] // 12).groupby(
        ["conv_id", "_w"]
    ):
        r = np.zeros(64)
        for v in g["lh"]:
            b, x = (v >> 16) & 63, v & 0xFFFF
            rk = 17 - int(x).bit_length()
            r[b] = max(r[b], rk)
        want[(k, int(w))] = se._hll_final(list(r))
        exact[(k, int(w))] = g["text"].str.len().nunique()
    assert len(got) == len(want)
    for _, row in got.iterrows():
        key = (row["conv_id"], int(row["gwid"]))
        assert row["du"] == want[key], (key, row["du"], want[key])
        ex = exact[key]
        assert abs(row["du"] - ex) <= max(3.0, 0.35 * ex), (key, row["du"], ex)


# ---- histogram-quantile fold (r7) -----------------------------------


def test_quantile_hist_fold_registration_and_semantics():
    """The factory registers through register_cb_op (so decomposability
    is property-checked), merge is elementwise add, and the finalize
    interpolation lands within one bucket width of the exact quantile."""
    import numpy as np

    name = "histq_t_sem"
    lits = se.register_quantile_hist_op(name, lo=0.0, hi=100.0, bins=50, q=0.5)
    try:
        assert lits == {"lo": 0.0, "hi": 100.0, "bins": 50, "w": 2.0, "q": 0.5}
        n_slots, batch, merge, fin, out_t, cat = se._CB_OPS[name]
        assert n_slots == 50 and out_t == "double" and cat is None
        rng = np.random.default_rng(3)
        vals = rng.uniform(0, 100, 500)
        ids, one = np.arange(500), np.zeros(1, dtype=np.int64)

        def slots(lo, hi):
            return [float(x[0]) for x in batch(vals[lo:hi], ids[lo:hi], one)]

        whole = slots(0, 500)
        # merge of halves == whole (exact integer counts)
        assert merge(slots(0, 250), slots(250, 500)) == whole
        est = fin(whole)
        assert abs(est - np.quantile(vals, 0.5)) <= 2.0 + 1e-9  # one bucket
        # clamping: out-of-range values land in edge buckets
        s2 = batch(np.array([-5.0, 1e6]), np.arange(2), one)
        assert float(s2[0][0]) == 1.0 and float(s2[49][0]) == 1.0
    finally:
        del se._CB_OPS[name]


def test_stream_cb_histq_matches_replay(spark, tx_path, tdir):
    """Streaming histogram-quantile windows (fired + the EOS flush via
    the NO-Catalyst mapInPandas fallback arm) == a pandas replay of the
    same histogram per window."""
    import numpy as np

    name = "histq_t_len"
    lits = se.register_quantile_hist_op(name, lo=0.0, hi=200.0, bins=80, q=0.5)
    try:
        schema = _schema(spark, tx_path)
        spec = WinSpec("cb", 12, 12)
        src = se.stream_source(spark, tx_path, schema, max_files_per_trigger=1)
        stream = se.stream_cb_windows(
            src.withColumn("tl", F.length("text").cast("double")),
            "conv_id", "turn_idx", None, spec,
            aggs={"p50": (name, "tl"), "c": ("count", None)},
        )
        sink, ckpt = str(tdir / "hq_sink"), str(tdir / "hq_ckpt")
        se.run_available_now(stream, sink, ckpt, timeout_sec=300)
        fired = spark.read.parquet(sink)
        flushed = se.flush_cb_partials(
            spark, ckpt, "conv_id", spec,
            aggs={"p50": (name, "tl"), "c": ("count", None)},
        )
        got = fired.unionByName(flushed).toPandas()
        assert flushed.count() > 0 and len(got) > 0
        pdf = spark.read.parquet(tx_path).toPandas()
        pdf["tl"] = pdf["text"].str.len().astype(float)
        fin = se._CB_OPS[name][3]
        w = lits["w"]
        want = {}
        for (k, gw), g in pdf.assign(_w=pdf["turn_idx"] // 12).groupby(
            ["conv_id", "_w"]
        ):
            counts = np.zeros(lits["bins"])
            b = np.clip(np.floor((g["tl"].to_numpy() - lits["lo"]) / w),
                        0, lits["bins"] - 1).astype(int)
            for x in b:
                counts[x] += 1
            want[(k, int(gw))] = fin(list(counts))
        assert len(got) == len(want)
        for _, row in got.iterrows():
            key = (row["conv_id"], int(row["gwid"]))
            assert row["p50"] == want[key], (key, row["p50"], want[key])
    finally:
        del se._CB_OPS[name]


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, {repo!r})  # the driver only: workers get no sys.path
import numpy as np, pandas as pd
from windflow_spark.session import get_spark
from windflow_spark.operators.windows import WinSpec
from windflow_spark.streaming import engine as se
spark = get_spark("outside", master="local[2]", shuffle_partitions=2, streaming=True)
pd.DataFrame({{"k": "k0", "i": np.arange(8, dtype=np.int64),
              "v": np.arange(8.0)}}).to_parquet("src/part-0.parquet")
src = se.stream_source(spark, "src", spark.read.parquet("src").schema)
stream = se.stream_cb_windows(src, "k", "i", "v", WinSpec("cb", 4, 4))
se.run_available_now(stream, "sink", "ckpt")
print("FIRED", spark.read.parquet("sink").count())
"""


def test_stateful_drain_outside_repo_without_pythonpath(tmp_path):
    """The stateful processors call module-level kernels, which the
    Python workers import by name: a driver started outside the repo
    root, with the package on its own sys.path only and no PYTHONPATH,
    must still drain (get_spark ships the package to the workers)."""
    import subprocess
    import sys

    from tests.conftest import REPO

    (tmp_path / "src").mkdir()
    (tmp_path / "driver.py").write_text(_OUTSIDE_DRIVER.format(repo=str(REPO)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "driver.py"], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "FIRED 2" in out.stdout, out.stdout[-2000:]
