"""Session windows + as-of join vs pandas oracles (FIXTURES.md F7)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

import oracle
from tests.conftest import assert_frames_equal
from windflow_spark.operators.joins import asof_join, broadcast_dim_join
from windflow_spark.operators.sessions import session_windows
import datagen


def test_session_windows_vs_oracle(spark, transcripts):
    pdf = transcripts.assign(us=transcripts["ts"].astype("int64") // 1000)
    gap = int(pdf.groupby("conv_id")["us"].diff().median() * 5)
    df = spark.createDataFrame(pdf)
    got = session_windows(
        df, ["conv_id"], "us", gap, aggs={"cnt": F.count(F.lit(1))}
    ).toPandas()
    want_rows = oracle.session_split(pdf, ["conv_id"], "us", gap)
    want = (
        want_rows.groupby(["conv_id", "session_id"])
        .agg(session_start=("us", "min"), session_end=("us", "max"), cnt=("us", "size"))
        .reset_index()
    )
    assert_frames_equal(got, want, ["conv_id", "session_id"])


def test_asof_join_vs_oracle(spark, transcripts):
    """F7: assistant turns ↔ latest triggering user/tool turn within bound."""
    pdf = transcripts.assign(us=transcripts["ts"].astype("int64") // 1000)
    bound = int(pdf.groupby("conv_id")["us"].diff().max() * 2)
    left_pd = pdf[pdf.role == "assistant"]
    right_pd = pdf[pdf.role.isin(["user", "tool"])]
    df = spark.createDataFrame(pdf)
    left = df.filter(F.col("role") == "assistant")
    right = df.filter(F.col("role").isin("user", "tool")).select(
        "conv_id", F.col("us").alias("r_us"), F.col("turn_idx").alias("r_turn")
    )
    got = asof_join(
        left, right, ["conv_id"], "us", "r_us", bound,
        left_id=["conv_id", "turn_idx"], right_payload=["r_turn"], how="inner",
    ).toPandas()
    want = oracle.asof_match(
        left_pd[["conv_id", "turn_idx", "us"]],
        right_pd[["conv_id", "us", "turn_idx"]].rename(columns={"turn_idx": "r_turn", "us": "r_us_src"}),
        ["conv_id"], "us", "r_us_src", bound,
    )
    want = want.dropna(subset=["_rts"]).rename(columns={"_rts": "matched_ts", "r_turn": "matched_r_turn"})
    want = want[["conv_id", "turn_idx", "matched_ts", "matched_r_turn"]]
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])


def test_ysb_broadcast_join(spark):
    """F6: filter event_type==0 → broadcast static dim → tumbling 10s
    count+max per campaign (yahoo_app.hpp:149-176), windowed by the
    streaming TB plan (stream_win_tb) over the batch frame."""
    from windflow_spark.operators.windows import WinSpec
    from windflow_spark.streaming.engine import stream_win_tb

    events_pd, campaigns_pd = datagen.gen_ysb(n_events=9000)
    events = spark.createDataFrame(events_pd)
    campaigns = spark.createDataFrame(campaigns_pd)
    joined = broadcast_dim_join(
        events.filter(F.col("event_type") == 0), campaigns, on="ad_id"
    )
    got = stream_win_tb(
        joined, ["cmp_id"], "ts", WinSpec("tb", 10, 10),
        aggs={"cnt": F.count(F.lit(1)), "last_ts": F.max(F.unix_micros("ts"))},
        unit="second",
    ).toPandas()
    # oracle in pandas
    f = events_pd[events_pd.event_type == 0].merge(campaigns_pd, on="ad_id")
    us = f["ts"].astype("int64") // 1000
    f = f.assign(gwid=us // 10_000_000, u=us)
    want = (
        f.groupby(["cmp_id", "gwid"])
        .agg(cnt=("u", "size"), last_ts=("u", "max"))
        .reset_index()
    )
    assert_frames_equal(got, want, ["cmp_id", "gwid"])
    # broadcast actually planned
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
