"""Window engine vs pandas oracle — row-for-row (SURVEY.md §5 port).

Covers CB and TB × {tumbling, sliding, hopping} × {INC, NIC}, the
plan-variant agreement matrix (win_seq == pane_farm == win_mapreduce),
and the per-key gwid-consecutiveness assertion (sum_cb.hpp:142-153).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

import oracle
from tests.conftest import assert_frames_equal
from windflow_spark.operators.windows import WinSpec, win_seq
from windflow_spark.operators.pane_farm import pane_farm
from windflow_spark.operators.win_mapreduce import win_mapreduce
from windflow_spark.streaming.engine import stream_win_tb

SHAPES = [
    pytest.param(16, 4, id="sliding"),
    pytest.param(10, 10, id="tumbling"),
    pytest.param(4, 10, id="hopping"),
]


def _oracle_sum(df, unit, win, slide):
    return oracle.windowed_agg(
        df, ["key"], unit, win, slide,
        lambda w: {"sum_value": w["value"].sum(), "cnt": len(w)},
    )


@pytest.mark.parametrize("win,slide", SHAPES)
@pytest.mark.parametrize("kind", ["cb", "tb"])
def test_win_seq_inc_vs_oracle(spark, cb_grid, tb_grid, kind, win, slide):
    pdf = cb_grid if kind == "cb" else tb_grid
    unit = "id" if kind == "cb" else "ts"
    df = spark.createDataFrame(pdf)
    got = win_seq(
        df, ["key"], unit, WinSpec(kind, win, slide),
        aggs={"sum_value": F.sum("value"), "cnt": F.count(F.lit(1))},
    ).toPandas()
    want = _oracle_sum(pdf, unit, win, slide)
    assert_frames_equal(got, want, ["key", "gwid"])


@pytest.mark.parametrize("win,slide", [(16, 4), (10, 10)])
def test_win_seq_nic_vs_oracle(spark, cb_grid, win, slide):
    """NIC path: UDF sees whole window content (Iterable analogue)."""
    df = spark.createDataFrame(cb_grid)

    def nic(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id")
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "gwid": [pdf["gwid"].iloc[0]],
                "sum_value": [pdf["value"].sum()],
                "cnt": [len(pdf)],
            }
        )

    got = win_seq(
        df, ["key"], "id", WinSpec("cb", win, slide),
        nic_fn=nic, nic_schema="key long, gwid long, sum_value long, cnt long",
    ).toPandas()
    want = _oracle_sum(cb_grid, "id", win, slide)
    assert_frames_equal(got, want, ["key", "gwid"])


def test_plan_variants_agree(spark, tb_grid):
    """win_seq == pane_farm == win_mapreduce — the reference's 30-config
    invariant (test_all_cb.cpp:161-825) collapsed to plan variants."""
    df = spark.createDataFrame(tb_grid)
    spec = WinSpec("tb", 16, 4)
    partial = {"p_sum": F.sum("value"), "p_cnt": F.count(F.lit(1))}
    merge = {"sum_value": F.sum("p_sum"), "cnt": F.sum("p_cnt")}
    base = win_seq(df, ["key"], "ts", spec,
                   aggs={"sum_value": F.sum("value"), "cnt": F.count(F.lit(1))}).toPandas()
    pf = pane_farm(df, ["key"], "ts", spec, partial, merge).toPandas()
    wm = win_mapreduce(df, ["key"], "ts", spec, partial, merge, degree=4).toPandas()
    assert_frames_equal(pf, base, ["key", "gwid"])
    assert_frames_equal(wm, base, ["key", "gwid"])


def test_parallelism_invariance(cb_grid):
    """Identical results across parallelism levels
    (test_pipe_kf_tb.cpp:263-317 analogue)."""
    from windflow_spark.session import get_spark

    spark = get_spark("wf-par", master="local[4]")
    results = []
    for parts in (2, 16):
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        df = spark.createDataFrame(cb_grid).repartition(parts)
        r = win_seq(df, ["key"], "id", WinSpec("cb", 16, 4),
                    aggs={"sum_value": F.sum("value")}).toPandas()
        results.append(r)
    assert_frames_equal(results[0], results[1], ["key", "gwid"])
    spark.conf.set("spark.sql.shuffle.partitions", "4")


def test_gwid_consecutive_per_key(spark, cb_grid):
    """Per-key gwids consecutive from 0 (sum_cb.hpp:142-153)."""
    df = spark.createDataFrame(cb_grid)
    got = win_seq(df, ["key"], "id", WinSpec("cb", 10, 10),
                  aggs={"cnt": F.count(F.lit(1))}).toPandas()
    for _, g in got.groupby("key"):
        wids = sorted(g["gwid"])
        assert wids == list(range(len(wids)))


def test_tb_native_window_parity(spark, transcripts):
    """F.window as the streaming TB plan (stream_win_tb) runs it, here
    over a batch frame, == explode-based win_seq on real timestamps
    (epoch-micros units): sliding, tumbling and hopping (the
    tumbling-of-slide path) specs."""
    df = spark.createDataFrame(transcripts)
    aggs = {"cnt": F.count(F.lit(1)), "sum_len": F.sum(F.length("text"))}
    for win, slide in [(30, 10), (10, 10), (10, 30)]:
        native = stream_win_tb(
            df, ["conv_id"], "ts", WinSpec("tb", win, slide), aggs=aggs, unit="second",
        ).toPandas()
        exploded = win_seq(
            df.withColumn("us", F.unix_micros("ts")), ["conv_id"], "us",
            WinSpec("tb", win * 1_000_000, slide * 1_000_000), aggs=aggs,
            with_win_end=False,
        ).toPandas()
        assert len(native) > 0, (win, slide)
        assert_frames_equal(native, exploded, ["conv_id", "gwid"])


def test_hopping_discards_gap_rows(spark, cb_grid):
    """Hopping windows (win<slide) discard out-of-window tuples
    (includes/win_seq.hpp:326-338): total count < input count."""
    df = spark.createDataFrame(cb_grid)
    got = win_seq(df, ["key"], "id", WinSpec("cb", 4, 10),
                  aggs={"cnt": F.count(F.lit(1))}).toPandas()
    n_keys = cb_grid["key"].nunique()
    length = cb_grid["id"].max() + 1
    # per key: ids with id % 10 < 4 are kept
    expect_total = n_keys * sum(1 for i in range(length) if i % 10 < 4)
    assert got["cnt"].sum() == expect_total


def test_sliding_agg_auto_routes_and_matches(spark, tb_grid):
    """sliding_agg: low-overlap specs use the direct plan, high-overlap
    routes to pane decomposition — identical results either way."""
    from windflow_spark.operators.pane_farm import sliding_agg
    from windflow_spark.plans import audit

    df = spark.createDataFrame(tb_grid)
    aggs = {"sum_value": ("sum", "value"), "cnt": ("count", "value"),
            "mx": ("max", "value"), "av": ("avg", "value")}
    lo = sliding_agg(df, ["key"], "ts", WinSpec("tb", 16, 4), aggs)
    hi = sliding_agg(df, ["key"], "ts", WinSpec("tb", 160, 4), aggs)
    assert audit.count_exchanges(lo) == 1   # direct
    assert audit.count_exchanges(hi) == 2   # pane-decomposed
    # both match win_seq direct output
    for spec, routed in ((WinSpec("tb", 16, 4), lo), (WinSpec("tb", 160, 4), hi)):
        want = win_seq(
            df, ["key"], "ts", spec,
            aggs={"sum_value": F.sum("value"), "cnt": F.count(F.lit(1)),
                  "mx": F.max("value"), "av": F.avg("value")},
        ).toPandas()
        assert_frames_equal(routed.toPandas(), want, ["key", "gwid"])


def test_sliding_agg_size_aware_routing(spark, tb_grid):
    """The router also trips on estimated input size: ratio ≥ 2 over an
    input past pane_bytes_threshold routes to pane even below the ratio
    threshold (at 100 TB the explode factor always loses to the pane
    pre-shrink); results identical to the direct plan."""
    from windflow_spark.operators.pane_farm import sliding_agg
    from windflow_spark.plans import audit

    df = spark.createDataFrame(tb_grid)
    aggs = {"sum_value": ("sum", "value"), "cnt": ("count", "value")}
    spec = WinSpec("tb", 16, 4)  # ratio 4 — below the ratio threshold
    small = sliding_agg(df, ["key"], "ts", spec, aggs)
    assert audit.count_exchanges(small) == 1  # stats small → direct
    big = sliding_agg(df, ["key"], "ts", spec, aggs, pane_bytes_threshold=1)
    assert audit.count_exchanges(big) == 2  # size trip → pane
    want = win_seq(
        df, ["key"], "ts", spec,
        aggs={"sum_value": F.sum("value"), "cnt": F.count(F.lit(1))},
    ).toPandas()
    assert_frames_equal(big.toPandas(), want, ["key", "gwid"])


def test_hierarchical_rollup(spark, tb_grid):
    """Hypertable rollup: each level equals a direct tumbling win_seq at
    that granularity; coarser levels computed from finer partials."""
    from windflow_spark.operators.pane_farm import hierarchical_rollup

    df = spark.createDataFrame(tb_grid)
    levels = hierarchical_rollup(
        df, ["key"], "ts", [10, 50, 200],
        partial_aggs={"p_sum": F.sum("value"), "p_cnt": F.count(F.lit(1))},
        combine_aggs={"p_sum": F.sum("p_sum"), "p_cnt": F.sum("p_cnt")},
        merge_aggs={"sum_value": F.sum("p_sum"), "cnt": F.sum("p_cnt")},
    )
    for g, lvl in levels.items():
        want = win_seq(
            df, ["key"], "ts", WinSpec("tb", g, g),
            aggs={"sum_value": F.sum("value"), "cnt": F.count(F.lit(1))},
            with_win_end=False,
        ).toPandas()
        assert_frames_equal(lvl.toPandas(), want, ["key", "gwid"])


def test_nic_group_size_guard_fires(spark):
    """grouped_apply_in_pandas fails fast (with a pointer to INC/pane
    decomposition) when one group exceeds max_group_rows — the
    reference's own bounded-window caveat (win_seq.hpp:26-29) made
    explicit instead of degrading quadratically in the carry concat."""
    import pandas as pd
    import pytest

    from windflow_spark.operators.windows import grouped_apply_in_pandas

    df = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 5000, "v": range(5000)})
    )
    plan = grouped_apply_in_pandas(
        df, ["k"],
        lambda g: pd.DataFrame({"k": [g["k"].iloc[0]], "n": [len(g)]}),
        "k long, n long",
        max_group_rows=1000,
    )
    with pytest.raises(Exception, match="max_group_rows"):
        plan.collect()


def test_nic_guard_no_false_positive_when_group_ends_in_next_batch(spark):
    """The pre-concat guard must count only the rows that CONTINUE the
    carried group: a large following group in the same Arrow batch must
    not trip the cap (ADVICE r3 — the raise previously compared
    len(carry)+len(batch) even when the carried group ended within the
    batch's first rows)."""
    import pandas as pd

    from windflow_spark.operators.windows import grouped_apply_in_pandas

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # one partition + 500-row Arrow batches force group 'a' (600
        # rows) to straddle a batch boundary with group 'b' behind it
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
        df = spark.createDataFrame(
            pd.DataFrame({"k": ["a"] * 600 + ["b"] * 600, "v": range(1200)})
        )
        out = grouped_apply_in_pandas(
            df, ["k"],
            lambda g: pd.DataFrame({"k": [g["k"].iloc[0]], "n": [len(g)]}),
            "k string, n long",
            max_group_rows=800,  # > either group, < carry + full batch
        ).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
    assert dict(zip(out["k"], out["n"])) == {"a": 600, "b": 600}


def test_pane_topk_exact_vs_brute_force(spark):
    """pane_topk == per-window row_number brute force, including the
    value-DESC / id-ASC tiebreak — pane pre-top-k is lossless because
    a window-top-k element is necessarily in its pane's top-k."""
    import numpy as np
    import pandas as pd

    from windflow_spark.operators.pane_farm import pane_topk

    rng = np.random.default_rng(3)
    n = 1500
    pdf = pd.DataFrame({
        "k": rng.integers(0, 3, n).astype(str),
        "t": rng.integers(0, 400, n).astype(np.int64),
        "id": np.arange(n, dtype=np.int64),
        # duplicate values on purpose: exercises the id tiebreak
        "v": np.round(rng.normal(50, 30, n), 1),
    })
    got = pane_topk(
        spark.createDataFrame(pdf), ["k"], "t", WinSpec("tb", 64, 16),
        order_col="v", id_col="id", k=3,
    ).toPandas()
    rows = []
    for _, r in pdf.iterrows():
        first = max(0, (r["t"] - 64) // 16 + 1)
        for w in range(int(first), int(r["t"] // 16) + 1):
            rows.append((r["k"], w, r["id"], r["v"]))
    ex = pd.DataFrame(rows, columns=["k", "gwid", "id", "v"]).sort_values(
        ["k", "gwid", "v", "id"], ascending=[True, True, False, True]
    )
    ex["rnk"] = ex.groupby(["k", "gwid"]).cumcount() + 1
    want = ex[ex["rnk"] <= 3][["k", "gwid", "rnk", "id", "v"]]
    assert_frames_equal(got, want, ["k", "gwid", "rnk"])


def test_pane_topk_and_quantile_ignore_null_order_values(spark):
    """ADVICE r4: NULL/NaN order values would sort FIRST in the
    ascending struct sort (-NULL before every number) and dominate the
    top-k; both ops now filter them up front, matching a NULLS LAST
    row_number oracle / non-null histogram."""
    import math as _math

    import pandas as pd

    from windflow_spark.operators.pane_farm import pane_quantile, pane_topk

    pdf = pd.DataFrame({
        "k": ["a"] * 8,
        "t": [0, 1, 2, 3, 4, 5, 6, 7],
        "id": [0, 1, 2, 3, 4, 5, 6, 7],
        "v": [5.0, None, 3.0, float("nan"), 9.0, 1.0, None, 7.0],
    })
    got = pane_topk(
        spark.createDataFrame(pdf), ["k"], "t", WinSpec("tb", 8, 4),
        order_col="v", id_col="id", k=2,
    ).toPandas()
    w1 = got[got["gwid"] == 1].sort_values("rnk")
    # window 1 covers t in [4, 12): non-null values 9.0(id4), 1.0(id5),
    # 7.0(id7) — top-2 = ids 4, 7; the NULL at id6 must not appear
    assert w1["id"].tolist() == [4, 7]
    assert w1["v"].tolist() == [9.0, 7.0]
    q = pane_quantile(
        spark.createDataFrame(pdf), ["k"], "t", WinSpec("tb", 8, 4),
        value_col="v", q=0.5, bucket_width=1.0,
    ).toPandas()
    q1 = q[q["gwid"] == 1].iloc[0]
    assert q1["cnt"] == 3  # non-null rows only
    assert not _math.isnan(q1["est"]) and q1["est"] == 7.0


def test_pane_quantile_brackets_exact_discrete_quantile(spark):
    """pane_quantile's lower bucket edge brackets the exact type-1
    quantile within one bucket_width on EVERY window, and the merged
    counts are exact."""
    import numpy as np
    import pandas as pd

    from windflow_spark.operators.pane_farm import pane_quantile

    rng = np.random.default_rng(7)
    n = 1500
    width = 10.0
    pdf = pd.DataFrame({
        "k": rng.integers(0, 3, n).astype(str),
        "t": rng.integers(0, 400, n).astype(np.int64),
        # negative values included: floor-bucket math must hold
        "v": np.round(rng.normal(20, 40, n), 3),
    })
    got = pane_quantile(
        spark.createDataFrame(pdf), ["k"], "t", WinSpec("tb", 64, 16),
        "v", 0.5, width,
    ).toPandas()
    rows = []
    for _, r in pdf.iterrows():
        first = max(0, (r["t"] - 64) // 16 + 1)
        for w in range(int(first), int(r["t"] // 16) + 1):
            rows.append((r["k"], w, r["v"]))
    ex = pd.DataFrame(rows, columns=["k", "gwid", "v"])
    exact = ex.groupby(["k", "gwid"])["v"].apply(
        lambda s: sorted(s)[int(np.ceil(0.5 * len(s))) - 1]
    ).reset_index(name="exact")
    cnt = ex.groupby(["k", "gwid"]).size().reset_index(name="cnt_x")
    m = got.merge(exact, on=["k", "gwid"], how="outer").merge(
        cnt, on=["k", "gwid"], how="outer")
    assert not m.isna().any().any()  # same window set, no gaps
    assert (m["cnt"] == m["cnt_x"]).all()
    assert ((m["exact"] >= m["est"]) & (m["exact"] < m["est"] + width)).all()
