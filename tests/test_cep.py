"""CEP sequence matching: batch lead()-window matcher vs hand-computed
fixtures and a pandas reference, streaming stateful matcher vs the
batch result across micro-batch boundaries (exactly-once, bounded
carry). Extension operator (no reference analogue — WindFlow's
"patterns" are its operators); semantics defined in
windflow_spark/operators/cep.py."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import datagen
from tests.conftest import assert_frames_equal
from windflow_spark.operators import cep
from windflow_spark.streaming import engine as se


def _df(spark, rows, cols=("k", "i", "ev", "us")):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)))


def test_match_events_hand_fixture(spark):
    """Known matches, id-gap strictness, overlap, within bound."""
    rows = [
        # key a: a b b -> AB at 0; BB at 1 would need steps; gap 3->5
        ("a", 0, "A", 0),
        ("a", 1, "B", 10),
        ("a", 2, "B", 20),
        ("a", 3, "A", 30),
        ("a", 5, "B", 50),  # id gap: A@3 -> B@5 must NOT match
        ("b", 0, "A", 0),
        ("b", 1, "B", 1000),  # within bound excludes when within=100
    ]
    df = _df(spark, rows)
    steps = [F.col("ev") == "A", F.col("ev") == "B"]
    got = (
        cep.match_events(df, "k", "i", steps)
        .toPandas()
        .sort_values(["k", "start_id"])
        .reset_index(drop=True)
    )
    assert [tuple(r) for r in got[["k", "start_id", "end_id"]].to_numpy()] == [
        ("a", 0, 1),
        ("b", 0, 1),
    ]
    # within: the b match spans 1000 us and is excluded at within=100
    got_w = cep.match_events(
        df, "k", "i", steps, ts_col="us", within=100
    ).toPandas()
    assert set(map(tuple, got_w[["k", "start_id"]].to_numpy())) == {("a", 0)}
    assert list(got_w.columns) == ["k", "start_id", "end_id", "ts_first", "ts_last"]
    # overlap: B B B with steps (B, B) matches at 0 AND 1
    df2 = _df(spark, [("c", 0, "B", 0), ("c", 1, "B", 1), ("c", 2, "B", 2)])
    got2 = cep.match_events(df2, "k", "i", [F.col("ev") == "B"] * 2).toPandas()
    assert sorted(got2["start_id"].tolist()) == [0, 1]


def test_match_events_null_predicate_is_false(spark):
    pdf = pd.DataFrame(
        {"k": ["a"] * 3, "i": [0, 1, 2], "v": [1.0, None, 3.0]}
    )
    df = spark.createDataFrame(pdf)
    # v > 0 is NULL on the middle row -> no (v>0, v>0) match at 0
    got = cep.match_events(df, "k", "i", [F.col("v") > 0] * 2).toPandas()
    assert got["start_id"].tolist() == []


def _pandas_reference(pdf, k_steps, within=None):
    """Straight-line reference: per key, sorted by id, test every
    start position."""
    out = []
    k = len(k_steps)
    for key, g in pdf.groupby("k"):
        g = g.sort_values("i").reset_index(drop=True)
        for s in range(len(g) - k + 1):
            win = g.iloc[s : s + k]
            if win["i"].iloc[-1] != win["i"].iloc[0] + k - 1:
                continue
            if not all(step(win.iloc[j]) for j, step in enumerate(k_steps)):
                continue
            if within is not None and (
                win["us"].iloc[-1] - win["us"].iloc[0] > within
            ):
                continue
            out.append((key, int(win["i"].iloc[0]), int(win["i"].iloc[-1])))
    return sorted(out)


def test_match_events_vs_pandas_reference(spark):
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], n),
            "ev": rng.choice(["A", "B", "C"], n),
            "us": rng.integers(0, 10_000, n),
        }
    )
    pdf["i"] = pdf.groupby("k").cumcount()
    # drop ~10% of rows to create id gaps
    pdf = pdf[rng.random(n) > 0.1].reset_index(drop=True)
    df = spark.createDataFrame(pdf)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    got = sorted(
        map(
            tuple,
            cep.match_events(df, "k", "i", steps)
            .toPandas()[["k", "start_id", "end_id"]]
            .to_numpy(),
        )
    )
    want = _pandas_reference(
        pdf,
        [
            lambda r: r["ev"] == "A",
            lambda r: r["ev"] == "B",
            lambda r: r["ev"] == "C",
        ],
    )
    assert got == want and len(want) > 0


def test_stream_match_equals_batch(spark, tdir):
    """Streaming matcher == batch matcher on the transcripts fixture,
    with max_files_per_trigger=1 so the k-1 carry genuinely crosses
    micro-batch boundaries; exactly-once (no duplicate match rows)."""
    pdf = datagen.gen_transcripts(n_convs=20, seed=7, mean_turns=30)
    path = str(tdir / "tx")
    os.makedirs(path, exist_ok=True)
    for shard in range(5):
        part = pdf[pdf["turn_idx"].map(lambda i: i % 5) == shard]
        # shard by turn ranges so one conversation SPANS several files
        part = pdf[(pdf["turn_idx"] >= shard * 8) & (pdf["turn_idx"] < (shard + 1) * 8)]
        if len(part):
            datagen.write_parquet_us(part, f"{path}/part-{shard}.parquet")
    left = pdf[pdf["turn_idx"] >= 40]
    if len(left):
        datagen.write_parquet_us(left, f"{path}/part-tail.parquet")
    batch = spark.read.parquet(path)
    steps = [
        F.col("role") == "user",
        F.col("role") == "assistant",
        F.col("role") == "tool",
    ]
    want = (
        cep.match_events(batch, "conv_id", "turn_idx", steps)
        .toPandas()
        .rename(columns={"conv_id": "conv_id"})
    )
    schema = spark.read.parquet(path).schema
    src = se.stream_source(spark, path, schema, max_files_per_trigger=1)
    out = se.stream_match_events(src, "conv_id", "turn_idx", steps)
    got = se.run_to_memory(out, "t_cep_stream", spark, output_mode="append").toPandas()
    assert len(got) == len(want) > 0
    assert not got.duplicated(["conv_id", "start_id"]).any()
    assert_frames_equal(got, want, ["conv_id", "start_id"])


def test_stream_match_within_bound(spark, tdir):
    """ts plumbing through the stateful matcher: the within bound
    excludes slow sequences identically to batch."""
    pdf = datagen.gen_transcripts(n_convs=10, seed=13, mean_turns=20)
    pdf = pdf.assign(us=(pd.to_datetime(pdf["ts"], utc=True).astype("int64") // 1000))
    path = str(tdir / "tx2")
    os.makedirs(path, exist_ok=True)
    datagen.write_parquet_us(pdf.drop(columns=["us"]), f"{path}/part-0.parquet")
    batch = spark.read.parquet(path)
    from windflow_spark.operators.windows import epoch_us

    steps = [F.col("role") == "assistant", F.col("role") == "tool"]
    within = 3_000_000  # 3 s
    want = cep.match_events(
        batch.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", within=within,
    ).toPandas()
    schema = spark.read.parquet(path).schema
    src = se.stream_source(spark, path, schema, max_files_per_trigger=1)
    out = se.stream_match_events(
        src.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", within=within,
    )
    got = se.run_to_memory(out, "t_cep_within", spark, output_mode="append").toPandas()
    # the bound must actually discriminate on this fixture
    loose = cep.match_events(
        batch.withColumn("us", epoch_us("ts")), "conv_id", "turn_idx", steps
    ).count()
    assert 0 < len(want) < loose
    assert_frames_equal(got, want, ["conv_id", "start_id"])


# ---- skip-till-next-match (mode="skip") ----------------------------


def _pandas_reference_skip(pdf, preds, within=None):
    """Greedy-earliest reference: every step-0 row starts a match; each
    later step binds to the first following satisfying row."""
    out = []
    k = len(preds)
    for key, g in pdf.groupby("k"):
        g = g.sort_values("i").reset_index(drop=True)
        for s in range(len(g)):
            if not preds[0](g.iloc[s]):
                continue
            pos, ok = s, True
            for j in range(1, k):
                nxt = next(
                    (t for t in range(pos + 1, len(g)) if preds[j](g.iloc[t])),
                    None,
                )
                if nxt is None:
                    ok = False
                    break
                pos = nxt
            if not ok:
                continue
            if within is not None and (
                g["us"].iloc[pos] - g["us"].iloc[s] > within
            ):
                continue
            out.append((key, int(g["i"].iloc[s]), int(g["i"].iloc[pos])))
    return sorted(out)


def test_match_events_skip_hand_fixture(spark):
    """Greedy-earliest binding, skipping non-matching rows; overlap;
    within bound; sparse (non-dense) ids allowed in skip mode."""
    rows = [
        ("a", 0, "A", 0),
        ("a", 2, "X", 10),   # skipped; also an id gap (sparse ids OK)
        ("a", 3, "B", 20),
        ("a", 5, "A", 40),
        ("a", 7, "B", 60),
        ("a", 9, "C", 80),
        ("b", 0, "A", 0),
        ("b", 1, "C", 5),    # no B ever -> no match
    ]
    df = _df(spark, rows)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    got = sorted(
        map(
            tuple,
            cep.match_events(df, "k", "i", steps, mode="skip")
            .toPandas()[["k", "start_id", "end_id"]]
            .to_numpy(),
        )
    )
    # A@0 -> first B after = 3 -> first C after = 9; A@5 -> B@7 -> C@9
    assert got == [("a", 0, 9), ("a", 5, 9)]
    # within: span 80 excluded at 50; span 40 (start 5: 40..80) kept
    got_w = cep.match_events(
        df, "k", "i", steps, ts_col="us", within=50, mode="skip"
    ).toPandas()
    assert set(got_w["start_id"]) == {5}
    assert list(got_w.columns) == ["k", "start_id", "end_id", "ts_first", "ts_last"]


def test_match_events_skip_vs_pandas_reference(spark):
    rng = np.random.default_rng(23)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], n),
            "ev": rng.choice(["A", "B", "C", "X"], n),
            "us": np.arange(n, dtype=np.int64) * 7,
        }
    )
    pdf["i"] = pdf.groupby("k").cumcount()
    pdf = pdf[rng.random(n) > 0.1].reset_index(drop=True)  # id gaps
    df = spark.createDataFrame(pdf)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    preds = [
        lambda r: r["ev"] == "A",
        lambda r: r["ev"] == "B",
        lambda r: r["ev"] == "C",
    ]
    for within in (None, 400):
        got = sorted(
            map(
                tuple,
                cep.match_events(
                    df, "k", "i", steps,
                    ts_col="us" if within else None,
                    within=within, mode="skip",
                )
                .toPandas()[["k", "start_id", "end_id"]]
                .to_numpy(),
            )
        )
        want = _pandas_reference_skip(pdf, preds, within=within)
        assert got == want and len(want) > 0


def _assert_zero_join_plans(spark, events: str) -> None:
    """Every mode of one key's ``events`` plans as the completion stack:
    no join of any kind and exactly one exchange."""
    from windflow_spark.plans import audit

    docs = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * len(events), "i": range(len(events)),
                      "ev": list(events), "us": range(len(events))})
    )
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    for kw in ({}, {"mode": "skip"}, {"quantifiers": "1+1"}):
        out = cep.match_events(docs, "k", "i", steps, ts_col="us", **kw)
        plan = audit.physical_plan(out)
        assert "Join" not in plan and "CartesianProduct" not in plan, (kw, plan)
        assert audit.count_exchanges(out) == 1, (kw, plan)


def test_match_events_skip_plan_no_quadratic_join(spark):
    """Skip mode's greedy chain, and the other two modes on the same
    rows, are one keyed window stack: no join, one exchange."""
    _assert_zero_join_plans(spark, "ABXCABXC")


def test_stream_match_skip_equals_batch(spark, tdir):
    """Streaming skip-till-next == batch skip mode across micro-batch
    boundaries (the judge's transcript pattern: user asks -> tool call
    -> assistant answers, other turns between), exactly-once."""
    from windflow_spark.operators.windows import epoch_us

    pdf = datagen.gen_transcripts(n_convs=20, seed=29, mean_turns=30)
    path = str(tdir / "tx_skip")
    os.makedirs(path, exist_ok=True)
    for shard in range(6):
        part = pdf[(pdf["turn_idx"] >= shard * 7) & (pdf["turn_idx"] < (shard + 1) * 7)]
        if len(part):
            datagen.write_parquet_us(part, f"{path}/part-{shard}.parquet")
    left = pdf[pdf["turn_idx"] >= 42]
    if len(left):
        datagen.write_parquet_us(left, f"{path}/part-tail.parquet")
    batch = spark.read.parquet(path)
    steps = [
        F.col("role") == "user",
        F.col("role") == "tool",
        F.col("role") == "assistant",
    ]
    within = 60_000_000  # 60 s
    want = cep.match_events(
        batch.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", within=within, mode="skip",
    ).toPandas()
    # the bound and the skipping must both discriminate on this fixture
    strictish = cep.match_events(
        batch.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", within=within,
    ).count()
    assert len(want) > strictish, (len(want), strictish)
    schema = spark.read.parquet(path).schema
    src = se.stream_source(spark, path, schema, max_files_per_trigger=1)
    out = se.stream_match_events(
        src.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", within=within, mode="skip",
    )
    got = se.run_to_memory(out, "t_cep_skip", spark, output_mode="append").toPandas()
    assert len(got) == len(want) > 0
    assert not got.duplicated(["conv_id", "start_id"]).any()
    assert_frames_equal(got, want, ["conv_id", "start_id"])


def test_match_skip_validation(spark):
    df = _df(spark, [("a", 0, "A", 0), ("a", 1, "B", 1)])
    steps = [F.col("ev") == "A", F.col("ev") == "B"]
    with pytest.raises(ValueError, match="mode"):
        cep.match_events(df, "k", "i", steps, mode="kleene")
    with pytest.raises(ValueError, match="skip"):
        se.stream_match_events(df, "k", "i", steps, mode="skip")


def test_stream_match_long_key_schema(spark, tdir):
    """ADVICE r6: a non-string key flows through the stateful matcher
    with a correctly derived output schema."""
    pdf = pd.DataFrame(
        {"k": [7, 7, 7, 9, 9], "i": [0, 1, 2, 0, 1],
         "ev": ["A", "B", "A", "A", "B"],
         "ts": pd.to_datetime([1, 2, 3, 4, 5], unit="s")}
    )
    path = str(tdir / "longkey")
    os.makedirs(path, exist_ok=True)
    datagen.write_parquet_us(pdf, f"{path}/part-0.parquet")
    schema = spark.read.parquet(path).schema
    src = se.stream_source(spark, path, schema)
    steps = [F.col("ev") == "A", F.col("ev") == "B"]
    out = se.stream_match_events(src, "k", "i", steps)
    got = se.run_to_memory(out, "t_cep_longk", spark, output_mode="append").toPandas()
    assert got.dtypes["k"].kind == "i", got.dtypes
    assert sorted(map(tuple, got[["k", "start_id"]].to_numpy())) == [(7, 0), (9, 0)]


#: step predicates (SQL) and options per mode
_MULTI_CHUNK_MODES = {
    "strict": (["v < 6", "v >= 3", "v < 8"], {}),
    "skip": (["v < 2", "v = 5", "v > 8"], {"mode": "skip", "within": 30}),
    "kleene": (["v < 4", "v >= 4", "v < 4"], {"quantifiers": "1+1"}),
}


@pytest.mark.parametrize("mode", list(_MULTI_CHUNK_MODES))
def test_stream_match_multi_chunk_batch_equals_batch(spark, multi_chunk_batch, mode):
    """Regression: a key whose rows reach the matcher as several Arrow
    chunks out of id order in one micro-batch must not lose matches to
    the drop rule — the processor sorts each key's rows once per batch
    and runs its kernel once, in every mode."""
    path = multi_chunk_batch
    preds, kw = _MULTI_CHUNK_MODES[mode]
    steps = [F.expr(p) for p in preds]

    def with_ts(df):
        return df.withColumn("us", F.col("turn_idx").cast("long"))

    want = cep.match_events(
        with_ts(spark.read.parquet(path)), "conv_id", "turn_idx", steps, ts_col="us", **kw
    ).toPandas()
    src = se.stream_source(spark, path, spark.read.parquet(path).schema)
    out = se.stream_match_events(with_ts(src), "conv_id", "turn_idx", steps,
                                 ts_col="us", **kw)
    got = se.run_to_memory(out, f"t_cep_chunks_{mode}", spark,
                           output_mode="append").toPandas()
    assert len(want) > 100
    assert_frames_equal(got, want, ["conv_id", "start_id"])


def test_stream_match_strict_within_ts_not_monotone(spark, tdir):
    """Strict mode needs no ts order: ``within`` only filters completed
    matches (ts_last − ts_first), so a partial is not expired when a
    later row's ts runs past its span. Key a's match 0-2 crosses the
    batch boundary after a row whose ts is 90 s past its start yet ends
    2 s after it; key b's match spans 40 s and is filtered, as in
    batch."""
    pdf = pd.DataFrame({
        "k": ["a"] * 5 + ["b"] * 3,
        "i": [0, 1, 2, 3, 4, 0, 1, 2],
        "ev": ["A", "B", "C", "A", "B", "A", "B", "C"],
        "us": [10, 100, 12, 13, 14, 0, 1, 40],
    }).assign(us=lambda d: d["us"] * 1_000_000)
    path = str(tdir / "strict_within_ts")
    os.makedirs(path, exist_ok=True)
    # batch 1 ends on a's B (ts 100 s) and b's B; the C rows come next
    datagen.write_parquet_us(pdf[pdf["i"] < 2], f"{path}/part-0.parquet")
    datagen.write_parquet_us(pdf[pdf["i"] >= 2], f"{path}/part-1.parquet")
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    within = 5_000_000
    want = cep.match_events(
        spark.read.parquet(path), "k", "i", steps, ts_col="us", within=within
    ).toPandas()
    assert sorted(map(tuple, want[["k", "start_id", "end_id"]].to_numpy())) == [("a", 0, 2)]
    src = se.stream_source(spark, path, spark.read.parquet(path).schema,
                           max_files_per_trigger=1)
    out = se.stream_match_events(src, "k", "i", steps, ts_col="us", within=within)
    got = se.run_to_memory(out, "t_cep_strict_ts", spark, output_mode="append").toPandas()
    assert_frames_equal(got, want, ["k", "start_id"])


# ---- Kleene-plus quantifiers (strict mode) --------------------------


def _pandas_reference_kleene(pdf, preds, quant, within=None):
    """Greedy-maximal reference: a + step consumes the maximal
    contiguous run; the next step binds at the first row failing it.
    Id gaps break runs/matches exactly like fixed-k strict mode."""
    out = []
    k = len(preds)
    for key, g in pdf.groupby("k"):
        g = g.sort_values("i").reset_index(drop=True)
        ids = g["i"].to_numpy()
        n = len(g)
        for s in range(n):
            if not preds[0](g.iloc[s]):
                continue
            pos, ok = s, True
            for j in range(k):
                if pos >= n or (pos > s and ids[pos] != ids[pos - 1] + 1):
                    ok = False
                    break
                if not preds[j](g.iloc[pos]):
                    ok = False
                    break
                end = pos
                if quant[j] == "+":
                    while (
                        end + 1 < n
                        and ids[end + 1] == ids[end] + 1
                        and preds[j](g.iloc[end + 1])
                    ):
                        end += 1
                pos = end + 1
            if not ok:
                continue
            e = pos - 1
            if within is not None and (
                g["us"].iloc[e] - g["us"].iloc[s] > within
            ):
                continue
            out.append((key, int(ids[s]), int(ids[e])))
    return sorted(out)


def test_match_events_kleene_hand_fixture(spark):
    """A B+ C: greedy-maximal runs, missing-B rejection, id-gap run
    breaks, partition-end final runs, overlapping + step-0 starts."""
    rows = [
        # a: A B B B C -> (0, 4); A B C -> (5, 7); A C -> no match
        ("a", 0, "A", 0), ("a", 1, "B", 10), ("a", 2, "B", 20),
        ("a", 3, "B", 30), ("a", 4, "C", 40),
        ("a", 5, "A", 50), ("a", 6, "B", 60), ("a", 7, "C", 70),
        ("a", 8, "A", 80), ("a", 9, "C", 90),
        # b: gap inside the B run -> later B can't chain; no C after
        # the contiguous prefix -> no match
        ("b", 0, "A", 0), ("b", 1, "B", 1),
        ("b", 3, "B", 3), ("b", 4, "C", 4),
    ]
    df = _df(spark, rows)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    got = sorted(
        map(
            tuple,
            cep.match_events(df, "k", "i", steps, quantifiers="1+1")
            .toPandas()[["k", "start_id", "end_id"]]
            .to_numpy(),
        )
    )
    assert got == [("a", 0, 4), ("a", 5, 7)]
    # final +: A B+ ends at the run end (incl. partition end)
    got2 = sorted(
        map(
            tuple,
            cep.match_events(
                df, "k", "i",
                [F.col("ev") == "A", F.col("ev") == "B"],
                quantifiers="1+",
            )
            .toPandas()[["k", "start_id", "end_id"]]
            .to_numpy(),
        )
    )
    # a: (0,3) closed by C, (5,6) closed by C; b: (0,1) closed by GAP
    assert got2 == [("a", 0, 3), ("a", 5, 6), ("b", 0, 1)]
    # + step 0 overlap: B+ C -> every B opens a match, same greedy end
    df3 = _df(
        spark,
        [("c", 0, "B", 0), ("c", 1, "B", 1), ("c", 2, "B", 2), ("c", 3, "C", 3)],
    )
    got3 = sorted(
        map(
            tuple,
            cep.match_events(
                df3, "k", "i",
                [F.col("ev") == "B", F.col("ev") == "C"],
                quantifiers="+1",
            )
            .toPandas()[["k", "start_id", "end_id"]]
            .to_numpy(),
        )
    )
    assert got3 == [("c", 0, 3), ("c", 1, 3), ("c", 2, 3)]
    # within: greedy span filtered, no backtracking to shorter runs
    got_w = cep.match_events(
        df, "k", "i", steps, ts_col="us", within=25, quantifiers="1+1"
    ).toPandas()
    assert set(got_w["start_id"]) == {5}  # span 20; start 0 spans 40
    assert list(got_w.columns) == ["k", "start_id", "end_id", "ts_first", "ts_last"]


def test_match_events_kleene_vs_pandas_reference(spark):
    rng = np.random.default_rng(37)
    n = 500
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], n),
            "ev": rng.choice(["A", "B", "C"], n, p=[0.3, 0.5, 0.2]),
            "us": np.arange(n, dtype=np.int64) * 5,
        }
    )
    pdf["i"] = pdf.groupby("k").cumcount()
    pdf = pdf[rng.random(n) > 0.05].reset_index(drop=True)  # id gaps
    df = spark.createDataFrame(pdf)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    preds = [
        lambda r: r["ev"] == "A",
        lambda r: r["ev"] == "B",
        lambda r: r["ev"] == "C",
    ]
    for quant, within in (("1+1", None), ("+1+", None), ("1+1", 60), ("++1", None)):
        got = sorted(
            map(
                tuple,
                cep.match_events(
                    df, "k", "i", steps,
                    ts_col="us" if within else None,
                    within=within, quantifiers=quant,
                )
                .toPandas()[["k", "start_id", "end_id"]]
                .to_numpy(),
            )
        )
        want = _pandas_reference_kleene(pdf, preds, list(quant), within=within)
        assert got == want, (quant, within, got[:5], want[:5])
        assert len(want) > 0, (quant, within)


def test_match_events_kleene_plan(spark):
    """Kleene's run stops, and the other two modes on the same rows,
    are one keyed window stack: no join, one exchange."""
    _assert_zero_join_plans(spark, "ABBCABBC")


def _sweep_events(spark):
    """400 random A/B/C events over three keys, with dense per-key ids
    in ``us`` order."""
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], n),
            "ev": rng.choice(["A", "B", "C"], n, p=[0.3, 0.5, 0.2]),
            "us": np.arange(n, dtype=np.int64) * 7,
        }
    )
    pdf["i"] = pdf.groupby("k").cumcount()
    return spark.createDataFrame(pdf)


def test_match_events_order_by_isomorphic(spark):
    """order_by (r8): window ordering by columns order-isomorphic to
    the id (here `us`, which the dense ids were derived from) must
    give identical matches in every mode — the point is only to let
    the matcher's windows reuse the upstream renumbering sort."""
    df = _sweep_events(spark)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    for kw in (
        {"mode": "skip"},
        {"quantifiers": "1+1"},
        {},
        {"mode": "skip", "ts_col": "us", "within": 300},
    ):
        base = cep.match_events(df, "k", "i", steps, **kw).toPandas()
        alt = cep.match_events(
            df, "k", "i", steps, order_by=[F.col("us")], **kw
        ).toPandas()
        cols = list(base.columns)
        b = base.sort_values(cols).reset_index(drop=True)
        a = alt.sort_values(cols).reset_index(drop=True)
        assert a.equals(b) and len(b) > 0, (kw, len(a), len(b))


def test_match_events_strict_matches_are_skip_matches(spark):
    """Cross-mode property: greedy-earliest binding makes every strict
    match a skip match of the same start with the same end — the
    contiguous binding is the earliest one — on the random sweep rows."""
    df = _sweep_events(spark)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]

    def matches(**kw):
        got = cep.match_events(df, "k", "i", steps, **kw).toPandas()
        return {(r.k, r.start_id): r.end_id for r in got.itertuples()}

    strict, skip = matches(), matches(mode="skip")
    assert strict and len(skip) > len(strict)
    assert all(skip.get(s) == e for s, e in strict.items())


def test_match_events_kleene_validation(spark):
    df = _df(spark, [("a", 0, "A", 0), ("a", 1, "B", 1)])
    steps = [F.col("ev") == "A", F.col("ev") == "B"]
    with pytest.raises(ValueError, match="one entry per step"):
        cep.match_events(df, "k", "i", steps, quantifiers="1+1")
    with pytest.raises(ValueError, match="quantifier"):
        cep.match_events(df, "k", "i", steps, quantifiers="1*")
    with pytest.raises(ValueError, match="strict-mode only"):
        cep.match_events(df, "k", "i", steps, mode="skip", quantifiers="1+")
    with pytest.raises(ValueError, match="strict-mode only"):
        se.stream_match_events(df, "k", "i", steps, mode="skip",
                               ts_col="us", within=10, quantifiers="1+")


def test_stream_match_kleene_equals_batch(spark, tdir):
    """Streaming Kleene == batch Kleene across micro-batch boundaries:
    user asks -> one-or-more agent turns (assistant/tool run of any
    length) -> the next user turn, with runs genuinely spanning files
    (max_files_per_trigger=1)."""
    from windflow_spark.operators.windows import epoch_us

    pdf = datagen.gen_transcripts(n_convs=25, seed=41, mean_turns=30)
    path = str(tdir / "tx_kleene")
    os.makedirs(path, exist_ok=True)
    for shard in range(6):
        part = pdf[(pdf["turn_idx"] >= shard * 7) & (pdf["turn_idx"] < (shard + 1) * 7)]
        if len(part):
            datagen.write_parquet_us(part, f"{path}/part-{shard}.parquet")
    left = pdf[pdf["turn_idx"] >= 42]
    if len(left):
        datagen.write_parquet_us(left, f"{path}/part-tail.parquet")
    batch = spark.read.parquet(path)
    steps = [
        F.col("role") == "user",
        F.col("role").isin("assistant", "tool"),
        F.col("role") == "user",
    ]
    want = cep.match_events(
        batch.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", quantifiers="1+1",
    ).toPandas()
    # the + must discriminate vs fixed-k on this fixture
    fixed = cep.match_events(
        batch.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us",
    ).count()
    assert len(want) > fixed, (len(want), fixed)
    schema = spark.read.parquet(path).schema
    src = se.stream_source(spark, path, schema, max_files_per_trigger=1)
    out = se.stream_match_events(
        src.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", quantifiers="1+1",
    )
    got = se.run_to_memory(out, "t_cep_kleene", spark, output_mode="append").toPandas()
    assert len(got) == len(want) > 0
    assert not got.duplicated(["conv_id", "start_id"]).any()
    assert_frames_equal(got, want, ["conv_id", "start_id"])


def test_stream_match_kleene_final_plus_closure(spark, tdir):
    """Final + runs: emitted when a later row closes them (incl. a
    run spanning a batch boundary, closed in the NEXT batch); the
    still-open run at stream end is the documented non-emission."""
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 7,
            "i": [0, 1, 2, 3, 4, 5, 6],
            "ev": ["A", "B", "B", "B", "C", "A", "B"],
            "ts": pd.to_datetime(range(7), unit="s"),
        }
    )
    path = str(tdir / "kleene_tail")
    os.makedirs(path, exist_ok=True)
    # shard so the B run 1..3 spans two files and closes in a third
    datagen.write_parquet_us(pdf.iloc[:2], f"{path}/part-0.parquet")
    datagen.write_parquet_us(pdf.iloc[2:4], f"{path}/part-1.parquet")
    datagen.write_parquet_us(pdf.iloc[4:], f"{path}/part-2.parquet")
    schema = spark.read.parquet(path).schema
    steps = [F.col("ev") == "A", F.col("ev") == "B"]
    src = se.stream_source(spark, path, schema, max_files_per_trigger=1)
    out = se.stream_match_events(src, "k", "i", steps, quantifiers="1+")
    got = se.run_to_memory(out, "t_cep_kfp", spark, output_mode="append").toPandas()
    # (0,3) closed by C@4; (5,6) still open at stream end -> not emitted
    assert sorted(map(tuple, got[["start_id", "end_id"]].to_numpy())) == [(0, 3)]


def test_stream_match_kleene_within_equals_batch(spark, tdir):
    """The streaming Kleene within-bound (completion filter + pending
    expiry once the last seen ts outruns the span) == batch, across
    micro-batch boundaries; the bound must discriminate."""
    from windflow_spark.operators.windows import epoch_us

    pdf = datagen.gen_transcripts(n_convs=20, seed=53, mean_turns=30)
    path = str(tdir / "tx_kleene_w")
    os.makedirs(path, exist_ok=True)
    for shard in range(6):
        part = pdf[(pdf["turn_idx"] >= shard * 7) & (pdf["turn_idx"] < (shard + 1) * 7)]
        if len(part):
            datagen.write_parquet_us(part, f"{path}/part-{shard}.parquet")
    left = pdf[pdf["turn_idx"] >= 42]
    if len(left):
        datagen.write_parquet_us(left, f"{path}/part-tail.parquet")
    batch = spark.read.parquet(path)
    steps = [
        F.col("role") == "user",
        F.col("role").isin("assistant", "tool"),
        F.col("role") == "user",
    ]
    within = 8_000_000  # 8 s
    want = cep.match_events(
        batch.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", within=within,
        quantifiers="1+1",
    ).toPandas()
    loose = cep.match_events(
        batch.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", quantifiers="1+1",
    ).count()
    assert 0 < len(want) < loose, (len(want), loose)
    schema = spark.read.parquet(path).schema
    src = se.stream_source(spark, path, schema, max_files_per_trigger=1)
    out = se.stream_match_events(
        src.withColumn("us", epoch_us("ts")),
        "conv_id", "turn_idx", steps, ts_col="us", within=within,
        quantifiers="1+1",
    )
    got = se.run_to_memory(out, "t_cep_kw", spark, output_mode="append").toPandas()
    assert len(got) == len(want)
    assert_frames_equal(got, want, ["conv_id", "start_id"])


def test_match_events_kleene_property_sweep(spark):
    """Hypothesis-style deterministic sweep: random event sequences ×
    every 2-3 step quantifier mix vs the greedy pandas reference."""
    rng = np.random.default_rng(61)
    for trial in range(4):
        n = 120
        pdf = pd.DataFrame(
            {
                "k": rng.choice(["a", "b"], n),
                "ev": rng.choice(["A", "B"], n, p=[0.4, 0.6]),
                "us": np.arange(n, dtype=np.int64),
            }
        )
        pdf["i"] = pdf.groupby("k").cumcount()
        pdf = pdf[rng.random(n) > 0.08].reset_index(drop=True)
        df = spark.createDataFrame(pdf)
        steps2 = [F.col("ev") == "A", F.col("ev") == "B"]
        preds2 = [lambda r: r["ev"] == "A", lambda r: r["ev"] == "B"]
        for quant in ("1+", "+1", "++"):
            got = sorted(
                map(
                    tuple,
                    cep.match_events(df, "k", "i", steps2, quantifiers=quant)
                    .toPandas()[["k", "start_id", "end_id"]]
                    .to_numpy(),
                )
            )
            want = _pandas_reference_kleene(pdf, preds2, list(quant))
            assert got == want, (trial, quant, got[:4], want[:4])


def test_match_events_hot_key_linear_frames(spark):
    """A hot key (one key, a few thousand rows): every mode takes its
    "every later row" mins over a running frame on the reversed order —
    no UnboundedFollowing frame, which Spark re-aggregates for every row
    (O(n²) per key) — and still equals the pandas references (strict
    mode is the all-'1' Kleene reference)."""
    from windflow_spark.plans import audit

    rng = np.random.default_rng(41)
    n = 3000
    pdf = pd.DataFrame({
        "k": "hot",
        "i": np.arange(n, dtype=np.int64),
        "ev": rng.choice(list("ABCX"), n, p=[0.3, 0.35, 0.2, 0.15]),
        "us": np.arange(n, dtype=np.int64) * 5,
    })
    df = spark.createDataFrame(pdf)
    steps = [F.col("ev") == "A", F.col("ev") == "B", F.col("ev") == "C"]
    preds = [lambda r, e=e: r["ev"] == e for e in "ABC"]
    for kw in ({}, {"mode": "skip"}, {"quantifiers": "1+1"}, {"quantifiers": "+1+"}):
        out = cep.match_events(df, "k", "i", steps, ts_col="us", **kw)
        plan = audit.physical_plan(out)
        assert "unboundedfollowing" not in plan.lower(), (kw, plan)
        got = sorted(map(tuple, out.toPandas()[["k", "start_id", "end_id"]].to_numpy()))
        if "mode" in kw:
            want = _pandas_reference_skip(pdf, preds)
        else:
            want = _pandas_reference_kleene(pdf, preds, kw.get("quantifiers", "111"))
        assert got == want and len(want) > 50, kw
