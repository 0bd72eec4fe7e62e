"""Plan-quality contract: pushdown, pruning, broadcast, exchange
budget, no cartesian products. These assert the 100 TB posture — a
plan regression here is a scale bug even when results stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from windflow_spark.functions import dedup, similarity
from windflow_spark.operators.joins import asof_join, broadcast_dim_join
from windflow_spark.operators.pane_farm import pane_farm
from windflow_spark.operators.windows import WinSpec, epoch_us, win_seq
from windflow_spark.plans import audit

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_filter_pushdown_and_pruning(spark, events):
    df = events.filter(F.col("value") > 100).select("event_id", "value")
    pushed = audit.pushed_filters(df)
    assert "GreaterThan(value" in pushed, pushed
    cols = audit.read_schema(df)
    assert set(cols) == {"event_id", "value"}, cols


def test_win_seq_single_exchange(spark, events):
    """A windowed aggregate is exactly ONE shuffle (partial agg map-side)."""
    df = win_seq(
        events.withColumn("us", epoch_us("ts")), ["event_type"], "us",
        WinSpec("tb", 3_600_000_000, 900_000_000),
        aggs={"cnt": F.count(F.lit(1))},
    )
    assert audit.count_exchanges(df) == 1, audit.physical_plan(df)
    plan = audit.physical_plan(df)
    # map-side partial aggregation present (HashAggregate before exchange)
    assert plan.count("HashAggregate") >= 2


def test_pane_farm_two_exchanges(spark, events):
    df = pane_farm(
        events.withColumn("us", epoch_us("ts")), ["event_type"], "us",
        WinSpec("tb", 3_600_000_000, 900_000_000),
        {"p": F.sum("value")}, {"s": F.sum("p")},
    )
    assert audit.count_exchanges(df) == 2, audit.physical_plan(df)


def test_ysb_join_broadcasts_dim(spark, events):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    df = broadcast_dim_join(orders, cust.select("c_custkey", "c_mktsegment"),
                            on=[orders.o_custkey == cust.c_custkey])
    assert audit.has_broadcast_join(df)
    assert not audit.has_cartesian(df)
    # the fact side is NOT shuffled for the join
    assert audit.count_exchanges(df) == 0, audit.physical_plan(df)


def test_asof_join_no_cartesian(spark, events):
    ev = events.withColumn("us", epoch_us("ts"))
    left = ev.filter(F.col("event_type") == "click")
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("us").alias("r_us"), F.col("event_id").alias("r_id")
    )
    df = asof_join(left, right, ["user_id"], "us", "r_us", 10**9,
                   left_id=["user_id", "event_id"], right_payload=["r_id"])
    assert not audit.has_cartesian(df), audit.physical_plan(df)


def test_dedup_exact_shuffles_digest_only(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = dedup.exact_dedup(docs, "doc_id", "text")
    cols = audit.read_schema(df)
    assert set(cols) == {"doc_id", "text"}, cols  # pruned scan
    assert audit.count_exchanges(df) == 1


def test_topk_broadcasts_queries(spark):
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.brute_force_topk(vecs, vecs.filter(F.col("vec_id") < 5), k=3)
    assert audit.has_broadcast_join(df)
    assert not audit.has_cartesian(df)


def test_ranked_topk_partial_before_shuffle(spark):
    """ANN rank stage contract: the per-partition partial top-k
    (MapInPandas) runs BELOW the single rank exchange, so the shuffle
    carries ≤ partitions×|Q|×k narrow (q_id, c_id, cos) rows — never the
    full scored N×Q set, never embedding arrays. One hashpartitioning
    exchange total (brute force); bucketed variants add none."""
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = vecs.filter(F.col("vec_id") < 5)
    for df in (
        similarity.brute_force_topk(vecs, qs, k=3),
        similarity.lsh_topk(vecs, qs, dim=64, k=3, n_planes=4),
        similarity.ivf_topk(vecs, qs, k=3, n_cells=4, nprobe=2),
    ):
        plan = audit.physical_plan(df)
        assert plan.count("Exchange hashpartitioning") == 1, plan
        i_win = plan.find("Window")
        i_ex = plan.find("Exchange hashpartitioning")
        i_map = plan.find("MapInPandas")
        assert 0 <= i_win < i_ex < i_map, plan


def test_jaccard_candidates_no_shingle_self_join(spark):
    """With candidates=, the Jaccard verification must build the
    intersection FROM the candidate pairs (joins keyed on id_a /
    (id_b, shingle)) — NEVER the inverted-index self-join keyed on
    shingle alone. A shingle-sole-key exchange is the signature of the
    posting-list-quadratic plan (its cost is sum of squared posting
    lists regardless of how small the candidate set is)."""
    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    cands = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long"
    )
    df = dedup.ngram_jaccard_pairs(sh, "doc_id", threshold=0.0,
                                   candidates=cands)
    # the quadratic plan's signature: a join (any strategy — broadcast
    # at small SF, sort-merge at scale) keyed on shingle ALONE on both
    # sides, or an exchange partitioned on shingle alone
    quad = re.compile(
        r"Join \[shingle#\d+\], \[shingle#\d+\]"
        r"|hashpartitioning\(shingle#\d+, \d+\)"
    )
    plan = audit.physical_plan(df)
    assert not quad.search(plan), plan
    # sanity: the unrestricted path DOES carry the shingle-keyed
    # self-join, so the pattern above is actually discriminating
    full = dedup.ngram_jaccard_pairs(sh, "doc_id", threshold=0.0)
    assert quad.search(audit.physical_plan(full))


def test_stateless_chain_fuses(spark, events):
    """Map→Filter→FlatMap fuses into whole-stage codegen (the
    reference's operator chaining, multipipe.hpp:243-271 — free here)."""
    from windflow_spark.operators.core import filter_, flat_map, map_

    df = flat_map(
        filter_(map_(events, v2=F.col("value") * 2), F.col("event_id") % 2 == 0),
        F.array("v2"), alias="out", keep=["event_id"],
    )
    assert audit.count_exchanges(df) == 0
    assert audit.wholestage_span_count(df) <= 1, audit.physical_plan(df)


def test_pane_topk_two_exchanges_no_python(spark, events):
    """The constructive NIC route (pane pre-top-k) must keep its scale
    shape: raw rows shrink to <= k structs per (key, pane) in the first
    hash aggregate, only pane partials reach the (key, gwid) exchange —
    2 exchanges total and ZERO Python eval nodes (the whole point vs
    the mapInPandas NIC archive)."""
    from windflow_spark.operators.pane_farm import pane_topk

    df = pane_topk(
        events.withColumn("us", epoch_us("ts")), ["event_type"], "us",
        WinSpec("tb", 21_600_000_000, 5_400_000_000),
        order_col="value", id_col="event_id", k=3,
    )
    plan = audit.physical_plan(df)
    assert audit.count_exchanges(df) == 2, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, plan


def test_pane_quantile_two_exchanges_no_python(spark, events):
    """Quantile arm of the constructive NIC route: pane histograms are
    the only thing shuffled to windows; the threshold scan is a
    Catalyst aggregate fold — 2 exchanges, zero Python eval nodes."""
    from windflow_spark.operators.pane_farm import pane_quantile

    df = pane_quantile(
        events.withColumn("us", epoch_us("ts")), ["event_type"], "us",
        WinSpec("tb", 21_600_000_000, 5_400_000_000),
        "value", 0.5, 25.0,
    )
    plan = audit.physical_plan(df)
    assert audit.count_exchanges(df) == 2, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, plan


def test_cep_match_single_exchange_no_python(spark, events):
    """CEP sequence match composed over the renumbering stage: when the
    match keys EQUAL the renumbering keys, the whole composition is ONE
    hash exchange (both Window stages share the partitioning), the k-1
    lead conjunction collapses into a single match Window node, and no
    Python eval nodes appear — the keyed-window scale shape."""
    from windflow_spark.operators import cep
    from windflow_spark.operators.windows import cb_ids

    ids = cb_ids(
        events.withColumn("user_key", F.col("user_id").cast("string")),
        ["user_key"], [F.col("ts"), F.col("event_id")],
    ).select("user_key", "wf_id", "event_type", epoch_us("ts").alias("us"))
    df = cep.match_events(
        ids, "user_key", "wf_id",
        [F.col("event_type") == "click", F.col("event_type") == "view",
         F.col("event_type") == "purchase"],
        ts_col="us",
    )
    plan = audit.physical_plan(df)
    assert audit.count_exchanges(df) == 1, plan
    # renumber window + ONE collapsed match window
    assert plan.count("Window [") == 2, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas", "CartesianProduct"):
        assert marker not in plan, plan


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_entry_declared_schemas_match_parquet(spark, sf):
    """__spark_entry__ reads its fixed-name tables with declared schemas
    (no inference job per plan build); each must equal the schema Spark
    infers from the parquet footer at every scale factor, so a drift
    fails here instead of reading nulls."""
    import os

    from pyspark.sql.types import StructType

    import __spark_entry__ as entry

    for name, ddl in entry.TABLE_SCHEMAS.items():
        path = os.path.join(os.path.dirname(SF), sf, f"{name}.parquet")
        assert StructType.fromDDL(ddl) == spark.read.parquet(path).schema, (sf, name)
