"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke check at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
pipeline extensions), each ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — DuckDB-runnable ANSI SQL producing identical rows
(same column names; floats rounded identically on both sides).
Non-SQL-expressible entries (simhash, seeded-LSH ANN) are rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from windflow_spark.api import Pipe
from windflow_spark.functions import dedup, retrieval, sampling, similarity, text
from windflow_spark.functions import multimodal
from windflow_spark.operators.cep import match_events as cep_match_events
from windflow_spark.operators.core import accumulate, drop_regressions, flat_map
from windflow_spark.operators.joins import asof_join, broadcast_dim_join
from windflow_spark.operators.pane_farm import hierarchical_rollup, pane_farm
from windflow_spark.operators.sessions import session_windows
from windflow_spark.operators.win_mapreduce import win_mapreduce
from windflow_spark.operators.windows import (WinSpec, cb_ids, epoch_us, win_seq,
    windowed_count_distinct, windowed_topk)

HOUR = 3_600_000_000  # microseconds
MIN15 = 900_000_000

# ANN gate floors: per-query recall@5 vs exact brute force. The sf0.01
# embeddings are near-uniform random 64-d vectors — the hard case for
# hyperplane LSH / coarse IVF, where recall tracks the scanned corpus
# fraction because the hash carries almost no cosine signal (measured
# r6: LSH 4 planes/radius 1 ≈ 31% scan → min 0.2 / mean 0.44; pushing
# planes up COLLAPSES recall — 8 planes/radius 2 → mean 0.06). IVF at
# nprobe=6/16 (37.5% scan) reaches min 0.4 / mean 0.66 — the floor
# asserts that. Deterministic: seeded planes/centroids, rounded
# cosine, c_id tiebreak.
ANN_LSH_RECALL_FLOOR = 0.2
ANN_IVF_RECALL_FLOOR = 0.4
# HLL gate bound: |approx - exact| ≤ 25% + 4. approx_count_distinct is
# register-max based (order-independent ⇒ deterministic); observed max
# relative error at sf0.01 is 0.214 on small windows.
HLL_REL_BOUND, HLL_ABS_SLACK = 0.25, 4.0
# n-gram Jaccard posting-list cap (max shingle document frequency); at
# sf0.01 the hottest shingle has df=7, so 5 genuinely trims.
NGRAM_MAX_DF = 5


def _utc(spark: SparkSession) -> SparkSession:
    """Pin the session tz: epoch_us casts TIMESTAMP_NTZ through the
    session zone, and the DuckDB oracles treat naive timestamps as UTC.
    The driver's session may not be UTC — set it here."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


#: Declared schemas of the fixed-name input tables. A declared schema
#: spares every plan build Spark's schema-inference job (about 100 ms
#: per read); tests/test_plans.py pins each one against the parquet
#: footers of every scale factor, so a drift fails loudly instead of
#: reading nulls.
TABLE_SCHEMAS = {
    "events": "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string",
    "documents": "doc_id long, text string, lang string, source string, "
                 "n_chars long",
    "embeddings": "vec_id long, embedding array<float>, label int",
    "orders": "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string",
    "customer": "c_custkey long, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate timestamp_ntz",
}


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixed-name table ``name`` of ``sf_dir``, read with its
    declared schema."""
    return _utc(spark).read.schema(TABLE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet"
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table(spark, sf_dir, "events")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table(spark, sf_dir, "documents")


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _table(spark, sf_dir, "embeddings")


def _fan(df: DataFrame) -> DataFrame:
    """Spread an UNSPLITTABLE scan across the cluster (guide §2.5
    "input skew: one huge unsplittable file … repartition immediately
    after the read"): every sf table here is ONE parquet file with ONE
    row group, so everything upstream of the first exchange otherwise
    executes in a single task while the other 31 cores idle — measured
    8.4 s single-task vs 1.1 s fanned for the text_repetition fold at
    sf1.0. Round-robin (no key → no skew), scale-adaptive width
    (defaultParallelism = cores locally, executors × cores on a
    cluster). Only worth it when per-row compute upstream of the first
    exchange dominates the extra narrow shuffle — applied per-query,
    not in the shared readers (cheap scans keep their plan)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Source→Map→Filter→keyBy→Win_Seq(TB sliding)→ordered
    over sf0.001 events (the transcripts-shaped stream fixture)."""
    ev = _events(spark, "/root/testdata/sf0.001")
    return (
        Pipe.source(ev)
        .map(us=epoch_us("ts"))
        .filter(F.col("value") > 0)
        .key_by("event_type")
        .win_seq(
            "us",
            WinSpec("tb", HOUR, MIN15),
            aggs={
                "cnt": F.count(F.lit(1)),
                "sum_value": F.round(F.sum("value"), 4),
            },
        )
        .ordered("event_type", "gwid")
        .df
    )


# ---------------------------------------------------------------- windows

def q_win_tb_tumbling(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return win_seq(
        ev, ["event_type"], "us", WinSpec("tb", HOUR, HOUR),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
    )


def q_win_tb_sliding(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return win_seq(
        ev, ["event_type"], "us", WinSpec("tb", HOUR, MIN15),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
    )


def q_win_tb_hopping(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return win_seq(
        ev, ["event_type"], "us", WinSpec("tb", MIN15, HOUR),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
    )


def q_win_cb_tumbling(spark, sf_dir):
    ev = cb_ids(
        _events(spark, sf_dir), ["user_id"], [F.col("ts"), F.col("event_id")]
    )
    return win_seq(
        ev, ["user_id"], "wf_id", WinSpec("cb", 10, 10),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
    )


def q_win_cb_sliding(spark, sf_dir):
    ev = cb_ids(
        _events(spark, sf_dir), ["user_id"], [F.col("ts"), F.col("event_id")]
    )
    return win_seq(
        ev, ["user_id"], "wf_id", WinSpec("cb", 16, 4),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
    )


def q_win_cb_hopping(spark, sf_dir):
    """CB hopping (win < slide): ids in the inter-window gap get an
    empty wid range and are DISCARDED (win_seq.hpp:326-338)."""
    ev = cb_ids(
        _events(spark, sf_dir), ["user_id"], [F.col("ts"), F.col("event_id")]
    )
    return win_seq(
        ev, ["user_id"], "wf_id", WinSpec("cb", 4, 16),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
    )


def q_win_nic_median(spark, sf_dir):
    """NIC path: whole-window pandas UDF (median — order statistic the
    INC path can't fold). NB: this gate deliberately exercises the NIC
    machinery; a real median user should prefer the native
    ``F.median``/``percentile`` aggregate (JVM-side, no Arrow hop)."""
    # project to the 3 columns the NIC fn touches BEFORE the Arrow hop:
    # mapInPandas is opaque to Catalyst's column pruning, so without
    # this every event column crossed the Python boundary (guide §4.1)
    ev = _events(spark, sf_dir).select(
        "event_type", "value", epoch_us("ts").alias("us")
    )

    def nic(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "gwid": [pdf["gwid"].iloc[0]],
                "median_value": [round(float(pdf["value"].median()), 4)],
                "cnt": [len(pdf)],
            }
        )

    return win_seq(
        ev, ["event_type"], "us", WinSpec("tb", HOUR, HOUR),
        nic_fn=nic,
        nic_schema="event_type string, gwid long, median_value double, cnt long",
    )


def q_pane_farm_sliding(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return pane_farm(
        ev, ["event_type"], "us", WinSpec("tb", HOUR, MIN15),
        partial_aggs={"p_cnt": F.count(F.lit(1)), "p_sum": F.sum("value")},
        merge_aggs={"cnt": F.sum("p_cnt"), "sum_value": F.round(F.sum("p_sum"), 4)},
    )


def q_win_mapreduce_sliding(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return win_mapreduce(
        ev, ["event_type"], "us", WinSpec("tb", HOUR, MIN15),
        partial_aggs={"p_cnt": F.count(F.lit(1)), "p_sum": F.sum("value")},
        merge_aggs={"cnt": F.sum("p_cnt"), "sum_value": F.round(F.sum("p_sum"), 4)},
        degree=8,
    )


def q_hypertable_rollup(spark, sf_dir):
    """Hierarchical continuous aggregate: the 24h level computed from
    6h partials which come from 1h partials — one raw scan."""
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    levels = hierarchical_rollup(
        ev, ["event_type"], "us", [HOUR, 6 * HOUR, 24 * HOUR],
        partial_aggs={"p_sum": F.sum("value"), "p_cnt": F.count(F.lit(1))},
        combine_aggs={"p_sum": F.sum("p_sum"), "p_cnt": F.sum("p_cnt")},
        merge_aggs={"sum_value": F.round(F.sum("p_sum"), 4), "cnt": F.sum("p_cnt")},
    )
    return levels[24 * HOUR]


def q_session_windows(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    # tiebreak=event_id: tied timestamps otherwise make the lag/running-sum
    # session assignment engine-dependent (the round-1 driver hash mismatch).
    return session_windows(
        ev, ["user_id"], "us", gap=HOUR // 2, aggs={"cnt": F.count(F.lit(1))},
        tiebreak=["event_id"],
    )


def q_ooo_drop(spark, sf_dir):
    """Batch out-of-order drop rule (reference win_seq.hpp:289-305,
    wf_nodes.hpp:104-121): rows arrive in a deterministic pseudo-random
    order (fixed odd-multiplier permutation of event_id — portable
    integer math, reproducible in the oracle), and any per-key ts
    regression or duplicate is discarded — without assuming stable
    (key, ts) input order. Composes upstream of any windowed operator."""
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts")).withColumn(
        "arrival", (F.col("event_id") * F.lit(2654435761)) % F.lit(2147483648)
    )
    kept = drop_regressions(ev, ["user_id"], "us", ["arrival"])
    return kept.select("user_id", "event_id", "us")


def q_accumulator(spark, sf_dir):
    ev = _events(spark, sf_dir)
    out = accumulate(
        ev, ["event_type"], [F.col("ts"), F.col("event_id")],
        {"running_cnt": F.count(F.lit(1)), "running_sum": F.sum("value")},
    )
    return out.select(
        "event_type", "event_id", "running_cnt",
        F.round("running_sum", 4).alias("running_sum"),
    )


def q_micro1_stateless(spark, sf_dir):
    """Stateless Source→Map→Filter→FlatMap path (micro-1 / FIXTURES F5)."""
    ev = _events(spark, sf_dir)
    mapped = ev.withColumn("v2", F.round(F.col("value") * 2 + 1, 4)).filter(
        F.col("event_id") % 2 == 0
    )
    return flat_map(
        mapped,
        F.array(F.round(F.col("v2") * 2, 4), F.round(F.col("v2") * 3, 4)),
        alias="out_value",
        keep=["event_id"],
    )


def q_union_pipes(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    even = Pipe.source(ev.filter(F.col("event_id") % 2 == 0))
    odd = Pipe.source(ev.filter(F.col("event_id") % 2 == 1))
    return (
        even.union_(odd)
        .key_by("event_type")
        .win_seq("us", WinSpec("tb", HOUR, HOUR), aggs={"cnt": F.count(F.lit(1))})
        .df
    )


def q_asof_join(spark, sf_dir):
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    left = ev.filter(F.col("event_type") == "click")
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("us").alias("r_us"), F.col("event_id").alias("r_event_id")
    )
    # tiebreak=r_event_id: duplicate (user_id, r_us) view rows otherwise
    # make the picked payload engine-dependent
    return asof_join(
        left, right, ["user_id"], "us", "r_us", bound=HOUR,
        left_id=["user_id", "event_id"], right_payload=["r_event_id"],
        tiebreak=["r_event_id"],
    )


def q_ysb_pipeline(spark, sf_dir):
    """YSB shape: filter → broadcast dim join → tumbling window count/max
    (yahoo_app.hpp:149-176) on orders ⋈ customer."""
    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    joined = broadcast_dim_join(
        orders.filter(F.col("o_orderstatus") == "O"),
        cust.select("c_custkey", "c_mktsegment"),
        on=[orders.o_custkey == cust.c_custkey],
    ).withColumn("us", epoch_us("o_orderdate"))
    week = 7 * 24 * HOUR
    return win_seq(
        joined, ["c_mktsegment"], "us", WinSpec("tb", week, week),
        aggs={
            "cnt": F.count(F.lit(1)),
            "max_price": F.round(F.max("o_totalprice"), 4),
        },
    )


def q_win_topk(spark, sf_dir):
    """Top-k per (key, window): single hash aggregate (sorted-array
    slice), no per-group sort stage."""
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return windowed_topk(
        ev, ["event_type"], "us", WinSpec("tb", 6 * HOUR, 6 * HOUR),
        order_col="value", payload=["event_id", "value"], k=3,
    )


def q_win_topk_pane(spark, sf_dir):
    """EXACT sliding-window top-k via pane pre-top-k (the constructive
    NIC-at-scale route, pane_farm.hpp:26-31 pane reuse applied to an
    algebraic holistic aggregate): raw rows shrink to ≤ k structs per
    (key, pane) before the (key, gwid) exchange — 2 exchanges, zero
    Python, no window-explosion of raw rows. Value DESC, event_id ASC
    tiebreak, same as the oracle's row_number."""
    from windflow_spark.operators.pane_farm import pane_topk

    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return pane_topk(
        ev, ["event_type"], "us", WinSpec("tb", 6 * HOUR, 6 * MIN15),
        order_col="value", id_col="event_id", k=3,
    ).select("event_type", "gwid", "rnk", "event_id", "value")


def q_win_quantile(spark, sf_dir):
    """Windowed MEDIAN with bounded error via mergeable pane histograms
    (the quantile arm of the constructive NIC route): pane_quantile's
    lower bucket edge must bracket the exact discrete median within
    one bucket_width — emitted as a claim (err_ok), HLL-gate style,
    with the exact side computed engine-side from the window archive.
    A broken pane/histogram/fold plan drifts est and flips err_ok."""
    from windflow_spark.operators.pane_farm import pane_quantile
    from windflow_spark.operators.windows import assign_wids

    width = 25.0
    spec = WinSpec("tb", 6 * HOUR, 6 * MIN15)
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    est = pane_quantile(ev, ["event_type"], "us", spec, "value", 0.5, width)
    exact = (
        assign_wids(ev, "us", spec)
        .groupBy("event_type", "gwid")
        .agg(F.sort_array(F.collect_list("value")).alias("_vs"))
        .select(
            "event_type", "gwid",
            F.element_at(
                "_vs", F.ceil(F.lit(0.5) * F.size("_vs")).cast("int")
            ).alias("_exact"),
        )
    )
    return est.join(exact, ["event_type", "gwid"]).select(
        "event_type", "gwid", "cnt",
        (
            (F.col("_exact") >= F.col("est"))
            & (F.col("_exact") < F.col("est") + F.lit(width))
        ).alias("err_ok"),
    )


def q_win_count_distinct(spark, sf_dir):
    """Exact windowed COUNT(DISTINCT user_id) via the two-level
    pre-distinct form (the distinct-agg skew fix)."""
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    return windowed_count_distinct(
        ev, ["event_type"], "us", WinSpec("tb", 6 * HOUR, 6 * HOUR), "user_id"
    )


def q_cube_agg(spark, sf_dir):
    """Grouping-set aggregation (SURVEY.md §2.7: free via the Spark API;
    no reference counterpart)."""
    li = _table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


def q_rollup_agg(spark, sf_dir):
    orders = _table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


def q_set_ops(spark, sf_dir):
    """Set operations: users who clicked AND viewed minus users who
    erred (intersect/except — union is covered by union_pipes)."""
    ev = _events(spark, sf_dir)
    clickers = ev.filter((F.col("event_type") == "click") & (F.col("value") > 150)).select("user_id").distinct()
    viewers = ev.filter((F.col("event_type") == "view") & (F.col("value") > 150)).select("user_id").distinct()
    erred = ev.filter((F.col("event_type") == "error") & (F.col("value") > 150)).select("user_id").distinct()
    return clickers.intersect(viewers).exceptAll(erred)


def q_topk_per_key(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", F.col("rnk").cast("long").alias("rnk"), "event_id", "value")
    )


# ------------------------------------------------------- pipeline functions

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir), "doc_id", "text")


def q_dedup_fingerprint(spark, sf_dir):
    return dedup.fingerprint_dedup(_docs(spark, sf_dir), "doc_id", "text")


def q_dedup_minhash_lsh(spark, sf_dir):
    # distinct=False: min() is duplicate-insensitive, so the shingle
    # dedupe exchange is pure cost on the MinHash-only path (identical
    # signatures; the oracle's DISTINCT shingle CTE still matches)
    # _fan: shingle explode + 16 md5 mixes per shingle otherwise run in
    # the scan's single task (guide §2.5)
    sh = dedup.word_shingles(_fan(_docs(spark, sf_dir)), "doc_id", "text", n=3,
                             distinct=False)
    sigs = dedup.minhash_signatures(sh, "doc_id", k=16)
    return dedup.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)


def q_dedup_simhash(spark, sf_dir):
    # _fan: single-file doc table — the Arrow UDF otherwise runs in ONE
    # Python worker (guide §2.5/§4)
    return dedup.simhash(_fan(_docs(spark, sf_dir)), "doc_id", "text")


def q_ngram_jaccard(spark, sf_dir):
    # max_df caps posting-list length (hot-shingle blowup guard); the
    # oracle applies the identical document-frequency filter
    sh = dedup.word_shingles(_docs(spark, sf_dir), "doc_id", "text", n=3)
    return dedup.ngram_jaccard_pairs(sh, "doc_id", threshold=0.2, max_df=NGRAM_MAX_DF)


def q_dedup_pipeline(spark, sf_dir):
    """End-to-end dedup composite (the realistic training-data path):
    shingle → MinHash → LSH candidates → Jaccard verify → greedy
    lower-id-wins keep decision, one row per doc."""
    return dedup.dedup_keep_list(
        _docs(spark, sf_dir), "doc_id", "text",
        threshold=0.5, minhash_k=16, bands=4, rows_per_band=4,
    )


def q_embedding_topk(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    # _fan the CORPUS side only: the broadcast-join + per-pair dot fold
    # otherwise scores every (corpus × query) pair in ONE task
    # (guide §2.5); the query side stays a tiny broadcast.
    return similarity.brute_force_topk(
        _fan(vecs), vecs.filter(F.col("vec_id") < 10), k=5
    ).select("q_id", "rank", "c_id", "cos")


def q_embedding_dedup(spark, sf_dir):
    return similarity.embedding_dedup_pairs(_vecs(spark, sf_dir), threshold=0.5, exact=True)


def _recall_vs_exact(ann, exact, floor):
    """Per-query recall of an ANN result against the exact top-k, emitted
    as an oracle-checkable claim: (q_id, n_exact, recall_ok). The DuckDB
    oracle asserts recall_ok = true for every query — a dip below the
    floor hash-mismatches the gate. Both sides rank by the same
    (rounded cos desc, c_id asc) order, so the measured recall is
    deterministic."""
    hits = ann.join(exact.select("q_id", "c_id"), ["q_id", "c_id"], "left_semi")
    return (
        exact.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit")), "q_id", "left")
        .select(
            "q_id",
            "n_exact",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
                >= F.lit(floor)
            ).alias("recall_ok"),
        )
    )


def q_ann_lsh(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    qs = vecs.filter(F.col("vec_id") < 10)
    ann = similarity.lsh_topk(vecs, qs, dim=64, k=5, n_planes=4)
    return _recall_vs_exact(ann, similarity.brute_force_topk(vecs, qs, k=5),
                            floor=ANN_LSH_RECALL_FLOOR)


def q_ann_ivf(spark, sf_dir):
    vecs = _vecs(spark, sf_dir)
    qs = vecs.filter(F.col("vec_id") < 10)
    ann = similarity.ivf_topk(vecs, qs, k=5, n_cells=16, nprobe=6)
    return _recall_vs_exact(ann, similarity.brute_force_topk(vecs, qs, k=5),
                            floor=ANN_IVF_RECALL_FLOOR)


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with a LEARNED codebook (r7): 3 spherical Lloyd's
    iterations (similarity.kmeans_centroids — per iteration one
    vectorized assignment pass + one k×(dim+1)-partial aggregate)
    over a CLUSTERED fixture built deterministically from the
    embeddings table (12 anchor-shifted clusters — uniform random
    embeddings have no structure for k-means to learn, clustered data
    is where IVF's value lives). nprobe=1 of 16 cells — 1/16th of the
    corpus scanned per query. Measured at sf0.01: trained recall
    min 0.60 / mean 0.96 vs untrained min 0.00 / mean 0.64; the gate
    claims the TRAINED floor (0.55), which the untrained codebook
    fails — the claim only holds because training works."""
    vecs = _vecs(spark, sf_dir)
    anchors = vecs.filter(F.col("vec_id") < 12).select(
        (F.col("vec_id") % 12).alias("_a"), F.col("embedding").alias("_avec")
    )
    clustered = (
        vecs.withColumn("_a", F.col("vec_id") % 12)
        .join(F.broadcast(anchors), "_a")
        .select(
            "vec_id",
            F.zip_with(
                "embedding", "_avec", lambda x, y: x + 1.0 * y
            ).alias("embedding"),
        )
    )
    qs = clustered.filter(F.col("vec_id") < 20)
    ann = similarity.ivf_topk(
        clustered, qs, k=5, n_cells=16, nprobe=1, train_iters=3
    )
    return _recall_vs_exact(
        ann, similarity.brute_force_topk(clustered, qs, k=5), floor=0.55
    )


def q_text_quality(spark, sf_dir):
    # _fan: single-file doc table — regex/tokenize per doc otherwise
    # single-task (guide §2.5)
    return text.quality_features(_fan(_docs(spark, sf_dir))).select(
        "doc_id",
        "n_tokens",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        "stopword_hits",
    )


def q_text_langid(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", text.lang_id("text").alias("lang_pred")
    )


def q_token_counts(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        text.token_count("text").cast("long").alias("ws_tokens"),
        text.bpe_token_count("text").cast("long").alias("bpe_tokens"),
    )


def q_text_contamination(spark, sf_dir):
    """Benchmark decontamination (r7): docs sharing any normalized
    13-gram with a probe set (every 20th doc plays the 'benchmark') —
    the GPT-3/Gopher overlap rule as a broadcast-semi pipeline: probe
    grams broadcast, per-doc distinct grams built map-side
    (array_distinct before explode), the only shuffle carries MATCHED
    grams. Row-level output over the whole corpus."""
    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 20 == 0)
    return text.ngram_contamination(docs, probes, n=13).select(
        "doc_id", "n_hits", "contaminated"
    )


def q_bm25_scores(spark, sf_dir):
    """BM25 lexical retrieval (r7): every document scored against
    every probe query sharing a term (probes = every 20th doc, the
    contamination gate's rule — self-hits dominate, common words give
    breadth). Plan shape: ONE (doc, term) tf aggregate off the
    tokenize explode; query terms, idf and the (N, avgdl) scalars all
    BROADCAST, so the only corpus-scale shuffle carries matching
    (doc, term) rows; pure Catalyst, no Python. The oracle recomputes
    the Okapi formula with identical Python-evaluated constants; both
    sides round to 4 dp."""
    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return retrieval.bm25_scores(docs, probes, query_id_col="query_id")


def q_dedup_components(spark, sf_dir):
    """Connected components (r7): the exact transitive clustering the
    greedy keep rule approximates (dedup_keep_list(transitive=True)
    routes through this). Min-label propagation + pointer jumping —
    O(log diameter) rounds, two shuffles per round, exact changed==0
    fixpoint. The gate graph is chains of 10 consecutive doc ids
    (edges doc_id → doc_id−1 except at block boundaries), long enough
    to force multiple jumping rounds; the oracle is a DuckDB recursive
    CTE over the same edges."""
    edges = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") - 1).alias("id_b")
    )
    return dedup.connected_components(edges)


def q_doc_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", text.fingerprint("text").alias("fp")
    )


def q_streaming_tumbling(spark, sf_dir):
    """Streaming plan through the correctness gate: the events table
    drained as a stream (availableNow, complete mode) must equal the
    batch tumbling aggregate — SURVEY.md §5 invariant 4."""
    import os
    import shutil
    import tempfile
    import uuid

    from windflow_spark.streaming import engine as se

    # file-stream source requires a directory; stage the table file
    path = tempfile.mkdtemp(prefix="wf_gate_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(path, "events.parquet"))
    src = se.stream_source(_utc(spark), path, TABLE_SCHEMAS["events"])
    out = se.stream_win_tb(
        src, ["event_type"], "ts", WinSpec("tb", 3600, 3600),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
        watermark="1 hour", unit="second",
    )
    name = f"gate_stream_{uuid.uuid4().hex[:8]}"
    return se.run_to_memory(out, name, spark, output_mode="complete")


def q_streaming_cb(spark, sf_dir):
    """Streaming CB windows (stateful applyInPandasWithState): per-user
    arrival index drives tumbling count windows; fired == full windows
    (Triggerer_CB). Ids are renumbered upstream (batch row_number →
    temp parquet → stream), the TS_RENUMBERING pattern."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_cb_")
    out = se.stream_cb_windows(src, "user_key", "wf_id", "value", WinSpec("cb", 10, 10))
    name = f"gate_stream_cb_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select(
        "user_key", "gwid", F.round("sum_value", 4).alias("sum_value"), "cnt", "win_end"
    )


def q_streaming_cb_hll(spark, sf_dir):
    """Streaming approximate COUNT-DISTINCT windows (r7): a 64-register
    HyperLogLog as a CB fold — the registers ARE the partial slots and
    the cross-batch merge is elementwise max (the textbook mergeable
    sketch, flowing through the SAME registry as every other fold).
    Fired windows only (Triggerer_CB); flush_cb_partials emits partial
    ones with the same finalize. The hash is the engine-wide portable md5
    (``hll_prep``, computed in Catalyst before the stateful op — the
    Python kernel does no per-row hashing), and every estimate
    ingredient is deterministic and dyadic-exact, so the oracle
    recomputes the IDENTICAL estimate in SQL — a value match, not an
    error-bound claim (contrast win_approx_distinct's native-HLL++
    claim gate, now rotated)."""
    import tempfile
    import uuid

    from windflow_spark.streaming import engine as se

    ids = cb_ids(
        _events(spark, sf_dir), ["event_type"], [F.col("ts"), F.col("event_id")]
    ).select("event_type", "wf_id", se.hll_prep("user_id").alias("uh"))
    tmp = tempfile.mkdtemp(prefix="wf_gate_cbhll_")
    ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    schema = spark.read.parquet(tmp).schema
    src = se.stream_source(spark, tmp, schema)
    out = se.stream_cb_windows(
        src, "event_type", "wf_id", None, WinSpec("cb", 512, 512),
        aggs={"approx_users": ("hll64", "uh"), "cnt": ("count", None)},
    )
    name = f"gate_stream_cbhll_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select("event_type", "gwid", "approx_users", "cnt", "win_end")


def _staged_events_stream(spark, sf_dir):
    """Stage the events table into a directory and open it as a file
    stream (file-stream sources require a directory)."""
    import os
    import shutil
    import tempfile

    from windflow_spark.streaming import engine as se

    path = tempfile.mkdtemp(prefix="wf_gate_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(path, "events.parquet"))
    return se.stream_source(_utc(spark), path, TABLE_SCHEMAS["events"])


def q_streaming_hopping(spark, sf_dir):
    """Streaming TB hopping (win < slide — inexpressible by F.window;
    routed through the tumbling-of-slide + gap-filter rewrite): drained
    stream == the batch hopping oracle."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _staged_events_stream(spark, sf_dir)
    out = se.stream_win_tb(
        src, ["event_type"], "ts", WinSpec("tb", 900, 3600),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
        watermark="1 hour", unit="second",
    )
    name = f"gate_stream_hop_{uuid.uuid4().hex[:8]}"
    return se.run_to_memory(out, name, spark, output_mode="complete")


def q_streaming_nic_median(spark, sf_dir):
    """Streaming NIC whole-window UDF (win_seq.hpp:355-392 analogue —
    windowed collect_list archive + pandas median on window close):
    drained stream == the batch NIC median oracle."""
    import uuid

    from windflow_spark.streaming import engine as se

    def nic(w: pd.DataFrame) -> dict:
        return {
            "median_value": round(float(w["value"].median()), 4),
            "cnt": len(w),
        }

    src = _staged_events_stream(spark, sf_dir)
    out = se.stream_win_tb_nic(
        src, ["event_type"], "ts", WinSpec("tb", 3600, 3600), nic,
        "median_value double, cnt long", payload_cols=["value"],
        watermark="1 hour", unit="second",
    )
    name = f"gate_stream_nic_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="complete")
    return res.select(
        "event_type", "gwid", "median_value", "cnt",
        (F.col("gwid") * HOUR + HOUR - 1).cast("long").alias("win_end"),
    )


def q_streaming_topk(spark, sf_dir):
    """Streaming windowed top-k (multi-row whole-window emission): the
    NIC archive path emits the per-window top-3 as parallel arrays,
    exploded downstream to (rnk, event_id, value) rows — drained
    stream == the batch win_topk oracle at the same spec."""
    import uuid

    from windflow_spark.streaming import engine as se

    def nic(w: pd.DataFrame) -> dict:
        s = w.sort_values(["value", "event_id"], ascending=[False, True]).head(3)
        return {"ids": s["event_id"].tolist(), "vals": s["value"].tolist()}

    src = _staged_events_stream(spark, sf_dir)
    out = se.stream_win_tb_nic(
        src, ["event_type"], "ts", WinSpec("tb", 6 * 3600, 6 * 3600), nic,
        "ids array<long>, vals array<double>", payload_cols=["event_id", "value"],
        watermark="1 hour", unit="second",
    )
    name = f"gate_stream_topk_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="complete")
    return res.select(
        "event_type", "gwid", F.posexplode(F.arrays_zip("ids", "vals")).alias("_p", "_it")
    ).select(
        "event_type", "gwid",
        (F.col("_p") + 1).cast("long").alias("rnk"),
        F.col("_it.ids").alias("event_id"),
        F.col("_it.vals").alias("value"),
    )


def q_streaming_session(spark, sf_dir):
    """Native session_window on the drained stream == the batch
    gap-split oracle on (user_id, session_start, cnt) — merge rule
    boundary-aligned (diff == gap merges in both)."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _staged_events_stream(spark, sf_dir)
    out = se.stream_session(
        src, ["user_id"], "ts", f"{1800} seconds",
        aggs={"cnt": F.count(F.lit(1))}, watermark="1 hour",
    )
    name = f"gate_stream_sess_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="complete")
    return res.select("user_id", "session_start", "cnt")


def q_streaming_accumulate(spark, sf_dir):
    """Streaming keyed rolling reduce (Accumulator,
    accumulator.hpp:157-192): running (sum, cnt) after EVERY tuple on
    the drained stream == the windowed running aggregate oracle.
    Ids renumbered upstream (TS_RENUMBERING) as in streaming_cb."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_acc_")
    out = se.stream_accumulate(src, "user_key", "wf_id", "value")
    name = f"gate_stream_acc_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select(
        "user_key", "wf_id",
        F.round("running_sum", 4).alias("running_sum"), "running_cnt",
    )


def q_streaming_interval_join(spark, sf_dir):
    """North-rule stateful stream-stream join: click events correlated
    to their triggering view events on user_id within a 1-hour bound
    (watermarked StreamingSymmetricHashJoin) — ALL matches in the
    bound, drained availableNow; == the batch interval join oracle."""
    import uuid

    from windflow_spark.streaming import engine as se

    # two independent readers over the same staged directory (safer
    # than filtering one streaming DF into both sides of a self-join)
    left = _staged_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = _staged_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "view"
    ).select(
        "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    j = se.stream_interval_join(
        left, right, ["user_id"], "l_ts", "r_ts",
        bound_secs=3600, watermark="1 hour",
    )
    out = j.select(
        F.col("l.user_id").alias("user_id"),
        "l_id",
        "r_id",
        F.unix_micros("l_ts").alias("l_us"),
        F.unix_micros("r_ts").alias("r_us"),
    )
    name = f"gate_stream_ij_{uuid.uuid4().hex[:8]}"
    return se.run_to_memory(out, name, spark, output_mode="append")


def q_streaming_sliding(spark, sf_dir):
    """Streaming TB SLIDING windows (win > slide — the reference's core
    Win_Farm case, win_farm.hpp:54-579): native F.window handles
    slide ≤ win directly, one watermarked stateful aggregate; drained
    complete == the batch sliding oracle INCLUDING trailing partial
    windows (complete mode emits everything in state at EOS)."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _staged_events_stream(spark, sf_dir)
    out = se.stream_win_tb(
        src, ["event_type"], "ts", WinSpec("tb", 3600, 900),
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 4)},
        watermark="1 hour", unit="second",
    )
    name = f"gate_stream_slide_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="complete")
    return res.select(
        "event_type", "gwid", "cnt", "sum_value",
        (F.col("gwid") * MIN15 + HOUR - 1).cast("long").alias("win_end"),
    )


def _renumbered_ids_stream(spark, sf_dir, prefix):
    """Per-user renumbered (TS_RENUMBERING) id stream staged to parquet
    — shared by the CB streaming gates."""
    import tempfile

    from windflow_spark.streaming import engine as se

    ids = cb_ids(
        _events(spark, sf_dir), ["user_id"], [F.col("ts"), F.col("event_id")]
    ).select(
        F.col("user_id").cast("string").alias("user_key"), "wf_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix=prefix)
    ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    schema = spark.read.parquet(tmp).schema
    return se.stream_source(spark, tmp, schema)


def q_streaming_cb_sliding(spark, sf_dir):
    """Streaming CB SLIDING windows (win=16, slide=4 — each tuple in up
    to 4 open windows): the stateful processor's wid-explosion fold at
    a spec where windows genuinely overlap; fired == the windows whose
    last tuple (id = gwid*4+15) arrived (Triggerer_CB)."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_cbsl_")
    out = se.stream_cb_windows(
        src, "user_key", "wf_id", "value", WinSpec("cb", 16, 4)
    )
    name = f"gate_stream_cbsl_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select(
        "user_key", "gwid", F.round("sum_value", 4).alias("sum_value"),
        "cnt", "win_end",
    )


def q_streaming_cb_eos(spark, sf_dir):
    """EOS partial-window flush (the reference's eosnotify,
    win_seq.hpp:432-474): drain CB windows availableNow into a parquet
    sink with an explicit checkpoint, then read the still-open windows
    back from the checkpoint's STATE STORE (statestore data source)
    and finalize them — fired ∪ flushed == the batch aggregate
    INCLUDING partial windows. Every user's stream is truncated
    mid-window unless its length is ≡ 0 (mod 10), so the flush carries
    real weight in the hash."""
    import tempfile

    from windflow_spark.streaming import engine as se

    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_cbeos_")
    spec = WinSpec("cb", 10, 10)
    out = se.stream_cb_windows(src, "user_key", "wf_id", "value", spec)
    work = tempfile.mkdtemp(prefix="wf_gate_cbeos_io_")
    sink, ckpt = f"{work}/sink", f"{work}/ckpt"
    se.run_available_now(out, sink, ckpt, timeout_sec=600)
    fired = spark.read.parquet(sink)
    flushed = se.flush_cb_partials(spark, ckpt, "user_key", spec, value_col="value")
    return fired.unionByName(flushed).select(
        "user_key", "gwid", F.round("sum_value", 4).alias("sum_value"),
        "cnt", "win_end",
    )


def q_streaming_tb_eos(spark, sf_dir):
    """TB arm of the eosnotify flush on the PRODUCTION sink path: an
    append-mode availableNow drain into a parquet sink emits only
    windows the watermark passed — every trailing window stays in the
    aggregation state. flush_tb_partials reads them back from the
    checkpoint (aggregation buffers, positional struct cast) and
    emitted ∪ flushed == the batch sliding aggregate, same oracle as
    streaming_sliding."""
    import tempfile

    from windflow_spark.streaming import engine as se

    src = _staged_events_stream(spark, sf_dir)
    spec = WinSpec("tb", 3600, 900)
    out = se.stream_win_tb(
        src, ["event_type"], "ts", spec,
        aggs={"cnt": F.count(F.lit(1)), "sum_value": F.sum("value")},
        watermark="1 hour", unit="second",
    )
    work = tempfile.mkdtemp(prefix="wf_gate_tbeos_")
    se.run_available_now(out, f"{work}/sink", f"{work}/ckpt", timeout_sec=600)
    emitted = spark.read.parquet(f"{work}/sink")
    flushed = se.flush_tb_partials(
        spark, f"{work}/ckpt", ["event_type"], spec,
        aggs={"cnt": "count", "sum_value": "sum"}, unit="second",
    )
    return emitted.unionByName(flushed).select(
        "event_type", "gwid", "cnt",
        F.round("sum_value", 4).alias("sum_value"),
        (F.col("gwid") * MIN15 + HOUR - 1).cast("long").alias("win_end"),
    )


def q_streaming_cb_maxby(spark, sf_dir):
    """Non-scalar decomposable fold through the streaming CB registry
    (VERDICT r4 #6): ``argmax`` carries a (value, id) slot pair —
    batch kernel, cross-batch merge, and finalize all beyond scalar
    semigroups — alongside max and count in one pass, proving the
    ``_CB_OPS`` contract generalizes the reference's arbitrary INC
    lambda shape (win_seq.hpp:63-65). Tie rule: smallest id attaining
    the max (== a row_number ORDER BY value DESC, id ASC oracle)."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_cbmx_")
    out = se.stream_cb_windows(
        src, "user_key", "wf_id", None, WinSpec("cb", 10, 10),
        aggs={
            "cnt": ("count", None),
            "argmax_id": ("argmax", "value"),
            "max_value": ("max", "value"),
        },
    )
    name = f"gate_stream_cbmx_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select(
        "user_key", "gwid", "cnt", "argmax_id",
        F.round("max_value", 4).alias("max_value"), "win_end",
    )


def q_streaming_cb_var(spark, sf_dir):
    """Three-slot decomposable fold through the streaming CB registry
    (VERDICT r5 #5): var/std carry a (sum, sumsq, count) slot TRIPLE —
    the batch kernel, cross-batch merge and finalize all walk three
    slots, one step further toward the reference's arbitrary INC
    lambda (win_seq.hpp:63-65). Population variance via the
    E[x²]−E[x]² identity clamped at 0; the oracle recomputes the same
    identity. Fired windows only (Triggerer_CB); flush_cb_partials
    emits partial ones with the same finalize."""
    import uuid

    from windflow_spark.streaming import engine as se

    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_cbvar_")
    out = se.stream_cb_windows(
        src, "user_key", "wf_id", None, WinSpec("cb", 10, 10),
        aggs={
            "cnt": ("count", None),
            "var_value": ("var", "value"),
            "std_value": ("std", "value"),
        },
    )
    name = f"gate_stream_cbvar_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select(
        "user_key", "gwid", "cnt",
        F.round("var_value", 4).alias("var_value"),
        F.round("std_value", 4).alias("std_value"),
        "win_end",
    )


def q_streaming_cb_userfold(spark, sf_dir):
    """USER-DECLARED fold through the public ``register_cb_op``
    extension contract (the route to the reference's arbitrary INC
    lambda, win_seq.hpp:63-65): a value-range fold — (min, max) slot
    pair, finalize = max − min — is registered at call time,
    property-checked for decomposability, and runs through the SAME
    streaming CB processor and state layout as the built-ins. Fired
    windows only (Triggerer_CB); the oracle recomputes max − min."""
    import uuid

    import numpy as np

    from windflow_spark.streaming import engine as se

    if "vrange" not in se._CB_OPS:
        se.register_cb_op(
            "vrange", n_slots=2,
            batch=lambda v, ids, s: [np.minimum.reduceat(v, s),
                                     np.maximum.reduceat(v, s)],
            merge=lambda o, n: [min(o[0], n[0]), max(o[1], n[1])],
            finalize=lambda s: s[1] - s[0], out_type="double",
            validate_with=[3.0, -1.5, 8.25, 0.0, 4.5, 2.0],
        )
    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_cbuf_")
    out = se.stream_cb_windows(
        src, "user_key", "wf_id", None, WinSpec("cb", 10, 10),
        aggs={"cnt": ("count", None), "range_value": ("vrange", "value")},
    )
    name = f"gate_stream_cbuf_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select(
        "user_key", "gwid", "cnt",
        F.round("range_value", 4).alias("range_value"), "win_end",
    )


def _cep_steps():
    return [
        F.col("event_type") == "click",
        F.col("event_type") == "view",
        F.col("event_type") == "purchase",
    ]


def q_cep_pattern(spark, sf_dir):
    """CEP strict-contiguity sequence match (extension — the north
    rule's 'streaming / CEP engine'; no reference analogue, WindFlow's
    'patterns' are its operators): click → view → purchase on three
    CONSECUTIVE per-user events (TS_RENUMBERING ids), as pure lead()
    window expressions — one shuffle, whole-stage codegen, no Python.
    Emits the match span ids + epoch-µs bounds; the oracle replays the
    identical leads."""
    # cast BEFORE renumbering so both window stages partition by the
    # same user_key column — ONE exchange for the whole composition
    # (renumber + match share the hash partitioning; plan-asserted)
    # renumber by (us, event_id) — the SAME total order as (ts,
    # event_id) since unix_micros is injective on microsecond NTZ —
    # and hand the matcher the same attributes as order_by, so its
    # window stack reuses the renumbering sort instead of re-sorting
    # by wf_id (2 Sort nodes fewer, ~10% of the query)
    ids = cb_ids(
        _events(spark, sf_dir)
        .withColumn("user_key", F.col("user_id").cast("string"))
        .withColumn("us", epoch_us("ts")),
        ["user_key"], [F.col("us"), F.col("event_id")],
    ).select("user_key", "wf_id", "event_type", "us", "event_id")
    return cep_match_events(
        ids, "user_key", "wf_id", _cep_steps(), ts_col="us",
        order_by=[F.col("us"), F.col("event_id")],
    )


def q_streaming_cep(spark, sf_dir):
    """The same pattern through the STREAMING stateful matcher
    (bounded state: at most k-1 pending partials per key); a completed match
    emits exactly once, so fired == the batch matcher == the same
    oracle — no flush arm exists or is needed (a sequence either
    completed or it didn't, unlike windows' eosnotify partials)."""
    import tempfile
    import uuid

    from windflow_spark.streaming import engine as se

    ids = cb_ids(
        _events(spark, sf_dir).withColumn(
            "user_key", F.col("user_id").cast("string")
        ),
        ["user_key"], [F.col("ts"), F.col("event_id")],
    ).select("user_key", "wf_id", "event_type", epoch_us("ts").alias("us"))
    tmp = tempfile.mkdtemp(prefix="wf_gate_cep_")
    ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    schema = spark.read.parquet(tmp).schema
    src = se.stream_source(spark, tmp, schema)
    out = se.stream_match_events(src, "user_key", "wf_id", _cep_steps(), ts_col="us")
    name = f"gate_stream_cep_{uuid.uuid4().hex[:8]}"
    return se.run_to_memory(out, name, spark, output_mode="append")


# skip-mode span bound: 24 h discriminates three ways at sf0.01 —
# strict 72 < skip-within-24h 139 < skip-unbounded 1722 matches
CEP_SKIP_WITHIN = 24 * HOUR


def q_cep_skip(spark, sf_dir):
    """CEP skip-till-next-match (r7, VERDICT r6 #5): click → view →
    purchase with OTHER EVENTS BETWEEN — each step binds to the
    earliest later satisfying row (greedy-earliest, so the `within`
    span bound is exact). Plan: match_events' completion stack — per
    step, a running min over every later row (the reversed keyed
    window) that carries the next step's completion; one exchange, no
    joins, linear per key (plan-tested)."""
    # (us, event_id) renumbering + order_by: reuse the renumbering
    # sort in the matcher's window stack (see q_cep_pattern)
    ids = cb_ids(
        _events(spark, sf_dir)
        .withColumn("user_key", F.col("user_id").cast("string"))
        .withColumn("us", epoch_us("ts")),
        ["user_key"], [F.col("us"), F.col("event_id")],
    ).select("user_key", "wf_id", "event_type", "us", "event_id")
    return cep_match_events(
        ids, "user_key", "wf_id", _cep_steps(),
        ts_col="us", within=CEP_SKIP_WITHIN, mode="skip",
        order_by=[F.col("us"), F.col("event_id")],
    )


def q_streaming_cep_skip(spark, sf_dir):
    """The same skip-till-next pattern through the STREAMING matcher:
    state = pending starts inside the within span (per-step cohorts,
    not raw rows); a match emits exactly once when its completing row
    arrives, so fired == batch == the shared oracle across micro-batch
    boundaries."""
    import tempfile
    import uuid

    from windflow_spark.streaming import engine as se

    ids = cb_ids(
        _events(spark, sf_dir).withColumn(
            "user_key", F.col("user_id").cast("string")
        ),
        ["user_key"], [F.col("ts"), F.col("event_id")],
    ).select("user_key", "wf_id", "event_type", epoch_us("ts").alias("us"))
    tmp = tempfile.mkdtemp(prefix="wf_gate_cepskip_")
    # one file: arbitrary file splits would interleave per-key ids
    # across micro-batches and the drop rule would discard them;
    # ordered cross-batch arrival is covered by
    # tests/test_cep.py::test_stream_match_skip_equals_batch
    ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    schema = spark.read.parquet(tmp).schema
    src = se.stream_source(spark, tmp, schema)
    out = se.stream_match_events(
        src, "user_key", "wf_id", _cep_steps(),
        ts_col="us", within=CEP_SKIP_WITHIN, mode="skip",
    )
    name = f"gate_stream_cepskip_{uuid.uuid4().hex[:8]}"
    return se.run_to_memory(out, name, spark, output_mode="append")


def q_cep_kleene(spark, sf_dir):
    """CEP Kleene-plus (r7): click → view+ → purchase — ONE OR MORE
    consecutive views between the click and the purchase, the run
    GREEDY-MAXIMAL (the purchase binds at the first non-view row after
    the run; deterministic, output linear in starts — all-sub-runs
    semantics would be quadratic in run length). Strict contiguity
    over the dense renumbered ids. Plan: match_events' completion
    stack — the run's stop (first later row that is not a contiguous
    view) is a running min over the reversed keyed window carrying the
    purchase step's completion; one exchange, no joins (plan-tested in
    tests/test_cep.py)."""
    # (us, event_id) renumbering + order_by: reuse the renumbering
    # sort in the matcher's window stack (see q_cep_pattern)
    ids = cb_ids(
        _events(spark, sf_dir)
        .withColumn("user_key", F.col("user_id").cast("string"))
        .withColumn("us", epoch_us("ts")),
        ["user_key"], [F.col("us"), F.col("event_id")],
    ).select("user_key", "wf_id", "event_type", "us", "event_id")
    return cep_match_events(
        ids, "user_key", "wf_id", _cep_steps(),
        ts_col="us", quantifiers="1+1",
        order_by=[F.col("us"), F.col("event_id")],
    )


def q_streaming_cep_kleene(spark, sf_dir):
    """The same greedy Kleene pattern through the STREAMING stateful
    matcher: state = pending partials (start, ts_first, step, in-run)
    per key — a binding partial dies on the next row unless it
    matches, an in-run partial lives only while its run extends, so
    state is O(active partials), never O(stream). The final step is
    '1', so every match emits exactly once on its end row and fired ==
    batch == the shared oracle (the final-+ stream-end caveat never
    applies here)."""
    import tempfile
    import uuid

    from windflow_spark.streaming import engine as se

    ids = cb_ids(
        _events(spark, sf_dir).withColumn(
            "user_key", F.col("user_id").cast("string")
        ),
        ["user_key"], [F.col("ts"), F.col("event_id")],
    ).select("user_key", "wf_id", "event_type", epoch_us("ts").alias("us"))
    tmp = tempfile.mkdtemp(prefix="wf_gate_cepkleene_")
    # one file: arbitrary splits would interleave per-key ids across
    # micro-batches into the drop rule; ordered cross-batch arrival is
    # covered by tests/test_cep.py::test_stream_match_kleene_equals_batch
    ids.coalesce(1).write.mode("overwrite").parquet(tmp)
    schema = spark.read.parquet(tmp).schema
    src = se.stream_source(spark, tmp, schema)
    out = se.stream_match_events(
        src, "user_key", "wf_id", _cep_steps(),
        ts_col="us", quantifiers="1+1",
    )
    name = f"gate_stream_cepkleene_{uuid.uuid4().hex[:8]}"
    return se.run_to_memory(out, name, spark, output_mode="append")


def q_streaming_cb_histq(spark, sf_dir):
    """Streaming approximate QUANTILE windows (r7): a fixed-range
    equi-width histogram as a CB fold (register_quantile_hist_op) —
    bucket counts are the slots, merge is elementwise ADD: the
    decomposable sketch a raw median is not (register_cb_op rejects
    median at registration; this is the declared alternative). p50
    over [0, 500) in 100 buckets (w = 5.0 — error ≤ one bucket
    width); finalize interpolates inside the first bucket reaching
    rank q·n. Counts are exact integers and every float op uses
    shared literals, so the oracle recomputes the IDENTICAL value.
    Fired windows only (Triggerer_CB); flush_cb_partials emits partial
    ones with the same registered finalize."""
    import uuid

    from windflow_spark.streaming import engine as se

    if "histq_p50" not in se._CB_OPS:
        se.register_quantile_hist_op(
            "histq_p50", lo=0.0, hi=500.0, bins=100, q=0.5
        )
    src = _renumbered_ids_stream(spark, sf_dir, "wf_gate_histq_")
    out = se.stream_cb_windows(
        src, "user_key", "wf_id", None, WinSpec("cb", 10, 10),
        aggs={"p50": ("histq_p50", "value"), "cnt": ("count", None)},
    )
    name = f"gate_stream_histq_{uuid.uuid4().hex[:8]}"
    res = se.run_to_memory(out, name, spark, output_mode="append")
    return res.select("user_key", "gwid", "p50", "cnt", "win_end")


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (engine.stream_exact_dedup): the documents
    table staged TWICE and drained file-per-trigger, so every digest
    arrives in >= 2 micro-batches — the stateful dedup must emit each
    first-seen digest exactly once, and with keeper_id the SURVIVOR is
    deterministic (min doc_id within the digest's first batch; the
    staged files are identical copies, so that equals the global
    min-id rule the oracle recomputes — r7, VERDICT r6 #6)."""
    import os
    import shutil
    import tempfile
    import uuid

    from windflow_spark.streaming import engine as se

    path = tempfile.mkdtemp(prefix="wf_gate_sdedup_")
    shutil.copy(f"{sf_dir}/documents.parquet", os.path.join(path, "a.parquet"))
    shutil.copy(f"{sf_dir}/documents.parquet", os.path.join(path, "b.parquet"))
    src = se.stream_source(_utc(spark), path, TABLE_SCHEMAS["documents"],
                           max_files_per_trigger=1)
    out = se.stream_exact_dedup(src, "text", keeper_id="doc_id").select(
        "digest", "doc_id"
    )
    name = f"gate_stream_dedup_{uuid.uuid4().hex[:8]}"
    return se.run_to_memory(out, name, spark, output_mode="append")


def q_streaming_session_eos(spark, sf_dir):
    """Session arm of the eosnotify flush (win_seq.hpp:432-474 —
    completing the CB/TB/session symmetry, VERDICT r4 #7): an
    append-mode availableNow session drain emits only sessions the
    watermark closed; flush_session_partials reads the still-open
    sessions from the checkpoint's session-merge state (statestore
    data source, positional buffer cast) and emitted ∪ flushed == the
    batch gap-split session output — same oracle as streaming_session."""
    import tempfile

    from windflow_spark.streaming import engine as se

    src = _staged_events_stream(spark, sf_dir)
    out = se.stream_session(
        src, ["user_id"], "ts", f"{1800} seconds",
        aggs={"cnt": F.count(F.lit(1))}, watermark="1 hour",
    )
    work = tempfile.mkdtemp(prefix="wf_gate_sesseos_")
    se.run_available_now(out, f"{work}/sink", f"{work}/ckpt", timeout_sec=600)
    emitted = spark.read.parquet(f"{work}/sink")
    flushed = se.flush_session_partials(
        spark, f"{work}/ckpt", ["user_id"], aggs={"cnt": "count"}
    )
    cols = ["user_id", "session_start", "cnt"]
    return emitted.select(*cols).unionByName(flushed.select(*cols))


def q_multimodal_frames(spark, sf_dir):
    """Video frame-sampling plumbing: one row per sampled frame
    timestamp — a pure explode plan, no Python."""
    media = multimodal.synth_media(_docs(spark, sf_dir), "doc_id", "text", kind="video")
    return multimodal.frame_sample_plan(media, every_ms=1000).select(
        "media_id", F.col("frame_ms").cast("long").alias("frame_ms")
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (functions/sampling.py):
    md5-hash routing, map-side only. Gate output is per-split count
    plus an id checksum, so the oracle value-checks WHICH rows each
    split received, not just how many."""
    split = sampling.hash_split(
        _docs(spark, sf_dir), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic Bernoulli sample (rate per lang;
    absent strata dropped). Returns the sampled rows themselves — the
    driver hash checks the exact kept-set."""
    out = sampling.stratified_sample(
        _docs(spark, sf_dir),
        "doc_id",
        {"en": 0.5, "de": 0.25, "zh": 1.0},
        key_col="lang",
    )
    return out.select("doc_id", "lang")


def q_sample_k_per_key(spark, sf_dir):
    """Deterministic k-per-key sample via the SALTED two-stage rank
    (salt_parts=4) — the gate proves the win_mapreduce-style
    decomposition equals the oracle's one-stage rank."""
    return sampling.sample_k_per_key(
        _docs(spark, sf_dir), "lang", 25, "doc_id", salt_parts=4
    ).select("lang", "doc_id")


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (LLM shard layout): docs laid out
    per source by doc_id, bin = exact integer floordiv of the running
    token offset. Gate output per (source, bin): doc count + token
    sum."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", "source", text.token_count("text").alias("tok")
    )
    packed = sampling.pack_sequences(toks, "doc_id", "tok", 200, key_col="source")
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tok").cast("long").alias("tok_sum"),
    )


def q_pack_bucketed_dense(spark, sf_dir):
    """r7 (VERDICT r6 #2+#3): the BUCKETED two-pass prefix-sum pack
    layout (sort parallelism = bucket count, never one task per key)
    with dense shard renumbering — the engine runs the distributed
    decomposition, the oracle the equivalent single global window, so
    a hash match proves the decomposition exactly. Row-level output
    (doc_id -> bin_id), the strongest form of the check."""
    from windflow_spark.operators.windows import floordiv

    # localCheckpoint (lazy): the four consumer branches (bucket
    # totals, layout join, dense stats, dense join) otherwise each
    # re-tokenize the corpus from the scan — materializing the NARROW
    # (id, source, tok, _bk) rows once cuts 4 scans+tokenizes to 1
    # (guide §3.3 "materialise an intermediate"; measured 1.18 → 0.50 s
    # at sf1.0 — beats fanning the scan, whose exchange of raw text
    # costs more than the single-task tokenize it parallelizes).
    toks = _docs(spark, sf_dir).select(
        "doc_id", "source", text.token_count("text").alias("tok")
    ).withColumn("_bk", floordiv(F.col("doc_id"), 37)).localCheckpoint(eager=False)
    packed = sampling.pack_sequences(
        toks, "doc_id", "tok", 200,
        key_col="source", dense=True, bucket_col="_bk",
    )
    return packed.select("source", "doc_id", "bin_id")


def q_sample_k_weighted(spark, sf_dir):
    """Weighted k-per-key sampling without replacement (Efraimidis-
    Spirakis A-ES: rank = -ln(u)/w from the portable hash), run
    through the SALTED two-stage rank (salt_parts=4) — the gate proves
    both the weighted jitter math and its win_mapreduce-style
    decomposition against a one-stage DuckDB oracle (r7, VERDICT r6
    #3; fp64 jitter is bit-identical in both engines)."""
    return sampling.sample_k_per_key(
        _docs(spark, sf_dir), "lang", 10, "doc_id",
        weight_col="n_chars", salt_parts=4,
    ).select("lang", "doc_id")


def q_mix_sources(spark, sf_dir):
    """Dataset mixing (r7, VERDICT r6 #3): two sources downsampled to
    per-source rates and unioned, draws independent per source (the
    salt embeds the source name). Map-side filters only — zero
    exchanges at any scale; the oracle re-derives the exact kept-set
    from the same md5 literals."""
    docs = _docs(spark, sf_dir)
    en = docs.filter(F.col("lang") == "en").drop("source")
    zh = docs.filter(F.col("lang") == "zh").drop("source")
    return sampling.mix_sources(
        {"web": en, "books": zh}, {"web": 0.5, "books": 0.9}, "doc_id"
    ).select("doc_id", "source")


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals — one vectorized Arrow
    pass (text.repetition_features): zero data exchanges, per-doc
    features stay embarrassingly parallel at 100 TB. Oracle recomputes
    via unnest + group-by mode counts. _fan: the sf documents table is
    one unsplittable file — without it the whole kernel runs in ONE
    task (guide §2.5). The narrow (doc_id, text) projection BEFORE the
    kernel matters: mapInPandas defeats column pruning (guide §4.1)."""
    return text.repetition_features(
        _fan(_docs(spark, sf_dir).select("doc_id", "text"))
    ).select(
        "doc_id", "top_token_frac", "top_bigram_frac", "distinct_token_ratio"
    )


def q_per_turn_text(spark, sf_dir):
    """input_hint invariant surfaced in the gate: per-row text equality
    after a deterministic Map rewrite, under stable ordering — the
    driver's value-hash IS the text-equality check."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.upper("text").alias("text_upper"),
        F.length("text").cast("long").alias("text_len"),
    )


def q_doc_rolling_hash(spark, sf_dir):
    """Rabin-Karp polynomial fingerprint over normalized text
    (sequential F.aggregate fold == DuckDB list_reduce)."""
    return _docs(spark, sf_dir).select(
        "doc_id", text.rolling_hash("text").alias("rhash")
    )


def q_win_approx_distinct(spark, sf_dir):
    """Sketch aggregate: HyperLogLog++ approx distinct users per
    tumbling window, emitted as an oracle-checkable claim — the exact
    count plus an error-bound flag. The DuckDB oracle recomputes the
    exact count and asserts err_ok = true, so a sketch drifting past
    the bound hash-mismatches the gate (estimates themselves are
    engine-specific and not compared)."""
    ev = _events(spark, sf_dir).withColumn("us", epoch_us("ts"))
    win = win_seq(
        ev, ["event_type"], "us", WinSpec("tb", 6 * HOUR, 6 * HOUR),
        aggs={
            "approx_users": F.approx_count_distinct("user_id"),
            "exact_users": F.count_distinct("user_id"),
        },
    )
    return win.select(
        "event_type", "gwid", "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= HLL_REL_BOUND * F.col("exact_users") + HLL_ABS_SLACK
        ).alias("err_ok"),
    )


def q_multimodal_meta(spark, sf_dir):
    media = multimodal.synth_media(_docs(spark, sf_dir), "doc_id", "text", kind="image")
    feats = multimodal.extract_features(media)
    return feats.select("media_id", "kind", "n_bytes", "digest")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gate registry. ORDER MATTERS: the driver's correctness gate
    checks exactly the FIRST 50 entries (r4 record gap — VERDICT r4
    #1), so positions 1-50 hold every query that is new this round or
    was never driver-checked (r7 adds cep_skip, streaming_cep_skip,
    cep_kleene, streaming_cep_kleene, streaming_cb_hll,
    dedup_components, pack_bucketed_dense, sample_k_weighted,
    mix_sources, text_contamination; rotated to the tail this round,
    each with its semantics still covered in-window: token_counts
    (r4-r6 green; ws-token counting via text_quality's n_tokens),
    win_tb_sliding + win_cb_sliding (r1-r6; sliding via
    pane_farm_sliding, win_mapreduce_sliding, streaming_sliding,
    streaming_cb_sliding), win_approx_distinct (r1-r6; approx distinct
    via streaming_cb_hll's recomputed-estimate gate), ngram_jaccard
    (r4-r6; the candidates-restricted verify via dedup_pipeline and
    dedup_components' pair input in tests), text_quality (r1-r6;
    text-signal family via text_repetition, text_contamination and
    bm25_scores — and the curation job still composes it), ann_ivf
    (r4-r6; IVF semantics via the STRONGER learned-codebook gate
    ann_ivf_kmeans); r6 added
    streaming_cb_var, streaming_cb_userfold, cep_pattern,
    streaming_cep, hash_split, stratified_sample, sample_k_per_key,
    pack_sequences, text_repetition, streaming_dedup — all r6 gates
    stay in-window for their second/third round), and positions 51+
    hold only queries with at
    least three consecutive rounds of driver-green history (r2-r4:
    cube_agg, rollup_agg, set_ops, topk_per_key, per_turn_text,
    doc_fingerprint, doc_rolling_hash, text_langid; r6 rotates
    micro1_stateless, win_tb_hopping, win_cb_tumbling, win_cb_hopping,
    win_topk, win_count_distinct, accumulator, union_pipes,
    win_tb_tumbling and ooo_drop — each driver-green r2-r5, with the
    rotated semantics still driver-covered in-window: the out-of-order
    drop rule by streaming_cb, tumbling TB by
    win_tb_sliding + streaming_tumbling + the flagship, hopping by
    streaming_hopping, CB tumbling by streaming_cb and every CB
    streaming gate, top-k by win_topk_pane + streaming_topk, count-
    distinct by win_approx_distinct, accumulate by
    streaming_accumulate, union by ysb_pipeline + the chain-fusion
    tests. r7 rotates dedup_exact + dedup_fingerprint (driver-green
    r4-r6; digest dedup covered in-window by streaming_dedup — now
    with the min-id keeper — and dedup_pipeline), session_windows
    (r2-r6; covered by streaming_session + streaming_session_eos),
    win_topk_pane (r2-r6; top-k covered by streaming_topk in-window,
    win_topk + topk_per_key in the tail) and multimodal_meta (r2-r6;
    covered by multimodal_frames) — all still oracle-checked locally
    by tools/check_entry.py,
    which covers ALL entries and writes CORRECTNESS_rotated.json for
    the 51+ tail)."""
    return {
        # — batch windows / operator algebra (8; incl. the r7 CEP
        #   gates cep_skip + cep_kleene; win_tb_sliding and
        #   win_cb_sliding, driver-green r1-r6, rotate to the tail —
        #   sliding semantics stay in-window via pane_farm_sliding,
        #   win_mapreduce_sliding, streaming_sliding and
        #   streaming_cb_sliding)
        "cep_pattern": q_cep_pattern,
        "cep_skip": q_cep_skip,
        "cep_kleene": q_cep_kleene,
        "win_nic_median": q_win_nic_median,
        "pane_farm_sliding": q_pane_farm_sliding,
        "win_mapreduce_sliding": q_win_mapreduce_sliding,
        "hypertable_rollup": q_hypertable_rollup,
        # — pipes / joins / windowed extensions (4)
        "asof_join": q_asof_join,
        "ysb_pipeline": q_ysb_pipeline,
        # — sampling / splitting / packing / quality (8; r6 + the r7
        #   additions pack_bucketed_dense, sample_k_weighted,
        #   mix_sources)
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "sample_k_per_key": q_sample_k_per_key,
        "sample_k_weighted": q_sample_k_weighted,
        "pack_sequences": q_pack_sequences,
        "pack_bucketed_dense": q_pack_bucketed_dense,
        "mix_sources": q_mix_sources,
        "text_repetition": q_text_repetition,
        # — LLM-data-pipeline operators (12)
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_pipeline": q_dedup_pipeline,
        "dedup_components": q_dedup_components,
        "embedding_topk": q_embedding_topk,
        "embedding_dedup": q_embedding_dedup,
        "ann_lsh": q_ann_lsh,
        "ann_ivf_kmeans": q_ann_ivf_kmeans,
        "bm25_scores": q_bm25_scores,
        "text_contamination": q_text_contamination,
        "multimodal_frames": q_multimodal_frames,
        # — streaming (19; incl. the r7 gate streaming_cep_skip and
        #   the r6 gates streaming_cb_var, streaming_cb_userfold,
        #   streaming_cep and streaming_dedup, inside the 50-entry
        #   window)
        "streaming_tumbling": q_streaming_tumbling,
        "streaming_cb": q_streaming_cb,
        "streaming_hopping": q_streaming_hopping,
        "streaming_nic_median": q_streaming_nic_median,
        "streaming_session": q_streaming_session,
        "streaming_accumulate": q_streaming_accumulate,
        "streaming_interval_join": q_streaming_interval_join,
        "streaming_topk": q_streaming_topk,
        "streaming_sliding": q_streaming_sliding,
        "streaming_cb_sliding": q_streaming_cb_sliding,
        "streaming_cb_eos": q_streaming_cb_eos,
        "streaming_tb_eos": q_streaming_tb_eos,
        "streaming_cb_maxby": q_streaming_cb_maxby,
        "streaming_session_eos": q_streaming_session_eos,
        "streaming_cb_var": q_streaming_cb_var,
        "streaming_cb_userfold": q_streaming_cb_userfold,
        "streaming_cep": q_streaming_cep,
        "streaming_cep_skip": q_streaming_cep_skip,
        "streaming_cep_kleene": q_streaming_cep_kleene,
        "streaming_cb_hll": q_streaming_cb_hll,
        "streaming_cb_histq": q_streaming_cb_histq,
        "streaming_dedup": q_streaming_dedup,
        # ---- position 51+: three-round-stable rotation (driver checks
        #      stop at 50; tools/check_entry.py still checks these)
        "win_tb_sliding": q_win_tb_sliding,
        "win_cb_sliding": q_win_cb_sliding,
        "win_approx_distinct": q_win_approx_distinct,
        "ngram_jaccard": q_ngram_jaccard,
        "text_quality": q_text_quality,
        "ann_ivf": q_ann_ivf,
        "win_quantile": q_win_quantile,
        "dedup_exact": q_dedup_exact,
        "dedup_fingerprint": q_dedup_fingerprint,
        "token_counts": q_token_counts,
        "session_windows": q_session_windows,
        "win_topk_pane": q_win_topk_pane,
        "multimodal_meta": q_multimodal_meta,
        "micro1_stateless": q_micro1_stateless,
        "win_tb_hopping": q_win_tb_hopping,
        "win_cb_tumbling": q_win_cb_tumbling,
        "win_cb_hopping": q_win_cb_hopping,
        "win_topk": q_win_topk,
        "win_count_distinct": q_win_count_distinct,
        "accumulator": q_accumulator,
        "union_pipes": q_union_pipes,
        "win_tb_tumbling": q_win_tb_tumbling,
        "ooo_drop": q_ooo_drop,
        "cube_agg": q_cube_agg,
        "rollup_agg": q_rollup_agg,
        "set_ops": q_set_ops,
        "topk_per_key": q_topk_per_key,
        "per_turn_text": q_per_turn_text,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_rolling_hash": q_doc_rolling_hash,
        "text_langid": q_text_langid,
    }


# ------------------------------------------------------------------ oracles

_T = "cast(floor(epoch_us(ts) / {slide}.0) AS BIGINT)"

_SHINGLES_CTE = """
toked AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         unnest(generate_series(1, len(string_split_regex(trim(text), '\\s+')))) AS pos
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 2) OVER w IS NOT NULL
)
"""

_COS = (
    "round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    "  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
)

_QUALITY_TOKS = "string_split_regex(trim(text), '\\s+')"

# DuckDB mirror of sampling.uniform01: 15-hex-char md5 prefix (60 bits)
# over [0, 1). `{salt}` is format-substituted per draw.
_DUCK_U = (
    "(('0x' || substr(md5(cast(doc_id AS varchar) || '{salt}'), 1, 15))"
    "::UBIGINT / 1152921504606846976.0)"
)


def oracle_sql() -> dict[str, str]:
    hour, min15 = HOUR, MIN15
    week = 7 * 24 * HOUR
    sql = {}

    sql["win_tb_tumbling"] = f"""
        SELECT event_type, cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT) AS gwid,
               count(*) AS cnt, round(sum(value), 4) AS sum_value,
               cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT)*{hour} + {hour} - 1 AS win_end
        FROM events GROUP BY 1, 2
    """
    sql["win_tb_sliding"] = f"""
        WITH wids AS (
          SELECT event_type, value,
                 unnest(generate_series(
                   greatest(0, cast(floor((epoch_us(ts) - {hour})/{min15}.0) AS BIGINT) + 1),
                   cast(floor(epoch_us(ts)/{min15}.0) AS BIGINT))) AS gwid
          FROM events)
        SELECT event_type, gwid, count(*) AS cnt, round(sum(value), 4) AS sum_value,
               gwid*{min15} + {hour} - 1 AS win_end
        FROM wids GROUP BY 1, 2
    """
    sql["win_tb_hopping"] = f"""
        SELECT event_type, cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT) AS gwid,
               count(*) AS cnt, round(sum(value), 4) AS sum_value,
               cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT)*{hour} + {min15} - 1 AS win_end
        FROM events
        WHERE epoch_us(ts) % {hour} < {min15}
        GROUP BY 1, 2
    """
    sql["win_cb_tumbling"] = """
        WITH ids AS (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events)
        SELECT user_id, wf_id // 10 AS gwid, count(*) AS cnt,
               round(sum(value), 4) AS sum_value, (wf_id // 10)*10 + 9 AS win_end
        FROM ids GROUP BY 1, 2
    """
    sql["win_cb_sliding"] = """
        WITH ids AS (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        wids AS (
          -- NB: DuckDB // truncates toward zero; window math needs FLOOR division
          SELECT user_id, value,
                 unnest(generate_series(
                   greatest(0, cast(floor((wf_id - 16) / 4.0) AS BIGINT) + 1),
                   wf_id // 4)) AS gwid
          FROM ids)
        SELECT user_id, gwid, count(*) AS cnt, round(sum(value), 4) AS sum_value,
               gwid*4 + 15 AS win_end
        FROM wids GROUP BY 1, 2
    """
    sql["win_cb_hopping"] = """
        WITH ids AS (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events)
        SELECT user_id, wf_id // 16 AS gwid, count(*) AS cnt,
               round(sum(value), 4) AS sum_value, (wf_id // 16)*16 + 3 AS win_end
        FROM ids WHERE wf_id % 16 < 4
        GROUP BY 1, 2
    """
    sql["win_nic_median"] = f"""
        SELECT event_type, cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT) AS gwid,
               round(median(value), 4) AS median_value, count(*) AS cnt,
               cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT)*{hour} + {hour} - 1 AS win_end
        FROM events GROUP BY 1, 2
    """
    sql["pane_farm_sliding"] = sql["win_tb_sliding"]
    sql["win_mapreduce_sliding"] = sql["win_tb_sliding"]
    sql["hypertable_rollup"] = """
        SELECT event_type, cast(floor(epoch_us(ts)/86400000000.0) AS BIGINT) AS gwid,
               round(sum(value), 4) AS sum_value, count(*) AS cnt
        FROM events GROUP BY 1, 2
    """
    sql["session_windows"] = f"""
        WITH gapped AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {hour // 2}
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ), sess AS (
          SELECT user_id, us,
                 -- BIGINT cast: DuckDB's windowed sum() returns HUGEINT,
                 -- which lands in pandas as float64 and fails the driver's
                 -- dtype-sensitive row hash against Spark's int64 (the
                 -- round-2 red cell).
                 cast(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM gapped)
        SELECT user_id, session_id, min(us) AS session_start, max(us) AS session_end,
               count(*) AS cnt
        FROM sess GROUP BY 1, 2
    """
    sql["ooo_drop"] = """
        WITH arr AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 (event_id * 2654435761) % 2147483648 AS arrival
          FROM events),
        px AS (
          SELECT user_id, event_id, us,
                 max(us) OVER (PARTITION BY user_id ORDER BY arrival
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
          FROM arr)
        SELECT user_id, event_id, us FROM px
        WHERE prev_max IS NULL OR us > prev_max
    """
    sql["accumulator"] = """
        SELECT event_type, event_id,
               count(*) OVER w AS running_cnt,
               round(sum(value) OVER w, 4) AS running_sum
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
    """
    sql["micro1_stateless"] = """
        SELECT event_id, unnest([round(round(value*2+1, 4)*2, 4),
                                 round(round(value*2+1, 4)*3, 4)]) AS out_value
        FROM events WHERE event_id % 2 = 0
    """
    sql["union_pipes"] = f"""
        SELECT event_type, cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT) AS gwid,
               count(*) AS cnt,
               cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT)*{hour} + {hour} - 1 AS win_end
        FROM events GROUP BY 1, 2
    """
    sql["asof_join"] = f"""
        WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
                   WHERE event_type = 'click'),
             r AS (SELECT user_id, event_id AS r_event_id, epoch_us(ts) AS r_us
                   FROM events WHERE event_type = 'view'),
        j AS (
          SELECT l.user_id, l.event_id, r.r_us, r.r_event_id,
                 row_number() OVER (PARTITION BY l.user_id, l.event_id
                                    ORDER BY r.r_us DESC, r.r_event_id DESC) AS rn
          FROM l JOIN r ON l.user_id = r.user_id
                       AND r.r_us <= l.us AND r.r_us >= l.us - {hour})
        SELECT user_id, event_id, r_us AS matched_ts,
               r_event_id AS matched_r_event_id
        FROM j WHERE rn = 1
    """
    sql["ysb_pipeline"] = f"""
        SELECT c_mktsegment,
               cast(floor(epoch_us(o_orderdate)/{week}.0) AS BIGINT) AS gwid,
               count(*) AS cnt, round(max(o_totalprice), 4) AS max_price,
               cast(floor(epoch_us(o_orderdate)/{week}.0) AS BIGINT)*{week} + {week} - 1 AS win_end
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderstatus = 'O'
        GROUP BY 1, 2
    """
    sql["topk_per_key"] = """
        SELECT event_type, rnk, event_id, value FROM (
          SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id ASC) AS rnk
          FROM events) WHERE rnk <= 3
    """
    sql["win_topk"] = """
        SELECT event_type, gwid, rnk, event_id, value FROM (
          SELECT event_type,
                 cast(floor(epoch_us(ts)/21600000000.0) AS BIGINT) AS gwid,
                 event_id, value,
                 row_number() OVER (
                   PARTITION BY event_type, cast(floor(epoch_us(ts)/21600000000.0) AS BIGINT)
                   ORDER BY value DESC, event_id ASC) AS rnk
          FROM events) WHERE rnk <= 3
    """
    sql["win_count_distinct"] = """
        SELECT event_type, cast(floor(epoch_us(ts)/21600000000.0) AS BIGINT) AS gwid,
               count(DISTINCT user_id) AS n_distinct
        FROM events GROUP BY 1, 2
    """
    # sliding 6h/90min windows for the pane-decomposed NIC routes
    _slide6 = 6 * min15
    sql["win_topk_pane"] = f"""
        WITH wids AS (
          SELECT event_type, event_id, value,
                 unnest(generate_series(
                   greatest(0, cast(floor((epoch_us(ts) - {6 * hour})/{_slide6}.0) AS BIGINT) + 1),
                   cast(floor(epoch_us(ts)/{_slide6}.0) AS BIGINT))) AS gwid
          FROM events)
        SELECT event_type, gwid, rnk, event_id, value FROM (
          SELECT event_type, gwid, event_id, value,
                 row_number() OVER (PARTITION BY event_type, gwid
                                    ORDER BY value DESC, event_id ASC) AS rnk
          FROM wids) WHERE rnk <= 3
    """
    # claim oracle (HLL-gate style): the engine asserts its histogram
    # estimate brackets the exact discrete median; the oracle
    # reproduces the exact window population and the literal claim
    sql["win_quantile"] = f"""
        WITH wids AS (
          SELECT event_type, value,
                 unnest(generate_series(
                   greatest(0, cast(floor((epoch_us(ts) - {6 * hour})/{_slide6}.0) AS BIGINT) + 1),
                   cast(floor(epoch_us(ts)/{_slide6}.0) AS BIGINT))) AS gwid
          FROM events)
        SELECT event_type, gwid, count(*) AS cnt, true AS err_ok
        FROM wids GROUP BY 1, 2
    """
    sql["cube_agg"] = """
        SELECT l_returnflag, l_linestatus, count(*) AS cnt,
               round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """
    sql["rollup_agg"] = """
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """
    sql["set_ops"] = """
        SELECT user_id FROM events WHERE event_type = 'click' AND value > 150
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'view' AND value > 150
        EXCEPT ALL
        SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 150
    """
    sql["dedup_exact"] = """
        SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY 1
    """
    sql["dedup_fingerprint"] = """
        SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
               min(doc_id) AS keep_id, count(*) AS n_dups
        FROM documents GROUP BY 1
    """
    # minhash oracle generated from the same coefficient table the
    # engine uses (windflow_spark.functions.dedup.minhash_coeffs)
    k_mh, bands_mh, rpb_mh = 16, 4, 4
    coeffs = dedup.minhash_coeffs(k_mh)
    mins = ", ".join(
        f"min(({a} * h + {b}) % {dedup.MINHASH_P}) AS m{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cc}) AS band_key FROM sigs".format(
            b=b,
            cc=" || ',' || ".join(
                f"m{b * rpb_mh + i}::VARCHAR" for i in range(rpb_mh)
            ),
        )
        for b in range(bands_mh)
    )
    sql["dedup_minhash_lsh"] = f"""
        WITH {_SHINGLES_CTE},
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT & 2147483647 AS h
          FROM sh),
        sigs AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
        banded AS ({band_rows})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """
    sql["dedup_pipeline"] = f"""
        WITH {_SHINGLES_CTE},
        hashed AS (
          SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::UBIGINT::BIGINT & 2147483647 AS h
          FROM sh),
        sigs AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
        banded AS ({band_rows}),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN cands c ON c.id_a = i.id_a AND c.id_b = i.id_b
          JOIN sizes sa ON sa.doc_id = i.id_a
          JOIN sizes sb ON sb.doc_id = i.id_b
          WHERE round(i.inter / (sa.sz + sb.sz - i.inter)::DOUBLE, 6) >= 0.5),
        dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
        SELECT d.doc_id, (dr.doc_id IS NULL) AS keep
        FROM documents d LEFT JOIN dropped dr USING (doc_id)
    """
    sql["ngram_jaccard"] = f"""
        WITH {_SHINGLES_CTE},
        rare AS (SELECT shingle FROM sh GROUP BY shingle
                 HAVING count(*) <= {NGRAM_MAX_DF}),
        sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, inter,
               round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(inter / (sa.sz + sb.sz - inter)::DOUBLE, 6) >= 0.2
    """
    # SimHash is md5-based and order-independent (bit votes sum over
    # tokens WITH multiplicity), so DuckDB reproduces it bit-for-bit:
    # token hash = first 16 hex md5 chars as uint64, sig bit b set when
    # the ±1 vote sum over tokens is > 0; uint64 → int64 two's complement.
    sql["dedup_simhash"] = """
        WITH toked AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
          FROM documents WHERE trim(text) <> ''
        ),
        hashed AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
          FROM toked
        ),
        votes AS (
          SELECT doc_id, b,
                 sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM hashed, range(64) t(b)
          GROUP BY 1, 2
        ),
        sigs AS (
          SELECT doc_id,
                 sum(CASE WHEN v > 0 THEN (1::UBIGINT << b)::HUGEINT
                          ELSE 0::HUGEINT END) AS u
          FROM votes GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(CASE WHEN s.u >= 9223372036854775808
                             THEN (s.u - 18446744073709551616)::BIGINT
                             ELSE s.u::BIGINT END, 0) AS simhash
        FROM documents d LEFT JOIN sigs s USING (doc_id)
    """
    # ANN gates emit a recall claim, not candidate lists (bucketed ANN
    # is approximate by construction): one row per query with the exact
    # top-k size and recall_ok = (recall >= floor). The oracle asserts
    # the claim holds for EVERY query.
    ann_claim = """
        SELECT vec_id AS q_id, 5::BIGINT AS n_exact, true AS recall_ok
        FROM embeddings WHERE vec_id < 10
    """
    sql["ann_lsh"] = ann_claim
    sql["ann_ivf"] = ann_claim
    # learned-codebook IVF: same claim shape, over the clustered
    # fixture's 20 queries; the 0.55 floor is the TRAINED measurement
    # (min 0.60) — the untrained codebook reads min 0.00 on the same
    # fixture, so a training regression hash-mismatches here
    sql["ann_ivf_kmeans"] = """
        SELECT vec_id AS q_id, 5::BIGINT AS n_exact, true AS recall_ok
        FROM embeddings WHERE vec_id < 20
    """
    sql["win_approx_distinct"] = """
        SELECT event_type, cast(floor(epoch_us(ts)/21600000000.0) AS BIGINT) AS gwid,
               count(DISTINCT user_id) AS exact_users, true AS err_ok
        FROM events GROUP BY 1, 2
    """
    sql["embedding_topk"] = f"""
        SELECT q_id, rank, c_id, cos FROM (
          SELECT b.vec_id AS q_id, a.vec_id AS c_id, {_COS} AS cos,
                 row_number() OVER (PARTITION BY b.vec_id
                                    ORDER BY {_COS} DESC, a.vec_id ASC) AS rank
          FROM embeddings a JOIN embeddings b
            ON b.vec_id < 10 AND a.vec_id <> b.vec_id)
        WHERE rank <= 5
    """
    sql["embedding_dedup"] = f"""
        SELECT id_a, id_b, cos FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        WHERE cos >= 0.5
    """
    sql["text_quality"] = f"""
        SELECT doc_id,
               len({_QUALITY_TOKS}) AS n_tokens,
               round((length(text) - (len({_QUALITY_TOKS}) - 1))
                 / len({_QUALITY_TOKS})::DOUBLE, 6) AS mean_token_len,
               round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 / length(text)::DOUBLE, 6) AS punct_ratio,
               len(list_filter(list_distinct({_QUALITY_TOKS}),
                   x -> x IN ('the','and','of','to','a','in','is','that'))) AS stopword_hits
        FROM documents
    """
    langs = {
        "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
        "fr": ("le", "la", "les", "de", "et", "un", "une", "est"),
        "es": ("el", "la", "los", "de", "y", "un", "una", "es"),
        "de": ("der", "die", "das", "und", "ein", "ist", "nicht", "mit"),
    }
    score = {
        lang: "len(list_filter(list_distinct({t}), x -> x IN ({m})))".format(
            t=_QUALITY_TOKS, m=", ".join(f"'{w}'" for w in ws)
        )
        for lang, ws in langs.items()
    }
    g = f"greatest({score['en']}, {score['fr']}, {score['es']}, {score['de']})"
    sql["text_langid"] = f"""
        SELECT doc_id,
          CASE WHEN {score['en']} > 0 AND {score['en']} = {g} THEN 'en'
               WHEN {score['fr']} > 0 AND {score['fr']} = {g} THEN 'fr'
               WHEN {score['es']} > 0 AND {score['es']} = {g} THEN 'es'
               WHEN {score['de']} > 0 AND {score['de']} = {g} THEN 'de'
               ELSE 'und' END AS lang_pred
        FROM documents
    """
    sql["token_counts"] = f"""
        SELECT doc_id, len({_QUALITY_TOKS}) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
        FROM documents
    """
    sql["doc_rolling_hash"] = """
        SELECT doc_id,
               list_reduce(
                 list_prepend(0::BIGINT,
                   [ord(c)::BIGINT for c in
                    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '')]),
                 (a, b) -> (a * 31 + b) % 1000000007) AS rhash
        FROM documents
    """
    sql["doc_fingerprint"] = """
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents
    """
    sql["streaming_tumbling"] = f"""
        SELECT event_type, cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT) AS gwid,
               count(*) AS cnt, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """
    sql["streaming_cb"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        mx AS (SELECT user_key, max(wf_id) AS m FROM ids GROUP BY 1),
        agg AS (
          SELECT i.user_key, wf_id // 10 AS gwid, round(sum(value), 4) AS sum_value,
                 count(*) AS cnt, (wf_id // 10) * 10 + 9 AS win_end, max(mx.m) AS m
          FROM ids i JOIN mx ON i.user_key = mx.user_key
          GROUP BY i.user_key, wf_id // 10)
        SELECT user_key, gwid, sum_value, cnt, win_end FROM agg WHERE win_end <= m
    """
    # streaming histogram-quantile: the oracle REBUILDS the per-window
    # equi-width histogram (shared literals lo=0, w=5.0, bins=100,
    # q=0.5) and interpolates in the first bucket reaching rank q·n —
    # exact-integer counts, identically-ordered float ops, round 4
    sql["streaming_cb_histq"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        mx AS (SELECT user_key, max(wf_id) AS m FROM ids GROUP BY 1),
        h AS (
          SELECT user_key, wf_id // 10 AS gwid,
                 least(greatest(cast(floor((value - 0.0) / 5.0) AS INT), 0), 99) AS b
          FROM ids),
        hc AS (SELECT user_key, gwid, b, count(*)::DOUBLE AS c
               FROM h GROUP BY 1, 2, 3),
        t AS (SELECT user_key, gwid, sum(c) AS total FROM hc GROUP BY 1, 2),
        cum AS (
          SELECT hc.user_key, hc.gwid, hc.b, hc.c, t.total,
                 sum(hc.c) OVER (PARTITION BY hc.user_key, hc.gwid
                                 ORDER BY hc.b) AS cum
          FROM hc JOIN t USING (user_key, gwid)),
        pick AS (
          SELECT user_key, gwid, min(b) AS b FROM cum
          WHERE cum >= 0.5 * total GROUP BY 1, 2),
        val AS (
          SELECT c2.user_key, c2.gwid,
                 round(0.0 + 5.0 * (c2.b + (0.5 * c2.total - (c2.cum - c2.c)) / c2.c), 4) AS p50
          FROM cum c2 JOIN pick p
            ON p.user_key = c2.user_key AND p.gwid = c2.gwid AND p.b = c2.b),
        cnt AS (
          SELECT i.user_key, wf_id // 10 AS gwid, count(*) AS cnt,
                 (wf_id // 10) * 10 + 9 AS win_end, max(mx.m) AS m
          FROM ids i JOIN mx ON i.user_key = mx.user_key
          GROUP BY i.user_key, wf_id // 10)
        SELECT c.user_key, c.gwid, v.p50, c.cnt, c.win_end
        FROM cnt c JOIN val v
          ON v.user_key = c.user_key AND v.gwid = c.gwid
        WHERE c.win_end <= c.m
    """
    # streaming HLL: the oracle REBUILDS the 64-register sketch from the
    # raw rows — same portable md5 (first 6 hex chars = 24-bit value,
    # high 8 bits mod 64 = bucket, low 16 = rank field, register =
    # 17 − bit_length), same shared alpha·m² literal, same ≤2.5m linear
    # correction. 2^−r terms are exact dyadics so the register sum is
    # order-independent and the round(·,4) estimates match EXACTLY.
    from windflow_spark.streaming.engine import _HLL_ALPHA_M2 as _AHM2

    sql["streaming_cb_hll"] = f"""
        WITH ids AS (
          SELECT event_type, user_id,
                 row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        mx AS (SELECT event_type, max(wf_id) AS m FROM ids GROUP BY 1),
        h AS (
          SELECT event_type, wf_id // 512 AS gwid,
                 ('0x' || substr(md5(cast(user_id AS varchar)), 1, 6))::UBIGINT::BIGINT AS hv
          FROM ids),
        r AS (
          SELECT event_type, gwid, (hv // 65536) % 64 AS b,
                 CASE WHEN hv % 65536 = 0 THEN 17.0
                      ELSE 16.0 - floor(log2((hv % 65536)::DOUBLE)) END AS rk
          FROM h),
        regs AS (SELECT event_type, gwid, b, max(rk) AS mreg FROM r GROUP BY 1, 2, 3),
        agg AS (
          SELECT event_type, gwid,
                 sum(power(2.0, -mreg)) + (64 - count(*)) AS s,
                 64 - count(*) AS v
          FROM regs GROUP BY 1, 2),
        est AS (
          SELECT event_type, gwid,
                 CASE WHEN {_AHM2!r} / s <= 160.0 AND v > 0
                      THEN round(64.0 * ln(64.0 / v), 4)
                      ELSE round({_AHM2!r} / s, 4) END AS approx_users
          FROM agg),
        cnt AS (
          SELECT i.event_type, wf_id // 512 AS gwid, count(*) AS cnt,
                 (wf_id // 512) * 512 + 511 AS win_end, max(mx.m) AS m
          FROM ids i JOIN mx ON i.event_type = mx.event_type
          GROUP BY i.event_type, wf_id // 512)
        SELECT c.event_type, c.gwid, e.approx_users, c.cnt, c.win_end
        FROM cnt c JOIN est e ON e.event_type = c.event_type AND e.gwid = c.gwid
        WHERE c.win_end <= c.m
    """
    sql["streaming_sliding"] = f"""
        WITH wids AS (
          SELECT event_type, value,
                 unnest(generate_series(
                   greatest(0, cast(floor((epoch_us(ts) - {hour})/{min15}.0) AS BIGINT) + 1),
                   cast(floor(epoch_us(ts)/{min15}.0) AS BIGINT))) AS gwid
          FROM events)
        SELECT event_type, gwid, count(*) AS cnt, round(sum(value), 4) AS sum_value,
               gwid*{min15} + {hour} - 1 AS win_end
        FROM wids GROUP BY 1, 2
    """
    sql["streaming_cb_sliding"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        mx AS (SELECT user_key, max(wf_id) AS m FROM ids GROUP BY 1),
        wins AS (
          SELECT user_key, value,
                 unnest(generate_series(
                   greatest(0, cast(floor((wf_id - 16)/4.0) AS BIGINT) + 1),
                   wf_id // 4)) AS gwid
          FROM ids),
        agg AS (
          SELECT w.user_key, gwid, round(sum(value), 4) AS sum_value,
                 count(*) AS cnt, gwid * 4 + 15 AS win_end, max(mx.m) AS m
          FROM wins w JOIN mx ON w.user_key = mx.user_key
          GROUP BY w.user_key, gwid)
        SELECT user_key, gwid, sum_value, cnt, win_end FROM agg WHERE win_end <= m
    """
    # EOS flush: same aggregate as streaming_cb WITHOUT the fired-only
    # filter — partial windows (the flush) are part of the result
    sql["streaming_cb_eos"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events)
        SELECT user_key, wf_id // 10 AS gwid, round(sum(value), 4) AS sum_value,
               count(*) AS cnt, (wf_id // 10) * 10 + 9 AS win_end
        FROM ids GROUP BY user_key, wf_id // 10
    """
    sql["streaming_tb_eos"] = sql["streaming_sliding"]
    # argmax = id of the window-max value, ties → smallest id: the
    # row_number (value DESC, wf_id ASC) subquery pattern (DuckDB's
    # arg_max can't take a composite tiebreak — memory/FIXTURES.md)
    sql["streaming_cb_maxby"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        mx AS (SELECT user_key, max(wf_id) AS m FROM ids GROUP BY 1),
        rk AS (
          SELECT user_key, wf_id, value, wf_id // 10 AS gwid,
                 row_number() OVER (PARTITION BY user_key, wf_id // 10
                                    ORDER BY value DESC, wf_id ASC) AS rn
          FROM ids),
        agg AS (
          SELECT r.user_key, r.gwid, count(*) AS cnt,
                 max(CASE WHEN rn = 1 THEN wf_id END) AS argmax_id,
                 round(max(value), 4) AS max_value,
                 r.gwid * 10 + 9 AS win_end, max(mx.m) AS m
          FROM rk r JOIN mx ON r.user_key = mx.user_key
          GROUP BY r.user_key, r.gwid)
        SELECT user_key, gwid, cnt, cast(argmax_id AS BIGINT) AS argmax_id,
               max_value, win_end
        FROM agg WHERE win_end <= m
    """
    # var/std: the SAME E[x²]−E[x]² identity (clamped at 0) the engine's
    # 3-slot fold finalizes with, so float rounding at 4 dp agrees
    sql["streaming_cb_var"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        mx AS (SELECT user_key, max(wf_id) AS m FROM ids GROUP BY 1),
        agg AS (
          SELECT i.user_key, wf_id // 10 AS gwid, count(*) AS cnt,
                 greatest(0, sum(value*value)/count(*)
                             - (sum(value)/count(*))*(sum(value)/count(*))) AS v,
                 (wf_id // 10) * 10 + 9 AS win_end, max(mx.m) AS m
          FROM ids i JOIN mx ON i.user_key = mx.user_key
          GROUP BY i.user_key, wf_id // 10)
        SELECT user_key, gwid, cnt, round(v, 4) AS var_value,
               round(sqrt(v), 4) AS std_value, win_end
        FROM agg WHERE win_end <= m
    """
    # CEP strict-contiguity match: the oracle replays the identical
    # lead() algebra (per-user renumbered ids; id contiguity via
    # lead(id, k-1) == id + k-1; nulls-as-false at the tail). The
    # streaming matcher emits completed matches exactly once, so BOTH
    # gates share this oracle (no partial-match state exists).
    _cep_sql = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, event_type, epoch_us(ts) AS us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        led AS (
          SELECT user_key, wf_id, us,
                 event_type = 'click' AS s0,
                 lead(event_type, 1) OVER w = 'view' AS s1,
                 lead(event_type, 2) OVER w = 'purchase' AS s2,
                 lead(wf_id, 2) OVER w AS id2,
                 lead(us, 2) OVER w AS us2
          FROM ids WINDOW w AS (PARTITION BY user_key ORDER BY wf_id))
        SELECT user_key, wf_id AS start_id, wf_id + 2 AS end_id,
               us AS ts_first, us2 AS ts_last
        FROM led
        WHERE coalesce(s0, false) AND coalesce(s1, false)
          AND coalesce(s2, false) AND id2 = wf_id + 2
    """
    sql["cep_pattern"] = _cep_sql
    sql["streaming_cep"] = _cep_sql
    # skip-till-next-match: next-occurrence pointers (running min over
    # the forward frame, shifted one row) chained by equi joins — the
    # same construction the engine compiles to (operators/cep.py)
    _cep_skip_sql = f"""
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, event_type, epoch_us(ts) AS us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        m AS (
          SELECT user_key, wf_id, us, event_type,
                 min(CASE WHEN event_type = 'view' THEN wf_id END) OVER fwd AS m1,
                 min(CASE WHEN event_type = 'purchase' THEN wf_id END) OVER fwd AS m2
          FROM ids
          WINDOW fwd AS (PARTITION BY user_key ORDER BY wf_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        n AS (
          SELECT user_key, wf_id, us, event_type = 'click' AS s0,
                 lead(m1, 1) OVER w AS n1, lead(m2, 1) OVER w AS n2
          FROM m WINDOW w AS (PARTITION BY user_key ORDER BY wf_id))
        SELECT s.user_key, s.wf_id AS start_id, t.n2 AS end_id,
               s.us AS ts_first, e.us AS ts_last
        FROM n s
        JOIN n t ON t.user_key = s.user_key AND t.wf_id = s.n1
        JOIN n e ON e.user_key = s.user_key AND e.wf_id = t.n2
        WHERE coalesce(s.s0, false) AND e.us - s.us <= {24 * hour}
    """
    sql["cep_skip"] = _cep_skip_sql
    sql["streaming_cep_skip"] = _cep_skip_sql
    # Kleene-plus (click, view+, purchase; greedy-maximal): the view
    # run's boundary is the first non-view AT-OR-AFTER the next row
    # (running min over the forward frame, shifted one row) — the
    # purchase must sit exactly there. Ids are dense per key, so the
    # engine's contiguity bit is identically true and the oracle can
    # omit it. BOTH gates share this (final step '1' ⇒ streaming
    # emits every match exactly once, no stream-end caveat).
    _cep_kleene_sql = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, event_type, epoch_us(ts) AS us,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        m AS (
          SELECT user_key, wf_id, us, event_type,
                 min(CASE WHEN event_type <> 'view' THEN wf_id END) OVER fwd AS nv
          FROM ids
          WINDOW fwd AS (PARTITION BY user_key ORDER BY wf_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        n AS (
          SELECT user_key, wf_id, us, event_type,
                 lead(nv, 1) OVER w AS stop1
          FROM m WINDOW w AS (PARTITION BY user_key ORDER BY wf_id))
        SELECT c.user_key, c.wf_id AS start_id, e.wf_id AS end_id,
               c.us AS ts_first, e.us AS ts_last
        FROM n c
        JOIN n b ON b.user_key = c.user_key AND b.wf_id = c.wf_id + 1
        JOIN n e ON e.user_key = c.user_key AND e.wf_id = b.stop1
        WHERE c.event_type = 'click' AND b.event_type = 'view'
          AND e.event_type = 'purchase'
    """
    sql["cep_kleene"] = _cep_kleene_sql
    sql["streaming_cep_kleene"] = _cep_kleene_sql
    # one digest per distinct text, regardless of how many micro-batches
    # (the gate stages the table twice) — the digest SET is the check
    sql["streaming_dedup"] = """
        SELECT md5(text) AS digest, min(doc_id) AS doc_id
        FROM documents GROUP BY 1
    """
    # user-registered vrange fold: max − min is exact fp64 on both
    # sides (no accumulation), so 4-dp rounding agrees
    sql["streaming_cb_userfold"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events),
        mx AS (SELECT user_key, max(wf_id) AS m FROM ids GROUP BY 1),
        agg AS (
          SELECT i.user_key, wf_id // 10 AS gwid, count(*) AS cnt,
                 round(max(value) - min(value), 4) AS range_value,
                 (wf_id // 10) * 10 + 9 AS win_end, max(mx.m) AS m
          FROM ids i JOIN mx ON i.user_key = mx.user_key
          GROUP BY i.user_key, wf_id // 10)
        SELECT user_key, gwid, cnt, range_value, win_end
        FROM agg WHERE win_end <= m
    """
    sql["streaming_hopping"] = f"""
        SELECT event_type, cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT) AS gwid,
               count(*) AS cnt, round(sum(value), 4) AS sum_value
        FROM events
        WHERE epoch_us(ts) % {hour} < {min15}
        GROUP BY 1, 2
    """
    sql["streaming_nic_median"] = f"""
        SELECT event_type, cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT) AS gwid,
               round(median(value), 4) AS median_value, count(*) AS cnt,
               cast(floor(epoch_us(ts)/{hour}.0) AS BIGINT)*{hour} + {hour} - 1 AS win_end
        FROM events GROUP BY 1, 2
    """
    sql["streaming_session"] = f"""
        WITH gapped AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {hour // 2}
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ), sess AS (
          SELECT user_id, us,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
          FROM gapped)
        SELECT user_id, min(us) AS session_start, count(*) AS cnt
        FROM sess GROUP BY user_id, session_id
    """
    # EOS symmetry: append-drain ∪ session-state flush == the complete
    # session set, so the oracle is streaming_session's
    sql["streaming_session_eos"] = sql["streaming_session"]
    sql["streaming_topk"] = """
        SELECT event_type, gwid, rnk, event_id, value FROM (
          SELECT event_type,
                 cast(floor(epoch_us(ts)/21600000000.0) AS BIGINT) AS gwid,
                 event_id, value,
                 row_number() OVER (
                   PARTITION BY event_type, cast(floor(epoch_us(ts)/21600000000.0) AS BIGINT)
                   ORDER BY value DESC, event_id ASC) AS rnk
          FROM events) WHERE rnk <= 3
    """
    sql["streaming_accumulate"] = """
        WITH ids AS (
          SELECT user_id::VARCHAR AS user_key, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS wf_id
          FROM events)
        SELECT user_key, wf_id, round(sum(value) OVER w, 4) AS running_sum,
               count(*) OVER w AS running_cnt
        FROM ids
        WINDOW w AS (PARTITION BY user_key ORDER BY wf_id
                     ROWS UNBOUNDED PRECEDING)
    """
    sql["per_turn_text"] = """
        SELECT doc_id, upper(text) AS text_upper, length(text) AS text_len
        FROM documents
    """
    sql["streaming_interval_join"] = f"""
        SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
               epoch_us(l.ts) AS l_us, epoch_us(r.ts) AS r_us
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        JOIN (SELECT * FROM events WHERE event_type = 'view') r
          ON l.user_id = r.user_id
         AND epoch_us(r.ts) <= epoch_us(l.ts)
         AND epoch_us(r.ts) >= epoch_us(l.ts) - {hour}
    """
    sql["multimodal_frames"] = """
        SELECT doc_id AS media_id,
               unnest(generate_series(0, length(text) * 10, 1000)) AS frame_ms
        FROM documents
    """
    sql["multimodal_meta"] = """
        SELECT doc_id AS media_id, 'image' AS kind,
               octet_length(encode(text)) AS n_bytes, md5(text) AS digest
        FROM documents
    """
    # — sampling / splitting / packing: the DuckDB mirror of
    #   functions/sampling.py's portable 60-bit md5 hash (same
    #   construction as the shingle hash, dedup.py:143-151). Thresholds
    #   embed the EXACT Python-computed float literals (repr), so both
    #   engines compare identical doubles.
    u_split = _DUCK_U.format(salt="split")
    th = sampling.split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    sql["hash_split"] = f"""
        SELECT split, cast(count(*) AS BIGINT) AS n_docs,
               cast(sum(doc_id) AS BIGINT) AS id_sum
        FROM (SELECT doc_id,
                     CASE WHEN {u_split} < {th[0][1]!r} THEN 'train'
                          WHEN {u_split} < {th[1][1]!r} THEN 'val'
                          ELSE 'test' END AS split
              FROM documents)
        GROUP BY split
    """
    u_strat = _DUCK_U.format(salt="strat")
    sql["stratified_sample"] = f"""
        SELECT doc_id, lang FROM documents
        WHERE {u_strat} < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                                    WHEN 'zh' THEN 1.0 ELSE 0.0 END
    """
    # salted two-stage rank == one-stage rank (min-k is
    # order-insensitive), so the oracle is the plain row_number form
    h_kper = (
        "(('0x' || substr(md5(cast(doc_id AS varchar) || 'kper'), 1, 15))"
        "::UBIGINT::BIGINT)"
    )
    sql["sample_k_per_key"] = f"""
        SELECT lang, doc_id FROM (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY {h_kper}, doc_id) AS r
          FROM documents)
        WHERE r <= 25
    """
    sql["text_repetition"] = f"""
        WITH toks AS (
          SELECT doc_id, {_QUALITY_TOKS} AS t FROM documents),
        unic AS (
          SELECT doc_id, round(max(n)::double / sum(n), 6) AS top_token_frac
          FROM (SELECT doc_id, tok, count(*) AS n
                FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
                GROUP BY 1, 2)
          GROUP BY doc_id),
        bgc AS (
          SELECT doc_id, round(max(n)::double / sum(n), 6) AS top_bigram_frac
          FROM (SELECT doc_id, g, count(*) AS n
                FROM (SELECT doc_id,
                             unnest(list_transform(
                               generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS g
                      FROM toks)
                GROUP BY 1, 2)
          GROUP BY doc_id)
        SELECT toks.doc_id, unic.top_token_frac, bgc.top_bigram_frac,
               round(len(list_distinct(t))::double / len(t), 6)
                 AS distinct_token_ratio
        FROM toks JOIN unic USING (doc_id)
        LEFT JOIN bgc USING (doc_id)
    """
    sql["pack_sequences"] = f"""
        SELECT source, bin_id, cast(count(*) AS BIGINT) AS n_docs,
               cast(sum(tok) AS BIGINT) AS tok_sum
        FROM (
          SELECT source, cast(floor((cum - tok) / 200.0) AS BIGINT) AS bin_id,
                 tok
          FROM (
            SELECT source, tok,
                   sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM (SELECT source, doc_id,
                         len({_QUALITY_TOKS}) AS tok
                  FROM documents)))
        GROUP BY source, bin_id
    """
    # bucketed two-pass layout == ONE global window per key: the
    # oracle runs the single-window form, so a hash match proves the
    # distributed decomposition (incl. dense renumbering) exactly
    sql["pack_bucketed_dense"] = f"""
        SELECT source, doc_id,
               cast(dense_rank() OVER (PARTITION BY source ORDER BY rawbin)
                    - 1 AS BIGINT) AS bin_id
        FROM (
          SELECT source, doc_id,
                 cast(floor((cum - tok) / 200.0) AS BIGINT) AS rawbin
          FROM (
            SELECT source, doc_id, tok,
                   sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM (SELECT source, doc_id,
                         len({_QUALITY_TOKS}) AS tok
                  FROM documents)))
    """
    # A-ES weighted jitter: -ln(u)/w in fp64 is bit-identical in both
    # engines (same hash, same libm-exactness class), doc_id tiebreak
    sql["sample_k_weighted"] = f"""
        SELECT lang, doc_id FROM (
          SELECT lang, doc_id,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY -ln(({h_kper} + 1) / 1152921504606846976.0)
                            / cast(n_chars AS double), doc_id) AS r
          FROM documents WHERE n_chars > 0)
        WHERE r <= 10
    """
    # decontamination: distinct normalized 13-grams per doc vs the
    # probe set's grams (probe = every 20th doc) — count of matches
    # BM25: the Okapi formula re-evaluated from raw counts — all
    # constants are PYTHON-evaluated literals shared with the engine's
    # expression tree (k1+1, 1−b pre-folded) so the float expressions
    # agree bit-for-bit before the shared round(·, 4); dl counts the
    # raw whitespace split of the normalized text on both sides
    _k1, _b = 1.2, 0.75
    sql["bm25_scores"] = f"""
        WITH norm AS (
          SELECT doc_id,
                 string_split_regex(trim(regexp_replace(lower(text),
                     '[^a-z0-9]+', ' ', 'g')), '\\s+') AS t
          FROM documents),
        tok AS (SELECT doc_id, unnest(t) AS term FROM norm),
        tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
               FROM tok WHERE term <> '' GROUP BY 1, 2),
        dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM norm),
        st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                      (SELECT avg(dl) FROM dl) AS avgdl),
        dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
        idf AS (SELECT term, ln(1.0 + (st.n - df + 0.5) / (df + 0.5)) AS idf
                FROM dfq, st),
        q AS (SELECT DISTINCT doc_id AS query_id, unnest(list_distinct(t)) AS term
              FROM norm WHERE doc_id % 20 = 0)
        SELECT q.query_id, tf.doc_id,
               round(sum(idf.idf * ((tf.tf * {_k1 + 1.0!r})
                     / (tf.tf + {_k1!r} * ({1.0 - _b!r}
                        + ({_b!r} * dl.dl) / st.avgdl)))), 4) AS score
        FROM q
        JOIN tf USING (term)
        JOIN idf USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id, st
        WHERE q.term <> ''
        GROUP BY 1, 2
    """
    # connected components over the chain graph: recursive-CTE
    # transitive closure, component = min reachable id (robust to any
    # doc_id distribution — no closed form assumed)
    sql["dedup_components"] = """
        WITH RECURSIVE base AS (
          SELECT doc_id AS u, doc_id - 1 AS v FROM documents
          WHERE doc_id % 10 <> 0),
        e AS (SELECT u, v FROM base UNION SELECT v, u FROM base),
        n AS (SELECT DISTINCT u AS id FROM e),
        reach(src, dst) AS (
          SELECT id, id FROM n
          UNION
          SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.dst)
        SELECT src AS id, min(dst) AS component FROM reach GROUP BY 1
    """
    sql["text_contamination"] = """
        WITH norm AS (
          SELECT doc_id,
                 string_split_regex(trim(regexp_replace(lower(text),
                     '[^a-z0-9]+', ' ', 'g')), '\\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 12, 0)),
                   i -> list_aggregate(t[i:i+12], 'string_agg', ' '))) AS gs
          FROM norm),
        probe AS (
          SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0),
        docg AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        hits AS (
          SELECT doc_id, count(*) AS n_hits
          FROM docg JOIN probe USING (g) GROUP BY doc_id)
        SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
    """
    u_web = _DUCK_U.format(salt="mix:web")
    u_books = _DUCK_U.format(salt="mix:books")
    sql["mix_sources"] = f"""
        SELECT doc_id, 'web' AS source FROM documents
        WHERE lang = 'en' AND {u_web} < 0.5
        UNION ALL
        SELECT doc_id, 'books' AS source FROM documents
        WHERE lang = 'zh' AND {u_books} < 0.9
    """
    return sql
