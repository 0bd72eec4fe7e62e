"""The window engine: Win_Seq semantics as DataFrame plan shapes.

Reference window algebra (includes/window.hpp:49-88):
- window ``w`` (gwid) covers units ``[w*slide, w*slide + win)``, ``w >= 0``
- unit = per-key monotone id for count-based (CB) windows
  (Triggerer_CB, includes/window.hpp:49-67), event-time ts for
  time-based (TB) windows (Triggerer_TB, includes/window.hpp:70-88)
- shapes: tumbling (win == slide), sliding (win > slide), hopping
  (win < slide; units falling in an inter-window gap are DISCARDED —
  includes/win_seq.hpp:326-338)
- a fired window's result is stamped ``(key, gwid, w*slide + win - 1)``
  (includes/window.hpp:120-124)
- at EOS all still-open (partial) windows are flushed
  (includes/win_seq.hpp:432-474) — in batch mode every non-empty window
  group is emitted naturally, which IS that rule.

Spark mapping (SURVEY.md §2.2 row 7):
- tumbling: ``gwid = floor(t / slide)`` — a derived column, zero row
  amplification, one hash-aggregate shuffle.
- sliding/hopping: each row belongs to wids
  ``[floor((t - win)/slide) + 1, floor(t/slide)]`` (clamped at 0; empty
  range ⇒ hopping discard). We explode that wid sequence — at most
  ``ceil(win/slide)`` copies per row, which is exactly the multicast
  factor of the reference's WF_Emitter (includes/wf_nodes.hpp:134-172)
  and of Spark's own internal sliding ``window()`` expansion.
- INC (incremental) UDFs → native hash aggregates with map-side partial
  aggregation; NIC (non-incremental, sees whole window) UDFs →
  ``applyInPandas`` per (key, gwid) group, Arrow-batched.

Scale posture: the groupBy(key, gwid) shuffle is the only exchange;
map-side combine shrinks it for INC aggregates. Hot keys are handled by
the Pane_Farm / Win_MapReduce rewrites (pane_farm.py, win_mapreduce.py)
which produce identical output with pre-aggregation before the skewed
exchange.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

GWID = "gwid"
WIN_END = "win_end"


@dataclass(frozen=True)
class WinSpec:
    """Window specification: ``(kind, win, slide)`` in units (CB: tuples,
    TB: integer time units, e.g. microseconds). Mirrors
    includes/builders.hpp:606-633 (withCBWindow / withTBWindow)."""

    kind: str  # "cb" | "tb"
    win: int
    slide: int

    def __post_init__(self) -> None:
        if self.kind not in ("cb", "tb"):
            raise ValueError(f"kind must be 'cb' or 'tb', got {self.kind!r}")
        if self.win <= 0 or self.slide <= 0:
            raise ValueError("win and slide must be positive")

    @property
    def tumbling(self) -> bool:
        return self.win == self.slide


def cb_ids(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str], id_col: str = "wf_id") -> DataFrame:
    """Derive the per-key monotone CB id (0-based) when the input does not
    carry one. Mirrors TS_RENUMBERING (includes/orderingNode.hpp:167-175):
    ids regenerated per key in (ts, tiebreak) order."""
    w = Window.partitionBy(*keys).orderBy(*[F.expr(o) if isinstance(o, str) else o for o in order_by])
    return df.withColumn(id_col, F.row_number().over(w) - F.lit(1))


def _unit(col: Column | str) -> Column:
    return F.expr(col) if isinstance(col, str) else col


def floordiv(a: Column, b: Column | int) -> Column:
    """Exact floor division on 64-bit integers. ``F.floor(a / b)`` goes
    through DOUBLE division, which is silently lossy past 2^53 — fine
    for microsecond epochs (~1.8e15) but wrong if a caller feeds
    nanosecond units (~1.8e18). This stays integral end-to-end:
    ``a - pmod(a, b)`` is the largest multiple of b ≤ a (pmod is
    non-negative), and SQL ``div`` of an exact multiple is exact.
    Requires ``b > 0`` (win/slide/pane are validated positive)."""
    bl = (F.lit(b) if isinstance(b, int) else b).cast("long")
    al = a.cast("long")
    return F.call_function("div", al - F.pmod(al, bl), bl)


def epoch_us(col: Column | str) -> Column:
    """Event time as integer microseconds since the epoch — the TB window
    unit. Handles TIMESTAMP_NTZ (what parquet scans yield) by casting to
    session-time timestamp first (session tz is pinned to UTC in
    session.get_spark, so NTZ values are read as UTC — matching how
    DuckDB/pandas treat naive timestamps)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def assign_wids(
    df: DataFrame,
    unit_col: Column | str,
    spec: WinSpec,
    origin: int = 0,
    gwid_col: str = GWID,
) -> DataFrame:
    """Attach the window id(s) each row belongs to.

    ``unit_col`` is the CB id or the TB time in integer units;
    ``origin`` shifts the window origin (reference windows start at the
    key's initial id/ts; we default to 0 / epoch — callers pass an
    origin for parity fixtures). Tumbling adds one column; sliding
    explodes ≤ ceil(win/slide) wids; hopping rows in a gap get an empty
    wid range and are discarded (includes/win_seq.hpp:326-338).
    """
    t = _unit(unit_col).cast("long") - F.lit(origin).cast("long")
    win = F.lit(spec.win).cast("long")
    if spec.tumbling:
        return df.withColumn(gwid_col, floordiv(t, spec.slide))
    last = floordiv(t, spec.slide)
    first = F.greatest(
        F.lit(0).cast("long"), floordiv(t - win, spec.slide) + F.lit(1)
    )
    wids = F.when(first <= last, F.sequence(first, last)).otherwise(
        F.array().cast("array<long>")
    )
    return df.withColumn(gwid_col, F.explode(wids))


def win_end_expr(spec: WinSpec, origin: int = 0, gwid_col: str = GWID) -> Column:
    """Result-timestamp stamp of a fired window: ``w*slide + win - 1``
    (includes/window.hpp:124), shifted back by the origin."""
    return (F.col(gwid_col) * F.lit(spec.slide) + F.lit(spec.win - 1) + F.lit(origin)).cast("long")


NIC_MAX_GROUP_ROWS = 5_000_000


def grouped_apply_in_pandas(
    df: DataFrame, group_cols: Sequence[str], fn: Callable, schema,
    max_group_rows: int = NIC_MAX_GROUP_ROWS,
) -> DataFrame:
    """Grouped pandas-UDF execution tuned for MANY SMALL groups.

    ``applyInPandas`` pays one Arrow round-trip per group (~2 ms), which
    dominates when windows are small (measured 6-9 s for 3600 tiny
    groups vs <1 s here). Instead: repartition by the group columns
    (co-locates each group), sort within partitions (makes groups
    contiguous), then ``mapInPandas`` — each Arrow batch carries MANY
    whole groups; a group straddling a batch boundary is buffered and
    prepended to the next batch. ``fn(group_pdf) -> pdf`` keeps the
    applyInPandas contract.

    NIC windows are inherently bounded by what one worker can hold —
    the reference documents the same trade-off for its window archive
    (includes/win_seq.hpp:26-29). A single group larger than
    ``max_group_rows`` would also degrade quadratically in the
    carry-group concat here, so the kernel FAILS FAST past the cap with
    a pointer to the scalable alternatives (INC aggregates or pane
    decomposition) instead of grinding."""
    import pandas as pd

    cols = list(group_cols)
    # EXPLICIT partition count: AQE's byte-based partition coalescing
    # sees a tiny shuffle and folds this stage to one task — but the
    # cost here is Python-per-GROUP, not bytes, so coalescing
    # serializes thousands of fn() calls onto one core (measured 4.8 s
    # → 0.85 s at sf0.01 by keeping the stage wide). A user-specified
    # repartition number is exempt from AQE coalescing; default
    # parallelism = all cores locally, executors × cores on a cluster.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    part = df.repartition(n_parts, *cols).sortWithinPartitions(*cols)

    def run(batches):
        # per-group results are BUFFERED and yielded once per input
        # batch: each yield becomes its own Arrow record batch on the
        # wire, and with thousands of small windows the per-batch
        # serialization overhead dominated the actual UDF work
        # (guide §4.1 — measured 1.46 → 0.9 s on the sf1.0 NIC median
        # battery entry from this batching alone).
        import pandas as _pd

        carry = None
        for pdf in batches:
            outs = []
            if carry is not None and len(carry):
                if len(carry) + len(pdf) > max_group_rows:
                    # only rows that CONTINUE carry's group count toward
                    # the cap — the carried group may end within the
                    # first few rows of this batch (groups are
                    # contiguous after the sort, so the continuation is
                    # the leading equal-key prefix)
                    pmask = pd.Series(True, index=pdf.index)
                    for c in cols:
                        pmask &= pdf[c] == carry[c].iloc[0]
                    if len(carry) + int(pmask.sum()) > max_group_rows:
                        raise RuntimeError(
                            f"NIC group {tuple(carry[c].iloc[0] for c in cols)} "
                            f"exceeds max_group_rows={max_group_rows}: a "
                            "non-incremental UDF must hold the whole window on "
                            "one worker (reference win_seq.hpp:26-29). Use an "
                            "INC aggregate, pane_farm.pane_topk / "
                            "pane_quantile (constructive decompositions "
                            "for algebraic holistic aggs), or raise "
                            "max_group_rows."
                        )
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last = pdf.iloc[-1]
            mask = pd.Series(True, index=pdf.index)
            for c in cols:
                mask &= pdf[c] == last[c]
            carry = pdf[mask]
            if len(carry) > max_group_rows:
                raise RuntimeError(
                    f"NIC group {tuple(last[c] for c in cols)} exceeds "
                    f"max_group_rows={max_group_rows}: a non-incremental "
                    "UDF must hold the whole window on one worker "
                    "(reference win_seq.hpp:26-29). Use an INC aggregate, "
                    "pane_farm.pane_topk / pane_quantile (constructive "
                    "decompositions for algebraic holistic aggs), or "
                    "raise max_group_rows."
                )
            head = pdf[~mask]
            if len(head):
                for _, g in head.groupby(cols, sort=False):
                    out = fn(g)
                    if out is not None and len(out):
                        outs.append(out)
            if outs:
                yield outs[0] if len(outs) == 1 else _pd.concat(
                    outs, ignore_index=True
                )
        if carry is not None and len(carry):
            outs = []
            for _, g in carry.groupby(cols, sort=False):
                out = fn(g)
                if out is not None and len(out):
                    outs.append(out)
            if outs:
                yield outs[0] if len(outs) == 1 else _pd.concat(
                    outs, ignore_index=True
                )

    return part.mapInPandas(run, schema)


def win_seq(
    df: DataFrame,
    keys: Sequence[str],
    unit_col: Column | str,
    spec: WinSpec,
    aggs: dict[str, Column] | None = None,
    nic_fn: Callable | None = None,
    nic_schema=None,
    origin: int = 0,
    with_win_end: bool = True,
) -> DataFrame:
    """Win_Seq: sequential windowed aggregation per key
    (includes/win_seq.hpp:58-525, core loop :268-430).

    INC path (``aggs``): native hash aggregate over (keys, gwid) —
    map-side partial agg + one shuffle, Catalyst/Tungsten codegen.
    NIC path (``nic_fn``): the UDF sees the whole window content as a
    pandas DataFrame per (key, gwid) group (the Iterable<tuple_t> of
    includes/iterable.hpp:53-223), via applyInPandas.

    Batch mode emits every non-empty window — the EOS partial-window
    flush (includes/win_seq.hpp:432-474) for free.
    """
    if (aggs is None) == (nic_fn is None):
        raise ValueError("provide exactly one of aggs= (INC) or nic_fn= (NIC)")
    widdf = assign_wids(df, unit_col, spec, origin=origin)
    if aggs is not None:
        out = widdf.groupBy(*keys, GWID).agg(*[c.alias(n) for n, c in aggs.items()])
    else:
        out = grouped_apply_in_pandas(widdf, [*keys, GWID], nic_fn, nic_schema)
    if with_win_end:
        out = out.withColumn(WIN_END, win_end_expr(spec, origin=origin))
    return out


def windowed_topk(
    df: DataFrame,
    keys: Sequence[str],
    unit_col: Column | str,
    spec: WinSpec,
    order_col: str,
    payload: Sequence[str],
    k: int = 3,
    origin: int = 0,
) -> DataFrame:
    """Top-k rows per (key, window) by ``order_col`` desc (ties broken
    by the first payload column asc). One hash aggregate: collect the
    per-window candidates as a sorted array and slice — no per-group
    sort task, no second shuffle. At scale the collect_list is bounded
    by window size; for huge windows prefer a pane-style pre-top-k."""
    widdf = assign_wids(df, unit_col, spec, origin=origin)
    item = F.struct(
        (-F.col(order_col)).alias("_neg"),
        *[F.col(c).alias(c) for c in [*payload]],
    )
    arr = F.slice(F.array_sort(F.collect_list(item)), 1, k)
    out = (
        widdf.groupBy(*keys, GWID)
        .agg(arr.alias("_top"))
        .select(*keys, GWID, F.posexplode("_top").alias("_pos", "_it"))
        .select(
            *keys,
            GWID,
            (F.col("_pos") + 1).cast("long").alias("rnk"),
            *[F.col(f"_it.{c}").alias(c) for c in payload],
        )
    )
    return out


def windowed_count_distinct(
    df: DataFrame,
    keys: Sequence[str],
    unit_col: Column | str,
    spec: WinSpec,
    distinct_col: str,
    origin: int = 0,
) -> DataFrame:
    """Exact COUNT(DISTINCT x) per (key, window). Distinct aggregates
    only partially map-side-combine (Spark expands), so this is the
    case where hot keys DO skew the exchange — the two-level form here
    pre-distincts on (key, gwid, x) before counting, which is the
    salted/pane-style fix expressed directly."""
    widdf = assign_wids(df, unit_col, spec, origin=origin)
    return (
        widdf.select(*keys, GWID, distinct_col)
        .distinct()  # stage 1: dedupe (key, gwid, x) — combinable
        .groupBy(*keys, GWID)
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
