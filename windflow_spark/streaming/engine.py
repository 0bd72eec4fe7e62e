"""Structured Streaming plans for the engine (SURVEY.md §7 P4).

Same plan shapes as the batch operators, over ``readStream``:
- TB windows → watermarked windowed hash-aggregate
  (StateStoreSave; RocksDB provider at scale — session.get_spark(streaming=True));
- session windows → native ``F.session_window`` (state-store session merge);
- CB (count-based) windows → ``applyInPandasWithState`` key-group
  stateful processor (Spark has no native count windows): grouped by a
  hash bucket of the key, one state row per bucket carries its keys'
  last ids and open-window partials; windows fire when their last
  tuple arrives, mirroring Triggerer_CB
  (reference includes/window.hpp:49-67);
- stream-stream correlation join → watermarked interval equi-join
  (StreamingSymmetricHashJoin);
- exactly-once sink → file/parquet sink with checkpointed manifest;
  ``availableNow`` trigger drains the backlog and stops; the EOS flush
  of includes/win_seq.hpp:432-474 (partial windows emitted when the
  stream ends) is ``flush_cb_partials`` — a state-store data-source
  read over the drain's checkpoint that finalizes the still-open
  windows the processor left in state.

Watermark semantics vs the reference: the reference DROPS any per-key
ts regression (includes/win_seq.hpp:289-305); Spark drops only below
the watermark. Parity holds on inputs in stable (key, ts) order —
tests feed per-key-ordered input (SURVEY.md §4.2 gap note).
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator, Sequence
from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from windflow_spark.operators.windows import GWID, WinSpec, floordiv


def stream_source(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over a parquet directory (the local stand-in
    for an Iceberg streaming read; same plan downstream). Rate limiting
    via maxFilesPerTrigger = backpressure (reference bounded queues,
    SURVEY.md §4.2)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _as_ts(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP; parquet scans yield TIMESTAMP_NTZ.
    Session tz is pinned UTC (session.get_spark) so the cast is a
    reinterpretation, consistent with epoch_us on the batch path."""
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def stream_exact_dedup(
    df: DataFrame,
    text_col: str,
    ts_col: str | None = None,
    watermark: str | None = None,
    digest_col: str = "digest",
    keeper_id: str | None = None,
) -> DataFrame:
    """Streaming exact dedup for continuous corpus ingestion: one row
    per first-seen content digest, across micro-batches (the streaming
    arm of functions/dedup.exact_dedup — same md5 digest key).

    State = one entry per DISTINCT digest (32-byte key + bookkeeping),
    bounded by distinct content, not stream length — the right shape
    for an append-heavy 100 TB feed where most arrivals are dupes.
    With ``ts_col`` + ``watermark``, uses dropDuplicatesWithinWatermark
    so digest state expires past the lateness bound: the unbounded-
    retention global mode is then handled by a periodic batch
    compaction (dedup.exact_dedup over the sink), which is how a
    production pipeline bounds streaming state.

    Which arrival survives per digest: with ``keeper_id`` set (any
    orderable column, e.g. the doc id), the survivor is the MIN
    keeper_id among the digest's rows in the FIRST micro-batch that
    carries it — exact_dedup's min-id rule applied per batch, so the
    output is deterministic for a fixed batch assignment and fully
    deterministic whenever a digest's first appearance lands whole in
    one batch (VERDICT r6 #6). Implemented as an
    applyInPandasWithState min-reduce keyed by digest (the grouping
    shuffles the same full rows dropDuplicates would; state is the
    same one-entry-per-distinct-digest seen marker). Without
    ``keeper_id`` the survivor is arrival-order-dependent
    (dropDuplicates semantics); the watermark arm keeps that mode —
    bounded retention and a deterministic keeper compose by re-keying
    downstream instead."""
    out = df.withColumn(digest_col, F.md5(F.col(text_col)))
    if watermark is not None:
        if ts_col is None:
            raise ValueError("watermark requires ts_col")
        if keeper_id is not None:
            raise ValueError(
                "keeper_id is only supported in the unbounded-retention "
                "mode; with a watermark, re-key downstream"
            )
        out = _as_ts(out, ts_col).withWatermark(ts_col, watermark)
        return out.dropDuplicatesWithinWatermark([digest_col])
    if keeper_id is None:
        return out.dropDuplicates([digest_col])

    import pandas as pd  # local: the hot path below is Arrow-batched

    out_schema = out.schema
    id_name = keeper_id

    def _keep_first(key, pdfs, state):
        if state.exists:
            for _ in pdfs:  # drain; digest already emitted
                pass
            return
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            if pdf.empty:
                continue
            # sort_values, not nsmallest: nsmallest raises TypeError on
            # non-numeric dtypes, but keeper_id may be ANY orderable
            # column, e.g. a string doc id (ADVICE r7 #1)
            cand = pdf.sort_values(id_name, kind="stable").head(1)
            best = (
                cand
                if best is None
                else pd.concat([best, cand])
                .sort_values(id_name, kind="stable")
                .head(1)
            )
        if best is not None:
            state.update((1,))
            yield best

    return out.groupBy(digest_col).applyInPandasWithState(
        _keep_first,
        outputStructType=out_schema,
        stateStructType="seen int",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_win_tb(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    spec: WinSpec,
    aggs: dict[str, Column],
    watermark: str = "1 hour",
    unit: str = "second",
) -> DataFrame:
    """Watermarked TB windowed aggregate; gwid recovered from the window
    start for row parity with the batch plan.

    Hopping windows (win < slide) can't be expressed by ``F.window``
    (it requires slide ≤ win), so they route through the
    tumbling-of-slide trick: hopping windows are disjoint, every event
    belongs to at most one (gwid = t//slide, kept iff t%slide < win),
    so a pre-filter plus a ``slide``-long tumbling window gives the
    identical grouping — same plan shape, one stateful aggregate
    (the derived-gwid analogue of the batch assign_wids hopping path,
    includes/win_seq.hpp:326-338)."""
    micros_per = {"microsecond": 1, "millisecond": 1_000, "second": 1_000_000}[unit]
    src = _as_ts(df, ts_col)
    if spec.win < spec.slide:  # hopping: gap rows discarded up front
        src = src.filter(
            F.unix_micros(F.col(ts_col)) % F.lit(spec.slide * micros_per)
            < F.lit(spec.win * micros_per)
        )
        win_dur = spec.slide
    else:
        win_dur = spec.win
    out = (
        src.withWatermark(ts_col, watermark)
        .groupBy(
            *[F.col(k) for k in keys],
            F.window(F.col(ts_col), f"{win_dur} {unit}", f"{spec.slide} {unit}").alias("w"),
        )
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    return out.withColumn(
        GWID,
        floordiv(F.unix_micros(F.col("w.start")), spec.slide * micros_per),
    ).drop("w")


def stream_win_tb_nic(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    spec: WinSpec,
    nic_fn,
    out_fields: str,
    payload_cols: Sequence[str],
    watermark: str = "1 hour",
    unit: str = "second",
) -> DataFrame:
    """Streaming NIC (whole-window UDF) TB windows — the streaming
    analogue of the reference's fire-and-compute over the window
    archive (includes/win_seq.hpp:355-392).

    Spark-first shape: the archive IS a watermarked windowed
    ``collect_list(struct(...))`` aggregate — the state store plays the
    StreamArchive (includes/stream_archive.hpp), append mode fires when
    the watermark passes the window end (EOS-equivalent close), and the
    whole-window pandas UDF runs over each fired window's full content.
    No custom stateful processor needed; RocksDB-backed like every
    other windowed aggregate.

    ``nic_fn(pdf) -> dict`` — receives the window rows as a pandas
    DataFrame (columns ``payload_cols`` + ``_ts_us``, sorted by
    ``_ts_us``; tie order among equal timestamps is not defined, so the
    fn must be tie-insensitive — same contract as the batch NIC path).
    Returns one dict per window matching ``out_fields`` (a DDL string,
    e.g. ``"median_value double, cnt long"``); emit multi-row results
    (e.g. a skyline) as an array field and explode downstream."""
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(out_fields).names

    @F.pandas_udf(out_fields)
    def _nic(arch: pd.Series) -> pd.DataFrame:
        recs = []
        for rows in arch:
            pdf = pd.DataFrame(list(rows)).sort_values("_ts_us", kind="stable")
            recs.append(nic_fn(pdf))
        return pd.DataFrame(recs, columns=names)

    archive = F.collect_list(
        F.struct(
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_ts_us"),
            *[F.col(c) for c in payload_cols],
        )
    )
    agg = stream_win_tb(
        df, keys, ts_col, spec, {"_arch": archive}, watermark=watermark, unit=unit
    )
    return agg.withColumn("_res", _nic(F.col("_arch"))).select(
        *keys, GWID, "_res.*"
    )


def stream_session(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap: str,
    aggs: dict[str, Column],
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows via native session_window (state-store merge)."""
    out = (
        _as_ts(df, ts_col).withWatermark(ts_col, watermark)
        .groupBy(
            *[F.col(k) for k in keys],
            F.session_window(F.col(ts_col), gap).alias("w"),
        )
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    return out.withColumn("session_start", F.unix_micros("w.start")).withColumn(
        "session_end_excl", F.unix_micros("w.end")
    ).drop("w")


# Decomposable (INC) fold ops for streaming CB windows: per-window
# partial slots + numpy batch kernel + cross-batch merge + finalize.
# The reference accepts an arbitrary INC lambda (includes/win_seq.hpp:
# 63-65); a distributed engine needs the fold DECLARED decomposable, so
# the op registry is the contract (sum/count/min/max/mean cover the
# reference's test programs; argmax proves the registry generalizes
# beyond scalar semigroups, var/std beyond two slots). Users extend it
# with register_cb_op(), which property-checks the declared fold for
# decomposability before admitting it.
#
# Batch kernel contract: ``kernel(v, ids, starts)`` over the expanded
# rows of a bucket's keys sorted by (key, window id) — ``v`` the in_col
# values (None for a fold over no column), ``ids`` the tuple ids,
# ``starts`` the first row of each (key, window) segment (rows inside a
# segment are in ascending id order). A kernel must reduce each segment
# on its own. It returns ``n_slots`` arrays (or an (n_slots, windows)
# array) holding one partial per window: np.<ufunc>.reduceat(v, starts)
# for ufunc folds, np.<ufunc>.at over ``_seg_of(starts, n)`` for
# scatter folds.


def _seg_of(starts, n: int):
    """Segment (window) index of each of the ``n`` window-sorted rows."""
    return np.repeat(np.arange(len(starts)), np.diff(starts, append=n))


def _count_batch(v, ids, s):
    return [np.diff(s, append=len(ids)).astype(np.float64)]


def _argmax_batch(v, ids, s):
    """Per-window argmax partials: (max value, id attaining it) with
    smallest-id tiebreak — the min id over each window's max-valued
    rows."""
    m = np.maximum.reduceat(v, s)
    hit = v == m[_seg_of(s, len(v))]
    best = np.minimum.reduceat(np.where(hit, ids, np.iinfo(np.int64).max), s)
    return [m, best.astype(np.float64)]


def _argmax_merge(o, n):
    # old partials hold strictly smaller ids (per-key ids are monotone
    # across batches), so a value tie keeps the old (smaller-id) slot
    return list(n) if n[0] > o[0] or (n[0] == o[0] and n[1] < o[1]) else list(o)


def _var_batch(v, ids, s):
    """(sum, sum-of-squares, count) partials — the three-slot
    decomposable triple behind var/std (population variance via the
    E[x²]−E[x]² identity; merge is slot-wise addition)."""
    return [np.add.reduceat(v, s), np.add.reduceat(v * v, s),
            *_count_batch(v, ids, s)]


def _var_merge(o, n):
    return [o[0] + n[0], o[1] + n[1], o[2] + n[2]]


def _var_final(s):
    # clamp: float cancellation on near-constant windows can land a
    # hair below 0, which would NaN the std sqrt
    return max(0.0, s[1] / s[2] - (s[0] / s[2]) ** 2)


def _var_cat(p, i):
    m = p[i] / p[i + 2]
    return F.greatest(F.lit(0.0), p[i + 1] / p[i + 2] - m * m)


# ---- hll64: mergeable approximate count-distinct --------------------
#
# A 64-register (p=6) HyperLogLog as a CB fold: registers ARE the
# partial slots, so the sketch merges across batches/splits with
# elementwise max — the textbook mergeable-sketch property, and the
# proof the fold registry accommodates non-arithmetic partials. The
# hash is the engine-wide PORTABLE md5 (never Spark hash()): the input
# column must be pre-mapped with ``hll_prep`` (Catalyst md5 → first 6
# hex chars as a 24-bit int, computed JVM-side so the Python kernel
# does no per-row hashing): high 8 bits mod 64 = bucket, low 16 bits =
# rank field, register = max(17 − bit_length(field)). Every estimate
# ingredient is deterministic and DuckDB-expressible — 2^−r terms are
# exact dyadics (sums are order-independent), the alpha·m² constant is
# ONE shared literal, the ≤ 2.5m small-range correction uses
# V = 64 − occupied buckets — so gate oracles recompute the IDENTICAL
# estimate (to the shared round(·, 4)) rather than asserting a bound.
_HLL_M = 64
_HLL_ALPHA_M2 = 2905.460551022604  # 0.7213 / (1 + 1.079/64) * 64**2
_HLL_LINEAR_MAX = 160.0  # 2.5 * m


def hll_prep(col) -> "F.Column":
    """Catalyst pre-hash for the ``hll64`` fold: first 6 hex chars of
    md5(value as string) as a 24-bit integer. Apply BEFORE the
    stateful operator; the value must render identically to the
    oracle's ``cast(x AS varchar)`` (integers/strings do; avoid raw
    floats)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 6), 16, 10).cast("long")


def _hll_batch(v, ids, s):
    h = v.astype(np.int64)  # ≤ 2^24: exact
    # bit_length via frexp's exponent (exact for ints < 2^24); a zero
    # rank field keeps exponent 0 → register 17, the all-zero-tail
    # convention
    rank = 17.0 - np.frexp((h & 0xFFFF).astype(np.float64))[1]
    regs = np.zeros((_HLL_M, len(s)))
    np.maximum.at(regs, ((h >> 16) & 63, _seg_of(s, len(v))), rank)
    return regs


def _hll_merge(o, n):
    return [a if a >= b else b for a, b in zip(o, n)]


def _hll_final(s):
    import math

    S = sum(2.0 ** -r for r in s)  # exact dyadics: order-independent
    V = sum(1 for r in s if r == 0)
    e = _HLL_ALPHA_M2 / S
    if e <= _HLL_LINEAR_MAX and V > 0:
        e = float(_HLL_M) * math.log(float(_HLL_M) / V)
    return round(e, 4)


def _hll_cat(p, i):
    regs = F.slice(p, i + 1, _HLL_M)
    S = F.aggregate(
        regs, F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r)
    )
    V = F.size(F.filter(regs, lambda r: r == F.lit(0.0)))
    raw = F.lit(_HLL_ALPHA_M2) / S
    lin = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / V.cast("double"))
    return F.round(
        F.when((raw <= F.lit(_HLL_LINEAR_MAX)) & (V > 0), lin).otherwise(raw), 4
    )


_CB_OPS = {
    # op: (n_slots, batch_kernel(v, ids, starts) -> per-window slot
    #      arrays (contract above), merge(old_slots, new_slots),
    #      finalize(slots), out_sql_type,
    #      catalyst_finalize(parts_array_col, slot_pos) -> Column —
    #          the same finalize over the persisted slot layout, used
    #          by flush_cb_partials' pure-Catalyst EOS projection)
    # count is the segment length (every tuple — the reference's
    # per-row fold counts EVERY tuple); null/NaN values in other ops'
    # input columns are rejected at the operator boundary
    # (_make_cb_fold) rather than folded, so a NaN can't silently
    # diverge from the reference fold.
    "sum": (1, lambda v, i, s: [np.add.reduceat(v, s)],
            lambda o, n: [o[0] + n[0]], lambda s: s[0], "double",
            lambda p, i: p[i]),
    "count": (1, _count_batch, lambda o, n: [o[0] + n[0]],
              lambda s: int(s[0]), "long", lambda p, i: p[i]),
    "min": (1, lambda v, i, s: [np.minimum.reduceat(v, s)],
            lambda o, n: [min(o[0], n[0])], lambda s: s[0], "double",
            lambda p, i: p[i]),
    "max": (1, lambda v, i, s: [np.maximum.reduceat(v, s)],
            lambda o, n: [max(o[0], n[0])], lambda s: s[0], "double",
            lambda p, i: p[i]),
    "mean": (2, lambda v, i, s: [np.add.reduceat(v, s), *_count_batch(v, i, s)],
             lambda o, n: [o[0] + n[0], o[1] + n[1]],
             lambda s: s[0] / s[1], "double",
             lambda p, i: p[i] / p[i + 1]),
    # argmax: the id of the tuple attaining the window max of in_col
    # (ties → smallest id; (value, id) slot pair — the max_by shape the
    # reference folds with an arbitrary INC lambda). Ids are exact in
    # the float64 slot up to 2^53.
    "argmax": (2, _argmax_batch, _argmax_merge,
               lambda s: int(s[1]), "long", lambda p, i: p[i + 1]),
    # var/std: POPULATION variance over the (sum, sumsq, count) slot
    # TRIPLE (VERDICT r5 #5 — exercises batch kernel, merge, Python
    # finalize and the Catalyst EOS finalizer across three slots).
    "var": (3, _var_batch, _var_merge, _var_final, "double", _var_cat),
    "std": (3, _var_batch, _var_merge,
            lambda s: _var_final(s) ** 0.5, "double",
            lambda p, i: F.sqrt(_var_cat(p, i))),
    # hll64: mergeable approx count-distinct — the registers are the
    # slots (merge = elementwise max); input column must be hll_prep'd
    "hll64": (_HLL_M, _hll_batch, _hll_merge, _hll_final, "double",
              _hll_cat),
}


def register_cb_op(
    name: str,
    *,
    n_slots: int,
    batch,
    merge,
    finalize,
    out_type: str = "double",
    catalyst=None,
    validate_with=None,
    tol: float = 1e-9,
) -> None:
    """Register a USER-DECLARED decomposable fold as a streaming CB op
    — closing the gap to the reference's arbitrary INC lambda
    (win_seq.hpp:63-65): any fold a user can state as (partial slots,
    batch kernel, merge, finalize) plugs into stream_cb_windows and
    the EOS flush arms exactly like the built-ins (they all read the
    same registry).

    - ``n_slots``: float64 partial slots per window.
    - ``batch(v, ids, starts)``: the numpy segment kernel — receives
      the rows of a bucket's keys sorted by (key, window id) (``v``
      the input column's float64 values, ``ids`` the int64 tuple ids,
      ``starts`` the first row of each (key, window) segment) and
      returns ``n_slots`` arrays with one partial per window, e.g.
      ``[np.minimum.reduceat(v, starts)]`` (see the contract above
      ``_CB_OPS``).
    - ``merge(old_slots, new_slots) -> slots``: cross-batch partial
      merge (lists of floats).
    - ``finalize(slots) -> value`` with SQL type ``out_type``.
    - ``catalyst(parts_col, slot_pos) -> Column`` (optional): the same
      finalize as a Catalyst expression over the persisted slot
      arrays. With it, the statestore EOS flush stays a pure scan +
      projection; without it, ``flush_cb_partials`` transparently
      routes through the mapInPandas arm (Python finalize over state
      rows — one row per key bucket, no shuffle, still no replay).
    - ``validate_with`` (recommended): a 1-D float sample. The
      declaration is property-checked for DECOMPOSABILITY before
      registration: for every split point, merging the two halves'
      partials must equal folding the whole sample (the condition that
      makes the cross-batch merge correct — a non-decomposable kernel
      like an unmergeable median is rejected here instead of silently
      emitting wrong windows at runtime).
    """
    if name in _CB_OPS:
        raise ValueError(f"CB op {name!r} already registered")
    if validate_with is not None:
        sample = np.asarray(validate_with, dtype=np.float64)
        if sample.ndim != 1 or len(sample) < 2:
            raise ValueError("validate_with must be a 1-D sample with >= 2 values")

        def _partials(vals, ids):
            out = batch(vals, ids, np.zeros(1, dtype=np.int64))
            if len(out) != n_slots:
                raise ValueError(
                    f"batch kernel returned {len(out)} slots, declared {n_slots}"
                )
            return [float(np.asarray(x)[0]) for x in out]

        ids = np.arange(len(sample), dtype=np.int64)
        whole = _partials(sample, ids)
        for k in range(1, len(sample)):
            merged = merge(_partials(sample[:k], ids[:k]),
                           _partials(sample[k:], ids[k:]))
            bad = [
                (i, m, w) for i, (m, w) in enumerate(zip(merged, whole))
                if not (abs(m - w) <= tol * max(1.0, abs(w)))
            ]
            if bad:
                raise ValueError(
                    f"CB op {name!r} is not decomposable: merging the "
                    f"split at {k} gives slots {merged} but folding the "
                    f"whole sample gives {whole} — the cross-batch merge "
                    "would emit wrong windows. Use an NIC whole-window "
                    "UDF (win_seq nic_fn) for exact non-decomposable "
                    "logic, or register_quantile_hist_op for a mergeable "
                    "approximate quantile."
                )
        finalize(whole)  # must at least run on real partials
    _CB_OPS[name] = (n_slots, batch, merge, finalize, out_type, catalyst)


def register_quantile_hist_op(
    name: str,
    lo: float,
    hi: float,
    bins: int = 64,
    q: float = 0.5,
) -> dict:
    """Register a MERGEABLE approximate quantile as a CB fold: a
    fixed-range equi-width histogram whose bucket counts are the
    partial slots (merge = elementwise ADD — the decomposable sketch
    that a raw median is not; ``register_cb_op`` rejects the latter at
    registration, this is the declared alternative it points to).
    Error bound: one bucket width (hi − lo)/bins — the caller chooses
    the precision/state tradeoff. Values outside [lo, hi) clamp into
    the edge buckets (documented semantics, mirrored by oracles).

    finalize: lower-interpolated quantile — target rank = q·n; walk
    the cumulative counts to the first non-empty bucket reaching it
    and interpolate inside: lo + w·(bucket + (target − cum_before)/c),
    rounded to 4 dp. Every ingredient is exact-integer counts plus
    identically-ordered float arithmetic over SHARED literals (w is
    Python-evaluated once), so a DuckDB oracle recomputes the
    identical value. No Catalyst finalizer is declared — the EOS flush
    transparently routes these partials through the mapInPandas arm
    (the register_cb_op fallback path).

    Returns the literals dict {lo, hi, bins, w, q} so gates/oracles
    embed the exact same floats."""
    lo_, hi_, q_ = float(lo), float(hi), float(q)
    if not (hi_ > lo_ and bins >= 2 and 0.0 < q_ < 1.0):
        raise ValueError("need hi > lo, bins >= 2, 0 < q < 1")
    w = (hi_ - lo_) / bins

    def batch(v, ids, s):
        b = np.clip(np.floor((v - lo_) / w), 0, bins - 1).astype(np.int64)
        n = len(s)
        cnt = np.bincount(b * n + _seg_of(s, len(v)), minlength=bins * n)
        return cnt.reshape(bins, n).astype(np.float64)

    def merge(o, n):
        return [a + b for a, b in zip(o, n)]

    def finalize(s):
        total = sum(s)
        target = q_ * total
        cum = 0.0
        for i, c in enumerate(s):
            if c > 0 and cum + c >= target:
                return round(lo_ + w * (i + (target - cum) / c), 4)
            cum += c
        return round(hi_, 4)

    register_cb_op(
        name,
        n_slots=bins,
        batch=batch,
        merge=merge,
        finalize=finalize,
        out_type="double",
        validate_with=[lo_ + (hi_ - lo_) * f for f in
                       (0.05, 0.2, 0.2, 0.45, 0.6, 0.8, 0.95)],
    )
    return {"lo": lo_, "hi": hi_, "bins": bins, "w": w, "q": q_}


def _cb_ops(aggs: dict) -> list:
    """The registry entries of ``aggs`` in declaration order, paired
    with their input columns. Closures take this list, never the
    registry itself: it travels to the workers by value, user-registered
    ops included."""
    return [(_CB_OPS[op], c) for op, c in aggs.values()]


def _cb_slots(aggs: dict) -> int:
    """Partial slots per window of ``aggs`` (the width of a ``parts`` row)."""
    return sum(_CB_OPS[op][0] for op, _c in aggs.values())


def _cb_finalize(ops: list, parts: "np.ndarray") -> list:
    """Finalized output columns, one list per agg, of windows' partial
    slot rows ``parts`` (windows × slots)."""
    rows, cols, pos = parts.tolist(), [], 0
    for (ns, _k, _m, fin, *_), _c in ops:
        cols.append([fin(r[pos:pos + ns]) for r in rows])
        pos += ns
    return cols


def _cb_merge(ops: list, old: list, new: list) -> list:
    """Cross-batch merge of one window's partial slots, op by op."""
    out, pos = [], 0
    for (ns, _k, merge, *_), _c in ops:
        out += merge(old[pos:pos + ns], new[pos:pos + ns])
        pos += ns
    return out


def _run_ends(kid: "np.ndarray") -> "np.ndarray":
    """Index of the last row of each run of equal ``kid`` (rows sorted
    by key index)."""
    return np.flatnonzero(np.append(kid[1:] != kid[:-1], True)) if len(kid) else kid


def _make_cb_fold(win: int, slide: int, aggs: dict):
    """Build the vectorized CB fold kernel of stream_cb_windows:
    ``fold(kid, ids, vals, open_) -> (open_, fired)``.

    The rows of one or more keys, sorted by (key index ``kid``, id),
    fold into the open windows ``open_`` = (key index, wid, slot rows);
    it returns the windows still open and the fired ones in the same
    layout: a window fires once its key's largest id in ``ids`` reaches
    its last id, open windows that got no rows included. The wid
    explosion is arange arithmetic, stable-sorted by (key, wid); every
    registry kernel then reduces the (key, wid) segments of all keys at
    once (``batch(v, ids, starts)``, see the contract above
    ``_CB_OPS``), and ``merge`` runs only for a window that was open and
    also receives rows — no pandas, no per-key loop.

    Columns feeding a non-count fold must be null/NaN-free: SQL
    aggregates skip a null while the numpy kernels would propagate a
    NaN (or, for hll64, hash garbage), so the kernel raises instead."""
    strict_cols = sorted(
        {c for op, c in aggs.values() if c is not None and op != "count"}
    )
    ops = _cb_ops(aggs)

    def _fold(kid: "np.ndarray", ids: "np.ndarray", vals: dict, open_: tuple):
        for c in strict_cols:
            if np.isnan(vals[c]).any():
                raise ValueError(
                    f"null/NaN in CB fold input column {c!r} — the "
                    "decomposable fold requires non-null values "
                    "(filter or fillna upstream)"
                )
        wk0, wid0, parts0 = open_
        if not len(ids):
            return open_, (wk0[:0], wid0[:0], parts0[:0])
        last = ids // slide
        first = np.maximum(0, (ids - win) // slide + 1)
        # hopping (win < slide): ids in a gap have last < first — an
        # empty wid range (includes/win_seq.hpp:326-338), clip to 0
        counts = np.maximum(0, last - first + 1).astype(np.int64)
        total = int(counts.sum())
        row = np.repeat(np.arange(len(ids)), counts)
        wid = first[row] + np.arange(total) - np.repeat(np.cumsum(counts) - counts, counts)
        # stable: ids stay ascending inside each (key, window) segment
        order = np.lexsort((wid, kid[row]))
        row, wid = row[order], wid[order]
        k = kid[row]
        head = np.ones(total, dtype=bool)
        head[1:] = (k[1:] != k[:-1]) | (wid[1:] != wid[:-1])
        starts = np.flatnonzero(head)
        seg_v = {c: v[row] for c, v in vals.items()}
        # no kernel call on an empty expansion (it would make one segment)
        parts = np.vstack([
            np.asarray(kern(seg_v.get(c), ids[row], starts), dtype=np.float64)
            .reshape(ns, -1)
            for (ns, kern, *_), c in ops
        ]).T if total else np.empty((0, parts0.shape[1]))
        sk, sw = k[starts], wid[starts]
        if len(wk0):
            # a window open in state that also got rows: merge the two
            # partials (stable sort puts the state entry first)
            ak, aw = np.concatenate([wk0, sk]), np.concatenate([wid0, sw])
            o = np.lexsort((aw, ak))
            dup = (ak[o[1:]] == ak[o[:-1]]) & (aw[o[1:]] == aw[o[:-1]])
            old, new = o[:-1][dup], o[1:][dup] - len(wk0)
            for i, j in zip(old.tolist(), new.tolist()):
                parts[j] = _cb_merge(ops, parts0[i].tolist(), parts[j].tolist())
            stay = np.ones(len(wk0), dtype=bool)
            stay[old] = False
            wk0, wid0, parts0 = wk0[stay], wid0[stay], parts0[stay]
        ak, aw = np.concatenate([wk0, sk]), np.concatenate([wid0, sw])
        ap = np.concatenate([parts0, parts])
        # Triggerer_CB (window.hpp:49-67): a window fires once its key's
        # largest id of this batch reaches its last id w*slide+win-1,
        # whether or not that id arrived — windows held in state too
        top = np.full(int(max(kid.max(), ak.max(initial=0))) + 1, -1, dtype=np.int64)
        ends = _run_ends(kid)
        top[kid[ends]] = ids[ends]
        fire = aw * slide + win - 1 <= top[ak]
        return (ak[~fire], aw[~fire], ap[~fire]), (ak[fire], aw[fire], ap[fire])

    return _fold


#: Hash buckets of the key-group processors (``stream_cb_windows``,
#: ``stream_accumulate``). Each groups its input by
#: ``pmod(xxhash64(key), _KEY_BUCKETS)`` and keeps ONE state row per
#: bucket holding every key routed to it — the keyMap of a WindFlow
#: Win_Seq replica (win_seq.hpp:126) — so a micro-batch costs one
#: Python call per bucket, not one per key. A constant, never read from
#: spark.sql.shuffle.partitions: Spark restores that setting from the
#: checkpoint of a stateful query, but a bucket count baked into the
#: plan from the live conf would not be, and a restart under another
#: setting would move keys to other buckets and silently lose their
#: state. 128 trades per-call cost against parallelism (no more than
#: this many tasks of the stateful operator get rows) and row size: a CB
#: drain of 33,057 rows over 6,000 keys (two micro-batches, local[4] on
#: a 4-vCPU host, median of 8 reps) took 2.23 s at 64 buckets, 2.25 s
#: at 128, 2.50 s at 256 and 3.5 s at 1,024; one call per key took 5.6 s.
_KEY_BUCKETS = 128


def _key_ddl(df: DataFrame, key: str) -> str:
    """The DDL type of ``df``'s key column, for the output and state
    schemas of the stateful processors: a key of any type, not only a
    string."""
    return df.schema[key].dataType.simpleString()


def _key_groups(df: DataFrame, key: str, cols: list[str]):
    """``df`` projected to (key, cols) and grouped by the key's bucket."""
    return (
        df.select(*dict.fromkeys([key, *cols]))
        .withColumn("_bk", F.pmod(F.xxhash64(key), F.lit(_KEY_BUCKETS)))
        .groupBy("_bk")
    )


def _bucket_rows(pdfs: Iterator[pd.DataFrame], key: str, id_col: str,
                 cols: dict, known: "np.ndarray"):
    """A group's rows of one micro-batch, gathered across all of its
    Arrow chunks and sorted ONCE by (key, id) — a multi-file micro-batch
    hands the chunks over in any id order. ``cols`` maps each further
    column to its numpy dtype. Returns ``(keys, kid, ids, vals)``:
    ``keys`` is ``known`` (the bucket's keys from state) followed by the
    keys first seen here, ``kid`` indexes it per row."""
    chunks = [p for p in pdfs if len(p)]

    def col(c, dtype):
        return np.concatenate(
            [p[c].to_numpy(dtype=dtype) for p in chunks] or [np.empty(0, dtype=dtype)]
        )

    # known first: its keys are distinct, so they keep codes 0..n-1 and
    # a new key gets the next code; a null key is a key of its own, as
    # under groupBy (no NA sentinel, which would index keys[-1])
    codes, keys = pd.factorize(
        np.concatenate([known, col(key, object)]), use_na_sentinel=False
    )
    keys = keys.astype(object)
    keys[pd.isna(keys)] = None
    kid, ids = codes[len(known):], col(id_col, np.int64)
    order = np.lexsort((ids, kid))
    return keys, kid[order], ids[order], {c: col(c, t)[order] for c, t in cols.items()}


def _drop_seen(kid, ids, last):
    """The reference's drop rule per key (win_seq.hpp:289-305) over rows
    sorted by (key index ``kid``, id): a row is kept when its id is
    above its key's last folded id in ``last`` and is not a repeat
    (first occurrence wins). Returns the keep mask and ``last``
    advanced to each key's largest kept id."""
    keep = ids > last[kid]
    keep[1:] &= (ids[1:] != ids[:-1]) | (kid[1:] != kid[:-1])
    kid, ids = kid[keep], ids[keep]
    ends = _run_ends(kid)
    last = last.copy()
    last[kid[ends]] = ids[ends]
    return keep, last


def _cb_state_schema(key_ddl: str) -> str:
    """One state row per bucket: every key with its last folded id; the
    open windows as (key index, wid, slot row); the ``buffer`` policy's
    held rows as (key index, id) plus one value array per fold column."""
    return (
        f"keys array<{key_ddl}>, last_ids array<long>, wk array<long>, "
        "wids array<long>, parts array<array<double>>, bk array<long>, "
        "buf_ids array<long>, buf_vals array<array<double>>"
    )


class _CBState(NamedTuple):
    """One bucket's CB state as numpy arrays (fields as ``_cb_state_schema``)."""

    keys: "np.ndarray"
    last: "np.ndarray"
    wk: "np.ndarray"
    wid: "np.ndarray"
    parts: "np.ndarray"  # open windows × slots
    bk: "np.ndarray"
    bids: "np.ndarray"
    bvals: "np.ndarray"  # fold columns × buffered rows

    @classmethod
    def load(cls, row, n_slots: int, n_cols: int) -> "_CBState":
        """From a state row (``state.get`` or a state-store read), or
        empty for ``None``."""
        keys, last, wk, wid, parts, bk, bids, bvals = row or ([],) * 8
        i64 = lambda a: np.asarray(a, dtype=np.int64)
        f64 = lambda a, shape: np.asarray(list(a), dtype=np.float64).reshape(shape)
        return cls(np.asarray(keys, dtype=object), i64(last), i64(wk), i64(wid),
                   f64(parts, (len(wid), n_slots)), i64(bk), i64(bids),
                   f64(bvals, (n_cols, len(bids))))

    def row(self) -> tuple:
        return tuple(a.tolist() for a in self)


def _cb_step(st: _CBState, kid, ids, vals: dict, fold, on_late: str,
             lateness: int):
    """Fold one micro-batch of a bucket's rows (sorted by (kid, id),
    ``kid`` indexing ``st.keys``) into its state under the ``on_late``
    policy; returns the new state and the fired windows."""
    cols = list(vals)
    if on_late == "buffer":
        kid, ids = np.concatenate([st.bk, kid]), np.concatenate([st.bids, ids])
        vals = {c: np.concatenate([st.bvals[j], vals[c]]) for j, c in enumerate(cols)}
        # stable: a held row wins over a repeat of its id
        order = np.lexsort((ids, kid))
        kid, ids, vals = kid[order], ids[order], {c: v[order] for c, v in vals.items()}
        # fold only ids <= (the key's max id − lateness); hold the rest
        ends = _run_ends(kid)
        ripe = ids <= np.repeat(ids[ends] - lateness, np.diff(ends, prepend=-1))
        held = ~ripe
        st = st._replace(bk=kid[held], bids=ids[held], bvals=np.array(
            [vals[c][held] for c in cols], dtype=np.float64
        ).reshape(len(cols), int(held.sum())))
        kid, ids, vals = kid[ripe], ids[ripe], {c: v[ripe] for c, v in vals.items()}
    if on_late != "assume_ordered":
        keep, last = _drop_seen(kid, ids, st.last)
        kid, ids, vals = kid[keep], ids[keep], {c: v[keep] for c, v in vals.items()}
        st = st._replace(last=last)
    (wk, wid, parts), fired = fold(kid, ids, vals, (st.wk, st.wid, st.parts))
    return st._replace(wk=wk, wid=wid, parts=parts), fired


def _cb_frame(keys, windows: tuple, ops: list, names: list[str], key: str,
              spec: WinSpec) -> pd.DataFrame:
    """Finalized output rows of ``windows`` = (key index, wid, slot
    rows), sorted by (key, gwid)."""
    wk, wid, parts = windows
    # null-safe key rank (np.argsort cannot compare None with a str);
    # the keys are distinct, so the sorted codes are their ranks
    rank = pd.factorize(keys, sort=True, use_na_sentinel=False)[0]
    order = np.lexsort((wid, rank[wk]))
    wk, wid, parts = wk[order], wid[order], parts[order]
    return pd.DataFrame({
        key: keys[wk], "gwid": wid, **dict(zip(names, _cb_finalize(ops, parts))),
        "win_end": wid * spec.slide + spec.win - 1,
    })


def _cb_out_schema(key: str, key_ddl: str, aggs: dict) -> str:
    out_cols = ", ".join(f"{n} {_CB_OPS[op][4]}" for n, (op, _c) in aggs.items())
    return f"{key} {key_ddl}, gwid long, {out_cols}, win_end long"


def stream_cb_windows(
    df: DataFrame,
    key: str,
    id_col: str,
    value_col: str | None,
    spec: WinSpec,
    on_late: str = "drop",
    aggs: dict[str, tuple[str, str | None]] | None = None,
    lateness: int = 0,
) -> DataFrame:
    """Count-based windows in streaming: a key-group stateful processor
    (applyInPandasWithState grouped by the key's hash bucket,
    ``_KEY_BUCKETS``) over the input projected to (key, id_col, fold
    columns). Per micro-batch, ONE Python call per bucket sorts the
    bucket's rows by (key, id) across all of its Arrow chunks, applies
    the ``on_late`` rule per key with segment operations and folds every
    key at once with the numpy segment kernels.

    A tuple with per-key monotone id ``i`` belongs to wids
    [max(0, floor((i-win)/slide)+1), floor(i/slide)]; window w fires
    (is emitted) once its key's largest id reaches its last id
    w*slide+win-1, whether or not a tuple with that id arrived —
    Triggerer_CB (includes/window.hpp:49-67). Partial windows remain in
    state; after a drain, ``flush_cb_partials`` reads them back from
    the checkpoint and emits them (the reference's eosnotify flush,
    win_seq.hpp:432-474 — batch mode gets the same flush for free).

    ``aggs`` — {out_col: (op, in_col)} with op from sum/count/min/max/
    mean/argmax/var/std (the decomposable-fold registry ``_CB_OPS``;
    the streaming analogue of the reference's arbitrary INC lambda,
    win_seq.hpp:63-65).
    Defaults to the classic {"sum_value": ("sum", value_col),
    "cnt": ("count", None)} shape.

    ``on_late`` — cross-batch out-of-order policy:
    - "drop" (default): REFERENCE PARITY — any id ≤ the last processed
      id for the key is discarded, exactly the reference's out-of-order
      drop rule (includes/win_seq.hpp:289-305, wf_nodes.hpp:104-121).
    - "buffer": hold rows in state and only fold ids ≤ (max id seen −
      ``lateness``), re-sorting the buffered span — reproduces the
      fully-ordered result for any disorder within the bound (ids
      beyond it still drop). Windows in the trailing ``lateness`` span
      stay buffered until later data arrives (the CB analogue of a
      watermark delay).
    - "assume_ordered": trust per-key arrival order across batches
      (single-writer sources); cheapest, silently wrong under disorder.
    Within a micro-batch, a key's rows are always processed in id order.

    State is one row per bucket (``_cb_state_schema``): at most
    ``_KEY_BUCKETS`` rows, each holding its keys' last ids, open
    windows and held rows. The key may be of any type.
    """
    if on_late not in ("assume_ordered", "drop", "buffer"):
        raise ValueError(f"unknown on_late policy {on_late!r}")
    if aggs is None:
        if value_col is None:
            raise ValueError("value_col or aggs required")
        aggs = {"sum_value": ("sum", value_col), "cnt": ("count", None)}
    for name, (op, _c) in aggs.items():
        if op not in _CB_OPS:
            raise ValueError(f"agg {name!r}: unknown op {op!r} (have {sorted(_CB_OPS)})")
    # input columns feeding any fold (count-with-None folds over ids)
    in_cols = sorted({c for _, c in aggs.values() if c is not None})
    n_slots, ops, names = _cb_slots(aggs), _cb_ops(aggs), list(aggs)
    fold = _make_cb_fold(spec.win, spec.slide, aggs)

    def proc(
        _bk: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = _CBState.load(state.get if state.exists else None, n_slots, len(in_cols))
        keys, kid, ids, vals = _bucket_rows(
            pdfs, key, id_col, dict.fromkeys(in_cols, np.float64), st.keys
        )
        st = st._replace(keys=keys, last=np.concatenate(
            [st.last, np.full(len(keys) - len(st.keys), -1, dtype=np.int64)]))
        st, fired = _cb_step(st, kid, ids, vals, fold, on_late, lateness)
        state.update(st.row())
        if len(fired[0]):
            yield _cb_frame(keys, fired, ops, names, key, spec)

    key_ddl = _key_ddl(df, key)
    return _key_groups(df, key, [id_col, *in_cols]).applyInPandasWithState(
        proc, _cb_out_schema(key, key_ddl, aggs), _cb_state_schema(key_ddl),
        "append", GroupStateTimeout.NoTimeout,
    )


#: state of ``stream_match_events``, one row per key: its pending
#: partial matches, one entry each — start id, ts of the start row, step
#: and whether it is inside the run of a ``+`` step (skip leaves it
#: False) — and the key's last seen (id, ts)
_CEP_STATE = (
    "sid array<long>, tsf array<long>, stp array<int>, "
    "run array<boolean>, last_id long, last_ts long"
)


def _skip_kernel(pending, last_id, last_ts, ids, fl, ts, *, within: int):
    """skip-till-next-match over one key's new rows of a micro-batch
    (sorted by id, drop rule applied; ``fl`` is the rows × steps flag
    matrix). A pending partial (start_id, ts_first, step awaited) binds
    each step to the EARLIEST later satisfying row, so every partial at
    step j binds to the SAME next step-j row and whole cohorts advance
    with chained ``searchsorted`` over the step-position arrays — no
    per-row Python. A completion whose span exceeds ``within`` is
    discarded outright (the earliest completion is minimal, so no later
    one can satisfy the bound), and a partial expires once the last
    seen ts outruns its span. Returns the pending partials and the
    matches as (start_id, end_id, ts_first, ts_last)."""
    p_sid, p_tsf, p_stp, _run = pending
    k = fl.shape[1]
    pos = [np.flatnonzero(fl[:, j]) for j in range(k)]
    # pending partials bind anywhere in this batch (their rows are
    # strictly before it); new starts bind strictly after their own row
    cur_pos = np.concatenate([np.full(len(p_sid), -1, dtype=np.int64), pos[0]])
    cur_stp = np.concatenate([p_stp, np.ones(len(pos[0]), dtype=np.int64)])
    sid = np.concatenate([p_sid, ids[pos[0]]])
    tsf = np.concatenate([p_tsf, ts[pos[0]]])
    for j in range(1, k):
        m = cur_stp == j
        if not m.any() or not len(pos[j]):
            continue
        idx = np.searchsorted(pos[j], cur_pos[m], side="right")
        ok = idx < len(pos[j])
        upd_pos, upd_stp = cur_pos[m], cur_stp[m]
        upd_pos[ok] = pos[j][idx[ok]]
        upd_stp[ok] = j + 1
        cur_pos[m], cur_stp[m] = upd_pos, upd_stp
    done = cur_stp == k
    ends = cur_pos[done]
    ok = (ts[ends] - tsf[done]) <= within
    matches = list(zip(sid[done][ok].tolist(), ids[ends][ok].tolist(),
                       tsf[done][ok].tolist(), ts[ends][ok].tolist()))
    # ts is non-decreasing in id (contract), so a pending span already
    # past `within` can never complete
    live = ~done & ((int(ts[-1]) - tsf) <= within)
    return (sid[live], tsf[live], cur_stp[live], np.zeros(int(live.sum()), dtype=bool)), matches


def _contiguity_kernel(pending, last_id, last_ts, ids, fl, ts, *, quant: list[str],
                       within: int | None):
    """Strict contiguity over one key's new rows of a micro-batch (sorted
    by id, drop rule applied; ``fl`` is the rows × steps flag matrix),
    with a '1' or a greedy-maximal '+' quantifier per step (batch
    ``match_events`` semantics; a strict pattern is all '1').
    A pending partial is (start_id, ts_first, step, in-run). Each +
    step's run STOPS are the row positions where the predicate fails or
    contiguity breaks; a cohort of partials advances through them with
    searchsorted exactly like the batch join ladder, in at most k vector
    rounds. A partial WAITING to bind a step dies on the next row unless
    it matches; an IN-RUN partial survives batches only while its run
    spans them. Final-+ runs emit on the row that CLOSES them (¬p or id
    gap — gap closure is a completed match, as in batch); a run still
    open at stream end is never emitted (the documented stream-end
    caveat). A completion whose span exceeds ``within`` is discarded;
    with a + in the pattern a pending partial also expires once the last
    seen ts outruns its span (ts non-decreasing in id). Without a +, a
    partial lasts at most k-1 rows and ts may run in any order. Returns
    the pending partials and the matches as (start_id, end_id,
    ts_first, ts_last)."""
    p_sid, p_tsf, p_stp, p_run = pending
    k, n = len(quant), len(ids)
    cont = np.empty(n, dtype=bool)
    cont[0] = last_id is not None and ids[0] == last_id + 1
    cont[1:] = ids[1:] == ids[:-1] + 1
    # per + step: sorted row positions where a run STOPS
    stops = {j: np.flatnonzero(~fl[:, j] | ~cont) for j in range(k) if quant[j] == "+"}

    # partial vectors: resumed partials first, then fresh starts (every
    # p0 row opens one). pos = the row where the partial acts next;
    # resumed W binds at row 0, resumed R re-enters its run "before"
    # row 0 (pos -1 marks it).
    starts0 = np.flatnonzero(fl[:, 0])
    pos = np.concatenate([np.where(p_run, -1, 0), starts0]).astype(np.int64)
    stp = np.concatenate([p_stp, np.zeros(len(starts0), dtype=np.int64)])
    run = np.concatenate([p_run, np.zeros(len(starts0), dtype=bool)])
    sid = np.concatenate([p_sid, ids[starts0]])
    tsf = np.concatenate([p_tsf, ts[starts0]])
    alive = np.ones(len(pos), dtype=bool)
    pending = np.zeros(len(pos), dtype=bool)
    matches = []

    def _emit(i: int, e: int) -> None:
        """Record a completion ending at batch row e (e == -1 ⇒ the run
        closed exactly at the batch boundary: end row = previous batch's
        last row)."""
        eid = int(ids[e]) if e >= 0 else int(last_id)
        ets = int(ts[e]) if e >= 0 else int(last_ts)
        if within is None or ets - int(tsf[i]) <= within:
            matches.append((int(sid[i]), eid, int(tsf[i]), ets))

    def _bind(idx, j):
        """Vectorized binding of step j for partials (by index array) at
        their pos: past-end ⇒ pending W(j); else the row must satisfy
        the predicate and (except a fresh step-0 start) be contiguous.
        Returns the indices that bound, with their row positions."""
        p = pos[idx]
        past = p >= n
        pending[idx[past]] = True
        inb, pi = idx[~past], p[~past]
        okc = fl[pi, j]
        if j > 0:
            okc = okc & cont[pi]
        alive[inb[~okc]] = False
        return inb[okc], pi[okc]

    for j in range(k):
        m = alive & ~pending & (stp == j)
        if not m.any():
            continue
        if quant[j] == "+":
            st = stops[j]
            # split BEFORE mutating: handling the resumed cohort
            # rewrites run/stp in place, and a rebound resumed partial
            # must NOT re-enter this step's fresh-binding arm
            mri = np.flatnonzero(m & run)
            mbi = np.flatnonzero(m & ~run)
            if len(mri):
                stop0 = int(st[0]) if len(st) else -1
                if stop0 == -1:
                    pending[mri] = True  # still in run past batch
                elif j == k - 1:
                    alive[mri] = False
                    for i in mri.tolist():
                        _emit(i, stop0 - 1)
                else:
                    pos[mri] = stop0  # bind next step at the stop
                    stp[mri] = j + 1
                    run[mri] = False
            # fresh bindings at pos = start of a new run
            if len(mbi):
                bi, bp = _bind(mbi, j)
                if len(bi):
                    nx = np.searchsorted(st, bp, side="right")
                    has_stop = nx < len(st)
                    # no stop in batch ⇒ pending R(j)
                    pending[bi[~has_stop]] = True
                    run[bi[~has_stop]] = True
                    wi, sp = bi[has_stop], st[nx[has_stop]]
                    if j == k - 1:
                        alive[wi] = False
                        for i, e in zip(wi.tolist(), sp.tolist()):
                            _emit(i, int(e) - 1)
                    else:
                        pos[wi] = sp
                        stp[wi] = j + 1
        else:  # quantifier '1'
            bi, bp = _bind(np.flatnonzero(m), j)
            if len(bi):
                if j == k - 1:
                    alive[bi] = False
                    for i, e in zip(bi.tolist(), bp.tolist()):
                        _emit(i, int(e))
                else:
                    pos[bi] = bp + 1
                    stp[bi] = j + 1
    live = alive & pending
    if within is not None and "+" in quant:
        # minimal possible completion span already too long
        live &= (int(ts[-1]) - tsf) <= within
    return (sid[live], tsf[live], stp[live], run[live]), matches


def stream_match_events(
    df: DataFrame,
    key: str,
    id_col: str,
    steps: Sequence[Column],
    ts_col: str | None = None,
    within: int | None = None,
    mode: str = "strict",
    quantifiers: str | Sequence[str] | None = None,
) -> DataFrame:
    """CEP sequence match in streaming — the stateful counterpart of
    ``operators.cep.match_events`` (same contract: per-key DENSE
    monotone ids, overlapping matches, nulls = False; see that module's
    docstring for the semantics and the north-rule motivation).

    One per-key processor serves every mode. The input is projected to
    (key, id, [ts], one boolean column per step predicate) in a single
    Catalyst ``select``. Per micro-batch, each key's rows are gathered
    across all of its Arrow chunks and sorted once by id
    (``_bucket_rows``); the CB "drop" rule applies once
    (``_drop_seen``: ids at or below the key's last id are discarded —
    the reference out-of-order drop, win_seq.hpp:289-305 — and a
    repeated id keeps its first occurrence); then the mode's numpy
    kernel runs once: ``_contiguity_kernel`` for strict mode, a strict
    pattern being the all-'1' case of its quantifiers, or
    ``_skip_kernel``.

    State per key (``_CEP_STATE``) is its pending partial matches plus
    the last seen (id, ts): O(active partials), not stream length. A
    match is emitted exactly once, in the batch its COMPLETING row
    arrives. No EOS flush arm is needed: a sequence either completed or
    it didn't — there is no partial-match state to finalize, unlike
    windows (eosnotify).

    - Strict, all '1': a partial waiting for its next step dies on the
      next row unless that row matches, so a key holds at most k-1
      partials. ``within`` only filters completions (ts_last − ts_first
      ≤ within), as in batch; ts may run in any order.
    - ``quantifiers`` ('1' / '+' per step, batch ``match_events``
      semantics): strict-mode Kleene-plus with GREEDY-MAXIMAL runs. An
      in-run partial persists only while its run keeps extending, so
      state is bounded by run length; with ``within``, a pending
      partial also expires once its minimal possible span exceeds it,
      which requires ``ts_col`` non-decreasing with ``id_col`` per key.
      One stream-end caveat, batch-parity-excepted: a FINAL ``+``
      step's run is emitted when a later row CLOSES it (predicate fails
      or id gap — gap closure is a completed match, exactly like
      batch); a run still open when the stream ends is never emitted,
      whereas batch emits its partition-end run.
    - ``mode="skip"`` is skip-till-next-match (operators/cep.py
      semantics: every step-0 row opens an overlapping match; each
      later step binds to the EARLIEST following satisfying row). It
      REQUIRES ``ts_col`` + ``within``, which is what bounds the state:
      a pending partial expires once the last seen ts minus its
      ts_first exceeds ``within``. Contract: ``ts_col`` is
      non-decreasing with ``id_col`` per key (event-time-ordered ids —
      true of the renumbered transcript/CB ids the engine uses), so the
      expiry proves no future completion.

    The key may be of any type. Checkpoints of the strict and skip
    processors from before the shared state layout do not resume.
    """
    k = len(steps)
    if k < 2:
        raise ValueError("a sequence pattern needs at least 2 steps")
    if within is not None and ts_col is None:
        raise ValueError("within requires ts_col")
    if mode not in ("strict", "skip"):
        raise ValueError(f"unknown mode {mode!r}: expected 'strict' or 'skip'")
    if mode == "skip" and (within is None or ts_col is None):
        raise ValueError(
            "mode='skip' requires ts_col and within — the span bound is "
            "what keeps pending-match state bounded on an unbounded "
            "stream"
        )
    from windflow_spark.operators.cep import _normalize_quantifiers

    quant = _normalize_quantifiers(quantifiers, k)
    if "+" in quant and mode != "strict":
        raise ValueError(
            "Kleene-plus quantifiers are strict-mode only (greedy runs "
            "are defined by contiguity)"
        )
    kernel = (partial(_skip_kernel, within=int(within)) if mode == "skip"
              else partial(_contiguity_kernel, quant=quant, within=within))
    has_ts = ts_col is not None
    scols = [f"_s{j}" for j in range(k)]
    proj = df.select(
        *dict.fromkeys([key, id_col, *([ts_col] if has_ts else [])]),
        *[F.coalesce(s.cast("boolean"), F.lit(False)).alias(c) for s, c in zip(steps, scols)],
    )
    cols = {**dict.fromkeys(scols, bool), **({ts_col: np.int64} if has_ts else {})}
    m_cols = ["start_id", "end_id"] + (["ts_first", "ts_last"] if has_ts else [])
    out_schema = f"{key} {_key_ddl(df, key)}, " + ", ".join(f"{c} long" for c in m_cols)
    no_keys, no_id = np.empty(0, dtype=object), np.iinfo(np.int64).min

    def proc(
        kk: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        sid, tsf, stp, run, last_id, last_ts = (
            state.get if state.exists else ([], [], [], [], None, None)
        )
        _, kid, ids, vals = _bucket_rows(pdfs, key, id_col, cols, no_keys)
        last = np.array([no_id if last_id is None else last_id], dtype=np.int64)
        keep = _drop_seen(kid, ids, last)[0]
        if not keep.any():
            return
        ids = ids[keep]
        fl = np.column_stack([vals[c][keep] for c in scols])
        ts = vals[ts_col][keep] if has_ts else np.zeros(len(ids), dtype=np.int64)
        pending = (np.asarray(sid, dtype=np.int64), np.asarray(tsf, dtype=np.int64),
                   np.asarray(stp, dtype=np.int64), np.asarray(run, dtype=bool))
        pending, matches = kernel(pending, last_id, last_ts, ids, fl, ts)
        state.update((*(a.tolist() for a in pending), int(ids[-1]), int(ts[-1])))
        if matches:
            out = pd.DataFrame(matches, columns=["start_id", "end_id", "ts_first", "ts_last"])
            out.insert(0, key, kk[0])
            yield out[[key, *m_cols]]

    return proj.groupBy(key).applyInPandasWithState(
        proc, out_schema, _CEP_STATE, "append", GroupStateTimeout.NoTimeout
    )


def flush_cb_partials(
    spark: SparkSession,
    checkpoint: str,
    key: str,
    spec: WinSpec,
    aggs: dict[str, tuple[str, str | None]] | None = None,
    value_col: str | None = None,
    on_late: str = "drop",
) -> DataFrame:
    """EOS flush of still-open CB windows after a drain — the
    reference's ``eosnotify`` partial-window emission
    (includes/win_seq.hpp:432-474): when the stream ends, every window
    that never saw its last tuple is computed over what it DID see and
    emitted. The batch path gets this for free; a streaming
    ``availableNow`` drain leaves those windows in the state store —
    this reads them back and finalizes them.

    Spark-first shape: the state-store DATA SOURCE
    (``spark.read.format("statestore")``) reads the checkpoint's last
    committed state snapshot as a DataFrame — and because
    ``stream_cb_windows`` pops a window from state the moment it fires,
    whatever remains in a bucket row's ``(wk, wids, parts)`` IS exactly
    the set of partial windows; ``explode(arrays_zip(...))`` turns them
    into one row per window and ``element_at(keys, wk + 1)`` names its
    key. Finalization is pure Catalyst over the slot arrays (the
    same ``_CB_OPS`` registry layout the processor wrote), so the flush
    is a distributed scan + projection: no replay, no Python, no
    driver-side state walk — it scales with state size, not stream
    length.

    Returns the same schema as ``stream_cb_windows`` (key, gwid,
    aggs..., win_end); union with the drained sink for reference
    parity on truncated streams. Run AFTER the drain query has stopped
    (the reader takes the latest committed version).

    ``on_late`` must match the policy the DRAIN ran with. A
    ``"buffer"`` drain leaves the trailing lateness span of tuples
    un-folded in (bk, buf_ids, buf_vals); the reference's eosnotify
    folds those buffered tuples before emitting partials, so the
    buffered flush first folds the held rows (the processor's own
    ``_cb_step`` with lateness 0 — windows whose last
    tuple sat in the buffer fire here, they were never emitted by the
    drain) and then finalizes every still-open window. That path runs
    mapInPandas over the state rows (one per bucket, no shuffle — still
    scales with state size); the default drop/assume_ordered path
    stays pure Catalyst over the slot arrays.
    """
    if aggs is None:
        if value_col is None:
            raise ValueError("value_col or aggs required")
        aggs = {"sum_value": ("sum", value_col), "cnt": ("count", None)}
    if on_late not in ("assume_ordered", "drop", "buffer"):
        raise ValueError(f"unknown on_late policy {on_late!r}")
    for name, (op, _c) in aggs.items():
        if op not in _CB_OPS:
            raise ValueError(
                f"agg {name!r}: unknown op {op!r} (have {sorted(_CB_OPS)}) "
                "— a register_cb_op() registration is per-process; re-run "
                "it before flushing a drain that used the op"
            )
    st = spark.read.format("statestore").option("path", checkpoint).load()
    if on_late == "buffer" or any(
        _CB_OPS[op][5] is None for op, _c in aggs.values()
    ):
        # buffered drains AND user-registered ops without a Catalyst
        # finalizer route through the mapInPandas arm (Python finalize
        # over one state row per bucket, no shuffle; drop/assume_ordered
        # drains leave the buffer empty so only the finalize runs)
        return _flush_cb_buffered(st, key, spec, aggs)
    ex = st.select("value.groupState.*").select(
        "keys", F.explode(F.arrays_zip("wk", "wids", "parts")).alias("z")
    ).select(
        F.element_at("keys", F.col("z.wk").cast("int") + 1).alias(key),
        F.col("z.wids").alias(GWID),
        F.col("z.parts").alias("_p"),
    )
    out_cols, pos = [], 0
    for name, (op, _c) in aggs.items():
        n_slots, _k, _m, _f, sql_t, cat_fin = _CB_OPS[op]
        out_cols.append(cat_fin(F.col("_p"), pos).cast(sql_t).alias(name))
        pos += n_slots
    return ex.select(
        key,
        GWID,
        *out_cols,
        (F.col(GWID) * spec.slide + spec.win - 1).cast("long").alias("win_end"),
    )


def _flush_cb_buffered(st: DataFrame, key: str, spec: WinSpec, aggs: dict) -> DataFrame:
    """Buffered-drain EOS flush: fold each bucket's held rows into its
    open windows (the processor's own ``_cb_step`` with lateness 0, so
    the same last_id/dedup rule), then finalize everything left open.
    One state row per bucket → mapInPandas, no exchange."""
    in_cols = sorted({c for _, c in aggs.values() if c is not None})
    n_slots, ops, names = _cb_slots(aggs), _cb_ops(aggs), list(aggs)
    fold = _make_cb_fold(spec.win, spec.slide, aggs)
    none = np.empty(0, dtype=np.int64)

    def flush(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                s = _CBState.load(tuple(row), n_slots, len(in_cols))
                s, (fk, fw, fp) = _cb_step(
                    s, none, none, {c: np.empty(0) for c in in_cols}, fold, "buffer", 0
                )
                done = (np.concatenate([fk, s.wk]), np.concatenate([fw, s.wid]),
                        np.concatenate([fp, s.parts]))
                if len(done[0]):
                    yield _cb_frame(s.keys, done, ops, names, key, spec)

    rows = st.select("value.groupState.*")
    key_ddl = rows.schema["keys"].dataType.elementType.simpleString()
    return rows.mapInPandas(flush, _cb_out_schema(key, key_ddl, aggs))


#: Catalyst aggregation-buffer layout per declared op (slots appear in
#: the state value struct in agg declaration order; avg carries its
#: (sum, count) pair)
_TB_BUFFER_SLOTS = {"count": 1, "sum": 1, "min": 1, "max": 1, "avg": 2}

#: buffer field NAMES Catalyst writes per op (probed from real
#: checkpoints: count→'count', sum→'sum', min→'min', max→'max',
#: avg→('sum','count')) — validated against the declared aggs so a
#: flush run with a different-but-equal-slot-count aggs dict than the
#: drain's (e.g. min declared where the drain aggregated sum) fails
#: loud instead of silently decoding wrong values (ADVICE r5 #2)
_TB_BUFFER_FIELDS = {"count": ("count",), "sum": ("sum",), "min": ("min",),
                     "max": ("max",), "avg": ("sum", "count")}


def _check_buffer_fields(fields, aggs: dict[str, str], context: str) -> None:
    """Cross-check the checkpoint's aggregation-buffer field names
    against the declared ops (same order). Residual ambiguity, by
    construction: a drain's single ``avg`` exposes the same
    ('sum', 'count') field pair as a declared ``sum`` + ``count`` over
    a double column — indistinguishable from the schema alone; every
    single-op swap (sum vs min vs max vs count) IS caught."""
    expected = [
        (name, op, b) for name, op in aggs.items()
        for b in _TB_BUFFER_FIELDS[op]
    ]
    fields = list(fields)
    if len(fields) != len(expected):
        raise ValueError(
            f"{context}: checkpoint holds {len(fields)} aggregation-"
            f"buffer fields but the declared aggs expect "
            f"{len(expected)} — a name-prefix subset would pass the "
            "per-field check and fail later at the positional struct "
            "cast; pass the same aggs dict the drain ran with"
        )
    bad = [
        f"field {f.name!r} where agg {agg_name!r} ({op}) expects {exp_b!r}"
        for f, (agg_name, op, exp_b) in zip(fields, expected)
        if f.name.lower() != exp_b
    ]
    if bad:
        raise ValueError(
            f"{context}: checkpoint buffer fields do not match the "
            f"declared aggs — {'; '.join(bad)}; pass the same aggs "
            "dict the drain ran with"
        )


def _agg_buffer_cols(aggs: dict[str, str], slot_names: Sequence[str],
                     offset: int = 0) -> list[Column]:
    """Project declared-op aggregation buffers out of a positionally
    renamed state value struct ``_v`` — the decode loop shared by the
    TB and session eosnotify arms so the slot walk can't diverge
    between them: one output column per agg, avg = sum/count over its
    slot pair, starting at ``offset`` slots in."""
    out, pos = [], offset
    for name, op in aggs.items():
        col = (
            F.col(f"_v.{slot_names[pos]}") / F.col(f"_v.{slot_names[pos + 1]}")
            if op == "avg"
            else F.col(f"_v.{slot_names[pos]}")
        )
        out.append(col.alias(name))
        pos += _TB_BUFFER_SLOTS[op]
    return out


def flush_tb_partials(
    spark: SparkSession,
    checkpoint: str,
    keys: Sequence[str],
    spec: WinSpec,
    aggs: dict[str, str],
    unit: str = "second",
) -> DataFrame:
    """EOS flush of unemitted TB windows after an APPEND-mode drain —
    the time-based arm of the eosnotify rule (win_seq.hpp:432-474).
    Append mode emits a window only when the watermark passes its end,
    so every window inside the final watermark delay is still sitting
    in the aggregation state when an ``availableNow`` drain stops; a
    truncated stream therefore under-reports vs the reference (and vs
    the batch plan) by exactly those trailing windows. (The
    complete-mode memory sink doesn't have this gap — only the
    production parquet/append path does.)

    Spark emits-and-EVICTS below the watermark in the same micro-batch,
    so the statestore data source over the drain checkpoint reads
    exactly the unemitted windows: emitted ∪ flushed == the batch
    aggregate, row for row (asserted in tests). The state value struct
    carries the Catalyst aggregation BUFFERS in agg declaration order
    (avg = (sum, count)), hence ``aggs`` here maps each output name to
    its declared OP (one of sum/count/min/max/avg), mirroring the
    ``aggs`` dict the drain passed to ``stream_win_tb`` — a wrapped
    expression like ``F.round(F.sum(x), 4)`` buffers as its inner agg,
    so apply the rounding to this function's output, not inside.

    ``spec``/``unit`` recover gwid from the window start with the same
    formula as ``stream_win_tb`` (hopping's tumbling-of-slide rewrite
    included, since gwid divides by slide either way). Distributed
    scan + projection; no replay, no Python. Run after the drain query
    has stopped.
    """
    for name, op in aggs.items():
        if op not in _TB_BUFFER_SLOTS:
            raise ValueError(
                f"agg {name!r}: unknown op {op!r} (have {sorted(_TB_BUFFER_SLOTS)})"
            )
    micros_per = {"microsecond": 1, "millisecond": 1_000, "second": 1_000_000}[unit]
    st = spark.read.format("statestore").option("path", checkpoint).load()
    # the TB value struct is exactly the agg buffers, declaration order
    _check_buffer_fields(
        st.schema["value"].dataType.fields, aggs, "flush_tb_partials"
    )
    # buffer field NAMES duplicate across aggs (two sums ⇒ two 'sum'
    # fields), which trips analysis on by-name access AND the V2
    # pushdown rule on `value.*`; struct CASTS are positional, so cast
    # the whole buffer struct to uniquely-named slots instead. Counts
    # stay bigint; value slots go through double (sum/min/max over an
    # integer column buffer as long — exact to 2^53).
    slot_types = {"count": ["bigint"], "sum": ["double"], "min": ["double"],
                  "max": ["double"], "avg": ["double", "bigint"]}
    slots = [t for op in aggs.values() for t in slot_types[op]]
    slot_names = [f"_s{i}" for i in range(len(slots))]
    ddl = ", ".join(f"{n}: {t}" for n, t in zip(slot_names, slots))
    flat = st.select(
        *[F.col(f"key.{k}").alias(k) for k in keys],
        F.col("key.window.start").alias("_wstart"),
        F.col("value").cast(f"struct<{ddl}>").alias("_v"),
    )
    return flat.select(
        *keys,
        *_agg_buffer_cols(aggs, slot_names),
        floordiv(F.unix_micros(F.col("_wstart")), spec.slide * micros_per)
        .alias(GWID),
    )


def flush_session_partials(
    spark: SparkSession,
    checkpoint: str,
    keys: Sequence[str],
    aggs: dict[str, str],
) -> DataFrame:
    """EOS flush of unemitted SESSION windows after an append-mode
    drain — the session arm of the eosnotify rule (win_seq.hpp:432-474),
    completing the symmetry with ``flush_cb_partials`` (count windows)
    and ``flush_tb_partials`` (time windows): append mode emits a
    session only once the watermark passes its end, so the trailing
    watermark-delay span of sessions is still in the session-merge
    state when an ``availableNow`` drain stops.

    The statestore data source reads that state as one row per open
    session — key = (group keys, sessionStartTime), value = (group
    keys, session_window struct, then the Catalyst aggregation BUFFERS
    in agg declaration order, avg = (sum, count)) — and because Spark
    emits-and-evicts closed sessions in the same micro-batch, what
    remains IS exactly the unemitted set: emitted ∪ flushed == the
    batch session output, row for row (gate: streaming_session_eos).

    ``aggs`` maps each output name to its declared op (sum/count/min/
    max/avg), mirroring the dict passed to ``stream_session`` — same
    contract as ``flush_tb_partials``. Buffer field names duplicate
    across aggs, so the value struct is cast POSITIONALLY to
    uniquely-named slots (types taken from the checkpoint's own
    schema). Output matches ``stream_session``: (keys…, aggs…,
    session_start, session_end_excl). Pure scan + projection; run
    after the drain query has stopped."""
    for name, op in aggs.items():
        if op not in _TB_BUFFER_SLOTS:
            raise ValueError(
                f"agg {name!r}: unknown op {op!r} (have {sorted(_TB_BUFFER_SLOTS)})"
            )
    st = spark.read.format("statestore").option("path", checkpoint).load()
    vt = st.schema["value"].dataType
    n_expected = len(keys) + 1 + sum(_TB_BUFFER_SLOTS[op] for op in aggs.values())
    if len(vt.fields) != n_expected:
        raise ValueError(
            f"session state value has {len(vt.fields)} fields, expected "
            f"{n_expected} for {len(keys)} keys + window + declared aggs "
            "— pass the same keys/aggs the drain used"
        )
    # beyond the slot COUNT, the buffer field names must match the
    # declared ops (ADVICE r5 #2: {'a':'avg'} vs {'x':'sum','y':'min'}
    # have equal slot totals but different buffers)
    _check_buffer_fields(
        vt.fields[len(keys) + 1:], aggs, "flush_session_partials"
    )
    slot_names = [f"_s{i}" for i in range(len(vt.fields))]
    ddl = ", ".join(
        f"{n}: {f.dataType.simpleString()}" for n, f in zip(slot_names, vt.fields)
    )
    flat = st.select(
        *[F.col(f"key.{k}").alias(k) for k in keys],
        F.col("value").cast(f"struct<{ddl}>").alias("_v"),
    )
    win_slot = slot_names[len(keys)]  # the session_window struct
    return flat.select(
        *keys,
        *_agg_buffer_cols(aggs, slot_names, offset=len(keys) + 1),
        F.unix_micros(F.col(f"_v.{win_slot}.start").cast("timestamp")).alias(
            "session_start"
        ),
        F.unix_micros(F.col(f"_v.{win_slot}.end").cast("timestamp")).alias(
            "session_end_excl"
        ),
    )


def stream_accumulate(
    df: DataFrame,
    key: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming Accumulator: keyed rolling reduce emitting the running
    (sum, count) after EVERY input tuple (reference
    includes/accumulator.hpp:157-192, emit at :181) via the key-group
    stateful processor of stream_cb_windows: one Python call per hash
    bucket per micro-batch, one state row per bucket holding each key's
    (s, c). Requires per-key-ordered arrival (same contract as
    stream_cb_windows); within a micro-batch each key's rows are sorted
    by id once, across all of its Arrow chunks. A null value counts in
    running_cnt (``count(*)``) and is skipped by running_sum, which is
    null until the key's first non-null value — SQL ``sum`` over the
    running frame, as in batch ``accumulate``. The key may be of any
    type."""
    key_ddl = _key_ddl(df, key)
    out_schema = f"{key} {key_ddl}, {id_col} long, running_sum double, running_cnt long"
    state_schema = f"keys array<{key_ddl}>, s array<double>, c array<long>"

    def proc(
        _bk: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        known, s0, c0 = state.get if state.exists else ([], [], [])
        keys, kid, ids, vals = _bucket_rows(
            pdfs, key, id_col, {value_col: np.float64}, np.asarray(known, dtype=object)
        )
        if not len(ids):
            return
        fresh = len(keys) - len(known)
        # s is NaN for a key with no non-null value yet (a null sum)
        s = np.concatenate([np.asarray(s0, dtype=np.float64), np.full(fresh, np.nan)])
        c = np.concatenate([np.asarray(c0, dtype=np.int64), np.zeros(fresh, dtype=np.int64)])
        # per-key running sums of the non-null values in id order (a
        # segmented cumsum) and whether the key has had one yet
        v = vals[value_col]
        g = pd.DataFrame({"v": np.nan_to_num(v), "n": ~np.isnan(v)}).groupby(kid, sort=False)
        run = g.cumsum()
        had = ~np.isnan(s[kid]) | (run["n"].to_numpy() > 0)
        run_s = np.where(had, np.nan_to_num(s[kid]) + run["v"].to_numpy(), np.nan)
        run_c = c[kid] + g.cumcount().to_numpy() + 1
        ends = _run_ends(kid)
        s[kid[ends]], c[kid[ends]] = run_s[ends], run_c[ends]
        state.update((keys.tolist(), s.tolist(), c.tolist()))
        yield pd.DataFrame(
            {key: keys[kid], id_col: ids, "running_sum": run_s, "running_cnt": run_c}
        )

    return _key_groups(df, key, [id_col, value_col]).applyInPandasWithState(
        proc, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    bound_secs: int,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: right events within
    [left_ts - bound, left_ts] on equal keys (north-rule assistant ↔
    triggering user/tool correlation). Emits ALL matches in the bound;
    a downstream aggregate picks the latest (the batch asof_join does
    both in one plan)."""
    l = _as_ts(left, left_ts).withWatermark(left_ts, watermark).alias("l")
    r = _as_ts(right, right_ts).withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {bound_secs} SECONDS")
        )
    )
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    return l.join(r, on=cond, how="inner")


def run_available_now(
    df: DataFrame,
    sink_path: str,
    checkpoint: str,
    output_mode: str = "append",
    timeout_sec: int = 300,
) -> None:
    """Drain the stream exactly-once into a parquet sink: availableNow
    processes the full backlog through the normal micro-batch +
    checkpoint machinery then stops (crash-resumable at any point —
    the checkpoint manifest dedups on restart)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"stream did not drain in {timeout_sec}s")


def run_to_memory(
    df: DataFrame, name: str, spark: SparkSession, output_mode: str = "complete",
    timeout_sec: int = 300,
) -> DataFrame:
    """availableNow drain into an in-memory table (test/inspection sink)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"stream did not drain in {timeout_sec}s")
    return spark.table(name)


class MetricsListener:
    """Per-batch lineage + metrics JSONL (north rule: per-partition
    lineage and metrics; the Spark analogue of the reference's
    per-replica LOG_DIR stats, includes/win_seq.hpp:479-502)."""

    def __init__(self, out_path: str):
        self.out_path = out_path
        self.rows: list[dict] = []

    def attach(self, spark: SparkSession) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "ts": p.timestamp,
                    "batch_id": p.batchId,
                    "num_input_rows": p.numInputRows,
                    "input_rows_per_sec": p.inputRowsPerSecond,
                    "processed_rows_per_sec": p.processedRowsPerSecond,
                    "batch_duration_ms": p.batchDuration,
                    "sources": [s.description for s in p.sources],
                    "state_rows": [
                        so.numRowsTotal for so in p.stateOperators
                    ],
                    "watermark": p.eventTime.get("watermark")
                    if p.eventTime
                    else None,
                }
                outer.rows.append(rec)
                with open(outer.out_path, "a") as f:
                    f.write(json.dumps(rec) + "\n")

            def onQueryTerminated(self, event):
                pass

            def onQueryIdle(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self._listener)

    def p99_batch_ms(self) -> float | None:
        if not self.rows:
            return None
        # nearest rank: the ceil(0.99·n)-th smallest duration
        ds = sorted(r["batch_duration_ms"] for r in self.rows)
        return ds[math.ceil(0.99 * len(ds)) - 1]


def run_available_now_ordered(
    df: DataFrame,
    sink_path: str,
    checkpoint: str,
    order_by: Sequence[str],
    timeout_sec: int = 300,
) -> None:
    """Exactly-once drain with ORDERED per-micro-batch emission — the
    WF_Collector semantics (wf_nodes.hpp:399-468) in streaming: each
    batch's results are written sorted by ``order_by`` (cross-batch
    total order additionally needs the deterministic (key, gwid) sort
    the readers apply — same caveat the reference documents for
    multi-emitter runs).

    foreachBatch alone is at-least-once (a crash between write and
    checkpoint commit replays the batch), so the write is made
    idempotent: each batch lands in its own ``batch_id=<n>`` partition
    directory with mode=overwrite — a replay rewrites the same
    directory instead of appending duplicates. Readers get a
    ``batch_id`` partition column for free (per-batch lineage)."""

    def write_sorted(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.orderBy(*order_by)
            .write.mode("overwrite")
            .parquet(f"{sink_path}/batch_id={batch_id}")
        )

    q = (
        df.writeStream.foreachBatch(write_sorted)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"stream did not drain in {timeout_sec}s")
