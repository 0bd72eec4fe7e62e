"""Deterministic sampling, splitting, mixing, and sequence packing for
training-data pipelines.

A 100 TB corpus run needs its sampling decisions to be (a) reproducible
across reruns and engines (resumable pipelines, auditable splits) and
(b) free of coordination — every operator here decides per-row from a
portable hash of the row's own id, so the hot path is map-side-only
Catalyst with zero shuffles (splitting, Bernoulli sampling, mixing) or
exactly one keyed exchange (k-per-key sampling, sequence packing).

Hash material is md5-based like the dedup signatures
(functions/dedup.py:14-16): Spark's ``hash()``/``rand()`` are
engine-private, md5 reproduces bit-exactly in any engine, so a DuckDB
oracle can verify every sampled row. WindFlow parity: the reference's
operators take arbitrary user functions over keyed streams
(map.hpp:55-438, builders.hpp:190); these are the data-pipeline
specializations SURVEY §2 extends the algebra with.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from windflow_spark.operators.windows import floordiv

# 15 hex chars of md5 = 60 bits; dividing by 2^60 gives a uniform
# double in [0, 1). Both engines round the 60->53-bit mantissa the same
# way (IEEE), so threshold comparisons agree bit-exactly.
_HASH_DENOM = float(1 << 60)


def hash60(col: Column | str, salt: str = "") -> Column:
    """Portable 60-bit hash of a column (cast to string) + salt.
    DuckDB equivalent: ``('0x' || substr(md5(cast(x AS varchar) ||
    'salt'), 1, 15))::UBIGINT``."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 15), 16, 10)
        .cast("long")
    )


def uniform01(col: Column | str, salt: str = "") -> Column:
    """Deterministic uniform double in [0, 1) from a row id. Different
    salts give independent draws, so one id can drive a split decision
    AND a sampling decision without correlation."""
    return hash60(col, salt) / F.lit(_HASH_DENOM)


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, float]]:
    """Normalize split weights into cumulative upper thresholds, in the
    dict's insertion order; the last split absorbs all residual mass
    (its threshold is exactly 1.0, immune to float drift). Exposed so
    oracle SQL can embed the identical literals."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    out: list[tuple[str, float]] = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        # clamp: cumulative float drift can overshoot 1.0 (e.g. a
        # zero-weight tail after weights {2.0, 2.00001}), breaking the
        # monotone-thresholds contract against the pinned 1.0 tail
        acc = min(acc + weights[name] / total, 1.0)
        out.append((name, acc))
    out.append((names[-1], 1.0))
    return out


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split: each row lands in exactly one
    split by hashing its id — stable under reruns, repartitioning, and
    row-order changes, and disjoint by construction. Map-side only: the
    plan adds one projection, no exchange, so at 100 TB this is free
    (fused into whatever scan/filter precedes it)."""
    u = uniform01(id_col, salt)
    expr = None
    for name, hi in split_thresholds(weights)[:-1]:
        case = F.when(u < F.lit(hi), F.lit(name))
        expr = case if expr is None else expr.when(u < F.lit(hi), F.lit(name))
    last = split_thresholds(weights)[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float] | float,
    key_col: str | None = None,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic Bernoulli sample, optionally with a per-stratum
    rate (``fractions`` as ``{stratum: rate}`` over ``key_col``).
    Strata absent from the dict are dropped (rate 0). Map-side only —
    the filter pushes into the scan, so downsampling a 100 TB corpus
    reads full data once but shuffles nothing."""
    u = uniform01(id_col, salt)
    if isinstance(fractions, dict):
        if key_col is None:
            raise ValueError("key_col is required with per-stratum fractions")
        pairs: list[Column] = []
        for k, v in fractions.items():
            pairs += [F.lit(k), F.lit(float(v))]
        rate = F.coalesce(
            F.create_map(*pairs)[F.col(key_col)], F.lit(0.0)
        )
    else:
        rate = F.lit(float(fractions))
    return df.filter(u < rate)


def mix_sources(
    dfs: dict[str, DataFrame],
    rates: dict[str, float],
    id_col: str,
    source_col: str = "source",
    salt: str = "mix",
) -> DataFrame:
    """Dataset mixing: union the sources, each downsampled to its rate,
    tagged with the source name. The per-source salt includes the
    source name so the same id appearing in two sources draws
    independently. Union of map-side filters — zero shuffles."""
    parts = []
    for name, df in dfs.items():
        rate = float(rates.get(name, 0.0))
        sampled = df.filter(uniform01(id_col, salt + ":" + name) < F.lit(rate))
        parts.append(sampled.withColumn(source_col, F.lit(name)))
    if not parts:
        raise ValueError("dfs must be non-empty")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sample_k_per_key(
    df: DataFrame,
    key_col: str,
    k: int,
    id_col: str,
    salt: str = "kper",
    salt_parts: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic uniform k-sample per key: the k rows with the
    smallest hash per key (hash ties broken by id — the CLAUDE.md
    deterministic-tiebreak rule). Equivalent to a seeded reservoir
    sample but order-independent and rerun-stable.

    With ``weight_col``, a WEIGHTED sample without replacement
    (Efraimidis-Spirakis A-ES): each row draws an exponential jitter
    ``-ln(u)/w`` from its own hash and the k smallest win — inclusion
    probability proportional to weight, still fully deterministic.
    Rows with null or non-positive weight are excluded.

    Scale path: min-k is order-insensitive, so with ``salt_parts = S``
    the rank runs in two stages — k survivors per (key, pmod(hash, S))
    sub-group first, then the final k from ≤ S·k survivors per key —
    the same salted decomposition as win_mapreduce.py:32-64. A hot key
    holding 1% of a 100 TB corpus never single-threads one task;
    results are identical to the one-stage rank (both orderings are
    per-row functions, so stage-1 never evicts a global top-k row)."""
    if k <= 0:
        raise ValueError("k must be positive")
    base = df.withColumn("_hi", hash60(id_col, salt))
    if weight_col is not None:
        wc = F.col(weight_col).cast("double")
        base = base.filter(wc.isNotNull() & (wc > 0))
        # u in (0, 1]: +1 dodges ln(0) at the 2^-60 corner
        u = (F.col("_hi") + F.lit(1)) / F.lit(_HASH_DENOM)
        base = base.withColumn("_rk", -F.log(u) / wc)
    else:
        base = base.withColumn("_rk", F.col("_hi"))
    order = [F.col("_rk").asc(), F.col(id_col).asc()]
    if salt_parts and salt_parts > 1:
        # sub-group on the INTEGER hash (uniform buckets even when the
        # rank key is the weighted double jitter)
        sub = Window.partitionBy(
            F.col(key_col), F.pmod(F.col("_hi"), F.lit(int(salt_parts)))
        ).orderBy(*order)
        base = (
            base.withColumn("_rs", F.row_number().over(sub))
            .filter(F.col("_rs") <= k)
            .drop("_rs")
        )
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        base.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r", "_rk", "_hi")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    key_col: str | None = None,
    order_col: str | None = None,
    bin_col: str = "bin_id",
    dense: bool = False,
    bucket_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget bins (offline sequence
    packing for LLM pretraining shards): documents are laid out in a
    deterministic order (``order_col``, tie-broken by id; default the
    id itself), and a document starting at cumulative token offset t
    goes to bin ``t div budget``. Bin ids are deterministic and
    non-decreasing in layout order, and a bin holds less than
    ``budget + its largest document`` tokens — the standard streaming
    first-fit approximation. Bin ids are contiguous from 0 only
    while every document fits the budget: a document spanning multiple
    budget units advances the offset past the skipped bins (ids stay
    meaningful as exact token offsets ÷ budget — property-tested in
    tests/test_property_sampling.py). ``dense=True`` renumbers bins
    contiguously per key via dense_rank; use it when bin ids name
    output shards.

    Without ``bucket_col`` the layout is a single window cumsum — one
    exchange, but ONE SORT TASK PER KEY VALUE: fine when ``key_col``
    has high cardinality (per-source layouts), a scale-killer when it
    is a 2-3-value split column over a 100 TB corpus.

    ``bucket_col`` switches to the two-pass distributed prefix sum —
    the Win_MapReduce running-sum decomposition (win_mapreduce.hpp:
    147-184) applied to the layout offset. CONTRACT: ``bucket_col``
    must be non-decreasing along the layout order within each key
    (any coarsening of the leading order key qualifies — e.g.
    ``floordiv(order, span)``, a date of a timestamp order, a prefix
    of the id), so sorting by (bucket, order) equals sorting by
    (order). Pass 1 aggregates per-(key, bucket) token totals (one
    map-combined exchange whose OUTPUT is |keys|·|buckets| rows);
    their per-key cumulative offsets are a window over that tiny
    table; pass 2 broadcasts the offsets back and runs the cumsum
    window per (key, bucket) — the sort parallelism becomes bucket
    cardinality, never one task per split. Bin contents are IDENTICAL
    to the single-window layout (parity-tested). Both passes read
    ``df``, and Spark re-runs a shared lazy input per reader, so the
    bucketed branch first materialises ``df`` with a lazy local
    checkpoint: its upstream (a dedup semi-join, a split, a token
    count...) runs ONCE, inside the caller's action. ``dense=True``
    decomposes the same way: per-bucket distinct-bin counts, minus a
    boundary bin shared with the previous bucket, prefix-summed into
    per-bucket dense offsets added to the per-bucket dense_rank.

    Bin ids use exact integer floor division (windows.py:82-92) — token
    counts are int64 and cumulative sums at corpus scale exceed 2^53,
    where double-division ``F.floor`` goes lossy."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    order = (
        [F.col(order_col).asc(), F.col(id_col).asc()]
        if order_col
        else [F.col(id_col).asc()]
    )
    tok = F.col(token_col).cast("long")
    if bucket_col is None:
        parts = [F.col(key_col)] if key_col else [F.lit(0)]
        w = Window.partitionBy(*parts).orderBy(*order)
        start = (F.sum(tok).over(w) - tok).alias("_start")
        out = df.withColumn(bin_col, floordiv(start, int(budget)))
        if dense:
            dw = Window.partitionBy(*parts).orderBy(F.col(bin_col).asc())
            out = out.withColumn(
                bin_col, (F.dense_rank().over(dw) - F.lit(1)).cast("long")
            )
        return out

    # ---- bucketed two-pass layout --------------------------------
    # pass 1 (totals) and pass 2 (the broadcast join) both read df
    df = df.localCheckpoint(eager=False)
    keys = ([key_col] if key_col else []) + [bucket_col]
    kparts = [F.col(key_col)] if key_col else [F.lit(0)]
    owin = Window.partitionBy(*kparts).orderBy(F.col(bucket_col).asc())
    totals = df.groupBy(*keys).agg(F.sum(tok).alias("_btot"))
    offsets = totals.withColumn(
        "_boff", (F.sum("_btot").over(owin) - F.col("_btot")).cast("long")
    ).drop("_btot")
    lparts = ([F.col(key_col)] if key_col else []) + [F.col(bucket_col)]
    lwin = Window.partitionBy(*lparts).orderBy(*order)
    start = F.col("_boff") + F.sum(tok).over(lwin) - tok
    out = (
        df.join(F.broadcast(offsets), on=keys, how="inner")
        .withColumn(bin_col, floordiv(start, int(budget)))
        .drop("_boff")
    )
    if dense:
        # the layout table feeds BOTH the dense-stats aggregate and the
        # final renumber join; without materialization each branch
        # re-runs the upstream join + per-bucket cumsum window from the
        # source (guide §3.3 "materialise an intermediate" — lazy local
        # checkpoint, computed once inside the caller's action).
        out = out.localCheckpoint(eager=False)
        stats = out.groupBy(*keys).agg(
            F.count_distinct(F.col(bin_col)).alias("_nd"),
            F.min(bin_col).alias("_minb"),
            F.max(bin_col).alias("_maxb"),
        )
        # a bin spanning the bucket boundary is counted in both
        # buckets' distincts; it is shared iff this bucket's min bin
        # equals the previous bucket's max bin (bins are
        # non-decreasing in layout order)
        shared = F.when(
            F.col("_minb") == F.lag("_maxb").over(owin), F.lit(1)
        ).otherwise(F.lit(0))
        new_bins = F.col("_nd") - F.col("_shared")
        dense_offsets = (
            stats.withColumn("_shared", shared)
            .withColumn(
                "_dbase",
                (F.sum(new_bins).over(owin) - new_bins).cast("long"),
            )
            .select(*keys, "_shared", "_dbase")
        )
        dwin = Window.partitionBy(*lparts).orderBy(F.col(bin_col).asc())
        out = (
            out.join(F.broadcast(dense_offsets), on=keys, how="inner")
            .withColumn(
                bin_col,
                (
                    F.col("_dbase")
                    + F.dense_rank().over(dwin)
                    - F.lit(1)
                    - F.col("_shared")
                ).cast("long"),
            )
            .drop("_shared", "_dbase")
        )
    return out
