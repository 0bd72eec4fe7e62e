"""CEP sequence matching over keyed, id-ordered event tables/streams.

The north rule names a "structured-streaming / CEP engine". The
reference (WindFlow) calls its operators "patterns" (SURVEY §2 — all
covered elsewhere) but ships no event-SEQUENCE matching, so this module
is an extension in the same spirit as sessions/asof (COVERAGE 2.7):
strict-contiguity sequence match — SASE-style SEQ with overlapping
matches — expressed Spark-first.

- Batch (`match_events`): pure lead() window expressions — ONE shuffle
  by key, whole-stage codegen, no Python. A k-step pattern is k boolean
  projections + (k-1) leads + one id-contiguity lead; Catalyst folds it
  into a single Window node.
- Streaming (`windflow_spark.streaming.engine.stream_match_events`):
  one per-key stateful processor for every mode. Each micro-batch sorts
  a key's rows once by id, drops ids it has already passed, and runs a
  numpy kernel once (strict mode is the all-'1' case of the contiguity
  kernel). State is the key's pending partial matches plus its last
  (id, ts): at most k-1 partials per key in strict mode, O(active
  partials) with a `+` or in skip mode, never O(stream). A match emits
  exactly once, when its completing row arrives; there are no partial
  matches to flush at EOS (a sequence either completed or it didn't).

Contract: ``id_col`` is a per-key DENSE monotone integer id (the
TS_RENUMBERING contract the CB operators already use — cb_ids /
turn_idx). Strict contiguity is enforced as ``id(end) == id(start) +
k - 1``; because ids are strictly increasing integers, that single
check pins every intermediate row too. On non-dense ids the check
makes gaps unmatched (strictness), it does not crash.

100 TB posture: batch is one hash-partition shuffle on the key + a
sorted window scan (the same shape as any keyed window agg; skew =
hot keys, same salting story as Key_Farm); streaming state in strict
mode is at most k-1 partials per key regardless of stream length.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def match_events(
    df: DataFrame,
    keys: str | Sequence[str],
    id_col: str,
    steps: Sequence[Column],
    ts_col: str | None = None,
    within: int | None = None,
    mode: str = "strict",
    quantifiers: str | Sequence[str] | None = None,
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """All overlapping matches of ``steps`` per key.

    ``steps``: one boolean Column predicate per pattern step, each
    evaluated on its own row (nulls count as False). ``ts_col``: an
    integer epoch-micros column (the engine-wide `epoch_us` contract);
    when given, ``ts_first``/``ts_last`` are emitted and ``within``
    bounds ``ts_last - ts_first``. Returns (keys..., start_id, end_id
    [, ts_first, ts_last]) — one row per match start.

    ``mode="strict"``: strict contiguity (SASE SEQ with no skipping) —
    the k rows must be id-consecutive; requires DENSE per-key ids.
    ``mode="skip"``: skip-till-next-match — each step binds to the
    EARLIEST later row satisfying it, other rows in between are
    ignored ("user asks → tool call → assistant answers, other turns
    between"). Every step-0 row starts its own (possibly overlapping)
    match; greedy-earliest binding means a ``within`` bound is exact —
    if the earliest completion exceeds it, every other completion
    would too. Ids only need to be strictly increasing per key, not
    dense. Plan: ONE keyed window stack — per-step next-occurrence
    pointers are running mins of structs that CARRY the suffix
    completion (r8 zero-join formulation; no self-joins, one
    exchange) — never a posting-list product.

    ``quantifiers``: one of ``'1'`` (exactly one row — the default)
    or ``'+'`` (one or more contiguous rows, GREEDY-MAXIMAL) per
    step, as a string like ``"1+1"`` or a sequence. Kleene-plus is
    strict-mode only (SASE ``SEQ(A, B+, C)`` under contiguity): a
    ``+`` step consumes the maximal run of rows satisfying its
    predicate, and the NEXT step binds at the first row where that
    predicate fails (even if it would also satisfy the next step
    earlier — greedy is what makes the match deterministic and the
    output linear in starts, where all-sub-runs semantics is
    quadratic in run length). A final ``+`` step's run may end at the
    partition end. ``within`` filters the greedy match's span; it
    does not backtrack to a shorter sub-run. Emits ``end_id`` of the
    greedy match; overlapping starts each emit their own match.
    Plan: the per-+-step run boundary is "first ¬p strictly after" —
    a running min over every later row (``_backward``: a running
    frame over the reversed order, linear per key), its struct
    carrying the next step's completion (r8 zero-join formulation; no
    self-joins, one exchange).

    ``order_by``: optional window-ordering columns that MUST induce
    the same per-key total order as ``id_col`` (e.g. the columns the
    id was renumbered from — the cb_ids/TS_RENUMBERING inputs); results
    are identical by the order-isomorphism contract — the engine
    trusts the caller here, exactly like the dense-id contract. When
    the upstream pipeline already sorted by exactly these attributes,
    EnsureRequirements recognizes the ordering and skips the re-sort
    that an ascending window would otherwise insert. That spares the
    sort of strict mode and of Kleene's forward windows only: skip
    mode's windows, and Kleene's later-row mins, run over the reversed
    (``_backward``) order, which an ascending upstream never satisfies,
    so they keep their sort.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    k = len(steps)
    if k < 2:
        raise ValueError("a sequence pattern needs at least 2 steps")
    if within is not None and ts_col is None:
        raise ValueError("within requires ts_col")
    if mode not in ("strict", "skip"):
        raise ValueError(f"unknown mode {mode!r}: expected 'strict' or 'skip'")
    quant = _normalize_quantifiers(quantifiers, k)
    order = (
        [F.expr(o) if isinstance(o, str) else o for o in order_by]
        if order_by
        else [F.col(id_col)]
    )
    if "+" in quant:
        if mode != "strict":
            raise ValueError(
                "Kleene-plus quantifiers are strict-mode only: a greedy "
                "run is defined by contiguity; combine mode='skip' with "
                "quantifiers='1'*k instead"
            )
        return _match_events_kleene(
            df, keys, id_col, steps, quant, ts_col, within, order
        )
    if mode == "skip":
        return _match_events_skip(df, keys, id_col, steps, ts_col, within, order)
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df
    for j, s in enumerate(steps):
        out = out.withColumn(f"_s{j}", F.coalesce(s.cast("boolean"), F.lit(False)))
    cond = F.col("_s0")
    for j in range(1, k):
        cond = cond & F.coalesce(F.lead(f"_s{j}", j).over(w), F.lit(False))
    # dense monotone ids: end == start + k-1 pins all intermediates
    cond = cond & (F.lead(F.col(id_col), k - 1).over(w) == F.col(id_col) + (k - 1))
    sel = [
        *keys,
        F.col(id_col).cast("long").alias("start_id"),
        (F.col(id_col) + (k - 1)).cast("long").alias("end_id"),
    ]
    if ts_col is not None:
        out = out.withColumn("_ts_last", F.lead(ts_col, k - 1).over(w))
        if within is not None:
            cond = cond & ((F.col("_ts_last") - F.col(ts_col)) <= within)
        sel += [
            F.col(ts_col).cast("long").alias("ts_first"),
            F.col("_ts_last").cast("long").alias("ts_last"),
        ]
    # window expressions are not allowed in WHERE — project the match
    # flag first (Catalyst still evaluates one Window node)
    return out.withColumn("_match", cond).filter("_match").select(*sel)


def _normalize_quantifiers(
    quantifiers: str | Sequence[str] | None, k: int
) -> list[str]:
    """Validate per-step quantifiers; default = all '1' (exactly one)."""
    if quantifiers is None:
        return ["1"] * k
    quant = list(quantifiers)
    if len(quant) != k:
        raise ValueError(
            f"quantifiers must have one entry per step: got {len(quant)} "
            f"for {k} steps"
        )
    bad = [q for q in quant if q not in ("1", "+")]
    if bad:
        raise ValueError(f"unknown quantifier(s) {bad!r}: expected '1' or '+'")
    return quant


def _backward(keys: list[str], order: Sequence[Column]):
    """The keyed window over the REVERSED order. Its running frames
    reach every later row: (UNBOUNDED PRECEDING, 1 PRECEDING) = the
    rows strictly after the current one, (UNBOUNDED PRECEDING, CURRENT
    ROW) = the rows at or after it. Spark keeps a running aggregate
    over such a frame, so a min over it is linear per key, where a
    (1 FOLLOWING, UNBOUNDED FOLLOWING) frame is re-aggregated for every
    row — O(n²) per key. ``order`` holds plain ascending columns (the
    ``order_by`` contract), so each reverses with ``desc()``."""
    return Window.partitionBy(*keys).orderBy(*[o.desc() for o in order])


def _match_events_kleene(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    steps: Sequence[Column],
    quant: list[str],
    ts_col: str | None,
    within: int | None,
    order: Sequence[Column] | None = None,
) -> DataFrame:
    """Strict-contiguity SEQ with greedy-maximal Kleene-plus steps —
    ZERO-JOIN plan (r8): one exchange, a stack of window expressions,
    no self-joins.

    Per row, ``_cont`` = this row's id is the previous row's id + 1
    (lag over the keyed window) — the contiguity bit; an id gap breaks
    runs exactly like it unmatches fixed-k patterns.

    The binding chain is resolved RIGHT-TO-LEFT as a per-row
    "completion" struct ``E_j`` = outcome (end_id [, ts_last]) of
    binding steps j..k-1 at this row, null when the binding fails:

    - ``q_j='1'``: ``E_j = when(s_j ∧ cont, lead(E_{j+1}, 1))`` — the
      next step binds on the immediately following row (whose own
      ``cont`` requirement enforces id-contiguity); the last step
      resolves to its own (id, ts).
    - ``q_j='+'``: the run STOP for a row is the first LATER row where
      the predicate fails OR contiguity breaks: a running min over
      every later row (``_backward``) of a struct keyed on the stop
      row's id — which CARRIES the fields the binding needs from that
      row (prev id = the run's true last id, prev ts, and the
      already-computed ``E_{j+1}`` for the next step's completion).
      A null stop means the run
      reaches the partition end (end = max id; only a FINAL + step may
      use it — an intermediate + with no stop has no row for the next
      step to bind).

    The r7 formulation chained the same pointers through k-1 (key, id)
    equi-joins, each join arm RECOMPUTING the scan + window pipeline
    (4 scans of the events table in the cep_kleene plan); carrying the
    completion struct through the running min removes every join —
    cost is one shuffle + O(k) linear passes over the sorted
    partitions (cep_kleene 2.0 → ~1.2 s at sf1.0, plan 4 scans +
    3 joins → 1 scan + 0 joins)."""
    k = len(steps)
    idl = F.col(id_col).cast("long")
    w = Window.partitionBy(*keys).orderBy(*(order or [F.col(id_col)]))
    back = _backward(keys, order or [F.col(id_col)])
    later = back.rowsBetween(Window.unboundedPreceding, -1)
    # at or after this row: its running max is the key's max
    rest = back.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base = df
    for j, s in enumerate(steps):
        base = base.withColumn(
            f"_s{j}", F.coalesce(s.cast("boolean"), F.lit(False))
        )
    base = base.withColumn("_previd", F.lag(idl).over(w)).withColumn(
        "_cont", F.coalesce(F.col("_previd") == idl - 1, F.lit(False))
    )
    tsl = F.col(ts_col).cast("long") if ts_col else None
    if quant[-1] == "+":
        # a final + run may end at the partition end: end = max id,
        # ts_last = the max row's ts (carried in the same unbounded max)
        if ts_col is not None:
            mx = F.max(F.struct(idl.alias("i"), tsl.alias("t"))).over(rest)
            base = base.withColumn("_maxid", mx["i"]).withColumn("_maxts", mx["t"])
        else:
            base = base.withColumn("_maxid", F.max(idl).over(rest))
        base = base.withColumn("_prevts", F.lag(tsl).over(w)) if ts_col else base

    def _done(j: int) -> Column:
        """Completion struct (end_id [, ts_last]) resolved on the FINAL
        step's binding row."""
        if quant[j] == "1":
            fields = [idl.alias("end_id")]
            if ts_col is not None:
                fields.append(tsl.alias("ts_last"))
            return F.struct(*fields)
        stop = F.col(f"_stop{j}")
        fields = [F.coalesce(stop["pid"], F.col("_maxid")).alias("end_id")]
        if ts_col is not None:
            fields.append(F.coalesce(stop["pts"], F.col("_maxts")).alias("ts_last"))
        return F.struct(*fields)

    # right-to-left: E_j available as column _e{j}; each '+' step's
    # stop struct carries what its binding resolves to
    for j in range(k - 1, -1, -1):
        if quant[j] == "+":
            carry = [idl.alias("sid"), F.col("_previd").alias("pid")]
            if j == k - 1 and ts_col is not None:
                carry.append(F.col("_prevts").alias("pts"))
            if j < k - 1:
                carry.append(F.col(f"_e{j + 1}").alias("nxt"))
            base = base.withColumn(
                f"_stop{j}",
                F.min(
                    F.when(~F.col(f"_s{j}") | ~F.col("_cont"), F.struct(*carry))
                ).over(later),
            )
        ok = F.col(f"_s{j}") & (F.lit(True) if j == 0 else F.col("_cont"))
        if j == k - 1:
            e = F.when(ok, _done(j))
        elif quant[j] == "1":
            e = F.when(ok, F.lead(F.col(f"_e{j + 1}"), 1).over(w))
        else:
            # intermediate +: next step binds at the stop row; its
            # carried E_{j+1} already encodes that row's s/cont checks
            # (a gap-stop carries a null). No stop ⇒ run hits the
            # partition end ⇒ nothing to bind.
            e = F.when(ok, F.col(f"_stop{j}")["nxt"])
        base = base.withColumn(f"_e{j}", e)

    cond = F.col("_s0") & F.col("_e0").isNotNull() & F.col("_e0")[
        "end_id"
    ].isNotNull()
    sel = [
        *keys,
        idl.alias("start_id"),
        F.col("_e0")["end_id"].alias("end_id"),
    ]
    if ts_col is not None:
        sel += [
            tsl.alias("ts_first"),
            F.col("_e0")["ts_last"].alias("ts_last"),
        ]
        if within is not None:
            cond = cond & (
                F.col("_e0")["ts_last"] - tsl <= F.lit(within)
            )
    return base.withColumn("_match", cond).filter("_match").select(*sel)


def _match_events_skip(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    steps: Sequence[Column],
    ts_col: str | None,
    within: int | None,
    order: Sequence[Column] | None = None,
) -> DataFrame:
    """skip-till-next-match: greedy-earliest step binding via
    next-occurrence pointers — ZERO-JOIN plan (r8).

    ``_p{j}`` at a row = a struct describing the greedy completion of
    steps j..k-1 binding STRICTLY AFTER the row: a running min over
    every later row (``_backward``) of
    ``struct(id, <completion>)`` on step-j rows. The struct compares
    on the (per-key unique) id, so
    the min IS the earliest step-j row — and it CARRIES that row's
    already-computed ``_p{j+1}`` completion, so the whole greedy chain
    b1 = nxt1(start), b2 = nxt2(b1), … composes right-to-left inside
    one keyed Window stack: k-1 linear passes over the sorted
    partitions, one exchange, no self-joins. (The r7 formulation
    chained bare id pointers through k-2 equi-joins plus a ts_last
    fetch join, each arm recomputing the scan + window pipeline —
    3 scans of the events table in the cep_skip plan; measured 2.3 →
    ~1.3 s at sf1.0, plan → 1 scan + 0 joins.) Greedy-earliest still
    means a null anywhere in
    the carried chain (no later step-j row / incomplete suffix) kills
    the start — never backtracks, so ``within`` stays exact."""
    k = len(steps)
    idl = F.col(id_col).cast("long")
    later = _backward(keys, order or [F.col(id_col)]).rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = df
    for j, s in enumerate(steps):
        base = base.withColumn(
            f"_s{j}", F.coalesce(s.cast("boolean"), F.lit(False))
        )
    tsl = F.col(ts_col).cast("long") if ts_col else None
    # right-to-left completion structs: _p{j} = earliest step-j row
    # strictly after this one, carrying (end_id [, ts_last]) of the
    # greedy suffix from there
    for j in range(k - 1, 0, -1):
        if j == k - 1:
            fields = [idl.alias("sid"), idl.alias("end_id")]
            if ts_col is not None:
                fields.append(tsl.alias("ts_last"))
        else:
            nxt = F.col(f"_p{j + 1}")
            fields = [idl.alias("sid"), nxt["end_id"].alias("end_id")]
            if ts_col is not None:
                fields.append(nxt["ts_last"].alias("ts_last"))
        base = base.withColumn(
            f"_p{j}",
            F.min(F.when(F.col(f"_s{j}"), F.struct(*fields))).over(later),
        )
    p1 = F.col("_p1")
    cond = F.col("_s0") & p1["end_id"].isNotNull()
    sel = [*keys, idl.alias("start_id"), p1["end_id"].alias("end_id")]
    if ts_col is not None:
        sel += [tsl.alias("ts_first"), p1["ts_last"].alias("ts_last")]
        if within is not None:
            cond = cond & (p1["ts_last"] - tsl <= F.lit(within))
    return base.withColumn("_match", cond).filter("_match").select(*sel)
