"""CEP sequence matching over keyed, id-ordered event tables/streams.

The north rule names a "structured-streaming / CEP engine". The
reference (WindFlow) calls its operators "patterns" (SURVEY §2 — all
covered elsewhere) but ships no event-SEQUENCE matching, so this module
is an extension in the same spirit as sessions/asof (COVERAGE 2.7):
SASE-style SEQ with overlapping matches, expressed Spark-first.

- Batch (`match_events`): ONE right-to-left completion stack of window
  expressions for every mode — one shuffle by key, whole-stage codegen,
  no joins, no Python. Per row, ``B_j`` is the struct (end_id [,
  ts_last]) that results from binding steps j..k-1 with step j bound
  at that row, null when the binding fails::

      B_j = when(ok_j, B_{j+1} of the first later row where P_j holds)

  ``ok_j`` is step j's predicate ``s_j``; in strict mode with j > 0 it
  also requires the contiguity bit ``cont`` (id == previous id + 1).
  ``P_j`` says where step j+1 binds:

  - strict ``'1'`` step: ``true`` — the next row, i.e. a ``lead``;
  - strict ``'+'`` step: ``¬(s_j ∧ cont)`` — the row that stops its run;
  - skip mode: ``s_{j+1}`` — the earliest later row satisfying step j+1.

  The last step resolves to its own (id, ts); a final ``'+'`` to the row
  before its stop, or to the key's last row when no stop follows.
  "The first later row" is a running min over the reversed order
  (``_backward``) of a struct keyed on the row's id that carries
  ``B_{j+1}`` — linear per key. A strict run of consecutive ``'1'``
  steps binds with flat ``lead(·, d)`` calls from the run's first row
  plus one ``lead(id, d) == id + d`` check, so the all-``'1'`` pattern
  plans as a single Window node.
- Streaming (`windflow_spark.streaming.engine.stream_match_events`):
  one per-key stateful processor for every mode. Each micro-batch sorts
  a key's rows once by id, drops ids it has already passed, and runs a
  numpy kernel once (strict mode is the all-'1' case of the contiguity
  kernel). State is the key's pending partial matches plus its last
  (id, ts): at most k-1 partials per key in strict mode, O(active
  partials) with a `+` or in skip mode, never O(stream). A match emits
  exactly once, when its completing row arrives; there are no partial
  matches to flush at EOS (a sequence either completed or it didn't).

Contract: in strict mode ``id_col`` is a per-key DENSE monotone integer
id (the TS_RENUMBERING contract the CB operators already use — cb_ids /
turn_idx): contiguity is ``id == previous id + 1``, so an id gap
unmatches (strictness), it does not crash. Skip mode only needs ids
strictly increasing per key.

100 TB posture: batch is one hash-partition shuffle on the key + sorted
window scans (the same shape as any keyed window agg; skew = hot keys,
same salting story as Key_Farm); streaming state in strict mode is at
most k-1 partials per key regardless of stream length.
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
    the matched rows must be id-consecutive; requires DENSE per-key ids.
    ``mode="skip"``: skip-till-next-match — each step binds to the
    EARLIEST later row satisfying it, other rows in between are
    ignored ("user asks → tool call → assistant answers, other turns
    between"). Ids only need to be strictly increasing per key.

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
    partition end.

    Every step-0 row starts its own (possibly overlapping) match, and
    every step binds greedily, never backtracking: ``within`` filters
    the greedy match's span, and in skip mode it is exact — if the
    earliest completion exceeds it, every other completion would too.

    Plan: the completion stack of the module docstring — one exchange,
    a stack of window expressions resolved right to left, no self-joins.

    ``order_by``: optional window-ordering columns that MUST induce
    the same per-key total order as ``id_col`` (e.g. the columns the
    id was renumbered from — the cb_ids/TS_RENUMBERING inputs); results
    are identical by the order-isomorphism contract — the engine
    trusts the caller here, exactly like the dense-id contract. When
    the upstream pipeline already sorted by exactly these attributes,
    EnsureRequirements recognizes the ordering and skips the re-sort
    that an ascending window would otherwise insert. That spares the
    sort of the forward (lead/lag) windows only: the later-row mins
    run over the reversed (``_backward``) order, which an ascending
    upstream never satisfies, so they keep their sort.
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
    if "+" in quant and mode != "strict":
        raise ValueError(
            "Kleene-plus quantifiers are strict-mode only: a greedy "
            "run is defined by contiguity; combine mode='skip' with "
            "quantifiers='1'*k instead"
        )
    strict = mode == "strict"
    idl = F.col(id_col).cast("long")
    tsl = F.col(ts_col).cast("long") if ts_col else None
    w = Window.partitionBy(*keys).orderBy(*order)
    back = _backward(keys, order)
    later = back.rowsBetween(Window.unboundedPreceding, -1)

    def own(d: int = 0) -> Column:
        """What a last step bound ``d`` rows ahead resolves to (the
        strict run check pins that row's id to id + d)."""
        ts = [(F.lead(tsl, d).over(w) if d else tsl).alias("ts_last")] if ts_col else []
        return F.struct((idl + d if d else idl).alias("end_id"), *ts)

    s = [F.col(f"_s{j}") for j in range(k)]
    out = df.withColumns(
        {f"_s{j}": F.coalesce(p.cast("boolean"), F.lit(False)) for j, p in enumerate(steps)}
    )
    if "+" in quant:
        # the previous row's completion: its id gives the contiguity
        # bit, and a final + run that stops at a row ends on it
        out = out.withColumn("_prev", F.lag(own()).over(w))
        out = out.withColumn(
            "_cont", F.coalesce(F.col("_prev")["end_id"] == idl - 1, F.lit(False))
        )
    cont = F.col("_cont")

    def first_later(p: Column, carry: Column) -> Column:
        """``carry`` of the first row strictly after this one where
        ``p`` holds (null if none): the min of a struct keyed on the
        (per-key unique) id over every later row."""
        return F.min(F.when(p, F.struct(idl.alias("sid"), carry.alias("c")))).over(later)["c"]

    # the segments, right to left: (first step, length); in strict mode
    # consecutive '1' steps form one segment bound by flat leads
    segs: list[list[int]] = []
    for j, q in enumerate(quant):
        if strict and q == "1" and j and quant[j - 1] == "1":
            segs[-1][1] += 1
        else:
            segs.append([j, 1])
    nxt = None  # B of the segment to the right
    for a, r in reversed(segs):
        ok = s[a] & cont if strict and a else s[a]
        if quant[a] == "+":
            stop = ~(s[a] & cont)
            if nxt is not None:
                b = first_later(stop, nxt)
            else:
                # at or after this row: the running max is the key's last row
                rest = back.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                b = F.coalesce(first_later(stop, F.col("_prev")), F.max(own()).over(rest))
        elif strict:
            for d in range(1, r):
                ok = ok & F.lead(s[a + d], d).over(w)
            if r > 1:
                ok = ok & (F.lead(idl, r - 1).over(w) == idl + (r - 1))
            b = F.lead(nxt, r).over(w) if nxt is not None else own(r - 1)
        else:
            b = first_later(s[a + 1], nxt) if nxt is not None else own()
        out = out.withColumn(f"_b{a}", F.when(ok, b))
        nxt = F.col(f"_b{a}")

    cond = nxt.isNotNull()
    sel = [*keys, idl.alias("start_id"), nxt["end_id"].alias("end_id")]
    if ts_col is not None:
        sel += [tsl.alias("ts_first"), nxt["ts_last"].alias("ts_last")]
        if within is not None:
            cond = cond & (nxt["ts_last"] - tsl <= F.lit(within))
    return out.filter(cond).select(*sel)


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
