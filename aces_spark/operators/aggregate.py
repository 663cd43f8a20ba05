"""The two window-aggregation kernels (SURVEY §2.4 / §2.5).

Reimplements, on Spark window functions, the semantics of the reference
kernels:

* ``aggregate_temporal_window`` — reference
  ``src/aces/aggregate.py:91-315`` (Polars ``rolling``): for every event
  row, sum all predicate columns over ``[ts+offset, ts+offset+window_size]``
  within the subject, honoring 4-way endpoint closedness; negative window
  sizes look backward.
* ``boolean_expr_bound_sum`` / ``aggregate_event_bound_window`` — reference
  ``src/aces/aggregate.py:318-1126``: for every row, sum predicates from the
  row (± offset) to the *nearest* per-subject row satisfying a boundary
  expression (forward ``row_to_bound`` or backward ``bound_to_row``), with
  closedness; window timestamps are null when no qualifying boundary exists.

Spark-first design decisions (vs the reference's physical plan):

* ONE sort key. ``unix_micros(timestamp)`` is materialized once as the
  column :data:`SORT_KEY` (:func:`with_sort_key`) and every kernel window
  orders by that one attribute. Catalyst then sees that a frame already
  sorted by ``(subject_id, SORT_KEY)`` needs no re-sort: consecutive
  ascending windows share one Sort, independent neighbours merge into one
  Window operator, and a stack of kernels costs one Sort per direction
  (ascending, plus descending for backward fills). An inline
  ``unix_micros(...)`` per window would get a fresh alias each time and
  force a Sort before every window.
* The temporal kernel is a single ``Window.rangeBetween`` over the sort
  key — open endpoints become exact ±1 μs bound shrinks (timestamps are μs
  precision; the reference itself relies on the same trick at
  ``src/aces/aggregate.py:1013-1017``).
* The event-bound kernel reproduces the reference's
  cumsum + epsilon-shifted-boundary-interleave + directional-fill algorithm
  (``src/aces/aggregate.py:964-1126``) — that interleave is load-bearing for
  the "can a boundary row bound its own window" corner cases — but runs it
  entirely with window functions over ONE hash partitioning by
  ``subject_id``: the reference's offset-correction join (its J6,
  ``aggregate.py:1115-1126``) is replaced by an inline ``rangeBetween``
  window computed in the same stage, so the whole kernel is join-free and
  shuffle-minimal (exactly one exchange on ``subject_id``, reused by every
  window function via identical partition keys). The per-predicate running
  sums (``__cum_*``, :func:`with_running_sums`) are kernel-independent, so
  a frame that already carries them — the fused planner computes them once
  — serves every stacked event-bound kernel.
* Start/end-of-record boundaries are ``lag``/``lead`` on the sort key in
  the ascending window (first/last timestamped row of the subject; exact
  because ``(subject_id, timestamp)`` is unique), not separate unordered
  ``min``/``max`` windows.

At 100 TB: all per-subject windows are embarrassingly parallel after the
single hash exchange; no broadcast, no driver materialization. Skewed
subjects (one subject with millions of events) serialize within one task —
acceptable for EHR-shaped data (≤ ~100k events/subject); see
ARCHITECTURE.md for the mitigation plan.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import timedelta

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..types import (
    PRED_CNT_TYPE,
    TemporalWindowBounds,
    ToEventWindowBounds,
    td_to_us,
)

#: ``unix_micros(timestamp)``, materialized once: every kernel window
#: orders by this one attribute, so stacked windows share their sorts.
SORT_KEY = "__ts_us"

META_COLS = {"subject_id", "timestamp", SORT_KEY}


def with_sort_key(df: DataFrame) -> DataFrame:
    """``df`` plus the shared :data:`SORT_KEY` column (unchanged when it
    already carries it)."""
    if SORT_KEY in df.columns:
        return df
    return df.withColumn(SORT_KEY, F.unix_micros(F.col("timestamp")))


def _asc() -> Window:
    """Per-subject window in ascending sort-key order."""
    return Window.partitionBy("subject_id").orderBy(F.col(SORT_KEY).asc())


def _cum_col(c: str) -> str:
    return f"__cum_{c}"


def with_running_sums(df: DataFrame, value_cols: Sequence[str]) -> DataFrame:
    """``df`` (which must carry :data:`SORT_KEY`) plus the per-subject
    running sum ``__cum_{c}`` of each value column it does not carry yet
    (ref ``:999-1000``): the event-bound kernel's step 1, shared by every
    kernel stacked on the frame."""
    w_cum = _asc().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    missing = [c for c in value_cols if _cum_col(c) not in df.columns]
    return df.withColumns({_cum_col(c): F.sum(F.col(c)).over(w_cum) for c in missing})


def _pred_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in META_COLS]


def aggregate_temporal_window(
    predicates_df: DataFrame,
    endpoint_expr: TemporalWindowBounds | tuple,
    prefix: str = "",
    append: bool = False,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Per-row fixed-duration window sums (reference
    ``src/aces/aggregate.py:91-315``).

    Returns the same rows with predicate columns replaced by their sums over
    each row's temporal window, plus ``timestamp_at_start = ts + offset`` and
    ``timestamp_at_end = ts + offset + window_size`` (end precedes start for
    negative window sizes, matching the reference's emitted bounds at
    ``aggregate.py:305-313``).

    ``append=True`` keeps every input column and ADDS the outputs under
    ``{prefix}{name}`` instead — the fused linear-chain planner
    (``plans/fused.py``) stacks several window nodes onto one relation this
    way, all sharing the single subject_id partitioning (zero joins).
    ``value_cols`` restricts which columns are summed (default: every
    non-meta column — only valid when the frame carries nothing else).

    The reference special-cases ≤1-row inputs because Polars ``rolling``
    cannot handle them (``aggregate.py:10-88``); Spark window functions
    handle 1-row partitions natively so no special case exists here.
    """
    if not isinstance(endpoint_expr, TemporalWindowBounds):
        endpoint_expr = TemporalWindowBounds(*endpoint_expr)

    pred_cols = value_cols if value_cols is not None else _pred_cols(predicates_df)
    lo, hi = endpoint_expr.spark_range_bounds
    ts_us = F.col(SORT_KEY)
    off_us = td_to_us(endpoint_expr.offset)
    ws_us = td_to_us(endpoint_expr.window_size)

    w = _asc().rangeBetween(lo, hi)

    if lo > hi:
        # degenerate window (e.g. zero-length with an open endpoint): frame
        # is empty for every row; Spark rejects start > end frames, so emit
        # literal zeros directly.
        sums = [F.lit(0).cast(PRED_CNT_TYPE).alias(f"{prefix}{c}") for c in pred_cols]
    else:
        sums = [
            F.coalesce(F.sum(F.col(c)).over(w), F.lit(0)).cast(PRED_CNT_TYPE).alias(f"{prefix}{c}")
            for c in pred_cols
        ]

    out_cols = [
        F.timestamp_micros(ts_us + off_us).alias(f"{prefix}timestamp_at_start"),
        F.timestamp_micros(ts_us + off_us + ws_us).alias(f"{prefix}timestamp_at_end"),
        *sums,
    ]
    keyed = with_sort_key(predicates_df)
    if append:
        return keyed.select(*predicates_df.columns, *out_cols)
    return keyed.select("subject_id", "timestamp", *out_cols)


def _resolve_boundary(boundary) -> Column:
    """Resolve a boundary descriptor (from
    ``ToEventWindowBounds.bound_sum_kwargs``) or pass through a boolean
    Column. Record start/end pseudo-events mirror
    ``src/aces/types.py:309-318``."""
    if isinstance(boundary, Column):
        return boundary
    # null keys sort first, so the record's first timestamped row is the one
    # whose predecessor has no key, and its last row has no successor
    key = F.col(SORT_KEY)
    match boundary:
        case ("col", name):
            return F.col(name) > 0
        case ("record_start",):
            return key.isNotNull() & F.lag(key).over(_asc()).isNull()
        case ("record_end",):
            return key.isNotNull() & F.lead(key).over(_asc()).isNull()
        case _:
            raise ValueError(f"Invalid boundary descriptor: {boundary!r}")


def _fill_spec(mode: str, closed: str, off_us: int) -> tuple[int, int, bool]:
    """Reduce the reference's epsilon-shifted boundary interleave
    (ref ``:1012-1017``, ``:1032-1036``) to a single eligibility half-line:
    returns ``(sign, bound, exclude_boundary_counts)`` such that, on the
    sort key ``k = sign * unix_micros(ts)``, a boundary row is eligible for
    a given real row iff ``k_boundary <= k_row + bound`` (inclusive), and
    the NEAREST qualifying boundary is the eligible one with maximal ``k``.

    Valid because all timestamps are integral μs, so the strict/inclusive
    distinctions and the real-before-pseudo tie rule fold into ±1 μs on the
    bound. ``exclude_boundary_counts`` is the mode×closed rule for whether
    the boundary row's own counts leave the window (ref ``:1004-1010``).
    """
    exclude_boundary_counts = (mode == "bound_to_row" and closed in ("left", "both")) or (
        mode == "row_to_bound" and closed not in ("right", "both")
    )
    if mode == "bound_to_row":
        eps = -1 if closed in ("left", "both") else 1  # ref :1013-1017
        # eligible iff ts_b - offset + eps sorts before the row (ties: real
        # row first) ⟺ ts_b ≤ ts_r + (offset - eps - 1)
        return 1, off_us - eps - 1, exclude_boundary_counts
    eps = 1 if closed in ("right", "both") else -1  # ref :1032-1036
    # eligible iff ts_b - offset + eps sorts at-or-after the row
    # ⟺ ts_b ≥ ts_r + offset - eps ⟺ (-ts_b) ≤ (-ts_r) - (offset - eps)
    return -1, -(off_us - eps), exclude_boundary_counts


def _offset_interval_bounds(mode: str, closed: str, offset: timedelta) -> tuple[int, int] | None:
    """Range-frame μs bounds of the offset-interval correction sums
    (ref ``:969-995``); ``None`` when ``offset == 0`` (no correction)."""
    zero = timedelta(0)
    if offset == zero:
        return None
    if offset > zero:
        left_inclusive = False
        if mode == "row_to_bound":
            right_inclusive = closed not in ("left", "both")
        else:
            right_inclusive = closed in ("right", "both")
    else:
        right_inclusive = False
        if mode == "row_to_bound":
            left_inclusive = closed in ("left", "both")
        else:
            left_inclusive = closed not in ("right", "both")
    return TemporalWindowBounds(left_inclusive, offset, right_inclusive, None).spark_range_bounds


def _event_bound_outputs(
    pred_cols: list[str], mode: str, closed: str, offset: timedelta, tp: str, prefix: str = ""
) -> list[Column]:
    """Output columns of the event-bound kernel (steps 4+5: cumsum
    differences, endpoint corrections, offset correction, window
    timestamps), given a relation carrying the shared running sums
    ``__cum_*`` and the ``{tp}``-namespaced temp columns ``bcum_*`` /
    ``off_*`` / ``ts_at_boundary``."""
    zero = timedelta(0)
    off_us = td_to_us(offset)

    # --- step 4: cumsum differences + endpoint corrections ---
    def window_sum(c: str) -> Column:
        if mode == "bound_to_row":
            val = F.col(_cum_col(c)) - F.col(f"{tp}bcum_{c}")
            if (closed in ("left", "none") and offset <= zero) or offset < zero:
                val = val - F.col(c)  # ref :1027-1031
        else:
            val = F.col(f"{tp}bcum_{c}") - F.col(_cum_col(c))
            if (closed in ("left", "both") and offset <= zero) or offset < zero:
                val = val + F.col(c)  # ref :1046-1050
        return val

    # --- step 5: offset-interval correction (ref :1094-1113) ---
    def with_offset(c: str, val: Column) -> Column:
        if offset == zero:
            return val
        if mode == "bound_to_row" and offset > zero:
            return val + F.col(f"{tp}off_{c}")
        if (mode == "bound_to_row" and offset < zero) or (mode == "row_to_bound" and offset > zero):
            return val - F.col(f"{tp}off_{c}")
        return val + F.col(f"{tp}off_{c}")  # row_to_bound, offset < 0

    row_ts_shifted = F.timestamp_micros(F.unix_micros(F.col("timestamp")) + F.lit(off_us))
    has_bound = F.col(f"{tp}ts_at_boundary").isNotNull()
    if mode == "bound_to_row":
        st_ts = F.col(f"{tp}ts_at_boundary")
        end_ts = F.when(has_bound, row_ts_shifted)
    else:
        st_ts = F.when(has_bound, row_ts_shifted)
        end_ts = F.col(f"{tp}ts_at_boundary")

    return [
        st_ts.alias(f"{prefix}timestamp_at_start"),
        end_ts.alias(f"{prefix}timestamp_at_end"),
        *[
            F.coalesce(with_offset(c, window_sum(c)).cast(PRED_CNT_TYPE), F.lit(0)).alias(
                f"{prefix}{c}"
            )
            for c in pred_cols
        ],
    ]


def boolean_expr_bound_sum(
    df: DataFrame,
    boundary_expr,
    mode: str,
    closed: str,
    offset: timedelta = timedelta(0),
    prefix: str = "",
    append: bool = False,
    value_cols: list[str] | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Sum all predicate columns between each row (± ``offset``) and the
    nearest per-subject boundary row (reference
    ``src/aces/aggregate.py:479-1126``; its 8-case mode×closed truth table at
    ``:520-541`` is the spec, pinned by tests/test_event_bound.py).

    Algorithm (faithful to the reference, reformulated join-free):

    1. Per-subject running cumulative sums of every predicate column
       (ref ``:999-1000``) — ``rowsBetween(unboundedPreceding, currentRow)``.
    2. A boundary side-relation built by filtering boundary rows, carrying
       the cumsum at the boundary (± the boundary row's own counts per
       mode×closed, ref ``:1002-1010``) and a sort key shifted by
       ``-offset ± 1 μs`` so interleaving encodes closedness exactly
       (ref ``:1012-1017``, ``:1032-1036``).
    3. Union real + boundary rows, order within subject by the shifted key
       (ties: real rows first, matching the reference's stable concat), and
       directionally fill the boundary cumsum/timestamp onto real rows
       (forward for ``bound_to_row``, backward for ``row_to_bound``,
       ref ``:1052-1072``) — ``last``/``first(ignorenulls=True)`` frames.
    4. Window sum = difference of cumsums with endpoint-inclusion
       corrections (ref ``:1020-1031``, ``:1039-1050``).
    5. Non-zero offsets add/subtract a temporal aggregation over the offset
       interval (ref ``:969-995``, ``:1094-1126``) — computed INLINE as a
       ``rangeBetween`` window before the union instead of the reference's
       left join.
    6. No qualifying boundary ⇒ null window timestamps, zero counts
       (ref ``:1085-1092``).

    ``prefix``/``append``/``value_cols`` behave as in
    :func:`aggregate_temporal_window` (fused-planner support: outputs and
    internal temp columns are namespaced so several kernel applications can
    stack on one relation; the step-1 running sums are the same for every
    kernel, so they are reused from the frame when it carries them).

    ``carry`` names columns whose value AT THE RESOLVED BOUNDARY ROW is
    emitted for each row as ``{prefix}{name}`` (null when no boundary
    qualifies). It rides the same fill frame as ``ts_at_boundary``, packed
    in one struct so a null carried value never lets the fill skip back to
    an earlier boundary. The fused planner uses it to read a subtree
    anchored at the boundary row without a join.
    """
    if mode not in ("bound_to_row", "row_to_bound"):
        raise ValueError(f"Mode '{mode}' invalid!")
    if closed not in ("both", "none", "left", "right"):
        raise ValueError(f"Closed '{closed}' invalid!")

    pred_cols = value_cols if value_cols is not None else _pred_cols(df)
    boundary_col = _resolve_boundary(boundary_expr)
    tp = f"__{prefix}" if prefix else "__"  # temp-column namespace

    off_us = td_to_us(offset)

    # --- step 5 prep: offset-interval temporal sums, inline (ref :969-995) ---
    with_offset_cols: dict[str, Column] = {}
    interval = _offset_interval_bounds(mode, closed, offset)
    if interval is not None:
        lo, hi = interval
        if lo > hi:
            with_offset_cols = {f"{tp}off_{c}": F.lit(0).cast("long") for c in pred_cols}
        else:
            w_off = _asc().rangeBetween(lo, hi)
            with_offset_cols = {
                f"{tp}off_{c}": F.coalesce(F.sum(F.col(c)).over(w_off), F.lit(0)) for c in pred_cols
            }

    # --- step 1: per-subject cumulative sums (ref :999-1000), unless the
    # frame already carries them ---
    base = with_running_sums(with_sort_key(df), pred_cols).withColumns(
        {**with_offset_cols, f"{tp}bexpr": boundary_col}
    )

    # --- steps 2+3: nearest-qualifying-boundary resolution ---
    # The reference interleaves epsilon-shifted boundary pseudo-rows and
    # directionally fills (ref :1012-1017, :1032-1036, :1052-1072). Because
    # every timestamp is integral μs, that interleave is EXACTLY a
    # conditional first/last over a range frame on the sort key: a boundary
    # at ts_b is eligible for the row at ts_r iff its shifted sort key
    # ``ts_b - offset + eps`` falls strictly before (forward fill) / at-or-
    # after (backward fill) the row's key — i.e. iff ts_b - ts_r lies in a
    # closed half-line whose finite bound folds in offset, eps, and the
    # real-before-pseudo tie rule. This keeps the kernel union-free: one
    # window stage instead of union + re-sort + fill over a doubled
    # relation (the Spark-first reformulation SURVEY §2.5 anticipates).
    # Eligibility reduced to one half-line on a signed key (see _fill_spec).
    # For row_to_bound the key is ordered DESCENDING (nulls first, as the
    # negated key would sort) so the frame is GROWING rather than the
    # direct shrinking frame (off_us - eps, unboundedFollowing): Spark
    # evaluates growing frames incrementally but re-scans the remaining
    # partition per row for shrinking ones — O(n) vs O(n²) per subject,
    # which is the difference between a skewed 100k-event subject finishing
    # in milliseconds and stalling its whole task. On a descending order a
    # range bound of ``d`` reaches ``key - d``, which is exactly the
    # half-line ``-ts_b <= -ts_r + d`` of the negated key.
    sign, fill_bound, exclude_boundary_counts = _fill_spec(mode, closed, off_us)
    w_dir = _asc() if sign == 1 else (
        Window.partitionBy("subject_id").orderBy(F.col(SORT_KEY).desc_nulls_first())
    )
    w_fill = w_dir.rangeBetween(Window.unboundedPreceding, fill_bound)

    def fill(col: Column) -> Column:
        return F.last(col, ignorenulls=True).over(w_fill)

    bnd_ts = F.when(F.col(f"{tp}bexpr"), F.col("timestamp"))

    def bnd_cum(c: str) -> Column:
        val = F.col(_cum_col(c))
        if exclude_boundary_counts:
            val = val - F.col(c)
        return F.when(F.col(f"{tp}bexpr"), val)

    fill_cols = {
        f"{tp}ts_at_boundary": fill(bnd_ts),
        **{f"{tp}bcum_{c}": fill(bnd_cum(c)) for c in pred_cols},
    }
    if carry:
        fill_cols[f"{tp}carry"] = fill(F.when(F.col(f"{tp}bexpr"), F.struct(*carry)))
    filled = base.withColumns(fill_cols)

    out_cols = _event_bound_outputs(pred_cols, mode, closed, offset, tp, prefix)
    out_cols += [F.col(f"{tp}carry").getField(c).alias(f"{prefix}{c}") for c in carry]
    if append:
        return filled.select(*df.columns, *out_cols)
    return filled.select("subject_id", "timestamp", *out_cols)


def aggregate_event_bound_window(
    predicates_df: DataFrame,
    endpoint_expr: ToEventWindowBounds | tuple,
) -> DataFrame:
    """Event-bound window aggregation (reference
    ``src/aces/aggregate.py:318-476``): delegates to
    :func:`boolean_expr_bound_sum` after translating the bounds object."""
    if not isinstance(endpoint_expr, ToEventWindowBounds):
        endpoint_expr = ToEventWindowBounds(*endpoint_expr)
    kwargs = endpoint_expr.bound_sum_kwargs
    return boolean_expr_bound_sum(
        predicates_df,
        kwargs["boundary"],
        kwargs["mode"],
        kwargs["closed"],
        kwargs["offset"],
    )
