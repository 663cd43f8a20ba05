"""Fused window-tree planner: join-free evaluation of every window tree.

Spark-first optimization with no counterpart in the reference (its recursion
always materializes + joins per edge, ``src/aces/extract_subtree.py:279-386``).

Key observations:

* a temporal edge keeps the child anchored on the SAME event row
  (``extract_subtree.py:300-310`` — child anchor = row timestamp), so its
  subtree's window summaries are indexed by that row;
* an event-bound edge moves the child anchor to the resolved boundary
  row's own timestamp (``:311-327``), and ``(subject_id, timestamp)`` is
  unique — so the child's subtree is evaluated anchored at EVERY row
  (offset 0, always valid) and the edge's kernel fills that subtree's
  columns in from the boundary row (``carry`` of
  :func:`boolean_expr_bound_sum`, the same fill frame that resolves the
  boundary timestamp).

The whole recursion then collapses into ONE windowed scan for every tree:

* each node's window sums/timestamps are appended as prefixed columns
  (kernels in append mode — same ``subject_id`` hash partitioning, shared
  sorts, zero shuffles beyond the input's single exchange);
* anchor-set joins (J1) become row-wise validity flags (trigger ≥ 1 AND
  each edge's constraint check AND, for event-bound edges, a resolved
  boundary AND the carried validity of the subtree below it);
* sibling-intersection joins (J4) become conjunction of the edge flags;
* child→parent remap joins (J2/J3) vanish — a carried summary already
  sits on the parent anchor's row.

Every kernel orders by the one shared sort key (``operators/aggregate.py``)
and the event-bound kernels share one set of running sums, so the pipeline
sorts once per window direction.

This preserves the general path's exact semantics, including the junk row it
emits per subject when a pure single-child chain ends in an event-bound leaf
with no qualifying boundary (the reference's null-key join behavior: the
realization is replaced by one ``(subject, null)`` row with null summaries).
Only the chain's final event-bound leaf emits it; an internal event-bound
edge with an unresolved boundary just drops the row, since its null child
anchor never joins a deeper window. The junk row comes from the same pass:
one unordered per-subject ``min`` flags each subject's earliest junk row,
one filter keeps ``valid OR first junk``, and the junk row's anchor and
summaries are nulled. A realization is never both valid and junk (junk
needs the leaf's boundary unresolved, validity needs it resolved), so no
second pipeline, union or distinct is needed. Verified by differential
tests (``tests/test_fused.py``) against the general planner across random
trees/frames.

At scale this is the difference between kernel-bound throughput (~3M rows/s
per 32 cores) and join-bound throughput (~0.3M rows/s) on dense-trigger
tasks — see ``tools/scale_probe.py``.
"""

from __future__ import annotations

import dataclasses
from datetime import timedelta

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.aggregate import (
    META_COLS,
    SORT_KEY,
    aggregate_temporal_window,
    boolean_expr_bound_sum,
    with_running_sums,
    with_sort_key,
)
from ..types import ANY_EVENT_COLUMN, TemporalWindowBounds
from ..utils import Node

ANCHOR = "subtree_anchor_timestamp"
SUMMARY_FIELDS = ["timestamp_at_start", "timestamp_at_end"]


def _constraint_keep(
    constraints: dict[str, tuple[int | None, int | None]], prefix: str
) -> Column:
    """Row-wise equivalent of ``check_constraints`` over prefixed sum
    columns (same validation, same ``"*"`` alias)."""
    should_drop = F.lit(False)
    for col, (mn, mx) in constraints.items():
        if (mn is None and mx is None) or (mn is not None and mx is not None and mx < mn):
            raise ValueError(f"Invalid constraint for '{col}': {mn} - {mx}")
        if col == "*":
            col = ANY_EVENT_COLUMN
        drop = F.lit(False)
        if mn is not None:
            drop = drop | (F.col(f"{prefix}{col}") < mn)
        if mx is not None:
            drop = drop | (F.col(f"{prefix}{col}") > mx)
        should_drop = should_drop | drop
    return ~should_drop


def extract_subtree_fused(
    subtree: Node,
    predicates_df: DataFrame,
    root_valid: Column,
) -> DataFrame:
    """Evaluate a window tree in one windowed pipeline.

    Returns the same shape as the general ``extract_subtree`` after anchor
    selection: ``(subject_id, subtree_anchor_timestamp, {node}_summary...)``
    with one row per valid trigger realization (plus the junk rows of a
    pure chain ending in an unresolved event-bound leaf).
    """
    pred_cols = [c for c in predicates_df.columns if c not in META_COLS]

    if not subtree.children:
        return predicates_df.filter(root_valid).select(
            "subject_id", F.col("timestamp").alias(ANCHOR)
        )

    # Catalyst prunes the running sums when no event-bound kernel reads them
    df = with_running_sums(with_sort_key(predicates_df), pred_cols)
    summaries: list[tuple[Node, str]] = []  # (node, column prefix) in pre-order
    chain = _is_chain(subtree)
    counter = 0

    def walk(node: Node, offset: timedelta) -> tuple[Column, Column | None]:
        """Append the windows of ``node``'s subtree, anchored at every row
        with the accumulated ``offset``. Returns ``(valid, junk)``: whether
        every edge below holds at the row, and — in a pure chain ending in
        an event-bound leaf — whether the row's realization dies only on
        that leaf's unresolved boundary (the general path's junk row)."""
        nonlocal df, counter
        valid: Column = F.lit(True)
        junk: Column | None = None
        for child in node.children:
            counter += 1
            n = counter
            pfx = f"__n{n}_"
            summaries.append((child, pfx))
            eff = dataclasses.replace(
                child.endpoint_expr, offset=child.endpoint_expr.offset + offset
            )
            if isinstance(eff, TemporalWindowBounds):
                df = aggregate_temporal_window(
                    df, eff, prefix=pfx, append=True, value_cols=pred_cols
                )
                keep = _constraint_keep(child.constraints, pfx)
                sub_valid, sub_junk = walk(child, offset + eff.window_size)
                edge_valid = keep & sub_valid
                edge_junk = None if sub_junk is None else keep & sub_junk
            else:
                # the child anchor is the boundary row itself: evaluate the
                # child's subtree anchored at every row (offset resets), then
                # let the kernel fill its columns in from the boundary row
                carry: list[str] = []
                sub_junk = None
                if child.children:
                    first = len(summaries)
                    sub_valid, sub_junk = walk(child, timedelta(0))
                    sub_cols = {f"__v{n}": sub_valid}
                    if sub_junk is not None:
                        sub_cols[f"__j{n}"] = sub_junk
                    df = df.withColumns(sub_cols)
                    carry = list(sub_cols)
                    for i in range(first, len(summaries)):
                        desc, dpfx = summaries[i]
                        carry += [f"{dpfx}{c}" for c in SUMMARY_FIELDS + pred_cols]
                        summaries[i] = (desc, pfx + dpfx)
                kw = eff.bound_sum_kwargs
                df = boolean_expr_bound_sum(
                    df,
                    kw["boundary"],
                    kw["mode"],
                    kw["closed"],
                    kw["offset"],
                    prefix=pfx,
                    append=True,
                    value_cols=pred_cols,
                    carry=carry,
                )
                bnd_side = (
                    "timestamp_at_start" if kw["mode"] == "bound_to_row" else "timestamp_at_end"
                )
                resolved = F.col(f"{pfx}{bnd_side}").isNotNull()
                keep = _constraint_keep(child.constraints, pfx)
                # the general path drops anchors whose boundary is unresolved
                # (their null child anchor never re-joins); see module doc
                edge_valid = keep & resolved
                if child.children:
                    edge_junk = (
                        None if sub_junk is None else edge_valid & F.col(f"{pfx}__j{n}")
                    )
                    edge_valid = edge_valid & F.col(f"{pfx}__v{n}")
                else:
                    edge_junk = keep & ~resolved if chain else None
            valid = valid & edge_valid
            junk = edge_junk  # None unless a pure chain (one child per node)
        return valid, junk

    valid, junk = walk(subtree, timedelta(0))

    structs = {
        f"{child.name}_summary": F.struct(
            F.lit(child.name).alias("window_name"),
            *[F.col(f"{pfx}{c}").alias(c) for c in SUMMARY_FIELDS + pred_cols],
        )
        for child, pfx in summaries
    }

    is_valid = F.coalesce(root_valid & valid, F.lit(False))
    if junk is None:
        return df.filter(is_valid).select(
            "subject_id",
            F.col("timestamp").alias(ANCHOR),
            *[c.alias(name) for name, c in structs.items()],
        )

    # junk rows from the same pass: keep each subject's earliest junk row
    # (one per subject, as the general path's distinct) with a null anchor
    # and null summaries
    df = df.withColumns(
        {"__valid": is_valid, "__junk": F.coalesce(root_valid & junk, F.lit(False))}
    )
    first_junk_key = F.min(F.when(F.col("__junk"), F.col(SORT_KEY))).over(
        Window.partitionBy("subject_id")
    )
    df = df.withColumn("__first_junk", F.col("__junk") & (F.col(SORT_KEY) == first_junk_key))
    valid_only = F.col("__valid")
    return df.filter(valid_only | F.col("__first_junk")).select(
        "subject_id",
        F.when(valid_only, F.col("timestamp")).alias(ANCHOR),
        *[F.when(valid_only, c).alias(name) for name, c in structs.items()],
    )


def _is_chain(tree: Node) -> bool:
    node = tree
    while node.children:
        if len(node.children) != 1:
            return False
        node = node.children[0]
    return True
