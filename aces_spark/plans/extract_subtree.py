"""Recursive window-tree evaluation (SURVEY §3.3).

Reimplements the reference's recursion (``src/aces/extract_subtree.py:16-386``)
as a driver-level planner that EMITS a Spark DataFrame DAG — no actions are
triggered here; the whole tree evaluates lazily in one job.

This is the reference planner, selected with ``query(..., fused=False)``:
the default join-free planner (``plans/fused.py``) handles every tree, and
the differential tests compare the two.

Per child edge of the current tree node:

1. Summarize the window root→child over ALL rows — a temporal edge uses the
   rangeBetween kernel (child anchor = same row, offset accumulates,
   ref ``:300-310``); an event edge uses the cumsum kernel (child anchor =
   the resolved boundary timestamp, offset resets, ref ``:311-327``).
2. Inner-join summaries to the candidate anchors (J1, ref ``:332-334``).
3. Apply the child's count constraints (C1, ref ``:337``).
4. Child anchors = distinct (subject, child anchor ts) (ref ``:340-343``).
5. Recurse.
6. Remap recursive results to this anchor space (J2, ref ``:355-363``) and
   attach the child's struct summary (J3, ref ``:366-379``).
7. Inner-join all children — an anchor survives iff EVERY branch realizes
   (J4, ref ``:381-385``).

Scale design: every join is an equi-join on ``(subject_id, <timestamp>)`` —
co-partitioned with the kernels' window shuffles, so AQE plans them without
extra exchanges on the big side; anchor sets shrink monotonically down the
tree and are excellent skew-free join keys. The shared ``predicates_df``
should be cached by the caller (see ``query.py``); deep trees can optionally
checkpoint between levels to truncate lineage.
"""

from __future__ import annotations

import dataclasses
from datetime import timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregate import aggregate_event_bound_window, aggregate_temporal_window
from ..operators.constraints import check_constraints
from ..types import TemporalWindowBounds, ToEventWindowBounds
from ..utils import Node

ANCHOR = "subtree_anchor_timestamp"
CHILD_ANCHOR = "child_anchor_timestamp"


def extract_subtree(
    subtree: Node,
    subtree_anchor_realizations: DataFrame,
    predicates_df: DataFrame,
    subtree_root_offset: timedelta = timedelta(0),
    checkpoint: bool = False,
) -> DataFrame:
    """Evaluate the subtree rooted at ``subtree`` against candidate anchors.

    ``subtree_anchor_realizations`` has columns
    ``(subject_id, subtree_anchor_timestamp)``; the result carries those keys
    plus one struct column ``{node}_summary`` per descendant node
    (``window_name``, ``timestamp_at_start``, ``timestamp_at_end``, and all
    predicate counts — reference ``src/aces/extract_subtree.py:366-375``).
    """
    predicate_cols = [c for c in predicates_df.columns if c not in {"subject_id", "timestamp"}]

    if not subtree.children:
        return subtree_anchor_realizations

    recursive_results: list[DataFrame] = []

    for child in subtree.children:
        # Step 1: summarize root→child over all rows. The accumulated offset
        # is folded into a fresh bounds object (never mutated in place —
        # the reference guards idempotency the same way, ref :292-298).
        endpoint_expr = child.endpoint_expr
        endpoint_expr = dataclasses.replace(
            endpoint_expr, offset=endpoint_expr.offset + subtree_root_offset
        )

        if isinstance(endpoint_expr, TemporalWindowBounds):
            child_root_offset = subtree_root_offset + endpoint_expr.window_size
            window_summary_df = aggregate_temporal_window(predicates_df, endpoint_expr).select(
                "subject_id",
                F.col("timestamp").alias(ANCHOR),
                F.col("timestamp").alias(CHILD_ANCHOR),
                "timestamp_at_start",
                "timestamp_at_end",
                *predicate_cols,
            )
        elif isinstance(endpoint_expr, ToEventWindowBounds):
            # the child root is a real event, so offset accumulation resets
            child_root_offset = timedelta(0)
            child_anchor_time = (
                "timestamp_at_start" if endpoint_expr.end_event.startswith("-") else "timestamp_at_end"
            )
            window_summary_df = aggregate_event_bound_window(predicates_df, endpoint_expr).select(
                "subject_id",
                F.col("timestamp").alias(ANCHOR),
                F.col(child_anchor_time).alias(CHILD_ANCHOR),
                "timestamp_at_start",
                "timestamp_at_end",
                *predicate_cols,
            )
        else:
            raise ValueError(f"Invalid endpoint expression: '{endpoint_expr}'")

        # Step 2: keep only valid subtree anchors (J1)
        window_summary_df = window_summary_df.join(
            subtree_anchor_realizations, on=["subject_id", ANCHOR], how="inner"
        )

        # Step 3: constraint filter (C1)
        window_summary_df = check_constraints(child.constraints, window_summary_df)

        # Step 4: child anchor realizations
        # null child anchors (event-bound window with no boundary) are kept,
        # mirroring the reference; null join keys never match in either
        # engine, so such realizations die at the next inner join.
        child_anchor_realizations = window_summary_df.select(
            "subject_id", F.col(CHILD_ANCHOR).alias(ANCHOR)
        ).dropDuplicates(["subject_id", ANCHOR])

        # Step 5: recurse
        recursive_result = extract_subtree(
            child, child_anchor_realizations, predicates_df, child_root_offset, checkpoint
        )

        # Step 6.1: remap the recursive result to this subtree's anchor space (J2)
        recursive_result = (
            recursive_result.withColumnRenamed(ANCHOR, CHILD_ANCHOR)
            .join(
                window_summary_df.select("subject_id", ANCHOR, CHILD_ANCHOR),
                on=["subject_id", CHILD_ANCHOR],
                how="left",
            )
            .drop(CHILD_ANCHOR)
        )

        # Step 6.2: attach this child's struct summary (J3)
        for_return = window_summary_df.select(
            "subject_id",
            ANCHOR,
            F.struct(
                F.lit(child.name).alias("window_name"),
                F.col("timestamp_at_start"),
                F.col("timestamp_at_end"),
                *[F.col(c) for c in predicate_cols],
            ).alias(f"{child.name}_summary"),
        )
        recursive_results.append(
            recursive_result.join(for_return, on=["subject_id", ANCHOR], how="left")
        )

    # Step 7: an anchor survives iff all children realize (J4)
    all_children = recursive_results[0]
    for df in recursive_results[1:]:
        all_children = all_children.join(df, on=["subject_id", ANCHOR], how="inner")

    if checkpoint:
        # truncate lineage between tree levels on deep trees (SURVEY §4
        # physical-design note d); lazy so no extra job is forced here
        all_children = all_children.localCheckpoint(eager=False)

    return all_children
