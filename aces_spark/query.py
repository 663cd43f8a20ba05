"""Query orchestration (SURVEY §3.3; reference ``src/aces/query.py:19-197``).

``query(cfg, predicates_df)`` runs the full pipeline lazily:

1. materialize the shared sort key ``unix_micros(timestamp)`` and validate
   ``(subject_id, timestamp)`` uniqueness, as the reference always does
   (``query.py:110-115``) — a ``lag`` over that key in the kernels' first
   sorted window, evaluated on every input row inside the kernel stage
   (no eager job, no size threshold), failing the query's first action;
2. static/demographic filter OR drop null-timestamp rows
   (``query.py:121-127``);
3. trigger anchors via the count-constraint filter (``query.py:133-140``);
4. window-tree evaluation — by default ONE join-free windowed pipeline
   (``plans/fused.py``), or the reference's recursion with ``fused=False``;
5. rename the anchor to ``trigger``; extract ``label`` /
   ``index_timestamp`` from their windows' struct summaries
   (``query.py:153-196``);
6. project output columns in window-tree pre-order (``query.py:155-159``).

Physical plan choices: the fused planner reads the predicates DataFrame
once, through one ``subject_id`` exchange and one sort per window
direction, so nothing is cached and no session conf is touched. Only
``fused=False`` caches the predicates DataFrame (every edge of its
recursion re-reads it — the reference reuses its eager in-memory frame the
same way), joins the trigger-anchor set (the most selective relation)
first at every level, and relaxes the session's co-partitioning conf for
its joins.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import TaskExtractorConfig
from .operators.aggregate import SORT_KEY
from .operators.constraints import check_constraints, check_static_variables, check_unique_keys
from .plans.extract_subtree import extract_subtree
from .plans.fused import extract_subtree_fused
from .utils import preorder_iter

logger = logging.getLogger(__name__)


def query(
    cfg: TaskExtractorConfig,
    predicates_df: DataFrame,
    validate_uniqueness: bool = True,
    cache: bool = True,
    checkpoint: bool = False,
    fused: bool = True,
) -> DataFrame:
    """Extract the cohort realizations for ``cfg`` from ``predicates_df``.

    Returns one row per valid trigger realization with columns
    ``subject_id``, optional ``index_timestamp``, optional ``label``,
    ``trigger`` (anchor timestamp), then one struct column per window-tree
    node in pre-order (reference ``src/aces/query.py:155-197``).

    ``validate_uniqueness`` (default ``True``) enforces the reference's
    mandatory ``(subject_id, timestamp)`` uniqueness
    (``src/aces/query.py:110-115``) at every input size and for every
    loader: un-collapsed events would silently double-count window sums.
    The check runs in the query's own sorted pass (no extra job), so a
    duplicate key fails the first action on the result with "The
    (subject_id, timestamp) columns must be unique."

    ``fused`` (default) evaluates the window tree with the join-free fused
    planner (``plans/fused.py``), which handles every tree shape.
    ``fused=False`` runs the reference-shaped recursion
    (``plans/extract_subtree.py``) instead — the differential tests' second
    opinion; ``cache`` and ``checkpoint`` apply to that path only.
    """
    if validate_uniqueness:
        # before the static and null-timestamp filters: every input row is
        # checked, null-timestamp rows included
        predicates_df = check_unique_keys(predicates_df)

    static_variables = [p for p in cfg.predicates if cfg.predicates[p].static]
    if static_variables:
        predicates_df = check_static_variables(static_variables, predicates_df)
    else:
        predicates_df = predicates_df.filter(
            F.col("subject_id").isNotNull() & F.col("timestamp").isNotNull()
        )

    if fused:
        # the whole tree as ONE windowed pipeline: zero joins, no cache —
        # see plans/fused.py
        result = extract_subtree_fused(
            cfg.window_tree, predicates_df, F.col(cfg.trigger.predicate) >= 1
        )
    else:
        # the recursion's summaries carry every non-key column
        predicates_df = predicates_df.drop(SORT_KEY)
        spark = predicates_df.sparkSession
        # Subset co-partitioning (r10, deep-tree exchange profile in
        # COVERAGE.md): the recursion's joins key on (subject_id, <anchor
        # ts>) while every window kernel partitions on subject_id alone.
        # With Spark's default requireAllClusterKeysForCoPartition=true a
        # hash(subject_id) side never satisfies a (subject_id, ts) join and
        # BOTH sides re-shuffle around every tree edge; relaxing it lets
        # the planner accept matching subject_id-only partitionings —
        # correctness-neutral (same-key rows still co-locate under any key
        # subset), and subject_id is the high-cardinality key so no
        # parallelism is lost. Measured on the 5-window HF readmission
        # shape at 2M rows/5k subjects: 22.7 s -> 19.0 s median, identical
        # cohort. Dynamic conf, safe to set per-session.
        try:
            spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        except Exception:  # pragma: no cover - conf may be static on some builds
            pass
        if cache:
            # the recursion re-reads this frame at every tree edge through
            # the cache; without this conf AQE treats the cached plan's
            # output partitioning as unknown and re-shuffles the FULL frame
            # once per window kernel (3 redundant exchanges on the flagship
            # task, ~2× wall). Dynamic conf, safe to set per-session.
            try:
                spark.conf.set(
                    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
                )
            except Exception:  # pragma: no cover - conf may be static on some builds
                pass
            predicates_df = predicates_df.cache()

        prospective_root_anchors = check_constraints(
            {cfg.trigger.predicate: (1, None)}, predicates_df
        ).select("subject_id", F.col("timestamp").alias("subtree_anchor_timestamp"))

        result = extract_subtree(
            cfg.window_tree, prospective_root_anchors, predicates_df, checkpoint=checkpoint
        )

    result = result.withColumnRenamed("subtree_anchor_timestamp", "trigger")

    to_return_cols = [
        "subject_id",
        "trigger",
        *[f"{node.node_name}_summary" for node in preorder_iter(cfg.window_tree)][1:],
    ]

    if cfg.label_window:
        label_col = "end" if cfg.windows[cfg.label_window].root_node == "start" else "start"
        result = result.withColumn(
            "label",
            F.col(f"`{cfg.label_window}.{label_col}_summary`.`{cfg.windows[cfg.label_window].label}`"),
        )
        to_return_cols.insert(1, "label")

    if cfg.index_timestamp_window:
        index_timestamp_col = (
            "end" if cfg.windows[cfg.index_timestamp_window].root_node == "start" else "start"
        )
        result = result.withColumn(
            "index_timestamp",
            F.col(
                f"`{cfg.index_timestamp_window}.{index_timestamp_col}_summary`"
                f".`timestamp_at_{cfg.windows[cfg.index_timestamp_window].index_timestamp}`"
            ),
        )
        to_return_cols.insert(1, "index_timestamp")

    return result.select(*[F.col(f"`{c}`") for c in to_return_cols])


def report_cohort_stats(result: DataFrame, label_col: str = "label") -> dict:
    """Eager post-query sanity report, matching the reference's logging
    (``src/aces/query.py:148-151`` row/subject counts,
    ``:174-179`` label-uniformity warning). ONE aggregation job over the
    result — subjects counted with ``approx_count_distinct`` (an exact
    distinct on 100 TB of output would shuffle every subject_id; ±2% is
    plenty for a sanity line), labels counted exactly (cardinality is
    tiny). Returns the stats as a dict; call it on a persisted/written
    result to avoid recomputing the query."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("subject_id").alias("n_subjects"),
    ]
    has_label = label_col in result.columns
    if has_label:
        aggs.append(F.countDistinct(F.col(label_col)).alias("n_labels"))
        aggs.append(F.first(F.col(label_col), ignorenulls=False).alias("first_label"))
    row = result.agg(*aggs).collect()[0]
    stats = row.asDict()
    logger.info(
        "Done. %s valid rows returned corresponding to ~%s subjects.",
        f"{stats['n_rows']:,}",
        f"{stats['n_subjects']:,}",
    )
    if has_label and stats["n_rows"] > 0 and stats["n_labels"] <= 1:
        logger.warning(
            "All labels in the extracted cohort are the same: '%s'. "
            "This may indicate an issue with the task logic. "
            "Please double-check your configuration file if this is not expected.",
            stats["first_label"],
        )
    return stats
