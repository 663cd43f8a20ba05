"""Query orchestration (SURVEY §3.3; reference ``src/aces/query.py:19-197``).

``query(cfg, predicates_df)`` runs the full pipeline lazily:

1. validate ``(subject_id, timestamp)`` uniqueness (the reference always
   does, ``query.py:110-115``; here the default is ``"auto"`` — run the
   eager check when Catalyst's size estimate for the input is below a
   threshold, skip with a logged notice above it, since the check is a
   full aggregation pass over a 100 TB input);
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
once, through one ``subject_id`` exchange, so nothing is cached and no
session conf is touched. Only ``fused=False`` caches the predicates
DataFrame (every edge of its recursion re-reads it — the reference reuses
its eager in-memory frame the same way), joins the trigger-anchor set (the
most selective relation) first at every level, and relaxes the session's
co-partitioning conf for its joins.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import TaskExtractorConfig
from .operators.constraints import check_constraints, check_static_variables
from .plans.extract_subtree import extract_subtree
from .plans.fused import extract_subtree_fused
from .utils import preorder_iter

logger = logging.getLogger(__name__)


def _estimated_plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the optimized plan (parquet footer
    sizes propagate through it), or None when it is unknown — the backend
    doesn't expose the JVM plan (Spark Connect), or the estimate is the
    Long.MaxValue "no idea" sentinel (Arrow-built local relations)."""
    try:  # pragma: no cover - depends on backend internals
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if est >= (1 << 62) else est


def _has_duplicate_keys(df: DataFrame) -> bool:
    """True iff some ``(subject_id, timestamp)`` key (nulls included,
    matching the reference's ``n_unique`` semantics) occurs twice. One
    partial-aggregated pass; ``isEmpty`` stops at the first offender."""
    dups = (
        df.groupBy("subject_id", "timestamp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
    )
    return not dups.isEmpty()


#: Above this Catalyst size estimate, ``validate_uniqueness="auto"`` skips
#: the eager check (it is a full aggregation pass over the input).
UNIQUENESS_AUTO_MAX_BYTES = 8 << 30


def query(
    cfg: TaskExtractorConfig,
    predicates_df: DataFrame,
    validate_uniqueness: bool | str = "auto",
    cache: bool = True,
    checkpoint: bool = False,
    fused: bool = True,
) -> DataFrame:
    """Extract the cohort realizations for ``cfg`` from ``predicates_df``.

    Returns one row per valid trigger realization with columns
    ``subject_id``, optional ``index_timestamp``, optional ``label``,
    ``trigger`` (anchor timestamp), then one struct column per window-tree
    node in pre-order (reference ``src/aces/query.py:155-197``).

    ``validate_uniqueness``: ``"auto"`` (default) runs the reference's
    mandatory ``(subject_id, timestamp)`` uniqueness check
    (``src/aces/query.py:110-115``) when the input's estimated size is
    under :data:`UNIQUENESS_AUTO_MAX_BYTES`, and skips it with a logged
    notice above that (un-collapsed events would silently corrupt window
    counts, so force with ``True`` if provenance is uncertain).

    ``fused`` (default) evaluates the window tree with the join-free fused
    planner (``plans/fused.py``), which handles every tree shape.
    ``fused=False`` runs the reference-shaped recursion
    (``plans/extract_subtree.py``) instead — the differential tests' second
    opinion; ``cache`` and ``checkpoint`` apply to that path only.
    """
    if validate_uniqueness == "auto":
        if getattr(predicates_df, "_aces_keys_unique", False):
            # the loader collapsed events with groupBy(subject_id,
            # timestamp) — unique by construction, nothing to re-check
            do_validate = False
        else:
            # skip only for provably-large inputs (parquet scans report
            # real sizes); an UNKNOWN size means a hand-built local frame
            # — exactly the un-collapsed-input case the check exists for
            est = _estimated_plan_bytes(predicates_df)
            do_validate = est is None or est <= UNIQUENESS_AUTO_MAX_BYTES
            if not do_validate:
                logger.info(
                    "Skipping (subject_id, timestamp) uniqueness validation "
                    "(input estimated at %s bytes); pass validate_uniqueness=True to force.",
                    est,
                )
    else:
        do_validate = bool(validate_uniqueness)
    if do_validate:
        logger.info("Checking if '(subject_id, timestamp)' columns are unique...")
        if _has_duplicate_keys(predicates_df):
            raise ValueError("The (subject_id, timestamp) columns must be unique.")

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
