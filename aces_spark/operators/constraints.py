"""Constraint filtering — the engine's WHERE/HAVING (SURVEY §2.3).

Reimplements:
  * ``check_constraints`` — reference ``src/aces/constraints.py:12-119``:
    conjunctive inclusive count-range filter over window-summary rows.
  * ``check_static_variables`` — reference
    ``src/aces/constraints.py:122-185``: keep subjects whose null-timestamp
    (static/demographic) rows satisfy ALL listed demographics, then drop the
    static rows and demographic columns.
  * ``check_unique_keys`` — reference ``src/aces/query.py:110-115``: fail
    when a ``(subject_id, timestamp)`` key occurs twice.

All are pure Column-expression filters (no UDFs, no actions) so Catalyst
can push them down; the static filter is a per-subject windowed ANY and the
uniqueness check a ``lag`` in the kernels' own sorted window, which keeps
the plan join-free and reuses the subject_id partitioning.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..types import ANY_EVENT_COLUMN
from .aggregate import SORT_KEY, with_sort_key

#: ``lag``'s value for a subject's first row: no real sort key is this small
#: (Spark timestamps stop at year 1), so it never equals one.
_NO_PREVIOUS_ROW = -(1 << 63)


def check_constraints(
    window_constraints: dict[str, tuple[int | None, int | None]],
    summary_df: DataFrame,
) -> DataFrame:
    """Filter rows whose predicate counts fall outside any constraint's
    inclusive ``(min, max)`` range; ``None`` endpoints are unbounded and
    ``"*"`` aliases the any-event column (reference
    ``src/aces/constraints.py:95-119``).

    Unlike the reference, no per-constraint row counts are materialized
    (those would be eager actions on a 100 TB input); exclusion counts are
    observable via the Spark UI instead.
    """
    should_drop = F.lit(False)

    for col, (valid_min_inc, valid_max_inc) in window_constraints.items():
        if (valid_min_inc is None and valid_max_inc is None) or (
            valid_min_inc is not None and valid_max_inc is not None and valid_max_inc < valid_min_inc
        ):
            raise ValueError(f"Invalid constraint for '{col}': {valid_min_inc} - {valid_max_inc}")

        if col == "*":
            col = ANY_EVENT_COLUMN

        drop_expr = F.lit(False)
        if valid_min_inc is not None:
            drop_expr = drop_expr | (F.col(col) < valid_min_inc)
        if valid_max_inc is not None:
            drop_expr = drop_expr | (F.col(col) > valid_max_inc)

        should_drop = should_drop | drop_expr

    return summary_df.filter(~should_drop)


def check_static_variables(patient_demographics: list[str], predicates_df: DataFrame) -> DataFrame:
    """Keep only subjects where, for EVERY listed demographic, some
    null-timestamp row has a positive count; then drop null-timestamp rows
    and the demographic columns (reference
    ``src/aces/constraints.py:122-185``).

    Spark formulation: per-subject ``max(when(ts is null & col > 0, 1))``
    windowed ANY (SURVEY §2.3 C2) — semi-join semantics without a join.
    """
    for demographic in patient_demographics:
        if demographic not in predicates_df.columns:
            raise ValueError(f"Static predicate '{demographic}' not found in the predicates dataframe.")

    w_subj = Window.partitionBy("subject_id")
    constraints = [
        F.max(
            F.when(F.col("timestamp").isNull() & (F.col(demographic) > 0), F.lit(1)).otherwise(F.lit(0))
        ).over(w_subj)
        == 1
        for demographic in patient_demographics
    ]
    keep = reduce(lambda a, b: a & b, constraints)

    # window functions cannot appear in a WHERE clause — materialize the
    # per-subject flag as a column first, then filter on it
    return (
        predicates_df.withColumn("__keep_subject", keep)
        .filter(F.col("__keep_subject"))
        .filter(F.col("timestamp").isNotNull())
        .drop("__keep_subject", *patient_demographics)
    )


def check_unique_keys(predicates_df: DataFrame) -> DataFrame:
    """``predicates_df`` (plus the shared sort key) with a row filter that
    fails the query with "The (subject_id, timestamp) columns must be
    unique." when a subject has two rows with one timestamp — two
    null-timestamp rows included, matching the reference's ``n_unique``.

    The check is a ``lag`` over the kernels' own window (partitioned by
    ``subject_id``, ascending sort key), so it adds no job, no exchange and
    no sort: it runs inside the kernel stage, on every row, at any input
    size, and surfaces at the query's first action as a
    ``USER_RAISED_EXCEPTION``. Rows with a null ``subject_id`` are dropped
    before any kernel reads them, and Catalyst may drop them before this
    check too.
    """
    df = with_sort_key(predicates_df)
    key = F.col(SORT_KEY)
    w = Window.partitionBy("subject_id").orderBy(key.asc())
    duplicate = F.lag(key, 1, _NO_PREVIOUS_ROW).over(w).eqNullSafe(key)
    failed = F.when(
        duplicate, F.raise_error(F.lit("The (subject_id, timestamp) columns must be unique."))
    )
    return (
        df.withColumn("__duplicate", failed)
        .filter(F.col("__duplicate").isNull())
        .drop("__duplicate")
    )
