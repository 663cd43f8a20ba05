"""Time the scale probe's 2-window flagship query with and without the
``(subject_id, timestamp)`` uniqueness check, on one checkout.

Usage: python plans/pr3/query_check_split.py <checkout-root>

Builds the same 2M-row / 10k-subject persisted frame as
``tools/scale_probe.py``, then times ``query(cfg, df)`` and
``query(cfg, df, validate_uniqueness=False)`` (one untimed warm-up, three
timed noop writes each). Prints one JSON line:
``{"checked": [median, [runs]], "unchecked": [median, [runs]]}``.
"""

from __future__ import annotations

import json
import sys
import time

repo = sys.argv[1]
sys.path.insert(0, repo)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.driver.memory", "6g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("OFF")

from aces_spark.config import (  # noqa: E402
    EventConfig,
    PlainPredicateConfig,
    TaskExtractorConfig,
    WindowConfig,
)
from aces_spark.query import query  # noqa: E402

n, subj = 2_000_000, 10_000
df = (
    spark.range(n)
    .select(
        (F.col("id") % subj).alias("subject_id"),
        F.timestamp_micros(
            (F.col("id") / subj).cast("long") * 3_600_000_000 + (F.col("id") % 7) * 60_000_000
        ).alias("timestamp"),
        (F.col("id") % 3 == 0).cast("long").alias("p_trig"),
        (F.col("id") % 11 == 0).cast("long").alias("p_bound"),
    )
    .repartition(8, "subject_id")
    .persist()
)
df.count()
cfg = TaskExtractorConfig(
    predicates={"p_trig": PlainPredicateConfig("x"), "p_bound": PlainPredicateConfig("y")},
    trigger=EventConfig("p_trig"),
    windows={
        "obs": WindowConfig(
            start="trigger", end="start + 24h",
            start_inclusive=True, end_inclusive=True, has={"p_bound": "(1, None)"},
        ),
        "fu": WindowConfig(
            start="obs.end", end="start -> p_bound",
            start_inclusive=False, end_inclusive=True,
        ),
    },
)


def timed(fn, reps=3):
    fn().write.format("noop").mode("overwrite").save()
    runs = []
    for _ in range(reps):
        t = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t)
    return round(sorted(runs)[reps // 2], 2), [round(x, 2) for x in runs]


print(json.dumps({
    "checked": timed(lambda: query(cfg, df)),
    "unchecked": timed(lambda: query(cfg, df, validate_uniqueness=False)),
}))
