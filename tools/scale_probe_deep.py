"""Deep-tree scale probe (r10 — VERDICT r9 ask #6, SURVEY §7 risk #5).

The flagship probe (tools/scale_probe.py) times a 2-window task; the
reference's hardest published shape is the 5-window HF-derived
readmission task (reference tests/test_other_meds.py:110-154, ported in
tests/test_other_meds.py): a BACKWARD event-bound window
(``end <- admission``), a cross-window reference chain
(``data_within_5yr_of_admit.end → admission_is_HF.start``), an
unbounded-start input window, a forward target with a label, and an
unbounded-end censor-protection window — 5 levels of extract-subtree
recursion. This probe runs THAT exact task config over a synthetic
20M-row / 50k-subject predicates frame and records rows/s plus the
lineage/checkpoint shape of the final plan (exchange count + truncated
ExistingRDD scan count), so the recursion-depth risk is measured, not
argued.

Usage: python tools/scale_probe_deep.py [n_rows] [n_subjects]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

HF_READMISSION_CFG = """\
predicates:
  admission:
    code: {regex: ADMISSION//.*}
  discharge:
    code: {regex: DISCHARGE//.*}
  HF_dx:
    code: {regex: ICD9CM//428.*}

trigger: discharge

windows:
  data_within_5yr_of_admit:
    start: end - 1825d
    end: admission_is_HF.start
    start_inclusive: True
    end_inclusive: False
    has:
      _ANY_EVENT: (1, None)
  admission_is_HF:
    start: end <- admission
    end: trigger
    start_inclusive: True
    end_inclusive: True
    has:
      HF_dx: (1, None)
  input:
    start: NULL
    end: trigger
    start_inclusive: True
    end_inclusive: True
    index_timestamp: end
  target:
    start: input.end
    end: start + 30d
    start_inclusive: False
    end_inclusive: True
    label: admission
  censor_protection:
    start: target.end
    end: null
    start_inclusive: False
    end_inclusive: True
    has:
      _ANY_EVENT: (1, None)
"""


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    subj = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("aces-spark-deep-probe")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # set BEFORE the probe's persist so the InMemoryRelation keeps
        # its hash(subject_id) output partitioning visible to consumers
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from aces_spark.config import TaskExtractorConfig
    from aces_spark.query import query

    with tempfile.NamedTemporaryFile("w", suffix=".yaml", delete=False) as f:
        f.write(HF_READMISSION_CFG)
        cfg_path = f.name
    cfg = TaskExtractorConfig.load(cfg_path)

    # synthetic per-subject hospital course, 4-HOURLY cadence with minute
    # jitter (at 20M/50k each record is 400 events = 66.7 days — long
    # enough that early triggers clear the +30d target AND the
    # censor-protection any-event check): every 50th event an admission,
    # every 50th+25 a discharge (stays are 100h), HF dx every 10th event
    # — admission→discharge spans contain a dx, early discharges see a
    # readmission inside 30d, and the record tail past target.end
    # satisfies censor protection for triggers in the first half
    seq = (F.col("id") / subj).cast("long")
    df = (
        spark.range(n)
        .select(
            (F.col("id") % subj).alias("subject_id"),
            F.timestamp_micros(
                seq * 14_400_000_000 + (F.col("id") % 7) * 60_000_000
            ).alias("timestamp"),
            (seq % 50 == 0).cast("long").alias("admission"),
            (seq % 50 == 25).cast("long").alias("discharge"),
            (seq % 10 == 0).cast("long").alias("HF_dx"),
            F.lit(1).cast("long").alias("_ANY_EVENT"),
        )
        .repartition(int(cpus) * 2, "subject_id")
        .persist()
    )
    df.count()  # materialize

    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "3"))

    def timed(fn):
        fn().write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        times.sort()
        med = (
            times[len(times) // 2]
            if reps % 2
            else (times[reps // 2 - 1] + times[reps // 2]) / 2
        )
        return round(med, 2), round(times[0], 2), round(times[-1], 2)

    sec, lo, hi = timed(lambda: query(cfg, df))

    # lineage/checkpoint shape of the 5-level recursion: exchanges in the
    # optimized plan, plus how many branches were truncated to an
    # ExistingRDD scan by the plan-reuse checkpoints
    result = query(cfg, df)
    plan = result._jdf.queryExecution().executedPlan().toString()
    cohort_rows = result.count()

    def mrows(s):
        return round(n / s / 1e6, 2)

    print(
        json.dumps(
            {
                "metric": "scale_probe_deep_hf_readmission",
                "rows": n,
                "subjects": subj,
                "cpus": int(cpus),
                "reps": reps,
                "windows": 5,
                "hf_query_sec": sec,
                "hf_mrows_per_sec": mrows(sec),
                "hf_mrows_range": [mrows(hi), mrows(lo)],
                "cohort_rows": cohort_rows,
                "plan_exchanges": plan.count("Exchange"),
                "plan_rdd_scans": plan.count("ExistingRDD"),
                "baseline_mrows_per_sec": "0.22-0.44 (reference, 36 cores, BASELINE.md)",
                "peak_rss_mib": __import__("bench").peak_rss_mib(),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
