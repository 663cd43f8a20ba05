"""The two parts of the ``cohort`` workload and their DuckDB oracles.

``cohort_fused`` runs the 2-window flagship task (a temporal ``obs`` window
plus an event-bound ``fu`` leaf) on a persisted, in-memory predicates
frame: the fused planner, both window kernels and the eager
``(subject_id, timestamp)`` uniqueness check, with no I/O.

``meds_readmission`` runs a user's whole path on seeded MEDS parquet:
``TaskExtractorConfig.load`` on the 5-window heart-failure readmission task,
``get_predicates_df``, ``query`` (general planner: cache, joins, re-reads;
the loader marks keys unique, so the uniqueness check is skipped) and
``write_result`` as MEDS labels.

Each oracle is a DuckDB formulation of the task over the generator's own
arrays; it shares no code with the engine.
"""

from __future__ import annotations

import shutil
from datetime import timedelta
from pathlib import Path

import numpy as np
import pandas as pd

from spans import plan_stats

DAY_US = 86_400_000_000
MINUTE_US = 60_000_000


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _traced_query(tracer, cfg, predicates_df):
    """``query()`` plus, when tracing, the plan it produced."""
    from aces_spark.query import query

    with tracer.span("query.construct"):
        result = query(cfg, predicates_df)
    if tracer.enabled:
        with tracer.span("plan", exec_counters=False) as s:
            s.counters.update(plan_stats(result))
    return result


def _compare(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Order-insensitive exact comparison of two frames with equal columns."""
    got = got[want.columns].sort_values(keys, na_position="first").reset_index(drop=True)
    want = want.sort_values(keys, na_position="first").reset_index(drop=True)
    if len(got) != len(want):
        return [f"row count {len(got)} != oracle {len(want)}"]
    bad = []
    for c in want.columns:
        g = got[c].astype(object).where(got[c].notna(), None).tolist()
        w = want[c].astype(object).where(want[c].notna(), None).tolist()
        diff = sum(1 for a, b in zip(g, w) if a != b)
        if diff:
            bad.append(f"column {c}: {diff} rows differ from oracle")
    return bad


# ------------------------------------------------------------ cohort_fused


class CohortFused:
    name = "cohort_fused"
    rows = 50_000
    subjects = 500
    check_each_pass = False

    def setup(self, spark, seed: int, workdir: Path) -> None:
        from pyspark.sql import functions as F

        from aces_spark.config import (
            EventConfig,
            PlainPredicateConfig,
            TaskExtractorConfig,
            WindowConfig,
        )

        self.events = _event_stream(seed, self.rows, self.subjects)
        self.df = (
            spark.createDataFrame(self.events)
            .select(
                "subject_id",
                F.timestamp_micros("ts").alias("timestamp"),
                "p_trig",
                "p_bound",
            )
            .repartition(spark.sparkContext.defaultParallelism * 2, "subject_id")
            .persist()
        )
        self.df.count()
        self.cfg = TaskExtractorConfig(
            predicates={"p_trig": PlainPredicateConfig("x"), "p_bound": PlainPredicateConfig("y")},
            trigger=EventConfig("p_trig"),
            windows={
                "obs": WindowConfig(
                    start="trigger", end="start + 24h",
                    start_inclusive=True, end_inclusive=True,
                    has={"p_bound": "(1, None)"},
                ),
                "fu": WindowConfig(
                    start="obs.end", end="start -> p_bound",
                    start_inclusive=False, end_inclusive=True,
                ),
            },
        )

    def kept_inputs(self) -> list:
        return [self.df]

    def run(self, spark, tracer):
        result = _traced_query(tracer, self.cfg, self.df)
        with tracer.span("exec.noop_write"):
            _noop_write(result)
        return None

    def probe_layers(self, spark, tracer) -> None:
        """Each window kernel alone on the workload's frame."""
        from pyspark.sql import functions as F

        from aces_spark.operators.aggregate import (
            aggregate_temporal_window,
            boolean_expr_bound_sum,
        )
        from aces_spark.types import TemporalWindowBounds

        with tracer.operation("aggregate.temporal"), tracer.span("aggregate.temporal"):
            _noop_write(aggregate_temporal_window(
                self.df, TemporalWindowBounds(True, timedelta(hours=24), True, None)
            ))
        with tracer.operation("aggregate.event_bound"), tracer.span("aggregate.event_bound"):
            _noop_write(boolean_expr_bound_sum(
                self.df, F.col("p_bound") > 0, "row_to_bound", "both"
            ))

    def check(self, spark, output, want) -> list[str]:
        from pyspark.sql import functions as F

        from aces_spark.query import query

        flat = [F.col("subject_id"), F.unix_micros("trigger").alias("trigger")]
        for w in ("obs", "fu"):
            s = f"`{w}.end_summary`"
            flat += [
                F.col(f"{s}.window_name").alias(f"{w}_name"),
                F.unix_micros(F.col(f"{s}.timestamp_at_start")).alias(f"{w}_start"),
                F.unix_micros(F.col(f"{s}.timestamp_at_end")).alias(f"{w}_end"),
                F.col(f"{s}.p_trig").alias(f"{w}_trig"),
                F.col(f"{s}.p_bound").alias(f"{w}_bound"),
            ]
        got = query(self.cfg, self.df).select(*flat).toPandas()
        return _compare(got, want, ["subject_id", "trigger"])

    def oracle(self, spark) -> pd.DataFrame:
        import duckdb

        con = duckdb.connect()
        con.register("ev", self.events)
        return con.execute(f"""
            WITH obs AS (
              SELECT t.subject_id, t.ts AS t,
                     sum(e.p_trig) AS o_trig, sum(e.p_bound) AS o_bound
              FROM ev t JOIN ev e
                ON e.subject_id = t.subject_id AND e.ts BETWEEN t.ts AND t.ts + {DAY_US}
              WHERE t.p_trig >= 1
              GROUP BY t.subject_id, t.ts
              HAVING sum(e.p_bound) >= 1),
            -- fu ends at the first boundary at or after its start: with an
            -- inclusive end, a boundary on the start instant closes the
            -- window itself, with zero counts
            bnd AS (
              SELECT o.*, (SELECT min(e.ts) FROM ev e
                           WHERE e.subject_id = o.subject_id AND e.p_bound > 0
                             AND e.ts >= o.t + {DAY_US}) AS b
              FROM obs o),
            fu AS (
              SELECT b.subject_id, b.t, b.o_trig, b.o_bound, b.b,
                     coalesce(sum(e.p_trig), 0) AS f_trig,
                     coalesce(sum(e.p_bound), 0) AS f_bound
              FROM bnd b LEFT JOIN ev e
                ON e.subject_id = b.subject_id AND e.ts > b.t + {DAY_US} AND e.ts <= b.b
              WHERE b.b IS NOT NULL
              GROUP BY ALL)
            SELECT subject_id, t AS trigger,
                   'obs.end' AS obs_name, t AS obs_start, t + {DAY_US} AS obs_end,
                   o_trig AS obs_trig, o_bound AS obs_bound,
                   'fu.end' AS fu_name, t + {DAY_US} AS fu_start, b AS fu_end,
                   f_trig AS fu_trig, f_bound AS fu_bound
            FROM fu
            UNION ALL
            -- a trigger whose event-bound leaf never resolves leaves one
            -- (subject, null) row per subject
            SELECT DISTINCT subject_id, NULL, NULL, NULL, NULL, NULL, NULL,
                   NULL, NULL, NULL, NULL, NULL
            FROM bnd WHERE b IS NULL
        """).df()


def _event_stream(seed: int, rows: int, subjects: int) -> pd.DataFrame:
    """Per-subject event streams with unique, strictly increasing minute
    timestamps; ``p_trig`` fires on ~1/3 of rows, ``p_bound`` (count 1 or
    2) on ~1/10."""
    rng = np.random.default_rng(seed)
    subject = np.sort(rng.integers(0, subjects, rows))
    gaps = rng.integers(1, 180, rows) * MINUTE_US
    cum = np.cumsum(gaps)
    first = np.r_[0, np.flatnonzero(np.diff(subject)) + 1]
    sizes = np.diff(np.r_[first, rows])
    origin = rng.integers(0, 500_000, len(first)) * MINUTE_US
    ts = cum - np.repeat(cum[first] - gaps[first] - origin, sizes)
    return pd.DataFrame({
        "subject_id": subject.astype("int64"),
        "ts": ts.astype("int64"),
        "p_trig": (rng.random(rows) < 1 / 3).astype("int64"),
        "p_bound": rng.choice(np.array([0, 1, 2], dtype="int64"), rows, p=[0.9, 0.08, 0.02]),
    })


# -------------------------------------------------------- meds_readmission

HF_READMISSION_YAML = """\
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


class MedsReadmission:
    name = "meds_readmission"
    subjects = 600
    shards = 2
    check_each_pass = True

    def setup(self, spark, seed: int, workdir: Path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.meds = _meds_records(seed, self.subjects)
        self.rows = len(self.meds)
        self.data_dir = workdir / "meds" / "data"
        self.out_dir = workdir / "meds" / "labels"
        shutil.rmtree(workdir / "meds", ignore_errors=True)
        shard_of = self.meds["subject_id"].to_numpy() % self.shards
        schema = pa.schema([
            ("subject_id", pa.int64()),
            ("time", pa.timestamp("us")),
            ("code", pa.string()),
            ("numeric_value", pa.float32()),
        ])
        for k in range(self.shards):
            part = self.meds[shard_of == k]
            (self.data_dir / "train").mkdir(parents=True, exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(part, schema=schema, preserve_index=False),
                self.data_dir / "train" / f"{k}.parquet",
            )
        self.cfg_path = workdir / "meds" / "hf_readmission.yaml"
        self.cfg_path.write_text(HF_READMISSION_YAML)

    def kept_inputs(self) -> list:
        return []

    def run(self, spark, tracer):
        from aces_spark.config import TaskExtractorConfig
        from aces_spark.sources.predicates import get_predicates_df
        from aces_spark.sources.sinks import write_result

        with tracer.span("config.load", exec_counters=False):
            cfg = TaskExtractorConfig.load(str(self.cfg_path))
        with tracer.span("predicates.construct"):
            preds = get_predicates_df(cfg, spark, str(self.data_dir), "meds")
        result = _traced_query(tracer, cfg, preds)
        with tracer.span("sinks.write") as s:
            write_result(result, str(self.out_dir), meds_labels=True)
        if tracer.enabled:
            s.counters["output_bytes"] = sum(
                f.stat().st_size for f in self.out_dir.rglob("*") if f.is_file()
            )
        return self.out_dir

    def probe_layers(self, spark, tracer) -> None:
        """The predicates frame forced on its own."""
        from aces_spark.config import TaskExtractorConfig
        from aces_spark.sources.predicates import get_predicates_df

        cfg = TaskExtractorConfig.load(str(self.cfg_path))
        with tracer.operation("predicates.exec"), tracer.span("predicates.exec") as s:
            s.counters["rows_out"] = get_predicates_df(
                cfg, spark, str(self.data_dir), "meds"
            ).count()

    def check(self, spark, output, want) -> list[str]:
        import pyarrow.parquet as pq

        got = pq.read_table(output).to_pandas()
        got = pd.DataFrame({
            "subject_id": got["subject_id"].astype("int64"),
            "prediction_time": pd.to_datetime(got["prediction_time"], utc=True)
            .dt.tz_localize(None).astype("datetime64[us]").astype("int64"),
            "boolean_value": got["boolean_value"].astype(bool),
        })
        return _compare(got, want, ["subject_id", "prediction_time"])

    def oracle(self, spark) -> pd.DataFrame:
        import duckdb

        con = duckdb.connect()
        con.register("meds", self.meds)
        five_years = 1825 * DAY_US
        thirty_days = 30 * DAY_US
        return con.execute(f"""
            WITH ev AS (
              SELECT subject_id, epoch_us(time) AS ts,
                     sum(regexp_matches(code, 'ADMISSION//.*')::INT) AS adm,
                     sum(regexp_matches(code, 'DISCHARGE//.*')::INT) AS dis,
                     sum(regexp_matches(code, 'ICD9CM//428.*')::INT) AS hf
              FROM meds WHERE time IS NOT NULL GROUP BY ALL),
            trig AS (
              SELECT t.subject_id, t.ts AS t,
                     (SELECT max(e.ts) FROM ev e WHERE e.subject_id = t.subject_id
                        AND e.adm >= 1 AND e.ts <= t.ts) AS a
              FROM ev t WHERE t.dis >= 1)
            SELECT subject_id, t AS prediction_time,
                   (SELECT coalesce(sum(e.adm), 0) FROM ev e WHERE e.subject_id = g.subject_id
                      AND e.ts > g.t AND e.ts <= g.t + {thirty_days}) > 0 AS boolean_value
            FROM trig g
            WHERE a IS NOT NULL
              AND (SELECT sum(e.hf) FROM ev e WHERE e.subject_id = g.subject_id
                     AND e.ts BETWEEN g.a AND g.t) >= 1
              AND EXISTS (SELECT 1 FROM ev e WHERE e.subject_id = g.subject_id
                     AND e.ts >= g.a - {five_years} AND e.ts < g.a)
              AND EXISTS (SELECT 1 FROM ev e WHERE e.subject_id = g.subject_id
                     AND e.ts > g.t + {thirty_days})
        """).df()


def _meds_records(seed: int, subjects: int) -> pd.DataFrame:
    """A seeded hospital course of exactly 28 records per subject, so the
    input size does not depend on the seed: one static row, two history
    labs (within five years of the first stay for ~70% of subjects), three
    admission→discharge stays of 1–9 days, 5–60 days apart (some discharges
    see a readmission within 30 days), each holding six labs or diagnoses
    (heart-failure dx on ~15% of them), and one follow-up lab 5–90 days
    after the last stay. Admission and discharge never share a timestamp;
    records inside a stay may (the loader collapses them)."""
    rng = np.random.default_rng(seed)
    sid, t, code, val = [], [], [], []

    def add(s, ts, c, v=np.nan):
        sid.append(s)
        t.append(ts)
        code.append(c)
        val.append(v)

    for s in range(subjects):
        add(s, None, f"GENDER//{'FM'[rng.integers(2)]}")
        now = int(rng.integers(0, 3_000)) * DAY_US
        add(s, now, f"LAB//{rng.integers(50)}", float(rng.normal()))
        now += int(rng.integers(1, 400)) * DAY_US
        add(s, now, f"LAB//{rng.integers(50)}", float(rng.normal()))
        gap = rng.integers(30, 1_500) if rng.random() < 0.7 else rng.integers(1_900, 2_500)
        now += int(gap) * DAY_US
        for _ in range(3):
            add(s, now, f"ADMISSION//{'ER' if rng.random() < 0.5 else 'ELECTIVE'}")
            stay = int(rng.integers(1, 10)) * DAY_US
            for _ in range(6):
                at = now + int(rng.integers(1, stay // MINUTE_US)) * MINUTE_US
                kind = rng.random()
                if kind < 0.15:
                    add(s, at, "ICD9CM//428.0")
                elif kind < 0.4:
                    add(s, at, f"ICD9CM//{rng.choice(['250.0', '401.9', '584.9'])}")
                else:
                    add(s, at, f"LAB//{rng.integers(50)}", float(rng.normal()))
            now += stay
            add(s, now, "DISCHARGE//HOME")
            discharged = now
            now += int(rng.integers(5, 61)) * DAY_US
        follow_up = discharged + int(rng.integers(5, 91)) * DAY_US
        add(s, follow_up, f"LAB//{rng.integers(50)}", float(rng.normal()))
    return pd.DataFrame({
        "subject_id": np.asarray(sid, dtype="int64"),
        "time": np.asarray(
            [np.iinfo("int64").min if x is None else x for x in t], dtype="int64"
        ).view("datetime64[us]"),
        "code": code,
        "numeric_value": np.asarray(val, dtype="float32"),
    })
