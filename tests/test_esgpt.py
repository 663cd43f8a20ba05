"""ESGPT three-table loader (SURVEY §2.1 S3, §2.2 P6, §2.7 A2, §2.6 J5).

Golden frames mirror the reference's own doctest example
(``src/aces/predicates.py:313-365`` — the subjects/events/measurements
trio with admission/discharge/HR/potassium/eye-colour predicates) plus
expression-level cases from ``src/aces/config.py:150-234``.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.errors import SparkRuntimeException

from aces_spark.config import (
    EventConfig,
    PlainPredicateConfig,
    TaskExtractorConfig,
    WindowConfig,
)
from aces_spark.query import query
from aces_spark.sources.predicates import (
    generate_plain_predicates_from_esgpt,
    get_predicates_df,
    process_esgpt_data,
)

DT = datetime.datetime


def _esgpt_tables(spark):
    subjects = spark.createDataFrame(
        [(1, "A123", "brown", DT(1980, 1, 1)), (2, "B456", "blue", DT(1990, 1, 1))],
        "subject_id long, MRN string, eye_colour string, dob timestamp",
    )
    events = spark.createDataFrame(
        [
            (1, 1, DT(2021, 1, 1, 0, 0), "adm", 30),
            (2, 1, DT(2021, 1, 1, 12, 0), "dis", 30),
            (3, 2, DT(2021, 1, 2, 0, 0), "adm", 40),
            (4, 2, DT(2021, 1, 2, 12, 0), "obs", 40),
        ],
        "event_id long, subject_id long, timestamp timestamp, event_type string, age long",
    )
    measurements = spark.createDataFrame(
        [
            (1, "foo", None, None, None, None),
            (1, None, None, 150.0, None, None),
            (1, None, None, None, "K", 5.1),
            (2, None, None, 120.0, None, None),
            (2, None, None, None, "K", 3.8),
            (2, None, "H", None, None, None),
            (3, "bar", None, None, None, None),
            (4, None, None, 177.0, None, None),
            (5, None, None, 89.0, "SpO2", 99.0),  # event_id 5 absent from events
        ],
        "event_id long, adm_loc string, dis_loc string, HR double, lab string, lab_val double",
    )
    return subjects, events, measurements


PREDICATES = {
    "is_adm": PlainPredicateConfig(code="event_type//adm"),
    "is_dis": PlainPredicateConfig(code="event_type//dis"),
    "high_HR": PlainPredicateConfig(code="HR", value_min=140),
    "high_Potassium": PlainPredicateConfig(code="lab//K", value_min=5.0),
    "eye_colour": PlainPredicateConfig(code="eye_colour//brown", static=True),
}
VALUE_COLUMNS = {"high_HR": None, "high_Potassium": "lab_val"}

# the reference doctest's expected output frame (src/aces/predicates.py:352-365)
GOLDEN = {
    (1, None): (0, 0, 0, 0, 1),
    (2, None): (0, 0, 0, 0, 0),
    (1, DT(2021, 1, 1, 0, 0)): (1, 0, 1, 1, 0),
    (1, DT(2021, 1, 1, 12, 0)): (0, 1, 0, 0, 0),
    (2, DT(2021, 1, 2, 0, 0)): (1, 0, 0, 0, 0),
    (2, DT(2021, 1, 2, 12, 0)): (0, 0, 1, 0, 0),
}


def _as_map(rows):
    return {
        (r.subject_id, r.timestamp): (r.is_adm, r.is_dis, r.high_HR, r.high_Potassium, r.eye_colour)
        for r in rows
    }


def test_process_esgpt_data_golden(spark):
    subjects, events, measurements = _esgpt_tables(spark)
    out = process_esgpt_data(subjects, events, measurements, VALUE_COLUMNS, PREDICATES)
    assert out.columns == ["subject_id", "timestamp", "is_adm", "is_dis", "high_HR", "high_Potassium", "eye_colour"]
    assert _as_map(out.collect()) == GOLDEN


def test_esgpt_directory_loader(spark, tmp_path):
    subjects, events, measurements = _esgpt_tables(spark)
    subjects.write.parquet(str(tmp_path / "subjects_df.parquet"))
    events.write.parquet(str(tmp_path / "events_df.parquet"))
    measurements.write.parquet(str(tmp_path / "dynamic_measurements_df.parquet"))
    (tmp_path / "config.json").write_text(
        '{"value_columns": {"high_HR": null, "high_Potassium": "lab_val"}}'
    )
    out = generate_plain_predicates_from_esgpt(spark, tmp_path, PREDICATES)
    assert _as_map(out.collect()) == GOLDEN


def test_esgpt_missing_table_errors(spark, tmp_path):
    with pytest.raises(ValueError, match="valid ESGPT dataset"):
        generate_plain_predicates_from_esgpt(spark, tmp_path, PREDICATES)


def test_esgpt_event_type_ampersand_split(spark):
    """'&'-joined composite event types match each component exactly
    (reference src/aces/config.py:199-200)."""
    subjects = spark.createDataFrame([(1,)], "subject_id long")
    events = spark.createDataFrame(
        [
            (1, 1, DT(2021, 1, 1), "ADMISSION&LAB"),
            (2, 1, DT(2021, 1, 2), "LAB"),
            (3, 1, DT(2021, 1, 3), "ADMISSIONX"),
        ],
        "event_id long, subject_id long, timestamp timestamp, event_type string",
    )
    meas = spark.createDataFrame([(1,)], "event_id long")
    preds = {"adm": PlainPredicateConfig(code="event_type//ADMISSION")}
    out = process_esgpt_data(subjects, events, meas, {}, preds)
    got = {r.timestamp: r.adm for r in out.collect() if r.timestamp is not None}
    assert got == {DT(2021, 1, 1): 1, DT(2021, 1, 2): 0, DT(2021, 1, 3): 0}


def test_esgpt_expr_surface(spark):
    """Expression semantics from the reference's ESGPT_eval_expr doctests
    (src/aces/config.py:156-191): multi-part codes, bare-column
    is_not_null, range-on-self, other_cols, missing values-column errors."""
    df = spark.createDataFrame(
        [
            ("diastolic//atrial", 120.0, "atrial"),
            ("systolic", 150.0, "mitral"),
            (None, 90.0, "atrial"),
        ],
        "BP string, BP_value double, chamber string",
    )
    multi = PlainPredicateConfig(code="BP//diastolic//atrial").esgpt_spark_expr()
    assert [r[0] for r in df.select(multi).collect()] == [True, False, None]

    notnull = PlainPredicateConfig(code="BP").esgpt_spark_expr()
    assert [r[0] for r in df.select(notnull).collect()] == [True, True, False]

    range_self = PlainPredicateConfig(code="BP_value", value_min=100).esgpt_spark_expr()
    assert [r[0] for r in df.select(range_self).collect()] == [True, True, False]

    other = PlainPredicateConfig(
        code="BP//systolic", other_cols={"chamber": "mitral"}
    ).esgpt_spark_expr()
    # row 3: (null == 'systolic') AND (chamber == 'mitral') → null AND false → false
    assert [r[0] for r in df.select(other).collect()] == [False, True, False]

    with pytest.raises(ValueError, match="values column.*value_min"):
        PlainPredicateConfig(code="BP//systolic", value_min=120).esgpt_spark_expr()
    with pytest.raises(ValueError, match="values column.*value_max"):
        PlainPredicateConfig(code="BP//systolic", value_max=140).esgpt_spark_expr()

    ranged = PlainPredicateConfig(
        code="BP//systolic", value_min=120, value_max=160,
        value_min_inclusive=False, value_max_inclusive=True,
    ).esgpt_spark_expr("BP_value")
    # row 3: null AND (90 > 120 → false) → false
    assert [r[0] for r in df.select(ranged).collect()] == [False, True, False]


def test_esgpt_end_to_end_query(spark, tmp_path):
    """Full pipeline over the ESGPT standard: admission-triggered window
    counting high-HR measurements in the following 24h."""
    subjects, events, measurements = _esgpt_tables(spark)
    subjects.write.parquet(str(tmp_path / "subjects_df.parquet"))
    events.write.parquet(str(tmp_path / "events_df.parquet"))
    measurements.write.parquet(str(tmp_path / "dynamic_measurements_df.parquet"))

    windows = {
        "obs": WindowConfig(
            start="trigger",
            end="start + 24h",
            start_inclusive=True,
            end_inclusive=True,
            has={"high_HR": "(1, None)"},
        )
    }
    dynamic_preds = {k: v for k, v in PREDICATES.items() if not v.static}
    cfg = TaskExtractorConfig(
        predicates=dynamic_preds, trigger=EventConfig("is_adm"), windows=windows
    )
    pred_df = get_predicates_df(
        cfg, spark, tmp_path, standard="esgpt", value_columns=VALUE_COLUMNS
    )
    result = query(cfg, pred_df).collect()
    # subject 1 admits at 01-01 00:00 with HR 150 in-window; subject 2's
    # admission (01-02 00:00) sees HR 177 at +12h — both qualify
    assert sorted((r.subject_id, r.trigger) for r in result) == [
        (1, DT(2021, 1, 1, 0, 0)),
        (2, DT(2021, 1, 2, 0, 0)),
    ]
    obs = {r.subject_id: r["obs.end_summary"] for r in result}
    assert obs[1].high_HR == 1 and obs[2].high_HR == 1

    # with the static eye_colour//brown predicate included, it acts as a
    # demographic filter (reference query.py:121-127): blue-eyed subject 2
    # is excluded entirely
    cfg_static = TaskExtractorConfig(
        predicates=PREDICATES, trigger=EventConfig("is_adm"), windows=windows
    )
    pred_df_static = get_predicates_df(
        cfg_static, spark, tmp_path, standard="esgpt", value_columns=VALUE_COLUMNS
    )
    result_static = query(cfg_static, pred_df_static).collect()
    assert [(r.subject_id, r.trigger) for r in result_static] == [(1, DT(2021, 1, 1, 0, 0))]


def test_esgpt_duplicate_event_timestamps_raise(spark, tmp_path):
    """ESGPT collapses measurements per event, not per (subject, timestamp):
    two events of one subject at one instant leave a duplicate key. The
    query must fail as the reference does (``src/aces/query.py:110-115``)
    instead of counting ``lab`` twice in the window."""
    subjects = spark.createDataFrame([(1,)], "subject_id long")
    events = spark.createDataFrame(
        [
            (1, 1, DT(2021, 1, 1, 0, 0), "lab"),
            (2, 1, DT(2021, 1, 1, 0, 0), "lab"),  # same subject, same instant
        ],
        "event_id long, subject_id long, timestamp timestamp, event_type string",
    )
    meas = spark.createDataFrame([(1,)], "event_id long")
    subjects.write.parquet(str(tmp_path / "subjects_df.parquet"))
    events.write.parquet(str(tmp_path / "events_df.parquet"))
    meas.write.parquet(str(tmp_path / "dynamic_measurements_df.parquet"))
    (tmp_path / "config.json").write_text('{"value_columns": {}}')

    cfg = TaskExtractorConfig(
        predicates={"lab": PlainPredicateConfig(code="event_type//lab")},
        trigger=EventConfig("lab"),
        windows={
            "obs": WindowConfig(
                start="trigger",
                end="start + 24h",
                start_inclusive=True,
                end_inclusive=True,
                has={"lab": "(2, None)"},
            )
        },
    )
    pred_df = get_predicates_df(cfg, spark, tmp_path, standard="esgpt", value_columns={})
    with pytest.raises(SparkRuntimeException, match="must be unique"):
        query(cfg, pred_df).collect()
