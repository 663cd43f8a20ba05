"""Fused planner (plans/fused.py) vs the general recursion — exact
differential equivalence across random trees and frames (including
event-bound edges mid-tree), plus plan-shape guarantees (join-free, single
exchange) and session-conf hygiene."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F

from aces_spark.config import (
    EventConfig,
    PlainPredicateConfig,
    TaskExtractorConfig,
    WindowConfig,
)
from aces_spark.query import query

DT = datetime.datetime
EPOCH = DT(2020, 1, 1)


def _rand_frame(spark, seed, n_subj=12, max_events=25):
    rng = random.Random(seed)
    rows = []
    for sid in range(1, n_subj + 1):
        times = sorted(rng.sample(range(0, 24 * 90), rng.randint(1, max_events)))
        for t in times:
            rows.append(
                (
                    sid,
                    EPOCH + datetime.timedelta(hours=t),
                    rng.randint(0, 2),  # trig
                    1 if rng.random() < 0.2 else 0,  # bnd
                    rng.randint(0, 3),  # x
                )
            )
    return spark.createDataFrame(
        rows, "subject_id long, timestamp timestamp, trig long, bnd long, x long"
    )


PREDS = {
    "trig": PlainPredicateConfig("t"),
    "bnd": PlainPredicateConfig("b"),
    "x": PlainPredicateConfig("x"),
}


def _configs():
    """Tree shapes covering chains, multi-child, event-bound leaves in both
    directions, constraints incl. anti-constraints, labels/indexes."""
    cfgs = {}

    cfgs["temporal_chain"] = TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "gap": WindowConfig(
                start="trigger", end="start + 12h",
                start_inclusive=True, end_inclusive=True, index_timestamp="end",
            ),
            "tgt": WindowConfig(
                start="gap.end", end="start + 48h",
                start_inclusive=False, end_inclusive=True,
                has={"x": "(2, None)"}, label="bnd",
            ),
        },
    )

    cfgs["event_bound_leaf_fwd"] = TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "obs": WindowConfig(
                start="trigger", end="start + 24h",
                start_inclusive=True, end_inclusive=True,
            ),
            "fu": WindowConfig(
                start="obs.end", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            ),
        },
    )

    cfgs["event_bound_leaf_bwd"] = TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "hist": WindowConfig(
                start="end <- bnd", end="trigger",
                start_inclusive=False, end_inclusive=True,
                has={"x": "(1, None)"},
            ),
        },
    )

    cfgs["multi_child"] = TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "back": WindowConfig(
                start="end - 24h", end="trigger",
                start_inclusive=True, end_inclusive=False,
                has={"bnd": "(None, 0)"},
            ),
            "fwd": WindowConfig(
                start="trigger", end="start + 36h",
                start_inclusive=False, end_inclusive=True,
                has={"x": "(1, None)"}, label="bnd",
            ),
            "until": WindowConfig(
                start="trigger", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            ),
        },
    )

    cfgs["record_end_leaf"] = TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "rest": WindowConfig(
                start="trigger", end="start -> _RECORD_END",
                start_inclusive=False, end_inclusive=True,
            ),
        },
    )

    return cfgs


def _rows_key(df):
    return sorted(map(str, df.collect()))


@pytest.mark.parametrize("name", list(_configs()))
@pytest.mark.parametrize("seed", [1, 4])
def test_fused_matches_general(spark, name, seed):
    cfg = _configs()[name]
    df = _rand_frame(spark, seed)
    got = _rows_key(query(cfg, df, fused=True))
    want = _rows_key(query(cfg, df, fused=False))
    assert got == want
    assert len(got) > 0 or name == "event_bound_leaf_bwd"  # fixtures dense enough


def test_fused_junk_row_semantics(spark):
    """A pure chain ending in an unresolved event-bound leaf emits one
    (subject, null) row — identical in both planners."""
    cfg = TaskExtractorConfig(
        predicates={"trig": PlainPredicateConfig("t"), "bnd": PlainPredicateConfig("b")},
        trigger=EventConfig("trig"),
        windows={
            "w": WindowConfig(
                start="trigger", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            )
        },
    )
    df = spark.createDataFrame(
        [
            (1, DT(2020, 1, 1), 1, 0),
            (1, DT(2020, 1, 2), 0, 1),
            (2, DT(2020, 1, 1), 1, 0),
            (2, DT(2020, 1, 2), 0, 0),
        ],
        "subject_id long, timestamp timestamp, trig long, bnd long",
    )
    got = _rows_key(query(cfg, df, fused=True))
    want = _rows_key(query(cfg, df, fused=False))
    assert got == want
    assert any("subject_id=2, trigger=None" in r for r in got)


def _plan(spark, df):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _mixed_tree_cfg():
    """Event-bound INTERNAL node with a temporal subtree hanging below it."""
    return TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "adm": WindowConfig(
                start="trigger", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            ),
            "post": WindowConfig(
                start="adm.end", end="start + 24h",
                start_inclusive=False, end_inclusive=True,
                has={"x": "(1, None)"}, label="bnd",
            ),
            "tail": WindowConfig(
                start="post.end", end="start + 48h",
                start_inclusive=False, end_inclusive=True,
            ),
        },
    )


def _readmission_like_cfg():
    """The HF-readmission shape: a backward event edge (``end <- bnd``) to a
    node with a temporal leaf below it, a ``start: NULL`` sibling, and a
    temporal -> ``_RECORD_END`` chain."""
    return TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "pre": WindowConfig(
                start="end - 72h", end="stay.start",
                start_inclusive=True, end_inclusive=False,
                has={"x": "(1, None)"},
            ),
            "stay": WindowConfig(
                start="end <- bnd", end="trigger",
                start_inclusive=True, end_inclusive=True,
                has={"x": "(2, None)"},
            ),
            "input": WindowConfig(
                start=None, end="trigger",
                start_inclusive=True, end_inclusive=True, index_timestamp="end",
            ),
            "target": WindowConfig(
                start="input.end", end="start + 48h",
                start_inclusive=False, end_inclusive=True, label="bnd",
            ),
            "cens": WindowConfig(
                start="target.end", end=None,
                start_inclusive=False, end_inclusive=True,
                has={"x": "(1, None)"},
            ),
        },
    )


def _forward_fork_cfg():
    """A forward event edge to a node with two children (one temporal
    forward, one temporal backward with an anti-constraint)."""
    return TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "until": WindowConfig(
                start="trigger", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            ),
            "after": WindowConfig(
                start="until.end", end="start + 36h",
                start_inclusive=False, end_inclusive=True,
                has={"x": "(1, None)"}, label="trig",
            ),
            "before": WindowConfig(
                start="end - 12h", end="until.end",
                start_inclusive=True, end_inclusive=False,
                has={"bnd": "(None, 0)"},
            ),
        },
    )


def _double_hop_chain_cfg():
    """A pure chain temporal -> event -> temporal -> event leaf: its
    unresolved final leaf emits junk rows."""
    return TaskExtractorConfig(
        predicates=PREDS,
        trigger=EventConfig("trig"),
        windows={
            "gap": WindowConfig(
                start="trigger", end="start + 6h",
                start_inclusive=True, end_inclusive=True,
            ),
            "hop1": WindowConfig(
                start="gap.end", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            ),
            "mid": WindowConfig(
                start="hop1.end", end="start + 12h",
                start_inclusive=False, end_inclusive=True,
                has={"x": "(1, None)"},
            ),
            "hop2": WindowConfig(
                start="mid.end", end="start -> bnd",
                start_inclusive=False, end_inclusive=True,
            ),
        },
    )


INTERNAL_EVENT_CFGS = {
    "mixed_tree": _mixed_tree_cfg,
    "readmission_like": _readmission_like_cfg,
    "forward_fork": _forward_fork_cfg,
    "double_hop_chain": _double_hop_chain_cfg,
}


@pytest.mark.parametrize("name", list(INTERNAL_EVENT_CFGS))
@pytest.mark.parametrize("seed", [1, 2, 4, 5])
def test_fused_matches_general_internal_event_bound(spark, name, seed):
    """Trees with event-bound INTERNAL edges: the fused planner anchors the
    child's subtree at the boundary row and must match the general
    recursion exactly (before the boundary-row anchoring, ``mixed_tree``
    gave 19 rows vs 25 at seed 1 and 23 vs 31 at seed 5)."""
    cfg = INTERNAL_EVENT_CFGS[name]()
    df = _rand_frame(spark, seed)
    got = _rows_key(query(cfg, df, fused=True))
    want = _rows_key(query(cfg, df, fused=False))
    assert got == want
    assert len(got) > 0
    if name == "double_hop_chain":
        assert any(", trigger=None" in r for r in got), "fixture should produce junk rows"


def test_fused_is_join_free_single_exchange(spark):
    """The fused physical plan contains no join operators and needs at most
    one hash exchange (the subject_id window partitioning) — also with
    event-bound edges mid-tree, and also for a chain ending in an
    event-bound leaf, whose junk rows come from the same pass (no union, no
    distinct's aggregate)."""
    df = _rand_frame(spark, 2)

    for cfg in (_configs()["temporal_chain"], _readmission_like_cfg(), _forward_fork_cfg()):
        plan = _plan(spark, query(cfg, df))
        assert "Join" not in plan
        assert plan.count(") Exchange") <= 1

    for cfg in (_configs()["event_bound_leaf_fwd"], _double_hop_chain_cfg()):
        plan = _plan(spark, query(cfg, df))
        assert "Join" not in plan
        assert plan.count(") Exchange") <= 1
        assert ") Union" not in plan
        assert ") HashAggregate" not in plan


def test_default_query_leaves_session_conf_alone(spark):
    """Only the general planner's joins need the relaxed co-partitioning
    conf; the default (fused) path must not touch the user's session."""
    key = "spark.sql.requireAllClusterKeysForCoPartition"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        query(_readmission_like_cfg(), _rand_frame(spark, 1)).collect()
        assert spark.conf.get(key) == "true"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
