"""Self-tests of the benchmark's own arithmetic and bookkeeping (no Spark):
``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import run
import stats
from spans import Span, self_times

BENCHMARK = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())


# ------------------------------------------------------------ span self time


def _span(i, parent, start, end):
    return Span(id=i, parent=parent, op="pass-0", name=f"s{i}", start=start, end=end)


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0), _span(2, 0, 5.0, 6.0)]
    assert self_times(spans) == {0: pytest.approx(6.0), 1: 3.0, 2: 1.0}


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0), _span(2, 0, 3.0, 7.0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, None, 2.0, 6.0), _span(1, 0, 0.0, 3.0), _span(2, 0, 5.0, 9.0)]
    assert self_times(spans)[0] == pytest.approx(2.0)


def test_self_times_of_a_tree_sum_to_the_root():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 6.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 1, 4.0, 5.5),
        _span(4, 0, 7.0, 9.5),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(10.0)


# ------------------------------------------------------- percentile rule


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    got = stats.tail_percentile([float(i) for i in range(n)])
    assert (got and got[0]) == want
    if got:
        beyond = sum(1 for i in range(n) if i > got[1])
        assert beyond >= stats.TAIL_MIN_BEYOND


def test_summarize_reports_sample_count_with_median():
    out = stats.summarize([3.0, 1.0, 2.0])
    assert out == {"n": 3, "median": 2.0}



# --------------------------------------------------------- failed_frac


class _FakeContext:
    class _jsc:  # noqa: N801 (mirrors SparkContext._jsc)
        @staticmethod
        def getPersistentRDDs():  # noqa: N802
            return {}


class _FakeSpark:
    sparkContext = _FakeContext()


class _Part:
    name = "fake"
    rows = 10
    check_each_pass = True

    def __init__(self, outputs):
        self.outputs = iter(outputs)

    def kept_inputs(self):
        return []

    def run(self, spark, tracer):
        out = next(self.outputs)
        if isinstance(out, Exception):
            raise out
        return out

    def oracle(self, spark):
        return "right"

    def check(self, spark, output, want):
        return [] if output == want else [f"got {output}"]


def _measure(monkeypatch, parts, passes):
    monkeypatch.setattr(run, "MIN_PASSES", passes)
    wl = run.Workload("fake", parts)
    r = run.Run(wl, seed=0, seconds=0.0, trace=False, workdir=Path("unused"))
    r.measure(_FakeSpark())
    return r


def test_wrong_output_counts_as_failed(monkeypatch):
    r = _measure(monkeypatch, [_Part(["right", "wrong"])], passes=2)
    assert (r.attempted, r.failed) == (2, 1)
    assert stats.failed_frac(r.attempted, r.failed) == 0.5
    assert r.problems == ["fake: got wrong"]


def test_exception_counts_as_failed(monkeypatch):
    r = _measure(monkeypatch, [_Part([RuntimeError("boom"), "right"])], passes=2)
    assert (r.attempted, r.failed) == (2, 1)


def test_one_wrong_check_fails_every_pass_it_vouches_for(monkeypatch):
    part = _Part(["x", "x", "x"])
    part.check_each_pass = False
    part.check = lambda spark, output, want: ["cohort differs from oracle"]
    r = _measure(monkeypatch, [part], passes=3)
    assert r.failed == r.attempted == 3


def test_a_wrong_part_fails_the_pass_of_the_whole_workload(monkeypatch):
    r = _measure(monkeypatch, [_Part(["right", "right"]), _Part(["right", "wrong"])], passes=2)
    assert (r.attempted, r.failed) == (2, 1)


def test_failed_frac_rejects_impossible_counts():
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(2, 3)


# ------------------------------------------------ BENCHMARK.json agreement


def test_benchmark_json_names_what_the_runner_prints():
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.workloads())
