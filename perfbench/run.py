"""The repository benchmark: one seeded workload per run, end-to-end metrics
untraced, per-layer metrics from a traced run.

Usage (from the repository root):

    python3 perfbench/run.py --workload cohort --seed 1 --seconds 12 --trace 0

Workloads (see ``BENCHMARK.json`` for why each was chosen, ``LAYERS.md``
for the layers each runs): ``cohort`` (the MEDS readmission user path, then
the fused flagship task on an in-memory frame) and ``stream_datapipe`` (a
micro-batch replay through the streaming tracker, then the datapipe
near-duplicate joins). Each pass runs a workload's parts one after the
other, so one JVM warm-up serves several layers.

A run pins its own Spark session (``session.py``), then sets up
:data:`SETUPS` times (session start, seeded input generation; the first
start launches Spark's JVM) and runs :data:`WARMUPS` untimed warm-up passes;
``setup_s`` is the median set-up plus the warm-up time. It then repeats
timed passes, each from the generated input to a complete result, until
``--seconds`` have passed (at least :data:`MIN_PASSES`), clearing leftover
caches before each pass so every pass pays what a user pays; ``wall_s`` is
their median. Every output is checked outside the timed region against an
oracle that does not use the code under test; a wrong output or an
exception counts as a failed operation, and ``attempted``/``failed`` give
the failed fraction.

``--trace 1`` alternates untraced and traced passes, records a span around
each call into a layer (``spans.py``), runs the per-layer probes, and
prints the per-layer metrics instead of the end-to-end ones; the spans are
written to ``.perfbench_out/``. ``trace.overhead_s`` is the median traced
pass minus the median untraced pass of the same run.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds the details (sample counts, tail percentiles, session settings,
check failures). Self-tests: ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import session  # noqa: E402
import stats  # noqa: E402
from datapipe import QUERIES as DATAPIPE_QUERIES  # noqa: E402
from spans import EXEC_KEYS, Tracer, self_times  # noqa: E402

SETUPS = 3
#: Untimed warm-up passes. One pays the cold JVM (class loading, the first
#: compilation of every generated class). The first timed pass still costs
#: ~1.2x while the JIT catches up; the median of at least
#: :data:`MIN_PASSES` passes leaves it out at less cost per run than a
#: second warm-up pass.
WARMUPS = 1
MIN_PASSES = 3

# A pass's CPU time, not its wall time, is the end-to-end time gate: the
# benchmark runs on a few vCPUs of a shared host whose other tenants take
# CPU time from it (steal) in bursts of minutes, which moves wall time by up
# to 1.6x between runs of the same code and leaves CPU time nearly alone.
# Wall time and throughput are reported as per-layer metrics of the traced
# run, and in the details line of every run.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mib": "MiB",
}


PER_LAYER = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "config.load_s": "s",
    "predicates.construct_s": "s",
    "predicates.exec_s": "s",
    "predicates.rows_out": "count",
    "query.construct_s": "s",
    "query.construct_jobs": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.joins": "count",
    "plan.windows": "count",
    "plan.inmemory_scans": "count",
    "aggregate.temporal_s": "s",
    "aggregate.event_bound_s": "s",
    "sinks.write_s": "s",
    "sinks.output_bytes": "bytes",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "exec.cpu_s": "s",
    "exec.busy_share": "share",
    "codegen.compiles": "count",
    **{
        f"datapipe.{q}.{m}": u
        for q in DATAPIPE_QUERIES
        for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "bytes"))
    },
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.add_batch_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}


class Workload:
    """One benchmark workload: parts run one after another in every pass.

    A part (``cohort.py``, ``datapipe.py``, ``stream.py``) generates its
    seeded input in ``setup``, runs one operation in ``run``, computes its
    oracle once and checks its output against it: after every pass when
    ``check_each_pass``, else once after the last pass (the check then
    vouches for every pass, which all ran the same plan on the same input).
    Grouping parts into few workloads lets one JVM warm-up serve several
    layers, so a run has time for several timed passes."""

    def __init__(self, name: str, parts: list):
        self.name = name
        self.parts = parts

    @property
    def rows(self) -> int:
        return sum(p.rows for p in self.parts)

    def setup(self, spark, seed: int, workdir: Path) -> None:
        for p in self.parts:
            p.setup(spark, seed, workdir / p.name)

    def kept_inputs(self) -> list:
        return [df for p in self.parts for df in p.kept_inputs()]

    def run(self, spark, tracer) -> list:
        return [p.run(spark, tracer) for p in self.parts]

    def oracle(self, spark) -> list:
        return [p.oracle(spark) for p in self.parts]

    def check_pass(self, spark, outputs: list, wants: list) -> list[str]:
        return [
            f"{p.name}: {problem}"
            for p, out, want in zip(self.parts, outputs, wants)
            if p.check_each_pass
            for problem in p.check(spark, out, want)
        ]

    def check_final(self, spark, wants: list) -> list[str]:
        return [
            f"{p.name}: {problem}"
            for p, want in zip(self.parts, wants)
            if not p.check_each_pass
            for problem in p.check(spark, None, want)
        ]

    def probe_layers(self, spark, tracer) -> None:
        for p in self.parts:
            p.probe_layers(spark, tracer)


def workloads() -> dict:
    from cohort import CohortFused, MedsReadmission
    from datapipe import DatapipePairs
    from stream import StreamTracker

    return {
        "cohort": lambda: Workload("cohort", [MedsReadmission(), CohortFused()]),
        "stream_datapipe": lambda: Workload("stream_datapipe", [StreamTracker(), DatapipePairs()]),
    }


def clear_leftover_caches(spark, keep: set[int]) -> bool:
    """Drop every cached relation and persisted RDD unless the persisted
    RDDs are exactly the workload's own inputs (``keep``). True when
    something was dropped, so the caller re-persists its inputs."""
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs()
    if set(persisted.keys()) <= keep:
        return False
    spark.catalog.clearCache()
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return True


def persist_inputs(spark, wl) -> set[int]:
    """(Re-)materialize the workload's persisted inputs; their RDD ids."""
    for df in wl.kept_inputs():
        df.persist()
        df.count()
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


class Run:
    """One benchmark run of one workload."""

    def __init__(self, wl, seed: int, seconds: float, trace: bool, workdir: Path):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.setup_times: list[float] = []
        self.warmup_times: list[float] = []
        self.times = {False: [], True: []}  # traced? -> pass wall times
        self.cpu_times: list[float] = []  # CPU time of each untraced pass
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phase_s: dict[str, float] = {}

    def set_up(self, session):
        """Start the session and generate the inputs :data:`SETUPS` times
        (the first start launches Spark's JVM), then run the untimed
        warm-up passes, which pay the cold JVM's compilation."""
        spark = None
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()  # the JVM stays up for the next start
                shutil.rmtree(self.workdir / f"setup{i - 1}", ignore_errors=True)
            t0 = time.perf_counter()
            spark = session.start(self.workdir)
            self.wl.setup(spark, self.seed, self.workdir / f"setup{i}")
            self.setup_times.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _ in range(WARMUPS):
            t1 = time.perf_counter()
            self.wl.run(spark, Tracer(spark, False))
            self.warmup_times.append(time.perf_counter() - t1)
        self.warmup_s = time.perf_counter() - t0
        self.phase_s["setups"] = sum(self.setup_times)
        self.phase_s["warmup"] = self.warmup_s
        return spark

    def measure(self, spark) -> Tracer:
        """Timed passes until they add up to ``seconds`` (at least
        :data:`MIN_PASSES`); the checks between them run untimed but
        count toward ``seconds``."""
        off, on = Tracer(spark, False), Tracer(spark, True)
        t0 = time.perf_counter()
        want = self.wl.oracle(spark)
        self.phase_s["oracle"] = time.perf_counter() - t0
        keep = persist_inputs(spark, self.wl)
        k = 0
        spent = 0.0  # summed wall time of the passes, failed ones included
        t_loop = time.perf_counter()
        min_passes = MIN_PASSES * (2 if self.trace else 1)  # traced runs alternate
        while k < min_passes or spent < self.seconds:
            traced = self.trace and k % 2 == 1
            tracer = on if traced else off
            if clear_leftover_caches(spark, keep):
                keep = persist_inputs(spark, self.wl)
            self.attempted += 1
            c0 = session.cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.operation(f"pass-{k}"):
                    out = self.wl.run(spark, tracer)
                self.times[traced].append(time.perf_counter() - t0)
                if not traced:
                    self.cpu_times.append(session.cpu_s() - c0)
                self.record(self.wl.check_pass(spark, out, want), passes=1)
            except Exception as exc:  # a failed operation; keep measuring
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                self.problems.append(f"pass {k}: {type(exc).__name__}: {str(exc)[:200]}")
            spent += time.perf_counter() - t0
            k += 1
        self.phase_s["passes"] = time.perf_counter() - t_loop
        t0 = time.perf_counter()
        # a part checked once vouches for every pass, and a mismatch fails them all
        self.record(self.wl.check_final(spark, want), passes=self.attempted - self.failed)
        if self.trace:
            self.wl.probe_layers(spark, on)
        self.phase_s["check_and_probes"] = time.perf_counter() - t0
        return on

    def record(self, problems: list[str], passes: int) -> None:
        if problems:
            self.failed += passes
            self.problems.extend(problems)

    def end_to_end(self, peak_rss: float) -> dict:
        return {
            "setup_s": stats.median(self.setup_times) + self.warmup_s,
            "cpu_s": stats.median(self.cpu_times),
            "peak_rss_mib": peak_rss,
        }

    def details(self) -> dict:
        out = {
            "workload": self.wl.name,
            "seed": self.seed,
            "input_rows": self.wl.rows,
            "setup_s": stats.summarize(self.setup_times),
            "warmup_s": self.warmup_s,
            "warmup_pass_s": self.warmup_times,
            "wall_s": stats.summarize(self.times[False]),
            "pass_s": self.times[False],
            "cpu_s": stats.summarize(self.cpu_times),
            "pass_cpu_s": self.cpu_times,
            "failed_frac": stats.failed_frac(self.attempted, self.failed),
            "problems": self.problems[:20],
            "phase_s": self.phase_s,
        }
        if self.trace:
            out["traced_wall_s"] = stats.summarize(self.times[True])
        return out


def per_layer(spans: list, times: dict, input_rows: int, cores: int) -> dict:
    """Per-layer metrics from the traced passes' spans (medians over
    passes) and the stand-alone layer probes. A layer the workload does
    not run reports 0."""
    by_op: dict[str, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    selfs = self_times(spans)
    rows = []
    for op, op_spans in by_op.items():
        if not op.startswith("pass-"):
            continue
        named: dict[str, list] = {}
        for s in op_spans:
            named.setdefault(s.name, []).append(s)
        root = named["op"][0]
        row = {
            "trace.unattributed_s": selfs[root.id],
            "codegen.compiles": root.counters["codegen_compiles"],
        }

        # a layer a pass calls more than once (``query`` in ``cohort``)
        # reports the sum over its calls
        def dur(name):
            return sum(s.duration for s in named.get(name, ()))

        def ctr(name, key):
            return sum(s.counters.get(key, 0) for s in named.get(name, ()))

        row["config.load_s"] = dur("config.load")
        row["predicates.construct_s"] = dur("predicates.construct")
        row["query.construct_s"] = dur("query.construct")
        row["query.construct_jobs"] = ctr("query.construct", "jobs")
        row["plan.s"] = ctr("plan", "plan_s")
        for key in ("exchanges", "joins", "windows", "inmemory_scans"):
            row[f"plan.{key}"] = ctr("plan", key)
        row["sinks.write_s"] = dur("sinks.write")
        row["sinks.output_bytes"] = ctr("sinks.write", "output_bytes")
        ran = [s for s in op_spans if s.counters.get("jobs", 0) > 0]
        row["exec.s"] = sum(s.duration for s in ran)
        for key in EXEC_KEYS:
            row[f"exec.{key}"] = sum(s.counters.get(key, 0) for s in op_spans)
        row["exec.busy_share"] = (
            row["exec.cpu_s"] / (row["exec.s"] * cores) if row["exec.s"] else 0.0
        )
        for q in DATAPIPE_QUERIES:
            name = f"datapipe.{q}"
            row[f"{name}.s"] = dur(name)
            row[f"{name}.jobs"] = ctr(name, "jobs")
            row[f"{name}.shuffle_write_bytes"] = ctr(name, "shuffle_write_bytes")
        name = "streaming.open_window_tracker"
        batch_s = [b for s in named.get(name, ()) for b in s.counters.get("batch_s", ())]
        row["streaming.batches"] = len(batch_s)
        row["streaming.batch_s_p50"] = stats.median(batch_s) if batch_s else 0.0
        row["streaming.add_batch_s"] = ctr(name, "add_batch_s")
        row["streaming.state_rows"] = ctr(name, "state_rows")
        row["streaming.state_bytes"] = ctr(name, "state_bytes")
        rows.append(row)

    out = {k: stats.median([r[k] for r in rows]) for k in rows[0]}
    probes = {s.name: s for s in spans if not s.op.startswith("pass-") and s.name != "op"}
    for metric, name in (
        ("aggregate.temporal_s", "aggregate.temporal"),
        ("aggregate.event_bound_s", "aggregate.event_bound"),
        ("predicates.exec_s", "predicates.exec"),
    ):
        out[metric] = probes[name].duration if name in probes else 0.0
    out["predicates.rows_out"] = (
        probes["predicates.exec"].counters["rows_out"] if "predicates.exec" in probes else 0
    )
    out["trace.overhead_s"] = stats.median(times[True]) - stats.median(times[False])
    out["wall_s"] = stats.median(times[False])
    out["rows_per_s"] = input_rows / out["wall_s"]
    return out


def result_line(run: Run, metrics: dict, units: dict) -> dict:
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import aces_spark  # noqa: F401
        wl = workloads()[args.workload]()
    except (ImportError, KeyError) as exc:
        print(f"perfbench: cannot run {args.workload!r}: {exc!r}", file=sys.stderr)
        return 2

    workdir = ROOT / ".perfbench_work" / f"{wl.name}-{os.getpid()}"
    run = Run(wl, args.seed, args.seconds, bool(args.trace), workdir)
    try:
        spark = run.set_up(session)
        tracer = run.measure(spark)
        peak = session.peak_rss_mib()
        if args.trace:
            metrics = per_layer(tracer.spans, run.times, wl.rows, session.cores())
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"trace-{wl.name}-seed{args.seed}.json").write_text(
                json.dumps(tracer.dump(), default=str)
            )
        details = run.details()
        details["settings"] = session.settings(workdir)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        session.shutdown()
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps(details, default=str))
    if args.trace:
        print(json.dumps(result_line(run, metrics, PER_LAYER)))
    else:
        print(json.dumps(result_line(run, run.end_to_end(peak), END_TO_END)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
