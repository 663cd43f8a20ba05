"""The streaming part of ``stream_datapipe``: a closed-loop replay of seeded parquet
micro-batches through ``open_window_tracker`` (``maxFilesPerTrigger=1``,
``availableNow``, state carried across batches), checked for equality with
the batch event-bound kernel on the same rows (the stream≡batch parity
rule of the engine's streaming tests)."""

from __future__ import annotations

import itertools
import os
import shutil
from pathlib import Path

import numpy as np

SCHEMA = "subject_id long, timestamp timestamp, adm long, dis long, lab long"


class StreamTracker:
    name = "stream_tracker"
    batches = 2
    rows = 20_000
    subjects = 500
    check_each_pass = True

    def setup(self, spark, seed: int, workdir: Path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        subject = np.sort(rng.integers(0, self.subjects, self.rows))
        first = np.r_[0, np.flatnonzero(np.diff(subject)) + 1]
        sizes = np.diff(np.r_[first, self.rows])
        gaps = rng.integers(1, 120, self.rows) * 60_000_000
        cum = np.cumsum(gaps)
        ts = cum - np.repeat(cum[first] - gaps[first], sizes)
        cols = {
            "subject_id": subject.astype("int64"),
            "timestamp": ts.astype("int64").view("datetime64[us]"),
            "adm": (rng.random(self.rows) < 0.25).astype("int64"),
            "dis": (rng.random(self.rows) < 0.125).astype("int64"),
            "lab": rng.integers(0, 3, self.rows).astype("int64"),
        }
        # micro-batch k holds every subject's events in the k-th time slice,
        # so timestamps increase per subject across batches
        edges = np.quantile(ts, np.linspace(0, 1, self.batches + 1)[1:-1])
        slice_of = np.searchsorted(edges, ts, side="right")
        self.in_dir = workdir / "stream" / "in"
        self.ckpt_root = workdir / "stream" / "checkpoints"
        shutil.rmtree(workdir / "stream", ignore_errors=True)
        self.in_dir.mkdir(parents=True)
        for k in range(self.batches):
            path = self.in_dir / f"b{k:03d}.parquet"
            pq.write_table(pa.table({c: v[slice_of == k] for c, v in cols.items()}), path)
            os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))  # replay order
        self._replays = itertools.count()

    def kept_inputs(self) -> list:
        return []

    def run(self, spark, tracer):
        from aces_spark.streaming.pipeline import open_window_tracker

        k = next(self._replays)
        name = f"tracker_{k}"
        ckpt = self.ckpt_root / str(k)
        with tracer.span("streaming.open_window_tracker") as s:
            stream = (
                spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(self.in_dir))
            )
            q = (
                open_window_tracker(stream, "adm", "dis")
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"stream replay failed: {q.exception()}")
            rows = spark.table(name).collect()
            if tracer.enabled:
                s.counters["job_groups"].append(str(q.runId))
        if tracer.enabled:
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
            state = progress[-1].stateOperators[0] if progress else None
            s.counters.update({
                "batch_s": [p.durationMs["triggerExecution"] / 1e3 for p in progress],
                "add_batch_s": sum(p.durationMs.get("addBatch", 0) for p in progress) / 1e3,
                "state_rows": state.numRowsTotal if state else 0,
                "state_bytes": state.memoryUsedBytes if state else 0,
            })
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
        return rows

    def probe_layers(self, spark, tracer) -> None:
        pass

    def check(self, spark, output, want) -> list[str]:
        got = sorted(
            (r.subject_id, r.trigger_ts, r.boundary_ts, r.adm, r.dis, r.lab) for r in output
        )
        if got != want:
            return [f"stream emitted {len(got)} windows, batch kernel {len(want)}"
                    " (or values differ)"]
        return []

    def oracle(self, spark) -> list[tuple]:
        from pyspark.sql import functions as F

        from aces_spark.operators.aggregate import boolean_expr_bound_sum

        batch = spark.read.schema(SCHEMA).parquet(str(self.in_dir))
        kernel = boolean_expr_bound_sum(batch, F.col("dis") > 0, "row_to_bound", "right")
        triggers = batch.filter(F.col("adm") > 0).select("subject_id", "timestamp")
        return sorted(
            (r.subject_id, r.timestamp_at_start, r.timestamp_at_end, r.adm, r.dis, r.lab)
            for r in kernel.join(triggers, ["subject_id", "timestamp"])
            .filter(F.col("timestamp_at_end").isNotNull())
            .collect()
        )
