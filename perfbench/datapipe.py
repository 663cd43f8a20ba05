"""The datapipe part of ``stream_datapipe``: near-duplicate self-joins from
``__spark_entry__.queries()`` over a seeded ``documents`` table, each
checked against its ``oracle_sql()`` DuckDB query, both sides normalized
as the repository's oracle sweep (``tools/check_oracle.py``) does. No
cohort-engine code runs here."""

from __future__ import annotations

from pathlib import Path

import numpy as np

#: Two pair-mining skeletons: the block-rotation pigeonhole
#: (``simhash_near_pairs`` runs the same kernel) and the prefix-filtered
#: Jaccard join.
QUERIES = (
    "hamming_near_pairs",
    "prefix_jaccard",
)

_WORDS = (
    "a the data spark stream batch window row column table key value hash "
    "join group sort filter scan part line order query vector agg merge "
    "fast slow big small customer event time cohort label index shard"
).split()


class DatapipePairs:
    name = "datapipe_pairs"
    rows = 1_200
    check_each_pass = True

    def setup(self, spark, seed: int, workdir: Path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        rng = np.random.default_rng(seed)
        texts = [
            " ".join(rng.choice(_WORDS, int(rng.integers(5, 60))))
            for _ in range(self.rows)
        ]
        self.data_dir = workdir / "docs"
        self.data_dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(self.rows), pa.int64()),
                "text": texts,
                "lang": [["en", "de", "zh"][i % 3] for i in range(self.rows)],
                "source": [f"src{i % 4}" for i in range(self.rows)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }),
            self.data_dir / "documents.parquet",
        )
        registry = entry.queries()
        self.fns = {q: registry[q] for q in QUERIES}

    def kept_inputs(self) -> list:
        return []

    def run(self, spark, tracer):
        out = {}
        for q, fn in self.fns.items():
            with tracer.span(f"datapipe.{q}"):
                df = fn(spark, str(self.data_dir))
                out[q] = df.collect(), df.columns
        return out

    def probe_layers(self, spark, tracer) -> None:
        pass

    def check(self, spark, output, want) -> list[str]:
        from tools.check_oracle import frame_key

        bad = []
        for q, (rows, cols) in output.items():
            want_rows, want_cols = want[q]
            rows, cols = frame_key(rows, cols), sorted(cols)
            if cols != want_cols:
                bad.append(f"{q}: columns {cols} != oracle {want_cols}")
            elif rows != want_rows:
                bad.append(f"{q}: {len(rows)} rows differ from oracle's {len(want_rows)}")
        return bad

    def oracle(self, spark) -> dict:
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracle import frame_key

        sql = entry.oracle_sql()
        con = duckdb.connect()
        path = self.data_dir / "documents.parquet"
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in QUERIES:
            cur = con.execute(sql[q])
            cols = [d[0] for d in cur.description]
            out[q] = frame_key(cur.fetchall(), cols), sorted(cols)
        return out
