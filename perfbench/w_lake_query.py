"""lake_query: the read side.

The 22 TPC-H-shape registry queries and the three ``sql_interface_*``
queries (``sql.run_sql``) over a generated lake, in a seeded order,
each forced with a ``noop`` write.  At this scale a query runs in a few
hundred milliseconds on 4 cores, so plan construction, Catalyst and the
driver gap between jobs are a large share of it; the registry's
per-session table-handle memo is in play.  No table commits, no DSL,
no streaming.
"""

from __future__ import annotations

import time
from pathlib import Path

import gen
from checks import compare_frames, duck_frame
from harness import Op, Pass, Workload

LAKE_SF = 0.005
#: queries whose oracle runs in one run's output check, drawn by seed
CHECKED_PER_RUN = 2


def query_names() -> list[str]:
    from cdk_datalake_ingest_spark.queries import QUERIES

    names = [n for n in QUERIES if n[0] == "q" and n[1:3].isdigit()]
    return sorted(names) + sorted(n for n in QUERIES if n.startswith("sql_interface_"))


class LakeQuery(Workload):
    nominal_op_s = 0.6
    min_ops = 25

    @property
    def n_ops(self) -> int:
        """Whole rounds of the 25 queries, so every run has the same mix."""
        per = len(self.names)
        return per * max(1, round(super().n_ops / per))

    def setup(self, work: Path) -> None:
        self.names = query_names()
        self.lake = work / "lake"
        rows = gen.lake(self.lake, gen.rng_for(self.bench.seed, 2), LAKE_SF)
        self.table_rows = {str(self.lake / f"{t}.parquet"): n for t, n in rows.items()}
        self.table_bytes = {p: Path(p).stat().st_size for p in self.table_rows}
        self.inputs: dict[str, tuple[int, int]] = {}
        rng = gen.rng_for(self.bench.seed, 3)
        self.order = [
            self.names[i]
            for _ in range(self.n_ops // len(self.names))
            for i in rng.permutation(len(self.names))
        ]
        self.checked = list(rng.choice(self.names, CHECKED_PER_RUN, replace=False))

    def warm(self) -> None:
        """One round of all queries: every query's first run pays its
        code generation, which would otherwise land in the timed round."""
        from cdk_datalake_ingest_spark.queries import QUERIES

        for name in self.names:
            self.bench.force(QUERIES[name](self.bench.spark, str(self.lake)))

    def _input_size(self, name: str, df) -> tuple[int, int]:
        """(rows, bytes) of the lake tables the query scans."""
        if name not in self.inputs:
            files = {f.split("file:", 1)[-1] for f in df.inputFiles()}
            hit = [p for p in self.table_rows if any(f.endswith(p) for f in files)]
            self.inputs[name] = (
                sum(self.table_rows[p] for p in hit),
                sum(self.table_bytes[p] for p in hit),
            )
        return self.inputs[name]

    def run(self) -> Pass:
        from cdk_datalake_ingest_spark.queries import QUERIES

        bench = self.bench
        sf_dir = str(self.lake)
        ops = []
        start = time.time()
        for i, name in enumerate(self.order):
            bench.op_group(i)
            t0 = time.time()
            with bench.span("queries.construct"):
                df = QUERIES[name](bench.spark, sf_dir)
            with bench.span("spark.action"):
                bench.force(df)
            t1 = time.time()
            rows, n_bytes = self._input_size(name, df)
            op = Op(name, t0, t1, rows, n_bytes)
            bench.after_op(op)
            ops.append(op)
        return Pass(ops, start, time.time())

    def instrument(self, tracer) -> None:
        from cdk_datalake_ingest_spark import sql

        tracer.wrap(sql, "run_sql", "sql.run_sql")

    def check(self) -> list[str]:
        """Spark against the registry's DuckDB oracle for a seeded sample
        of the queries, over the generated lake."""
        from cdk_datalake_ingest_spark.queries import ORACLES, QUERIES

        views = {Path(p).stem: Path(p) for p in self.table_rows}
        problems = []
        for name in self.checked:
            got = QUERIES[name](self.bench.spark, str(self.lake)).toPandas()
            problems += compare_frames(name, got, duck_frame(ORACLES[name], views))
        return problems
