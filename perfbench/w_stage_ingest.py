"""stage_ingest: the paper's core raw -> stage path.

A base full load, then incremental gzip-CSV drops, each through
``read_raw_csv`` -> ``StagePipeline.run`` (DSL compile, latest-record
dedup, delete-window + ``merge_upsert`` into a stage table partitioned
by ship period, ``vacuum``) with ``max_watermark`` / ``WatermarkStore``
advancing after every drop.  Drops differ in the share of keys updated
and in how strongly updates favour recent periods, so the
touched-partition merge rewrites a varying share of the table.
"""

from __future__ import annotations

import datetime as dt
import shutil
import time
from pathlib import Path

import gen
from checks import compare_frames, duck_frame
from harness import Op, Pass, Workload

TABLE = "PE_LINEITEM_CDC"
N_ORDERS = 5000
#: per-drop update share and recency bias, cycled through in the same
#: order for every seed, so every run does the same mix of merges
SHARES = (0.002, 0.01, 0.03)
BIASES = (0.5, 1.0, 2.0, 4.0)
#: incremental drops of the warm-up, inside setup_s: the first drops in
#: a fresh JVM pay code generation and JIT of the merge path
WARM_DROPS = 2
#: watermark clock pinned past the data so clamp_future never fires
WM_NOW = dt.datetime(2030, 1, 1)
STAGE_SQL = """
WITH t AS (
  SELECT CAST(l_orderkey AS BIGINT) AS order_id,
         CAST(l_linenumber AS INT) AS line_no,
         concat_ws('|', l_partkey, l_suppkey) AS supply_key,
         CASE WHEN l_returnflag = 'R' THEN 'RETURNED'
              WHEN l_returnflag IN ('A', 'N') THEN 'KEPT'
              ELSE 'UNKNOWN' END AS status_desc,
         strftime(CAST(l_shipdate AS TIMESTAMP), '%Y%m') AS ship_month,
         CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net_price,
         CAST(l_shipdate AS TIMESTAMP) AS ship_ts,
         CAST(cdc_ts AS TIMESTAMP) AS cdc_ts,
         CAST(strftime(CAST(l_shipdate AS TIMESTAMP), '%Y%m') AS INT)
           AS processperiod
  FROM read_csv({files}, header = true, all_varchar = true)
)
SELECT * FROM t
QUALIFY row_number() OVER (PARTITION BY order_id, line_no
                           ORDER BY cdc_ts DESC) = 1
"""


def stage_columns():
    from cdk_datalake_ingest_spark.specs import ColumnSpec

    return [
        ColumnSpec("order_id", 1, "bigint", "l_orderkey", is_id=True),
        ColumnSpec("line_no", 2, "int", "l_linenumber", is_id=True),
        ColumnSpec(
            "supply_key", 3, "string",
            "fn_transform_Concatenate(l_partkey,l_suppkey)",
        ),
        ColumnSpec(
            "status_desc", 4, "string",
            "fn_transform_Case_with_default(l_returnflag,A|N->KEPT,"
            "R->RETURNED,$UNKNOWN)",
        ),
        ColumnSpec(
            "ship_month", 5, "string",
            "fn_transform_Date_to_String(l_shipdate,yyyyMM)",
        ),
        ColumnSpec("qty", 6, "decimal(12,2)", "l_quantity"),
        ColumnSpec(
            "net_price", 7, "double",
            "CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "(1 - CAST(l_discount AS DECIMAL(18,2)))",
        ),
        ColumnSpec("ship_ts", 8, "timestamp_ntz", "l_shipdate"),
        ColumnSpec("cdc_ts", 9, "timestamp_ntz", "cdc_ts", is_filter_date=True),
        ColumnSpec(
            "processperiod", 10, "int",
            "fn_transform_Date_to_String(l_shipdate,yyyyMM)",
            is_partition=True,
        ),
    ]


def table_spec(load_type: str):
    """The stage table's metadata.  The delete-window lookback is set so
    that the cutoff lands on the first re-extracted period of the
    generated data whatever today's date is: the engine computes the
    cutoff from the wall clock, the data is pinned by the seed."""
    from cdk_datalake_ingest_spark.specs import TableSpec

    cutoff = gen.LAST_PERIOD
    for _ in range(gen.WINDOW_PERIODS):
        cutoff = (cutoff.replace(day=1) - dt.timedelta(days=1)).replace(day=1)
    now = dt.datetime.now()
    months = (cutoff.year * 12 + cutoff.month) - (now.year * 12 + now.month)
    return TableSpec(
        target_table_name=TABLE,
        stage_table_name="lineitem_cdc_stage",
        id_column="order_id,line_no",
        filter_column="cdc_ts",
        load_type=load_type,
        source_table_type="t",
        delay_incremental_ini=months,
    )


class StageIngest(Workload):
    nominal_op_s = 2.0
    min_ops = 12

    def setup(self, work: Path) -> None:
        rng = gen.rng_for(self.bench.seed, 1)
        src = gen.LineitemSource(rng, N_ORDERS)
        raw = work / "raw"
        self.drops: list[tuple[Path, int, int]] = []
        rows = src.base_rows()
        self.drops.append((raw / "d0000", len(rows),
                           src.write_drop(rows, raw / "d0000", 4)))
        for i in range(1, WARM_DROPS + self.n_ops + 1):
            rows = src.advance(SHARES[i % len(SHARES)], BIASES[i % len(BIASES)])
            d = raw / f"d{i:04d}"
            self.drops.append((d, len(rows), src.write_drop(rows, d, 2)))
        self.work = work
        self.max_cdc = gen.fmt_ts(src.cols["cdc_ts"].max(keepdims=True))[0]
        self._pass = 0
        self._load_base()

    def _load_base(self) -> None:
        """Base full load into a fresh stage table, outside the timed
        loop."""
        from cdk_datalake_ingest_spark.operators.watermark import WatermarkStore
        from cdk_datalake_ingest_spark.plans.pipeline import StagePipeline

        self._pass += 1
        self.stage = self.work / f"stage{self._pass}"
        self.store = WatermarkStore(self.work / f"wm{self._pass}.json")
        self.pipe = StagePipeline(
            self.bench.spark, table_spec("incremental"), stage_columns(),
            strict=True, max_write_attempts=1,
        )
        self._ingest(self.drops[0][0])

    def warm(self) -> None:
        """The first incremental drops, outside the timed loop: they
        pay code generation and JIT compilation of the merge path."""
        for d, _rows, _bytes in self.drops[1:1 + WARM_DROPS]:
            self._ingest(d)
        self.bench.ledger.scan(self.stage)

    def reset(self) -> None:
        self._load_base()
        self.warm()

    def _ingest(self, drop: Path) -> None:
        from cdk_datalake_ingest_spark.operators import watermark
        from cdk_datalake_ingest_spark.sources import csv

        raw = csv.read_raw_csv(self.bench.spark, str(drop))
        self.pipe.run(raw, str(self.stage))
        wm = watermark.max_watermark(raw, ["cdc_ts"], now=WM_NOW)
        self.store.advance(TABLE, wm)

    def _partitions(self) -> set[Path]:
        from cdk_datalake_ingest_spark.operators.table import ManagedTable

        m = ManagedTable(self.bench.spark, self.stage)._read_manifest()
        return set((self.stage / m["data_dir"]).glob("processperiod=*"))

    def run(self) -> Pass:
        bench = self.bench
        ops = []
        table_bytes = 0
        start = time.time()
        for i, (d, rows, in_bytes) in enumerate(self.drops[1 + WARM_DROPS:]):
            bench.op_group(i)
            t0 = time.time()
            self._ingest(d)
            t1 = time.time()
            n_bytes, n_files, leaves = bench.ledger.scan(self.stage)
            parts = self._partitions()
            op = Op(f"drop{i}", t0, t1, rows, in_bytes, {
                "operators.table.bytes_written": n_bytes,
                "operators.table.files_written": n_files,
                "operators.table.merge_upsert.rewritten_ratio":
                    len(parts & leaves) / max(len(parts), 1),
            })
            table_bytes += n_bytes
            bench.after_op(op)
            ops.append(op)
        return Pass(ops, start, time.time(), table_bytes=table_bytes)

    def instrument(self, tracer) -> None:
        from cdk_datalake_ingest_spark.operators import table, watermark
        from cdk_datalake_ingest_spark.plans import pipeline
        from cdk_datalake_ingest_spark.sources import csv

        tracer.wrap(csv, "read_raw_csv", "sources.csv.read_raw_csv")
        tracer.wrap(pipeline, "compile_transformation",
                    "dsl.compile_transformation")
        tracer.wrap(pipeline.StagePipeline, "transform",
                    "plans.pipeline.transform")
        tracer.wrap(pipeline.StagePipeline, "write", "plans.pipeline.write")
        tracer.wrap(watermark, "max_watermark",
                    "operators.watermark.max_watermark")
        for method in ("write", "merge_upsert", "vacuum", "read"):
            tracer.wrap(table.ManagedTable, method, f"operators.table.{method}")

    def check(self) -> list[str]:
        """The incremental stage table must equal a one-shot full
        recompute over every drop it took, and DuckDB's latest-per-key
        over the same raw CSV; the watermark must end at the newest
        change."""
        from cdk_datalake_ingest_spark.operators.table import ManagedTable
        from cdk_datalake_ingest_spark.plans.pipeline import StagePipeline
        from cdk_datalake_ingest_spark.sources.csv import read_raw_csv
        from pyspark.sql import functions as F

        spark = self.bench.spark
        problems = []
        dirs = [str(d) for d, _r, _b in self.drops]
        full = self.work / "recompute"
        shutil.rmtree(full, ignore_errors=True)
        StagePipeline(
            spark, table_spec("full"), stage_columns(), strict=True,
            max_write_attempts=1,
        ).run(read_raw_csv(spark, dirs), str(full))

        def rows(path):
            df = ManagedTable(spark, path).read()
            return df.withColumn("qty", F.col("qty").cast("double")).toPandas()

        inc = rows(self.stage)
        problems += compare_frames(
            "stage_ingest incremental vs full recompute", inc, rows(full)
        )
        files = sorted(str(p) for d in dirs for p in Path(d).glob("*.csv.gz"))
        problems += compare_frames(
            "stage_ingest vs DuckDB", inc, duck_frame(STAGE_SQL.format(files=files))
        )
        wm = self.store.get(TABLE)[1]
        if wm != self.max_cdc:
            problems.append(
                f"stage_ingest: watermark {wm} != newest change {self.max_cdc}"
            )
        return problems
