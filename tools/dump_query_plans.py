"""Dump .explain('formatted') for bench queries into a plan round
directory (e.g. ``plans/r16``), one ``<query>_<tag>.txt`` per query.

Usage: python tools/dump_query_plans.py OUT_DIR before|after [query ...]
OUT_DIR is relative to the repo root unless absolute. Defaults to every
bench query when none are named. Eager/side-effecting queries still
return a DataFrame — we explain that returned plan.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"


def main() -> None:
    out_dir = Path(__file__).resolve().parents[1] / sys.argv[1]
    tag = sys.argv[2]
    names = sys.argv[3:]
    from cdk_datalake_ingest_spark.queries import QUERIES
    from cdk_datalake_ingest_spark.session import get_spark

    from bench import bench_queries

    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names or bench_queries():
        try:
            df = QUERIES[name](spark, SF)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as ex:  # pragma: no cover - diagnostic tool
            plan = f"ERROR: {ex}"
        (out_dir / f"{name}_{tag}.txt").write_text(plan + "\n")
        print(f"[{tag}] {name}")
    spark.stop()


if __name__ == "__main__":
    main()
