"""Local replica of the driver's correctness gate: run every
``queries()`` entry and its DuckDB oracle side by side, compare
row-count, schema-insensitive sorted-column values, and report.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

if __name__ == "__main__":
    # the repo root takes this directory's place on sys.path, where
    # tools/profile.py would shadow the standard library's profile module
    sys.path[0] = str(Path(__file__).resolve().parents[1])

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            # NULLs first, uniformly: a Spark None and a DuckDB NaN
            # inside an object/bool column are the same SQL NULL, but
            # astype(str) renders them 'None' vs 'nan' — a
            # comparator-only false mismatch (the driver's hasher
            # treats nulls uniformly; NULL-bearing gates like
            # schema_evolution_merge pass its hash).
            df[c] = df[c].where(df[c].notna(), "<NULL>").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    a, b = canon(spark_df), canon(duck_df)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            # The driver's gate hashes TEXTUALIZED values, so an int64
            # Spark column vs a float64 oracle column hashes "123" vs
            # "123.0" and fails even when numerically equal.  This is the
            # DuckDB HUGEINT trap (SUM(INT) -> HUGEINT -> pandas float64)
            # that burned q12 in r1 and three new queries in r2 because
            # this comparator used to accept int==float silently.  Flag
            # any int-vs-float dtype pairing as a hard failure.
            int_float_pair = (
                pd.api.types.is_integer_dtype(av)
                and pd.api.types.is_float_dtype(bv)
            ) or (
                pd.api.types.is_float_dtype(av)
                and pd.api.types.is_integer_dtype(bv)
            )
            if int_float_pair:
                problems.append(
                    f"col {c}: dtype pairing spark={av.dtype} vs "
                    f"duck={bv.dtype} — textual hash WOULD FAIL even if "
                    f"values match (CAST the oracle SUM to BIGINT?)"
                )
                continue
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                av_f = pd.to_numeric(av, errors="coerce")
                bv_f = pd.to_numeric(bv, errors="coerce")
                bad = ~(
                    (av_f.isna() & bv_f.isna())
                    | (av_f == bv_f)
                    | ((av_f - bv_f).abs() <= 1e-9 * (1 + bv_f.abs()))
                )
                exact_bad = ~((av_f.isna() & bv_f.isna()) | (av_f == bv_f))
                if bad.any():
                    i = bad.idxmax()
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, e.g. "
                        f"{av_f[i]} vs {bv_f[i]}"
                    )
                elif exact_bad.any():
                    i = exact_bad.idxmax()
                    problems.append(
                        f"col {c}: WARN {int(exact_bad.sum())} within-tolerance "
                        f"inexact (hash would fail), e.g. {av_f[i]!r} vs {bv_f[i]!r}"
                    )
            else:
                av_s, bv_s = av.astype(str), bv.astype(str)
                bad = av_s != bv_s
                if bad.any():
                    i = bad.idxmax()
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, e.g. "
                        f"{av_s[i]!r} vs {bv_s[i]!r}"
                    )
    return problems


def main() -> int:
    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    import __spark_entry__ as entry_mod
    from cdk_datalake_ingest_spark.session import get_spark

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(args[1:])
    spark = get_spark("parity-check")
    con = duck_conn(sf_dir)
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {e}")
            results[name] = {"ok": False, "problems": [f"spark error: {e}"]}
            failures += 1
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows")
            results[name] = {"ok": True, "rows": len(sdf), "mode": "rows-only"}
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error: {e}")
            results[name] = {"ok": False, "problems": [f"duckdb error: {e}"]}
            failures += 1
            continue
        problems = compare(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"[FAIL] {name} ({len(sdf)} rows):")
            for p in problems:
                print(f"    {p}")
            results[name] = {
                "ok": False, "rows": len(sdf), "problems": problems,
            }
        else:
            print(f"[ok] {name}: {len(sdf)} rows match")
            results[name] = {"ok": True, "rows": len(sdf), "mode": "oracle"}
    spark.stop()
    if json_path:
        import json as _json

        Path(json_path).write_text(
            _json.dumps(
                {
                    "sf_dir": sf_dir,
                    "entries": len(results),
                    "failures": failures,
                    "results": results,
                },
                indent=1,
                sort_keys=True,
            )
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
