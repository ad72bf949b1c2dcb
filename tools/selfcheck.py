"""Mimic of the driver's correctness gate: run every __spark_entry__ query on
Spark AND its DuckDB oracle at a given sf, compare row count + column names +
order-insensitive values. Run: python tools/selfcheck.py [sf_dir] [names...]
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E
from mini_distributed_search_engine_spark.session import get_spark

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rows {len(spark_pdf)} vs {len(duck_pdf)}")
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
                ac = pd.to_numeric(a[c]); bc = pd.to_numeric(b[c])
                bad = ~((ac == bc) | (ac.isna() & bc.isna()) | ((ac - bc).abs() <= 1e-9))
            else:
                av = a[c].astype(str); bv = b[c].astype(str)
                bad = av != bv
            if bad.any():
                i = bad.idxmax()
                problems.append(f"col {c}: {int(bad.sum())} diffs, first at row {i}: "
                                f"{a[c][i]!r} vs {b[c][i]!r}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle (rows={len(spark_pdf)})")
            continue
        try:
            duck_pdf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            failures += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            failures += 1
        else:
            print(f"OK   {name}: {len(spark_pdf)} rows")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
