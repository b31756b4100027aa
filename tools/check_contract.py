"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
counts and order-insensitive values."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as E  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt == "object":
            df[c] = df[c].astype(str)
        elif dt.startswith("float") or dt.startswith("decimal"):
            df[c] = df[c].astype("float64").round(6)
        elif "int" in dt.lower():
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main(sf_dir: str, only: list[str] | None = None):
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, osql = E.queries(), E.oracle_sql()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    print(f"{len(qs)} queries, {len(osql)} oracles; rows-only: {sorted(set(qs) - set(osql))}")
    fails = []
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            fails.append((name, f"spark error: {ex}"))
            print(f"FAIL  {name}: spark error {str(ex)[:300]}")
            continue
        if name not in osql:
            print(f"rows  {name}: {len(got)} rows (rows-only check)")
            continue
        try:
            exp = con.sql(osql[name]).df()
        except Exception as ex:
            fails.append((name, f"duckdb error: {ex}"))
            print(f"FAIL  {name}: duckdb error {str(ex)[:300]}")
            continue
        g, e = normalize(got), normalize(exp)
        if len(g) != len(e):
            fails.append((name, f"row count {len(g)} vs {len(e)}"))
            print(f"FAIL  {name}: rows {len(g)} vs {len(e)}")
            continue
        if list(g.columns) != list(e.columns):
            fails.append((name, f"cols {list(g.columns)} vs {list(e.columns)}"))
            print(f"FAIL  {name}: cols {list(g.columns)} vs {list(e.columns)}")
            continue
        if not g.equals(e):
            neq = (g != e).any(axis=1)
            diff = pd.concat([g[neq].head(3), e[neq].head(3)])
            fails.append((name, "value mismatch"))
            print(f"FAIL  {name}: values differ; sample:\n{diff}")
            continue
        print(f"OK    {name}: {len(g)} rows")
    # entry smoke
    if not only:
        ent = E.entry(spark)
        n = ent.count()
        print(f"entry(): {n} rows, schema {ent.schema.simpleString()}")
    print("RESULT:", "FAIL " + str(fails) if fails else "ALL OK")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    sf = argv[0] if argv and not argv[0].startswith("--") else "/root/testdata/sf0.01"
    names = None
    if "--only" in argv:
        names = argv[argv.index("--only") + 1 :]
    sys.exit(main(sf, only=names))
