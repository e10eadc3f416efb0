"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at a given sf dir, compare row count,
column names, and order-insensitive values (stricter than a value hash — we
diff actual sorted tuples, normalizing floats to 9 significant digits).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def compare(spark_df, duck_df) -> list[str]:
    problems = []
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_df.columns)
    if s_cols != d_cols:
        problems.append(f"columns differ: spark={s_cols} duck={d_cols}")
        return problems
    s_rows = sorted(tuple(_norm(r[c]) for c in s_cols)
                    for r in spark_df.collect())
    d_recs = duck_df.to_dict("records")
    d_rows = sorted(tuple(_norm(r[c]) for c in s_cols) for r in d_recs)
    if len(s_rows) != len(d_rows):
        problems.append(f"row counts differ: spark={len(s_rows)} duck={len(d_rows)}")
    mism = [i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
    if mism:
        i = mism[0]
        problems.append(
            f"{len(mism)} mismatched rows; first at {i}:\n  spark={s_rows[i]}\n  duck ={d_rows[i]}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # this checkout's entry module, wherever the checkout is
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            if sql is None:
                n = sdf.count()
                print(f"  {name:36s} rows-only ({n} rows)")
                continue
            ddf = con.execute(sql).df()
            problems = compare(sdf, ddf)
        except Exception as e:  # noqa: BLE001
            problems = [f"exception: {type(e).__name__}: {e}"]
        if problems:
            failures += 1
            print(f"✗ {name}")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"✓ {name}")
    print(f"\n{failures} failures / {len(queries)} queries")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
