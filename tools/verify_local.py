"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against its
DuckDB oracle: row count, schema (column names, sorted), and
order-insensitive exact value comparison (stricter than a hash — it
diffs). Usage:

    python tools/verify_local.py [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def duck_connection():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    import datetime

    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            vals = df[c].dropna()
            if len(vals) and all(
                isinstance(v, (datetime.date, datetime.datetime))
                for v in vals
            ):
                df[c] = pd.to_datetime(df[c])
            else:
                # DuckDB returns list columns as numpy arrays, Spark
                # as Python lists — both become sortable tuples
                df[c] = df[c].map(
                    lambda v: tuple(v)
                    if isinstance(v, (list, tuple, np.ndarray))
                    else v.hex()
                    if isinstance(v, (bytes, bytearray))
                    else v
                )
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as entrymod
    from innercircle_etl_spark.session import get_spark

    only = set(sys.argv[1:])
    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # Simulate the driver: a session with NONE of our factory confs
        # (and optionally a hostile timezone via SPARK_GRAFT_TZ).
        from pyspark.sql import SparkSession

        b = SparkSession.builder.appName("vanilla").master("local[8]")
        tz = os.environ.get("SPARK_GRAFT_TZ")
        if tz:
            b = b.config("spark.sql.session.timeZone", tz)
        spark = b.getOrCreate()
    else:
        spark = get_spark(shuffle_partitions=8)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duck_connection()

    def drop_caches() -> None:
        """Between-query hygiene — see session.drop_query_caches
        (a 155-query sweep otherwise accumulates every
        localCheckpoint's pinned blocks)."""
        from innercircle_etl_spark.session import drop_query_caches

        drop_query_caches(spark)

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        drop_caches()
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            spark_pd = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spark_pd)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            duck_pd = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle error")
            traceback.print_exc()
            n_fail += 1
            continue

        problems = []
        if len(spark_pd) != len(duck_pd):
            problems.append(f"rowcount spark={len(spark_pd)} duck={len(duck_pd)}")
        if sorted(spark_pd.columns) != sorted(duck_pd.columns):
            problems.append(
                f"columns spark={sorted(spark_pd.columns)} duck={sorted(duck_pd.columns)}"
            )
        if not problems:
            s, d = canon(spark_pd), canon(duck_pd)
            try:
                pd.testing.assert_frame_equal(
                    s, d, check_dtype=False, check_exact=True
                )
            except AssertionError as e:
                problems.append(f"values: {str(e)[:500]}")
                # show first diffs
                neq = (s != d) & ~(s.isna() & d.isna())
                bad = neq.any(axis=1)
                if bad.any():
                    idx = s.index[bad][:3]
                    for i in idx:
                        problems.append(
                            f"  row{i} spark={s.loc[i].to_dict()} duck={d.loc[i].to_dict()}"
                        )
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"   {p}")
        else:
            n_pass += 1
            print(f"PASS {name}: {len(spark_pd)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{n_pass} passed, {n_fail} failed, "
          f"{len(qs) - len(oracles)} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
