"""Local mini-driver: run every queries() entry on Spark and its oracle_sql()
on DuckDB, compare row-count + order-insensitive exact values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]

sf_dir defaults to the oracle fixtures' scale (``ORACLE_SF_DIR``). Queries
whose oracle SQL reads the fixtures can only be checked there: selecting
one at another scale exits 2 before any Spark work.
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: tuple(np.asarray(v).tolist())
                          if isinstance(v, (list, np.ndarray)) else v)
        elif "datetime" in str(s.dtype):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), kind="stable").reset_index(drop=True)


def main():
    import __spark_entry__ as E

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else E.ORACLE_SF_DIR
    only = set(sys.argv[2:])
    qs, os_ = E.queries(), E.oracle_sql()
    # fixture-backed oracles read tables built from ORACLE_SF_DIR; at any
    # other scale they would report a FAIL that is not the engine's
    pinned = sorted(n for n in qs if (not only or n in only)
                    and E.FIXTURE_DIR in os_.get(n, ""))
    if pinned and sf_dir != E.ORACLE_SF_DIR:
        print(f"{', '.join(pinned)}: oracle fixtures are built from "
              f"{E.ORACLE_SF_DIR}, not {sf_dir}; run them there or "
              f"select other queries", file=sys.stderr)
        sys.exit(2)

    from mapbox_vector_tile_java_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    fails = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            fails.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        if name not in os_:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.sql(os_[name]).df()
        except Exception as e:
            fails.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error {e}")
            continue
        a, b = canon(sdf), canon(odf)
        status = []
        if len(a) != len(b):
            status.append(f"rowcount {len(a)} vs {len(b)}")
        elif list(a.columns) != list(b.columns):
            status.append(f"columns {list(a.columns)} vs {list(b.columns)}")
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                              check_exact=True)
            except AssertionError as e:
                status.append(str(e).split("\n")[0][:200])
                # show first differing rows
                neq = ~(a.fillna("__N") == b.fillna("__N")).all(axis=1)
                if neq.any():
                    i = int(np.flatnonzero(neq)[0])
                    status.append(f"first diff row {i}: {a.iloc[i].to_dict()} vs {b.iloc[i].to_dict()}")
        if status:
            fails.append((name, "; ".join(status)))
            print(f"FAIL  {name}: {'; '.join(status)[:400]}")
        else:
            print(f"OK    {name}: {len(a)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(fails)} failures")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
