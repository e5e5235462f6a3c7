"""Output checks, run after the timed window of every run.

* Registry queries: the program's DuckDB oracle (`SparkEntry.oracleSql`)
  runs over the same parquet inputs and must give the same rows (columns
  sorted by name, rows sorted, exact equality; the rule of the
  repository's `tools/check.py`). Every query the workloads run has one.
* `star_etl`: invariants of the written star schema against the counts
  the generator reports.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def read_result(con, result_dir):
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return pd.DataFrame()
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def oracle_mismatch(con, sql, got):
    """None when `got` equals the oracle's rows, else a one-line reason."""
    want = con.execute(sql).fetchdf()
    s = got.reindex(sorted(got.columns), axis=1)
    d = want.reindex(sorted(want.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} != {len(d)}"
    if len(s) == 0:
        return None
    s = s.sort_values(by=list(s.columns), ignore_index=True)
    d = d.sort_values(by=list(d.columns), ignore_index=True)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            same = np.allclose(sv.astype(float), dv.astype(float), rtol=0, atol=0,
                               equal_nan=True)
        else:
            same = sv.astype(str).equals(dv.astype(str))
        if not same:
            return f"column {c} differs"
    return None


def star_mismatch(out_dir, expect):
    """None when the written star schema satisfies the invariants."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")

    def q(table, sql):
        return con.execute(sql.format(t=f"read_parquet('{out_dir}/{table}/*.parquet')")
                           ).fetchone()
    n, lo, hi, distinct = q("FACT_MemberExpedition",
                            "SELECT count(*), min(Id), max(Id), count(DISTINCT Id) FROM {t}")
    if n != expect["members"]:
        return f"fact rows {n} != members {expect['members']}"
    if (lo, hi, distinct) != (1, n, n):
        return f"fact ids not dense 1..{n}: min {lo} max {hi} distinct {distinct}"
    for table in ("DIM_Peak", "DIM_Expedition", "DIM_Date", "DIM_CountryIndicator"):
        (k,) = q(table, "SELECT count(DISTINCT Id) FROM {t}")
        if k != expect[table]:
            return f"{table} keys {k} != {expect[table]}"
    # every citizenship resolves to some country, and the indicators cover
    # every year, so both foreign keys are total
    (orphans,) = q("FACT_MemberExpedition", "SELECT count(*) FROM {t} "
                   "WHERE DateId IS NULL OR CountryIndicatorId IS NULL")
    if orphans:
        return f"{orphans} fact rows without a date or country-indicator key"
    return None
