"""DuckDB oracle check for the catalog workload.

Each query's Spark result (parquet) must equal the answer of its oracle
SQL (SparkEntry.oracleSql) over the same generated tables: columns
sorted by name, rows sorted by every column, values compared exactly.
The oracle answer depends only on (seed, scale factor, SQL), so it is
cached beside the generated tables, keyed by a hash of the SQL.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def compare(name, odf, sdf):
    """Returns the differences between oracle and Spark frames, or []."""
    if list(odf.columns) != list(sdf.columns):
        return [f"{name}: columns oracle={list(odf.columns)} spark={list(sdf.columns)}"]
    if len(odf) != len(sdf):
        return [f"{name}: rows oracle={len(odf)} spark={len(sdf)}"]
    bad = []
    for c in odf.columns:
        a, b = odf[c], sdf[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            av, bv = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
            if not eq.all():
                bad.append(f"{name}.{c}: max|d|={np.nanmax(np.abs(av - bv)):.3e} "
                           f"n_bad={int((~eq).sum())}")
        elif not a.astype(object).where(pd.notna(a), None).equals(
                b.astype(object).where(pd.notna(b), None)):
            bad.append(f"{name}.{c}: n_bad={int((a.astype(str) != b.astype(str)).sum())}")
    return bad


def check(tables, out, queries, cache):
    """Compares every named query's output under `out` with its oracle;
    returns a list of failures (empty when all match)."""
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    errors = []
    for name in queries:
        key = hashlib.sha256(sql[name].encode()).hexdigest()[:16]
        cached = os.path.join(cache, f"{name}-{key}.pkl")
        try:
            if os.path.exists(cached):
                odf = pd.read_pickle(cached)
            else:
                odf = canon(con.execute(sql[name]).fetchdf())
                odf.to_pickle(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: oracle error {e}")
            continue
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            errors.append(f"{name}: no spark output")
            continue
        sdf = canon(con.execute(
            f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'").fetchdf())
        errors += compare(name, odf, sdf)
    return errors
