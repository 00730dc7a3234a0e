"""Output checks, run after the JVM has exited (outside every timed region).

ETL outputs are compared with the row counts and content hashes gen.py
predicted from its ground truth. Ops query results are compared with the
DuckDB oracle SQL each registry query carries (SparkEntry.oracleSql).
Every check returns a list of failure messages; empty means it passed.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd

from gen import digest

# columns whose multiset gen.predict hashes, per output dataset
ETL_KEYS = {
    "matches": "pmid, section, type, label, keywordId",
    "failedMatches": "pmid, type, label",
    "cooccurrences": "pmid, section, keywordId1, keywordId2",
    "failedCooccurrences": None,
    "literatureIndex": "pmid, keywordId",
    "trainingSet": None,
    "vectors": "word",
    "evidence": ("targetFromSourceId, diseaseFromSourceMappedId, "
                 "sharedPublicationCount, cooccurredPublicationCount"),
}


def check_etl(out_dir, expect, datasets):
    """Compare each dataset under `out_dir` with its prediction."""
    con = duckdb.connect()
    bad = []
    for name in datasets:
        want = expect[name]
        path = f"{out_dir}/{name}"
        if not os.path.isdir(path):
            bad.append(f"{name}: missing")
            continue
        src = f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
        rows = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        if rows != want["rows"]:
            bad.append(f"{name}: {rows} rows, expected {want['rows']}")
        elif "hash" in want:
            got = digest(con.execute(f"SELECT {ETL_KEYS[name]} FROM {src}").fetchall())
            if got != want["hash"]:
                bad.append(f"{name}: content hash {got}, expected {want['hash']}")
    return bad


def _normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)


def _same_values(a, b):
    """Whether two normalized frames of one shape hold the same values:
    floats within a relative 1e-9, nulls equal to nulls."""
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            fx, fy = pd.to_numeric(x, errors="coerce"), pd.to_numeric(y, errors="coerce")
            if (fx.isna() != x.isna()).any() or (fy.isna() != y.isna()).any():
                return False
            tol = 1e-9 * np.maximum(1.0, np.maximum(fx.abs(), fy.abs()))
            same = (fx.isna() & fy.isna()) | ((fx - fy).abs() <= tol)
        else:
            same = (x.isna() & y.isna()) | (x == y)
        if not bool(same.all()):
            return False
    return True


def check_ops(tables_dir, result_dir, names):
    """Compare each query's Spark result with its DuckDB oracle."""
    con = duckdb.connect()
    for t in ("documents", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(f"{result_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    bad = []
    for name in names:
        path = f"{result_dir}/{name}"
        if name not in oracles:
            bad.append(f"{name}: no oracle SQL")
            continue
        if not os.path.isdir(path):
            bad.append(f"{name}: no result")
            continue
        s = _normalize(con.execute(f"SELECT * FROM '{path}/*.parquet'").df())
        o = _normalize(con.execute(oracles[name]).df())
        if list(s.columns) != list(o.columns):
            bad.append(f"{name}: columns {list(s.columns)} vs oracle {list(o.columns)}")
        elif len(s) != len(o):
            bad.append(f"{name}: {len(s)} rows vs oracle {len(o)}")
        elif not _same_values(s, o):
            bad.append(f"{name}: values differ from oracle")
    return bad
