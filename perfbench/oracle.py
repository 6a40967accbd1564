"""Checks captured key outputs against the declared DuckDB oracle SQL.

Normalization follows tools/compare.py: columns sorted by name, coarse
dtype kinds compared before canonicalization, floats to 10 significant
digits, timestamps to microseconds, rows sorted. Keys without an oracle
(the rows-only keys) must return at least one row.
"""
import json
import math

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _kinds(df: pd.DataFrame) -> dict:
    m = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts"}
    return {c: m.get(df[c].dtype.kind, "obj") for c in df.columns}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.10g}"
        if hasattr(v, "isoformat"):
            return v.isoformat()[:26]
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(str(x) for x in v) + "]"
        return str(v)

    out = df.map(norm)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare(got_raw: pd.DataFrame, want_raw: pd.DataFrame):
    """None when equal, else a one-line reason."""
    got, want = _canon(got_raw), _canon(want_raw)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    gk, wk = _kinds(got_raw), _kinds(want_raw)
    bad = {c: (gk[c], wk[c]) for c in gk
           if wk.get(c) is not None and gk[c] != wk[c]
           and not got_raw[c].isna().all() and not want_raw[c].isna().all()}
    if bad:
        return f"dtype mismatch {bad}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if not got.equals(want):
        return f"value mismatch on {int((got != want).any(axis=1).sum())}/{len(got)} rows"
    return None


def check(data_dir, run_dir):
    """Compares every key the client captured, as listed in its
    checks.json; returns (checked, ['key: reason', ...]).
    """
    checks = json.loads((run_dir / "checks.json").read_text())
    keys, sql = checks["keys"], checks["oracle"]
    if not keys:
        return 0, []
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = []
    for k in keys:
        cap = run_dir / "capture" / k
        if not list(cap.glob("*.parquet")):
            bad.append(f"{k}: no output captured")
            continue
        got = con.sql(f"SELECT * FROM '{cap}/*.parquet'").df()
        if k not in sql:
            if len(got) == 0:
                bad.append(f"{k}: empty result")
            continue
        try:
            want = con.sql(sql[k]).df()
        except Exception as e:  # an oracle that does not run is a failed check
            bad.append(f"{k}: oracle error {e}")
            continue
        why = compare(got, want)
        if why:
            bad.append(f"{k}: {why}")
    con.close()
    return len(keys), bad
