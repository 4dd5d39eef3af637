"""DuckDB oracle check for query_mix.

Each query's first (untimed) result, as kept by the JVM side
(`<results>/<query>.json`: column names and rows), is compared
with its oracle SQL (`graft.SparkEntry.oracleSql`) run by DuckDB over the
same generated tables: same columns, same row count, and the same rows as
a multiset. Floating-point values are compared at 9 significant digits,
so summation order inside an engine does not count as a difference.
Integers are compared exactly, except in a column where either engine
returned floating-point values: there they are compared as floats.
"""
import datetime
import decimal
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _canon(v, as_float=False):
    """Canonical text of a value; `as_float` compares integers as floats."""
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else f"{float(v):.9g}"
    if isinstance(v, (decimal.Decimal,)):
        return f"{float(v):.9g}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return f"{float(v):.9g}" if as_float else str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        # the JVM side writes timestamps in this form
        return ts.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k, as_float)}:{_canon(x, as_float)}"
                              for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x, as_float) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return "null"
    except (TypeError, ValueError):
        pass
    return str(v)


def _has_float(v):
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return not (isinstance(v, float) and math.isnan(v))
    if isinstance(v, dict):
        return any(_has_float(x) for x in v.values())
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return any(_has_float(x) for x in v)
    return False


def _float_columns(*dfs):
    """Columns in which any of the frames holds a floating-point value."""
    return {c for df in dfs for c in df.columns if any(_has_float(v) for v in df[c])}


def _rows(df, float_cols):
    cols = sorted(df.columns)
    flags = [c in float_cols for c in cols]
    df = df.reindex(cols, axis=1)
    return sorted(tuple(_canon(v, f) for v, f in zip(row, flags))
                  for row in df.itertuples(index=False, name=None))


def check(tables_dir, results_dir, oracle_sql, queries):
    """Return one problem string per query whose result differs."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    problems = []
    for q in queries:
        sql = oracle_sql.get(q)
        if sql is None:
            problems.append(f"{q}: no oracle SQL")
            continue
        try:
            with open(os.path.join(results_dir, f"{q}.json")) as f:
                kept = json.load(f)
            got = pd.DataFrame(kept["rows"], columns=kept["columns"], dtype=object)
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            problems.append(f"{q}: {e}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"{q}: columns {sorted(got.columns)} != oracle {sorted(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"{q}: {len(got)} rows != oracle {len(exp)}")
        else:
            floats = _float_columns(got, exp)
            g, e = _rows(got, floats), _rows(exp, floats)
            bad = sum(1 for a, b in zip(g, e) if a != b)
            if bad:
                first = next((a, b) for a, b in zip(g, e) if a != b)
                problems.append(f"{q}: {bad} rows differ from the oracle, first {first[0]} != {first[1]}")
    con.close()
    return problems
