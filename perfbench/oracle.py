"""Output checks against DuckDB, apart from the engine.

Each query's registered oracle SQL runs in DuckDB over the same parquet
files, and its result is compared with the engine's by the rules of
scripts/check.py: columns aligned by sorted name, rows in result order
(every query has a total ORDER BY), an int-vs-float column is a dtype
skew, timestamps compare at microseconds, floats compare exactly, NULL
equals NULL. List cells compare as tuples.

DuckDB results are cached on disk, keyed on the SQL text plus the bytes
of the input tables, so they are recomputed whenever either changes:

    python3 perfbench/oracle.py <data_dir> <oracle-sql.json> <cache_dir>

fills the cache for every registered query (run.py does the same lazily;
oracle-sql.json is `java graft.perfbench.Main --oracle-sql <out>`).
"""
import decimal
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

from inputs import TABLES

INT_TYPES = ("tinyint", "smallint", "int", "bigint")
FLOAT_TYPES = ("float", "double")


def inputs_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class Oracle:
    def __init__(self, data_dir, cache_dir):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.digest = inputs_digest(data_dir)
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def result(self, sql):
        key = hashlib.sha256((sql + "\0" + self.digest).encode()).hexdigest()
        path = f"{self.cache_dir}/{key}.pkl"
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            self.con = connect(self.data_dir)
        df = self.con.execute(sql).fetchdf()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df


def engine_frame(out):
    """An engine result (Main.output's JSON) as the pandas frame a parquet
    round trip through pyarrow would give."""
    cols = {}
    for i, (name, typ) in enumerate(zip(out["columns"], out["types"])):
        vals = [r[i] for r in out["rows"]]
        has_null = any(v is None for v in vals)
        if typ in INT_TYPES:
            cols[name] = (pd.Series(vals, dtype="float64") if has_null
                          else pd.Series(vals, dtype="int64"))
        elif typ in FLOAT_TYPES:
            f = [np.nan if v is None else float(v) for v in vals]
            cols[name] = pd.Series(f, dtype="float32" if typ == "float" else "float64")
        elif typ in ("timestamp", "timestamp_ntz", "date"):
            cols[name] = pd.to_datetime(pd.Series(vals, dtype="float64"), unit="us")
        elif typ.startswith("decimal"):
            cols[name] = pd.Series([None if v is None else decimal.Decimal(v) for v in vals],
                                   dtype=object)
        elif typ == "boolean" and not has_null:
            cols[name] = pd.Series(vals, dtype=bool)
        else:
            cols[name] = pd.Series([_freeze(v) for v in vals], dtype=object)
    return pd.DataFrame(cols, columns=out["columns"])


def _freeze(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_freeze(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _freeze(x)) for k, x in v.items())
    return v


def compare(got, exp):
    """None when equal, else a one-line reason (scripts/check.py's rules)."""
    got = got[sorted(got.columns)].reset_index(drop=True)
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    bad = []
    for c in got.columns:
        a, b = got[c], exp[c]
        ai, bi = pd.api.types.is_integer_dtype(a), pd.api.types.is_integer_dtype(b)
        af, bf = pd.api.types.is_float_dtype(a), pd.api.types.is_float_dtype(b)
        if (ai and bf) or (af and bi):
            bad.append(f"{c} dtype skew: engine {a.dtype} vs oracle {b.dtype}")
            continue
        if pd.api.types.is_datetime64_any_dtype(a) or pd.api.types.is_datetime64_any_dtype(b):
            a = pd.to_datetime(a).astype("datetime64[us]")
            b = pd.to_datetime(b).astype("datetime64[us]")
            eq = (a == b) | (a.isna() & b.isna())
        elif af or bf:
            x, y = a.astype(float), b.astype(float)
            eq = (x == y) | (x.isna() & y.isna())
        else:
            x = a.map(_freeze).astype(object).where(pd.notna(a), None)
            y = b.map(_freeze).astype(object).where(pd.notna(b), None)
            eq = pd.Series([u == v for u, v in zip(x, y)]) | (a.isna() & b.isna())
        if not bool(eq.all()):
            i = int(np.argmin(eq.values))
            bad.append(f"{c} (first diff row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}, "
                       f"{int((~eq).sum())} cells)")
    return "; ".join(bad) or None


if __name__ == "__main__":
    data_dir, sqls, cache = sys.argv[1:4]
    o = Oracle(data_dir, cache)
    with open(sqls) as f:
        for sql in json.load(f).values():
            o.result(sql)
