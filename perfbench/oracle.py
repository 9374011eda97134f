"""Checks the benchmark's timed outputs against graft's DuckDB oracles.

Each checked key's Spark output (a parquet directory) is compared with its
`SparkEntry.oracleSql` query run by DuckDB on the same parquet tables: rows
and columns sorted, floats compared exactly, everything else as text — the
comparison tools/check_oracle.py makes. Oracle results depend only on the
SQL and the data, so they are cached by a hash of both.
"""
import hashlib
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Oracle:
    def __init__(self, data_dir: Path, cache_dir: Path):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        cache_dir.mkdir(parents=True, exist_ok=True)
        files = sorted(data_dir.glob("*.parquet"))
        self.fingerprint = "".join(f"{f.name}:{f.stat().st_size};" for f in files)
        self._con = None

    @property
    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.sql("SET threads TO 4")
            for t in TABLES:
                p = self.data_dir / f"{t}.parquet"
                if p.exists():
                    self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self._con

    def expected(self, sql: str) -> pd.DataFrame:
        h = hashlib.sha256((self.fingerprint + sql).encode()).hexdigest()
        path = self.cache_dir / f"{h}.pkl"
        if path.exists():
            return pd.read_pickle(path)
        df = self.con.sql(sql).df()
        tmp = path.with_suffix(".tmp")
        df.to_pickle(tmp)
        tmp.replace(path)
        return df

    def check(self, got_dir: Path, sql: str) -> str | None:
        """None when the output matches, else what differs."""
        try:
            got = pd.read_parquet(got_dir)
        except Exception as e:  # noqa: BLE001 - any unreadable output is a failure
            return f"no output: {e}"
        return compare(got, self.expected(sql))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert(None)
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    if sorted(got.columns) != sorted(exp.columns):
        return f"schema: spark={sorted(got.columns)} oracle={sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows: spark={len(got)} oracle={len(exp)}"
    g, e = _normalize(got), _normalize(exp)
    for c in g.columns:
        a, b = g[c], e[c]
        try:
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                if not np.array_equal(a.to_numpy(dtype="float64"), b.to_numpy(dtype="float64"), equal_nan=True):
                    return f"column {c}: max diff {(a.astype(float) - b.astype(float)).abs().max()}"
            elif not a.astype(str).equals(b.astype(str)):
                return f"column {c}: values differ"
        except Exception as ex:  # noqa: BLE001 - an uncomparable column is a mismatch
            return f"column {c}: {ex}"
    return None
