"""Registry-query correctness: Spark result vs its DuckDB ``ORACLES`` twin.

The rule is the project's gate rule: equal row count, equal column set and
an equal order-insensitive value hash, with columns sorted by name, rows
sorted over every column and cells normalised by dtype (floats as %.6f,
dates as ISO strings).
"""

from __future__ import annotations

import datetime
import hashlib
import math
import os

import numpy as np
import pandas as pd


def _norm_cell(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NULL" if math.isnan(v) else f"{float(v):.6f}"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        if ts.normalize() == ts and ts.tz is None:
            return ts.date().isoformat()
        return ts.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def fingerprint(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("\x1f".join(_norm_cell(v) for v in row).encode())
        h.update(b"\n")
    return len(pdf), tuple(cols), h.hexdigest()


class Oracle:
    """DuckDB over the same parquet tables the Spark queries read."""

    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, sql: str, spark_df) -> str | None:
        """None when the Spark frame matches the oracle, else the mismatch."""
        got = fingerprint(spark_df.toPandas())
        want = fingerprint(self.con.sql(sql).df())
        if got == want:
            return None
        return f"spark rows/cols {got[:2]} != duckdb {want[:2]} or value hash differs"

    def close(self) -> None:
        self.con.close()
