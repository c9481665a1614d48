"""Differential-test harness: Spark result vs DuckDB oracle.

Emulates the driver's correctness gate (row count + column names +
order-insensitive value comparison) so every registered query is verified
locally before the driver ever sees it. Pytest-free, so the scripts share
the same DuckDB view setup (``make_duck``) and compare.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd

FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def make_duck(sf_dir: str):
    """Replicates the driver's oracle setup: each fixture table registered
    as a DuckDB view over the same parquet files Spark reads."""
    import duckdb  # lazy: perfbench imports this module for canonical_rows

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    """Canonicalize one cell so identical logical values compare equal
    across engines/dtypes."""
    if v is None:
        return "\x00null"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "\x00nan"
        return repr(f)  # shortest round-trip: identical doubles → identical repr
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        if pd.isna(v):
            return "\x00null"
        return v.isoformat()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(v[k])}" for k in sorted(v)) + "}"
    if v is pd.NaT:
        return "\x00null"
    try:
        if pd.isna(v):
            return "\x00null"
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    return sorted(
        tuple(_norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )


def compare(spark_df, duck_con, sql: str) -> tuple[bool, str]:
    """Run both sides, compare like the driver does. Returns (ok, detail)."""
    spdf = spark_df.toPandas()
    dpdf = duck_con.execute(sql).fetchdf()
    if len(spdf) != len(dpdf):
        return False, f"row count: spark={len(spdf)} duckdb={len(dpdf)}"
    s_cols, d_cols = sorted(spdf.columns), sorted(dpdf.columns)
    if s_cols != d_cols:
        return False, f"columns: spark={s_cols} duckdb={d_cols}"
    s_rows, d_rows = canonical_rows(spdf), canonical_rows(dpdf)
    if s_rows != d_rows:
        mism = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b
        ][:3]
        return False, f"values differ; first mismatches (spark vs duckdb): {mism}"
    return True, f"ok ({len(spdf)} rows)"
