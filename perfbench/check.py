"""Output checks: every invocation's rows against the DuckDB oracle.

The comparison is the engine's differential harness (``tests/parity.py``,
which copies the correctness gate the engine is graded by): same row
count, same column names, and the same multiset of canonical rows.  This
module adds only the cached oracle results and the result digests.

A query without an oracle has the rows-only contract: it returns a
non-empty schema and its rows can be collected.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

from fixture import TABLES

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tests.parity import canonical_rows  # noqa: E402


def canonical(pdf: pd.DataFrame) -> dict:
    """Sorted columns plus the sorted canonical rows of a result, in the
    JSON form the oracle cache stores."""
    return {"columns": sorted(pdf.columns), "rows": [list(r) for r in canonical_rows(pdf)]}


def digest(pdf: pd.DataFrame) -> tuple | None:
    """Order-insensitive fingerprint of a result, or None when a column
    cannot be hashed.  Equal results have equal digests, so a verdict can
    be reused for an output identical to one already checked."""
    try:
        rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    except TypeError:
        return None
    return (tuple(pdf.columns), tuple(str(t) for t in pdf.dtypes), len(rows),
            int(rows.sum()))  # wraps; a sum is order-insensitive


def mismatch(expected: dict | None, pdf: pd.DataFrame) -> str | None:
    """None when ``pdf`` satisfies the expectation, else a short reason.
    ``expected`` None means the rows-only contract."""
    if expected is None:
        return None if len(pdf.columns) else "empty schema"
    got = canonical(pdf)
    if len(got["rows"]) != len(expected["rows"]):
        return f"row count: got {len(got['rows'])}, oracle {len(expected['rows'])}"
    if got["columns"] != expected["columns"]:
        return f"columns: got {got['columns']}, oracle {expected['columns']}"
    if got["rows"] != expected["rows"]:
        first = next(
            (a, b) for a, b in zip(got["rows"], expected["rows"]) if a != b
        )
        return f"values differ; first: got {first[0]}, oracle {first[1]}"
    return None


def oracle_result(fixture_dir: str, fixture_stamp: str, sql: str, cache_dir: str) -> dict:
    """Canonical DuckDB result of ``sql`` over the fixture, cached on disk
    by fixture stamp and SQL text."""
    import duckdb

    key = hashlib.sha256(f"{fixture_stamp}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(fixture_dir, t)}.parquet')"
            )
        result = canonical(con.execute(sql).fetchdf())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, path)
    return result
