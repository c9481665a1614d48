"""NULL-injection differential walk for the relational core (VERDICT r8 #2).

The TPC-H-ish fixtures are non-null by construction, so the join/agg/
window family (q11–q34) had never been differentially tested on null
keys/values — exactly the class where Spark and DuckDB genuinely
diverge. This sweep derives a NULL-BEARING variant fixture (same
schemas, deterministic ~5-9%% null masks on join keys, group keys,
window-order columns and aggregate inputs) and runs the family's own
registered queries AND oracles against it.

The walk now covers the ENTIRE registry (every oracled query) — the
masked tables feed far more than the q11-q34 core. Findings from the
registry-wide walk, each fixed or pinned at its query:
  - ASC NULL ordering (Spark NULLS FIRST vs DuckDB nulls_last): pinned
    explicitly in q30/q34's oracles; q185 and q298 instead pin NULLs
    OUT (no position in a value distribution / not skyline-eligible).
  - concat_ws SKIPS null fields: q256's CSV packer shifted columns
    (now coalesce-to-''), q336's hashdiff collided/diverged (now
    sentinel-encoded on both engines).
  - Whole-value NULL poisoning: q270's fixed-width F.concat dropped the
    row and '' raised under ANSI cast (now blank-render + nullif-parse).
  - format_string renders NULL as 'null' (Java) vs printf's NULL
    propagation: q273 pins NULL-in → NULL-out.
  - pandas int64 astype raises on NaN: q60/q92 use nullable Int64
    (SUM-skip semantics preserved).
  - Spark writes NULL partition values as __HIVE_DEFAULT_PARTITION__:
    q217 decodes the marker back to logical NULL.
  - PIVOT's IN-list is a filter (NULL status drops): q225's oracle now
    states it instead of bucketing NULL into 'P'.
  - Closed-form SCD2 oracles used null-poisoning <>: q324/q326/q329/
    q336/q338 now use IS DISTINCT FROM, matching the null-safe kernels.
  - Everything else agrees by shared ANSI semantics: null join keys
    never match, GROUP BY places nulls in one group, aggregates skip
    nulls, COUNT(DISTINCT) ignores nulls, ROLLUP/CUBE natural-null keys
    coexist with aggregation markers as identical multisets.

Gated behind SPARK_GRAFT_NULL_SWEEP=1 (builds the variant fixture
once per source-fixture stamp under /tmp; ~10 min for the registry):

    SPARK_GRAFT_NULL_SWEEP=1 python -m pytest tests/test_null_injection.py -q
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from eclypsium_etl_spark import registry
from eclypsium_etl_spark.io import source_stamp

from .conftest import FIXTURE_TABLES, SF_CHECK, make_duck
from .parity import compare, derived_fixture

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_NULL_SWEEP"),
    reason="set SPARK_GRAFT_NULL_SWEEP=1 to run the NULL-injection walk",
)

QUERIES, ORACLE = registry.load_all()

# Registry-wide: every oracled query runs against the null fixture
# (q52's rows-only gate is the single exclusion, as in the driver walk).
CORE = sorted(ORACLE)

# Deterministic null masks. Every injected column is a join key, group
# key, window-order column, or aggregate input somewhere in CORE; dates/
# timestamps stay clean (they anchor filters and frames identically on
# both engines and are not the divergence class under test).
_MASKS = {
    "customer": """
        CASE WHEN c_custkey % 11 = 3 THEN NULL ELSE c_nationkey END
            AS c_nationkey,
        CASE WHEN c_custkey % 13 = 5 THEN NULL ELSE c_acctbal END
            AS c_acctbal,
        CASE WHEN c_custkey % 7 = 2 THEN NULL ELSE c_mktsegment END
            AS c_mktsegment
    """,
    "orders": """
        CASE WHEN o_orderkey % 17 = 4 THEN NULL ELSE o_custkey END
            AS o_custkey,
        CASE WHEN o_orderkey % 19 = 6 THEN NULL ELSE o_totalprice END
            AS o_totalprice,
        CASE WHEN o_orderkey % 23 = 7 THEN NULL ELSE o_orderpriority END
            AS o_orderpriority,
        CASE WHEN o_orderkey % 29 = 11 THEN NULL ELSE o_orderstatus END
            AS o_orderstatus
    """,
    "lineitem": """
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 23 = 7
             THEN NULL ELSE l_quantity END AS l_quantity,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 29 = 11
             THEN NULL ELSE l_discount END AS l_discount,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 31 = 13
             THEN NULL ELSE l_returnflag END AS l_returnflag,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 37 = 17
             THEN NULL ELSE l_extendedprice END AS l_extendedprice
    """,
    "supplier": """
        CASE WHEN s_suppkey % 11 = 3 THEN NULL ELSE s_nationkey END
            AS s_nationkey
    """,
    # v2: events joins the masked set — value (aggregate input across the
    # timeseries/statistics family) and event_type (group/filter key,
    # incl. the streaming oracles). ts / user_id / event_id stay clean:
    # they anchor watermarks, frames and join keys identically on both
    # engines and nulling them models a broken ingest, not late data.
    "events": """
        CASE WHEN event_id % 13 = 5 THEN NULL ELSE value END AS value,
        CASE WHEN event_id % 31 = 9 THEN NULL ELSE event_type END
            AS event_type
    """,
}


def _null_fixture_dir() -> str:
    """Build (once per source stamp) the null-bearing fixture: masked
    tables rewritten via DuckDB, untouched tables copied byte-identical.
    The _SUCCESS marker gates rebuilds, same discipline as io memos."""
    stamp = source_stamp(os.path.join(SF_CHECK, "orders.parquet"))

    def build(tmp: str) -> None:
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            src = os.path.join(SF_CHECK, f"{t}.parquet")
            dst = os.path.join(tmp, f"{t}.parquet")
            if t in _MASKS:
                con.execute(
                    f"COPY (SELECT * REPLACE ({_MASKS[t]}) "
                    f"FROM read_parquet('{src}')) TO '{dst}' (FORMAT PARQUET)"
                )
            else:
                shutil.copyfile(src, dst)

    return derived_fixture(f"nullfx_v2_{os.path.basename(SF_CHECK)}_{stamp}", build)


@pytest.fixture(scope="session")
def null_fx() -> str:
    return _null_fixture_dir()


@pytest.fixture(scope="session")
def duck_null(null_fx):
    return make_duck(null_fx)


def test_masks_actually_inject(duck_null):
    """Guard against a silently-empty mask (wrong modulus, regenerated
    fixture with shifted keys): every injected column must be null
    somewhere, else the sweep is vacuous."""
    checks = {
        "customer": ["c_nationkey", "c_acctbal", "c_mktsegment"],
        "orders": ["o_custkey", "o_totalprice", "o_orderpriority",
                   "o_orderstatus"],
        "lineitem": ["l_quantity", "l_discount", "l_returnflag",
                     "l_extendedprice"],
        "supplier": ["s_nationkey"],
        "events": ["value", "event_type"],
    }
    for t, cols in checks.items():
        for c in cols:
            n = duck_null.execute(
                f"SELECT COUNT(*) FROM {t} WHERE {c} IS NULL"
            ).fetchone()[0]
            assert n > 0, f"{t}.{c}: mask injected zero NULLs"


@pytest.mark.parametrize("name", CORE)
def test_null_core_parity(name, spark, null_fx, duck_null):
    ok, detail = compare(
        QUERIES[name](spark, null_fx), duck_null, ORACLE[name]
    )
    assert ok, f"{name} on null fixture: {detail}"
