"""SKEWED-KEY differential walk — the fourth adversarial-fixture axis
(VERDICT r9 #1, after null / empty / unicode).

The TPC-H-ish fixtures are UNIFORM by construction: no join, group, or
window-partition key is ever Zipf-hot, so the paths where AQE
skew-split, salting (q84), map-side combines, and the r6 hot-key window
audit actually matter had never been differentially exercised. This
sweep derives a HOT-KEY variant fixture — one dominant value planted in
each major foreign key / group key / window-partition key, and a hot
document text (30%% of the corpus identical → hot digests, hot tokens,
one giant LSH bucket) — and runs EVERY oracled query differentially
against it.

Skew design (deterministic residue masks; primary keys and dates stay
clean — skewing a PK breaks entity semantics, not distribution):
  - orders.o_custkey      → 30%% of orders point at ONE customer
  - lineitem.l_suppkey    → 30%% of lines at ONE supplier
  - lineitem.l_partkey    → ~29%% of lines at ONE part
  - customer.c_nationkey  → 40%% of customers in ONE nation
  - supplier.s_nationkey  → 40%% of suppliers in ONE nation
  - events.user_id        → 30%% of events from ONE user (the hot
    window/session partition: sessionize, funnels, stream dedup keys)
  - documents.text        → 30%% of docs share ONE text (hot digest for
    the dedup family, hot shingles/tokens for the text family, one
    giant MinHash band bucket)

Hot values are taken FROM the fixture (min key per dimension), so
referential integrity holds and the masks are scale-proof.

What the walk hunts: implementation semantics that silently depended on
key uniformity (per-partition assumptions, distribution-dependent
sampling, tie explosions) and quadratic blow-ups in kernels whose
sub-quadratic argument leaned on balanced blocks. Results of the first
pass are recorded in BASELINE.md (round 10).

Gated behind SPARK_GRAFT_SKEW_SWEEP=1 (builds the variant fixture once
per source-fixture stamp under /tmp):

    SPARK_GRAFT_SKEW_SWEEP=1 python -m pytest tests/test_skew_injection.py -q
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
    not os.environ.get("SPARK_GRAFT_SKEW_SWEEP"),
    reason="set SPARK_GRAFT_SKEW_SWEEP=1 to run the skewed-key walk",
)

QUERIES, ORACLE = registry.load_all()

# Registry-wide: every oracled query runs against the skewed fixture
# (q52's rows-only gate is the single exclusion, as in the driver walk).
CORE = sorted(ORACLE)


def _masks(con, sf: str) -> dict[str, str]:
    """Residue masks with hot values resolved from the fixture itself."""
    hot = {}
    for name, sql in {
        "cust": f"SELECT MIN(c_custkey) FROM read_parquet('{sf}/customer.parquet')",
        "supp": f"SELECT MIN(s_suppkey) FROM read_parquet('{sf}/supplier.parquet')",
        "part": f"SELECT MIN(p_partkey) FROM read_parquet('{sf}/part.parquet')",
        "nation": f"SELECT MIN(n_nationkey) FROM read_parquet('{sf}/nation.parquet')",
        "user": f"SELECT MIN(user_id) FROM read_parquet('{sf}/events.parquet')",
    }.items():
        hot[name] = con.execute(sql).fetchone()[0]
    return {
        "orders": f"""
            CASE WHEN o_orderkey % 10 < 3 THEN {hot['cust']}
                 ELSE o_custkey END AS o_custkey
        """,
        "lineitem": f"""
            CASE WHEN (l_orderkey * 10 + l_linenumber) % 10 < 3
                 THEN {hot['supp']} ELSE l_suppkey END AS l_suppkey,
            CASE WHEN (l_orderkey * 10 + l_linenumber) % 7 < 2
                 THEN {hot['part']} ELSE l_partkey END AS l_partkey
        """,
        "customer": f"""
            CASE WHEN c_custkey % 5 < 2 THEN {hot['nation']}
                 ELSE c_nationkey END AS c_nationkey
        """,
        "supplier": f"""
            CASE WHEN s_suppkey % 5 < 2 THEN {hot['nation']}
                 ELSE s_nationkey END AS s_nationkey
        """,
        "events": f"""
            CASE WHEN event_id % 10 < 3 THEN {hot['user']}
                 ELSE user_id END AS user_id
        """,
        "documents": f"""
            CASE WHEN doc_id % 10 < 3 THEN (
                SELECT text FROM read_parquet('{sf}/documents.parquet')
                ORDER BY doc_id LIMIT 1
            ) ELSE text END AS text
        """,
    }


def _skew_fixture_dir() -> str:
    """Build (once per source stamp) the hot-key fixture: masked tables
    rewritten via DuckDB, untouched tables copied byte-identical. The
    _SUCCESS marker gates rebuilds, same discipline as io memos."""
    stamp = source_stamp(os.path.join(SF_CHECK, "orders.parquet"))

    def build(tmp: str) -> None:
        con = duckdb.connect()
        masks = _masks(con, SF_CHECK)
        for t in FIXTURE_TABLES:
            src = os.path.join(SF_CHECK, f"{t}.parquet")
            dst = os.path.join(tmp, f"{t}.parquet")
            if t in masks:
                con.execute(
                    f"COPY (SELECT * REPLACE ({masks[t]}) "
                    f"FROM read_parquet('{src}')) TO '{dst}' (FORMAT PARQUET)"
                )
            else:
                shutil.copyfile(src, dst)

    return derived_fixture(f"skewfx_v1_{os.path.basename(SF_CHECK)}_{stamp}", build)


@pytest.fixture(scope="session")
def skew_fx() -> str:
    return _skew_fixture_dir()


@pytest.fixture(scope="session")
def duck_skew(skew_fx):
    return make_duck(skew_fx)


def test_keys_actually_hot(duck_skew):
    """Guard against a silently-cold mask (wrong modulus, regenerated
    fixture with shifted keys): the top value of every skewed key must
    actually dominate, else the sweep degenerates to the uniform walk."""
    checks = [
        ("orders", "o_custkey", 0.25),
        ("lineitem", "l_suppkey", 0.25),
        ("lineitem", "l_partkey", 0.20),
        ("customer", "c_nationkey", 0.35),
        ("supplier", "s_nationkey", 0.35),
        ("events", "user_id", 0.25),
        ("documents", "md5(text)", 0.25),
    ]
    for t, c, floor in checks:
        share = duck_skew.execute(
            f"SELECT MAX(n) * 1.0 / SUM(n) FROM "
            f"(SELECT COUNT(*) AS n FROM {t} GROUP BY {c})"
        ).fetchone()[0]
        assert share >= floor, f"{t}.{c}: top-key share {share:.3f} < {floor}"


@pytest.mark.parametrize("name", CORE)
def test_skew_core_parity(name, spark, skew_fx, duck_skew):
    ok, detail = compare(
        QUERIES[name](spark, skew_fx), duck_skew, ORACLE[name]
    )
    assert ok, f"{name} on skewed fixture: {detail}"
