"""EXTREME-VALUES differential walk — the sixth adversarial-fixture axis
(after null / empty / unicode / skewed-key / clustered-embeddings).

The TPC-H-ish fixtures are numerically BENIGN by construction: every
measure is positive, moderate in magnitude, and well away from every
guard boundary, so the paths where division guards, log/sqrt domain
edges, the DECIMAL(28,4) exact-sum discipline, sign-dependent binning,
and tie handling actually matter had never been differentially
exercised. The two engines also genuinely DIVERGE on the edge cases —
DuckDB hard-errors on ln(0), sqrt(-1) and decimal-overflow casts where
Spark returns NULL/NaN — so an unguarded domain edge is not a cosmetic
difference but a red driver row waiting for real data.

This sweep derives an EXTREMES variant fixture — exact zeros, negative
values where the schema invites a positivity assumption, large-but-
decimal-safe magnitudes (1e9; the DECIMAL(28,4) discipline holds 24
integer digits, so sums stay exact), tiny magnitudes (1e-9), and the
discount domain boundaries 0.0 / 1.0 / a negative rebate — planted via
deterministic residue masks on every numeric MEASURE column (keys,
dates and text stay clean; those are other axes), and runs EVERY
oracled query differentially against it.

Deliberately OUT of scope, as documented ingest-contract boundaries
(the q341 pattern — gate at the door, downstream may assume):
  - NaN / Infinity: non-finite floats are an ingest-gate reject, not a
    processing input — the engines' NaN orderings and DECIMAL casts of
    non-finite values differ BY ENGINE DESIGN (DuckDB errors, Spark
    NULLs), so a numeric gate is the production answer, same as the
    text gate for NULL text.
  - magnitudes beyond ~1e20: overflow the DECIMAL(28,4) exact-sum
    domain (DuckDB errors, Spark NULLs) — same gate.
  - zero-norm embedding vectors: excluded from this axis (the
    clustered-embeddings battery owns embedding geometry; a zero norm
    is a q136-class validation reject).

Gated behind SPARK_GRAFT_EXTREME_SWEEP=1 (builds the variant fixture
once per source-fixture stamp under /tmp):

    SPARK_GRAFT_EXTREME_SWEEP=1 python -m pytest tests/test_extreme_values.py -q
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
    not os.environ.get("SPARK_GRAFT_EXTREME_SWEEP"),
    reason="set SPARK_GRAFT_EXTREME_SWEEP=1 to run the extreme-values walk",
)

QUERIES, ORACLE = registry.load_all()

# Same tier structure as the empty-input battery:
# (b) documented preconditions — the query must RAISE a clear message.
PRECONDITION: dict[str, str] = {}

# (c) literal-pinned oracles (values derived from fixture CONTENTS):
# contract here is run-without-crashing with a stable schema.
RUN_ONLY = {
    "q245_analyze_stats",  # DESC EXTENDED literals for the 50-row t_q244
}

GREEN = sorted(set(ORACLE) - set(PRECONDITION) - RUN_ONLY)

# Residue masks per table. Row keys mirror the skew battery's spelling
# (lineitem keyed on l_orderkey*10+l_linenumber so siblings differ).
# Residue classes are disjoint per column; ~2% of rows per extreme class
# keeps aggregates recognizably real while every guard path is hit.
_MASKS = {
    "lineitem": """
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 53 = 0 THEN 0.0
             WHEN (l_orderkey * 10 + l_linenumber) % 53 = 1 THEN -3.0
             WHEN (l_orderkey * 10 + l_linenumber) % 53 = 2 THEN 1e9
             ELSE l_quantity END AS l_quantity,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 59 = 0 THEN 0.0
             WHEN (l_orderkey * 10 + l_linenumber) % 59 = 1 THEN -1234.5678
             WHEN (l_orderkey * 10 + l_linenumber) % 59 = 2 THEN 1e9
             WHEN (l_orderkey * 10 + l_linenumber) % 59 = 3 THEN 1e-9
             ELSE l_extendedprice END AS l_extendedprice,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 61 = 0 THEN 0.0
             WHEN (l_orderkey * 10 + l_linenumber) % 61 = 1 THEN 1.0
             WHEN (l_orderkey * 10 + l_linenumber) % 61 = 2 THEN -0.1
             ELSE l_discount END AS l_discount,
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 67 = 0 THEN 0.0
             ELSE l_tax END AS l_tax
    """,
    "orders": """
        CASE WHEN o_orderkey % 53 = 0 THEN 0.0
             WHEN o_orderkey % 53 = 1 THEN -99999.9999
             WHEN o_orderkey % 53 = 2 THEN 1e9
             ELSE o_totalprice END AS o_totalprice
    """,
    "customer": """
        CASE WHEN c_custkey % 20 < 3 THEN 0.0
             WHEN c_custkey % 20 = 3 THEN -987654.3210
             WHEN c_custkey % 20 = 4 THEN 1e8
             ELSE c_acctbal END AS c_acctbal
    """,
    "supplier": """
        CASE WHEN s_suppkey % 20 < 3 THEN 0.0
             WHEN s_suppkey % 20 = 3 THEN -987654.3210
             WHEN s_suppkey % 20 = 4 THEN 1e8
             ELSE s_acctbal END AS s_acctbal
    """,
    "part": """
        CASE WHEN p_partkey % 31 = 0 THEN 0.0
             WHEN p_partkey % 31 = 1 THEN -42.5
             WHEN p_partkey % 31 = 2 THEN 1e9
             ELSE p_retailprice END AS p_retailprice,
        CASE WHEN p_partkey % 37 = 0 THEN 0
             ELSE p_size END AS p_size
    """,
    "events": """
        CASE WHEN event_id % 53 = 0 THEN 0.0
             WHEN event_id % 53 = 1 THEN -1e9
             WHEN event_id % 53 = 2 THEN 1e9
             WHEN event_id % 53 = 3 THEN 1e-9
             ELSE value END AS value
    """,
}


def _extreme_fixture_dir() -> str:
    """Build (once per source stamp) the extremes fixture: masked tables
    rewritten via DuckDB, untouched tables copied byte-identical."""
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

    return derived_fixture(f"extremefx_v1_{os.path.basename(SF_CHECK)}_{stamp}", build)


@pytest.fixture(scope="session")
def extreme_fx() -> str:
    return _extreme_fixture_dir()


@pytest.fixture(scope="session")
def duck_extreme(extreme_fx):
    return make_duck(extreme_fx)


def test_extremes_actually_planted(duck_extreme):
    """Guard against a silently-benign mask (wrong modulus, regenerated
    fixture): every extreme class must be present in every masked column,
    else the sweep degenerates to the uniform walk."""
    checks = [
        ("lineitem", "l_quantity = 0.0"),
        ("lineitem", "l_quantity < 0"),
        ("lineitem", "l_quantity >= 1e9"),
        ("lineitem", "l_extendedprice = 0.0"),
        ("lineitem", "l_extendedprice < 0"),
        ("lineitem", "l_extendedprice >= 1e9"),
        ("lineitem", "l_extendedprice BETWEEN 1e-10 AND 1e-8"),
        ("lineitem", "l_discount = 1.0"),
        ("lineitem", "l_discount < 0"),
        ("lineitem", "l_tax = 0.0"),
        ("orders", "o_totalprice = 0.0"),
        ("orders", "o_totalprice < 0"),
        ("orders", "o_totalprice >= 1e9"),
        ("customer", "c_acctbal = 0.0"),
        ("customer", "c_acctbal < -900000"),
        ("customer", "c_acctbal >= 1e8"),
        ("supplier", "s_acctbal = 0.0"),
        ("part", "p_retailprice = 0.0"),
        ("part", "p_retailprice < 0"),
        ("part", "p_size = 0"),
        ("events", "value = 0.0"),
        ("events", "value <= -1e9"),
        ("events", "value >= 1e9"),
    ]
    for t, pred in checks:
        n = duck_extreme.execute(
            f"SELECT COUNT(*) FROM {t} WHERE {pred}"
        ).fetchone()[0]
        assert n > 0, f"{t}: no rows where {pred} — mask is cold"
    # the zero-ties block must actually tie (rank/keyset tie handling)
    zeros = duck_extreme.execute(
        "SELECT COUNT(*) FROM customer WHERE c_acctbal = 0.0"
    ).fetchone()[0]
    assert zeros >= 10, f"need a real tie block, got {zeros} zero acctbals"


@pytest.mark.parametrize("name", GREEN)
def test_extreme_core_parity(name, spark, extreme_fx, duck_extreme):
    ok, detail = compare(
        QUERIES[name](spark, extreme_fx), duck_extreme, ORACLE[name]
    )
    assert ok, f"{name} on extremes fixture: {detail}"


@pytest.mark.parametrize("name", sorted(RUN_ONLY))
def test_extreme_run_only(name, spark, extreme_fx):
    df = QUERIES[name](spark, extreme_fx)
    assert df.columns
    df.collect()


@pytest.mark.parametrize("name", sorted(PRECONDITION))
def test_extreme_preconditions_raise(name, spark, extreme_fx):
    with pytest.raises(Exception, match=PRECONDITION[name]):
        QUERIES[name](spark, extreme_fx).collect()
