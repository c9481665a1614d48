"""EMPTY-INPUT differential walk (round 9) — the "empty day" battery.

A 100 TB pipeline always eventually runs over an empty slice: a new
partition before data lands, a filter that matches nothing, a shard with
zero rows. The engine's contract is that every registered query either
(a) produces the same result as its oracle over the EMPTY fixture
(zero-row tables, real schemas), or (b) raises a DOCUMENTED precondition
error (model training with nothing to train on), or (c) runs without
crashing where its oracle is literal-pinned to fixture contents and can
never hash-match a different dataset. Crashing with an unrelatable
IndexError / ANSI DIVIDE_BY_ZERO / UNABLE_TO_INFER_SCHEMA is never
acceptable — those were exactly the classes this walk's first pass
found (17 findings):

  - ANSI zero-division aborts in ratio metrics (q23/q222/q160/q245/
    q287): denominators of 0 are now guarded branches with defined
    semantics (vacuous tolerance / NULL conversion / NULL precision).
  - UNABLE_TO_INFER_SCHEMA on reading back EMPTY partitioned layouts
    (q86/q217/q155): partitionBy of zero rows writes no files and no
    partition dirs — production readers declare schemas, and now these
    do (io.materialize_once grew a schema parameter).
  - q58's foreachBatch gate can legitimately write nothing — the
    read-back now declares the sink schema instead of inferring it.
  - q05's JDBC partition bounds read MAX of an empty slice (NULL →
    int(None) crash): boundless default.
  - Spark ROLLUP/CUBE/GROUPING SETS emit NOTHING over empty input where
    the standard (and DuckDB) emit the grand-total row — pinned as
    engine semantics via HAVING COUNT(*) > 0 in the q24/q25/q26/q322
    oracles (a no-op on any non-empty input).
  - q220's transpose derived its output COLUMNS from data — schema
    instability; now aggregates onto a fixed segment dimension.
  - q325's ladder aggregates coalesce to 0 over zero queries (the
    recall denominator is a declared constant, not data-derived).
  - q330's maximin seeding raises a clear ValueError (documented
    precondition) instead of IndexError.

Gated behind SPARK_GRAFT_EMPTY_SWEEP=1 (~6 min for the registry):

    SPARK_GRAFT_EMPTY_SWEEP=1 python -m pytest tests/test_empty_input.py -q
"""

from __future__ import annotations

import os

import duckdb
import pytest

from eclypsium_etl_spark import registry

from .conftest import FIXTURE_TABLES, SF_CHECK, make_duck
from .parity import compare, derived_fixture

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_EMPTY_SWEEP"),
    reason="set SPARK_GRAFT_EMPTY_SWEEP=1 to run the empty-input walk",
)

QUERIES, ORACLE = registry.load_all()

# (b) documented preconditions: the query must RAISE this clear message
PRECONDITION = {
    "q330_kmeans_maximin_seed": "empty training corpus",
}

# (c) literal-pinned oracles: the oracle hardcodes values derived from
# the fixture CONTENTS (not its schema), so a hash match on a different
# dataset is impossible by construction — the contract here is
# run-without-crashing with a stable schema.
RUN_ONLY = {
    "q245_analyze_stats",  # DESC EXTENDED literals for the 50-row t_q244
}

GREEN = sorted(set(ORACLE) - set(PRECONDITION) - RUN_ONLY)


def _empty_fixture_dir() -> str:
    """Zero-row copies of every fixture table (real schemas, no data)."""

    def build(tmp: str) -> None:
        con = duckdb.connect()
        for t in FIXTURE_TABLES:
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_CHECK}/{t}.parquet') "
                f"WHERE false) TO '{tmp}/{t}.parquet' (FORMAT PARQUET)"
            )

    return derived_fixture("emptyfx_v1", build)


@pytest.fixture(scope="session")
def empty_fx() -> str:
    return _empty_fixture_dir()


@pytest.fixture(scope="session")
def duck_empty(empty_fx):
    return make_duck(empty_fx)


@pytest.mark.parametrize("name", GREEN)
def test_empty_input_parity(name, spark, empty_fx, duck_empty):
    ok, detail = compare(
        QUERIES[name](spark, empty_fx), duck_empty, ORACLE[name]
    )
    assert ok, f"{name} on empty fixture: {detail}"


@pytest.mark.parametrize("name", sorted(RUN_ONLY))
def test_empty_input_runs(name, spark, empty_fx):
    df = QUERIES[name](spark, empty_fx)
    assert df.columns, f"{name}: empty schema"
    df.collect()  # must not raise


@pytest.mark.parametrize("name", sorted(PRECONDITION))
def test_empty_input_documented_precondition(name, spark, empty_fx):
    with pytest.raises(ValueError, match=PRECONDITION[name]):
        QUERIES[name](spark, empty_fx).collect()
