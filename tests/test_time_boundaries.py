"""TIME-BOUNDARY differential walk — the seventh adversarial-fixture
axis (after null / empty / unicode / skewed-key / clustered-embeddings
/ extreme-values; VERDICT r10 #5).

The fixtures' temporal columns are calendar-BENIGN by construction:
events.ts spans a quiet modern range and the order/ship dates sit mid-
decade, so the paths where epoch sign handling, day/year-boundary
truncation, leap-day arithmetic, DST-shaped wall-clock instants, far-
past/far-future extremes, and streaming watermark math actually matter
had never been differentially exercised. The engines also genuinely
differ in temporal architecture — Spark's TimestampType is session-
timezone-aware where DuckDB's TIMESTAMP is naive, Spark's cast-to-long
is a floorDiv of microseconds where DuckDB spells epoch() — so every
boundary instant is a divergence candidate, not a cosmetic variation.

Planted instants, via deterministic residue masks on EVERY temporal
column (measures, keys and text stay clean — those are other axes):
  - epoch zero and the last pre-epoch microsecond (sign of the
    underlying int64 flips; floor-vs-truncate divergences live here)
  - leap day 2024-02-29 at the day's last microsecond
  - year boundary: 2023-12-31 23:59:59.999999 / 2024-01-01 00:00:00
  - US-DST-shaped wall instants (2025-03-09 02:30, 2025-11-02 01:30):
    inert under the pinned-UTC config, exactly the point — the PLAIN
    driver walk runs on the host timezone, where a DST-gap instant is
    the classic session-TZ landmine
  - far past (1700, 1900 — the latter with sub-second precision) and
    far future (2199, 2250), spanning centuries in both directions
    while staying inside the Arrow nanosecond envelope (below)

Deliberately OUT of scope (documented ingest-contract boundaries, the
extremes battery's q341 pattern):
  - timestamps outside the ARROW NANOSECOND ENVELOPE (1677-09-21 ..
    2262-04-11): the first battery pass planted 1582-10-15 and
    9998-12-31 and measured the real boundary — every Arrow crossing
    overflows int64 nanoseconds, which means (a) the engine's own
    Arrow-batched operators (q92's cogroup applyInPandas died in the
    worker) and (b) BOTH harness sides of the differential itself
    (Spark toPandas AND DuckDB fetchdf materialize pandas ns
    timestamps). The pandas/Arrow interchange is the de-facto
    envelope of the whole ecosystem, so out-of-envelope event times
    are a numeric ingest gate at the door (same as the extremes
    battery's 1e20 decimal bound), not a processing input.
  - leap seconds (not representable in either engine) and NULL
    timestamps (the null axis owns those).

Gated behind SPARK_GRAFT_TIME_SWEEP=1 (builds the variant fixture once
per source-fixture stamp under /tmp):

    SPARK_GRAFT_TIME_SWEEP=1 python -m pytest tests/test_time_boundaries.py -q
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
    not os.environ.get("SPARK_GRAFT_TIME_SWEEP"),
    reason="set SPARK_GRAFT_TIME_SWEEP=1 to run the time-boundary walk",
)

QUERIES, ORACLE = registry.load_all()

# (b) documented preconditions — the query must RAISE a clear message.
PRECONDITION: dict[str, str] = {}

# (c) literal-pinned oracles / fixture-content literals: contract here
# is run-without-crashing with a stable schema.
RUN_ONLY = {
    "q245_analyze_stats",  # DESC EXTENDED literals for the 50-row t_q244
}

# (d) THE central streaming finding of this axis, demonstrated in
# test_watermark_poisoning_demonstrated_and_gated below: event-time
# watermarking carries a BOUNDED-DISORDER PRECONDITION. A single
# far-out-of-range event time in an early micro-batch advances the
# watermark past every subsequent benign row (far-future plant), and a
# far-past plant in a later batch is itself beyond the delay — either
# way the watermark contract DROPS the rows, by design, and the batch
# oracle (which cannot see micro-batch boundaries) diverges on row
# count. That is the specified semantics of watermarking working as
# documented, not a defect; the production answer is an event-time
# ingest gate (bound event times against stream progress, route
# violations to a DLQ) — the q341 gate-at-the-door pattern. On this
# axis the multi-batch watermark family is therefore RUN-ONLY: the
# streams must still RUN to completion with poisoned inputs (no crash,
# state still bounded — that part IS checked).
WATERMARK_BOUNDED_DISORDER = {
    "q57_stream_dedup_state",
    "q101_stream_stream_join",
    "q259_stream_append_final",
    "q274_stream_outer_join",
    "q281_stream_chained_windows",
    "q293_stream_session_final",
    "q306_stream_full_outer_join",
    "q320_stream_join_asym_watermark",
    "q321_stream_dedup_business_key",
}
RUN_ONLY |= WATERMARK_BOUNDED_DISORDER

GREEN = sorted(set(ORACLE) - set(PRECONDITION) - RUN_ONLY)

# Residue masks per table (row keys mirror the extremes battery).
# ~2% of rows per planted instant keeps distributions recognizably
# real while every calendar boundary is hit.
_MASKS = {
    "events": """
        CASE WHEN event_id % 53 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
             WHEN event_id % 53 = 1 THEN TIMESTAMP '1969-12-31 23:59:59.999999'
             WHEN event_id % 53 = 2 THEN TIMESTAMP '2024-02-29 23:59:59.999999'
             WHEN event_id % 53 = 3 THEN TIMESTAMP '2023-12-31 23:59:59.999999'
             WHEN event_id % 53 = 4 THEN TIMESTAMP '2024-01-01 00:00:00'
             WHEN event_id % 53 = 5 THEN TIMESTAMP '2025-03-09 02:30:00'
             WHEN event_id % 53 = 6 THEN TIMESTAMP '2025-11-02 01:30:00'
             WHEN event_id % 53 = 7 THEN TIMESTAMP '1900-06-15 12:34:56.789012'
             WHEN event_id % 53 = 8 THEN TIMESTAMP '2199-12-31 23:59:59'
             ELSE ts END AS ts
    """,
    "orders": """
        CASE WHEN o_orderkey % 59 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
             WHEN o_orderkey % 59 = 1 THEN TIMESTAMP '2024-02-29 00:00:00'
             WHEN o_orderkey % 59 = 2 THEN TIMESTAMP '2023-12-31 00:00:00'
             WHEN o_orderkey % 59 = 3 THEN TIMESTAMP '2024-01-01 00:00:00'
             WHEN o_orderkey % 59 = 4 THEN TIMESTAMP '2250-06-01 00:00:00'
             WHEN o_orderkey % 59 = 5 THEN TIMESTAMP '1700-01-01 00:00:00'
             ELSE o_orderdate END AS o_orderdate
    """,
    "lineitem": """
        CASE WHEN (l_orderkey * 10 + l_linenumber) % 61 = 0
                  THEN TIMESTAMP '1970-01-01 00:00:00'
             WHEN (l_orderkey * 10 + l_linenumber) % 61 = 1
                  THEN TIMESTAMP '2024-02-29 00:00:00'
             WHEN (l_orderkey * 10 + l_linenumber) % 61 = 2
                  THEN TIMESTAMP '2023-12-31 23:59:59'
             WHEN (l_orderkey * 10 + l_linenumber) % 61 = 3
                  THEN TIMESTAMP '2024-01-01 00:00:00'
             WHEN (l_orderkey * 10 + l_linenumber) % 61 = 4
                  THEN TIMESTAMP '2199-12-31 00:00:00'
             ELSE l_shipdate END AS l_shipdate
    """,
}


def _time_fixture_dir() -> str:
    """Build (once per source stamp) the time-boundary fixture: masked
    tables rewritten via DuckDB, untouched tables copied byte-identical."""
    stamp = source_stamp(os.path.join(SF_CHECK, "events.parquet"))

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

    return derived_fixture(f"timefx_v2_{os.path.basename(SF_CHECK)}_{stamp}", build)


@pytest.fixture(scope="session")
def time_fx() -> str:
    return _time_fixture_dir()


@pytest.fixture(scope="session")
def duck_time(time_fx):
    return make_duck(time_fx)


def test_instants_actually_planted(duck_time):
    """Guard against a silently-benign mask: every planted instant class
    must be present, else the sweep degenerates to the uniform walk."""
    checks = [
        ("events", "ts = TIMESTAMP '1970-01-01 00:00:00'"),
        ("events", "ts < TIMESTAMP '1970-01-01'"),
        ("events", "ts = TIMESTAMP '2024-02-29 23:59:59.999999'"),
        ("events", "ts = TIMESTAMP '2023-12-31 23:59:59.999999'"),
        ("events", "ts = TIMESTAMP '2024-01-01 00:00:00'"),
        ("events", "ts = TIMESTAMP '2025-03-09 02:30:00'"),
        ("events", "ts = TIMESTAMP '2025-11-02 01:30:00'"),
        ("events", "ts < TIMESTAMP '1950-01-01'"),
        ("events", "ts > TIMESTAMP '2199-01-01'"),
        ("orders", "o_orderdate = TIMESTAMP '2024-02-29 00:00:00'"),
        ("orders", "o_orderdate = TIMESTAMP '2250-06-01 00:00:00'"),
        ("orders", "o_orderdate = TIMESTAMP '1700-01-01 00:00:00'"),
        ("lineitem", "l_shipdate = TIMESTAMP '2024-02-29 00:00:00'"),
        ("lineitem", "l_shipdate > TIMESTAMP '2199-01-01'"),
        ("lineitem", "l_shipdate = TIMESTAMP '1970-01-01 00:00:00'"),
    ]
    for t, pred in checks:
        n = duck_time.execute(
            f"SELECT COUNT(*) FROM {t} WHERE {pred}"
        ).fetchone()[0]
        assert n > 0, f"{t}: no rows where {pred} — mask is cold"


@pytest.mark.parametrize("name", GREEN)
def test_time_core_parity(name, spark, time_fx, duck_time):
    ok, detail = compare(
        QUERIES[name](spark, time_fx), duck_time, ORACLE[name]
    )
    assert ok, f"{name} on time-boundary fixture: {detail}"


@pytest.mark.parametrize("name", sorted(RUN_ONLY))
def test_time_run_only(name, spark, time_fx):
    df = QUERIES[name](spark, time_fx)
    assert df.columns
    df.collect()


@pytest.mark.parametrize("name", sorted(PRECONDITION))
def test_time_preconditions_raise(name, spark, time_fx):
    with pytest.raises(Exception, match=PRECONDITION[name]):
        QUERIES[name](spark, time_fx).collect()


def test_watermark_poisoning_demonstrated_and_gated(spark, tmp_path):
    """The mechanism behind WATERMARK_BOUNDED_DISORDER, isolated and
    measured (all three facts verified against recentProgress /
    numRowsDroppedByWatermark):

    1. the INITIAL watermark is EPOCH ZERO, not -inf — any event time
       at or before 1970-01-01 00:00:00 is born late and silently
       dropped by a watermarked stateful operator in its very first
       micro-batch (this is what removed the battery's 567 pre/at-epoch
       plants from q57: 3 residue classes x 189 rows, matched exactly
       by the reported numRowsDroppedByWatermark);
    2. late-row filtering in batch N uses the watermark as of batch
       N-1's START (one batch of extra lag beyond the documented
       next-batch advancement) — so a far-future poison row in batch 0
       starts dropping benign rows at batch 2, not batch 1;
    3. an event-time ingest gate (the q341 pattern: bound event times
       to the declared envelope BEFORE the watermark sees them)
       restores exact batch equivalence for everything inside the
       envelope — but cannot resurrect at/pre-epoch rows, which the
       initial watermark outlaws structurally: the gate's lower bound
       must therefore be > epoch, not merely the Arrow floor."""
    import time as _time

    from pyspark.sql import functions as SF

    from eclypsium_etl_spark.streaming.queries import run_available_now

    t0 = _time.time()

    def rows(ids, base):
        return spark.createDataFrame(
            [(i, f"2024-01-01 12:{base + k:02d}:00") for k, i in enumerate(ids)],
            "event_id long, ts_s string",
        ).select("event_id", SF.col("ts_s").cast("timestamp").alias("ts"))

    def one(i, ts):
        return spark.createDataFrame(
            [(i, ts)], "event_id long, ts_s string"
        ).select("event_id", SF.col("ts_s").cast("timestamp").alias("ts"))

    poison = one(99, "2199-01-01 00:00:00")
    pre_epoch = one(98, "1969-12-31 23:59:59")

    src = str(tmp_path / "feed")
    os.makedirs(src)
    for name, df, mt in (
        ("b0.parquet", rows([1, 2, 3], 0).unionByName(poison).unionByName(pre_epoch), t0 - 90),
        ("b1.parquet", rows([4, 5, 6], 3), t0 - 60),
        ("b2.parquet", rows([7, 8, 9], 6), t0 - 30),
    ):
        staged = str(tmp_path / f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        os.rename(os.path.join(staged, part), os.path.join(src, name))
        os.utime(os.path.join(src, name), (mt, mt))

    def drain(gate: bool) -> set[int]:
        feed = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        if gate:  # the ingest gate: event times bounded BEFORE the watermark
            feed = feed.filter(
                SF.col("ts") < SF.lit("2100-01-01").cast("timestamp")
            )
        dedup = feed.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        qname, _ = run_available_now(
            lambda name, ckpt: dedup.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        return {r["event_id"] for r in spark.table(qname).collect()}

    ungated = drain(gate=False)
    gated = drain(gate=True)

    # fact 1: the pre-epoch row dies in batch 0 against the initial
    # epoch-zero watermark — in BOTH runs (no gate can save it)
    assert 98 not in ungated and 98 not in gated
    # fact 2: the poison kills batch 2's benign rows (batch 1 survives
    # on the one-batch filter lag) — the stream silently loses data
    assert {1, 2, 3, 4, 5, 6} <= ungated
    assert not ({7, 8, 9} & ungated), f"expected b2 dropped, got {ungated}"
    # fact 3: gated, the same feed is exact for the in-envelope rows
    assert gated == {1, 2, 3, 4, 5, 6, 7, 8, 9}
