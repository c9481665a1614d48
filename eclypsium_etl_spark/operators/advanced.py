"""Advanced relational operators beyond the SURVEY §2 inventory: pivot,
exact percentiles, subqueries (scalar + correlated, decorrelated by
Catalyst), CTEs, a salting recipe for skewed joins, and dynamic partition
pruning over a partitioned layout (q79–q86).

These round out "a user of the reference could run every query they run
today" with the shapes any real warehouse workload adds on day two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import io
from ..functions import dsum, dsum_sql
from ..io import table
from ..registry import query


@query(
    "q79_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS f_total,
           {dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS o_total,
           {dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS p_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q79_pivot(spark, sf_dir) -> DataFrame:
    """Pivot (explicit value list — never let Spark scan for distinct pivot
    values on a 100 TB table) ≡ filtered aggregates in the oracle."""
    o = table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum("o_totalprice"))
    )
    return p.select(
        "o_orderpriority",
        F.col("F").alias("f_total"),
        F.col("O").alias("o_total"),
        F.col("P").alias("p_total"),
    )


@query(
    "q80_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 6) AS p75
    FROM orders GROUP BY o_orderstatus
    """,
)
def q80_percentiles(spark, sf_dir) -> DataFrame:
    """Exact percentiles (linear interpolation — same definition as
    DuckDB's quantile_cont). Exact percentile sorts per group; the 100 TB
    variant is percentile_approx (t-digest sketch, no sort, mergeable),
    exercised in tests against these exact values."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
    )


@query(
    "q81_subquery",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey
             AND o.o_totalprice > 300000) AS n_big_orders
    FROM customer c
    WHERE c_acctbal > (SELECT MAX(s_acctbal) FROM supplier)
    """,
)
def q81_subquery(spark, sf_dir) -> DataFrame:
    """Scalar + correlated subqueries via spark.sql. Catalyst decorrelates
    the correlated COUNT into a left-outer aggregate join and folds the
    uncorrelated scalar into a literal after one tiny subquery job — no
    per-row execution anywhere (the plan is asserted in tests)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal,
               (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey
                 AND o.o_totalprice > 300000) AS n_big_orders
        FROM customer c
        WHERE c_acctbal > (SELECT MAX(s_acctbal) FROM supplier)
        """
    )


@query(
    "q82_cte",
    oracle=f"""
    WITH big_orders AS (
        SELECT o_custkey, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
        FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, n, total,
               row_number() OVER (ORDER BY total DESC, o_custkey) AS rn
        FROM big_orders
    )
    SELECT o_custkey, n, total FROM ranked WHERE rn <= 50
    """,
)
def q82_cte(spark, sf_dir) -> DataFrame:
    """Chained CTEs (WITH): inlined by Catalyst into one plan — a CTE is
    never a materialization barrier in Spark (unlike some warehouses)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH big_orders AS (
            SELECT o_custkey, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
            FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, n, total,
                   CAST(row_number() OVER (ORDER BY total DESC, o_custkey) AS BIGINT) AS rn
            FROM big_orders
        )
        SELECT o_custkey, n, total FROM ranked WHERE rn <= 50
        """
    )


@query(
    "q83_exists_in",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
)
def q83_exists_in(spark, sf_dir) -> DataFrame:
    """IN / NOT EXISTS predicate subqueries — Catalyst rewrites them to
    left-semi and left-anti joins (RewritePredicateSubquery); same physical
    shape as q14/q15, reached from SQL instead of the DataFrame API."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
        """
    )


_SALTS = 8


@query(
    "q84_skew_salted_join",
    oracle=f"""
    WITH user_totals AS (
        SELECT user_id, {dsum_sql('value')} AS user_total FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.value, u.user_total
    FROM events e JOIN user_totals u ON u.user_id = e.user_id
    """,
)
def q84_skew_salted_join(spark, sf_dir) -> DataFrame:
    """Manual salting recipe for a skewed join (the hand-rolled version of
    what AQE skew-join does at runtime): the fact side derives a
    deterministic salt from a row attribute, the dimension side explodes
    ×{_SALTS}, and the join key becomes (user_id, salt) — a hot user's rows
    now spread over {_SALTS} reducers. Semantics must be IDENTICAL to the
    unsalted join, which is exactly what the oracle checks."""
    from .. import ops

    e = table(spark, sf_dir, "events")
    user_totals = e.groupBy("user_id").agg(dsum("value").alias("user_total"))
    return ops.salted_join(
        e, user_totals, "user_id", salt_from="event_id", n_salts=_SALTS
    ).select("event_id", "user_id", "value", "user_total")


@query(
    "q85_window_dedup",
    oracle="""
    SELECT event_id, user_id, ts, event_type FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q85_window_dedup(spark, sf_dir) -> DataFrame:
    """Keep-first-per-key dedup via window (the deterministic form of
    dropDuplicates(["user_id","event_type"]) — same single shuffle, but the
    survivor is defined, not partition-order luck). Thin instantiation of
    ops.dedup_keep_first, the same kernel q62 uses."""
    from .. import ops

    e = table(spark, sf_dir, "events")
    return ops.dedup_keep_first(
        e, ["user_id", "event_type"], [F.asc("ts"), F.asc("event_id")]
    ).select("event_id", "user_id", "ts", "event_type")


def partitioned_orders(spark, sf_dir) -> DataFrame:
    """orders laid out partitionBy(o_orderstatus) in the shared scratch
    area — the write-once intermediate behind q86 and q217, also pre-warmed
    by __spark_entry__.entry() so the harness's q86 run is scan-only."""
    src = table(spark, sf_dir, "orders")
    return io.materialize_once(
        spark,
        io.scratch_path(
            io.memo_key("orders_partitioned", sf_dir, "orders.parquet")
        ),
        lambda path: src.write.partitionBy("o_orderstatus").parquet(path),
        # explicit read schema: an EMPTY orders slice writes no files and
        # no partition dirs, and an inferring read would fail
        schema=src.schema,
    )


@query(
    "q86_partition_pruning",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderstatus IN ('F', 'P')
    """,
)
def q86_partition_pruning(spark, sf_dir) -> DataFrame:
    """Partitioned layout + pruning: write orders partitioned by
    o_orderstatus (the layout a 100 TB fact table would use), then join it
    to a filtered status dimension. The partition filter reaches the scan
    as directory pruning — only 2 of 3 partitions are read (dynamic
    partition pruning inserts the runtime filter; plan asserted in tests).

    The partitioned layout is built once per sf_dir (cross-process
    write-once memo, io.materialize_once — same discipline as
    llm/dedup.shingles()): laying out the table is one-time ETL, the
    operator under test is the pruned read."""
    fact = partitioned_orders(spark, sf_dir)
    dim = spark.createDataFrame([("F",), ("P",)], "status string")
    return fact.join(
        F.broadcast(dim), fact.o_orderstatus == dim.status
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


# process-level memo: bucketed catalog tables registered this session,
# keyed by catalog names. The WAREHOUSE dir is cross-process (write-once,
# io.ensure_bucketed's atomic-rename + _SUCCESS protocol) but the
# in-memory catalog is not, so each process registers once.
_BUCKETED_BUILT: set[tuple[str, str]] = set()


def bucketed_orders_customer(spark, sf_dir) -> tuple[str, str]:
    """orders + customer written as 8-bucket tables on the customer key —
    the co-located layout that lets every later join/agg on that key skip
    its shuffle. Returns the catalog table names. Stamped names make the
    content a pure function of the name, so the layout is built at most
    once ACROSS processes (ensure_bucketed; concurrent walks previously
    raced write_bucketed's overwrite-in-place and one read a doubled
    table)."""
    ot = io.memo_key("orders_bkt", sf_dir, "orders.parquet")
    ct = io.memo_key("customer_bkt", sf_dir, "customer.parquet")
    if (ot, ct) not in _BUCKETED_BUILT:
        io.ensure_bucketed(
            table(spark, sf_dir, "orders"), ot, "o_custkey", 8,
            sort_col="o_custkey",
        )
        io.ensure_bucketed(
            table(spark, sf_dir, "customer").withColumnRenamed(
                "c_custkey", "o_custkey"
            ),
            ct, "o_custkey", 8, sort_col="o_custkey",
        )
        _BUCKETED_BUILT.add((ot, ct))
    return ot, ct


@query(
    "q161_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
               AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q161_bucketed_join(spark, sf_dir) -> DataFrame:
    """Co-located (bucketed) fact⋈dim join: both tables pre-bucketed on
    the customer key, so the join runs with ZERO exchanges — at 100 TB
    the single biggest lever for a join that repeats every run (bucket
    once at write, save the shuffle forever). The layout build is
    session-memoized one-time ETL (io.write_bucketed); the query under
    test is the shuffle-free join + the segment rollup, which is the only
    exchange in the plan (asserted in test_plan_shapes.py). The MERGE
    hint pins sort-merge join — a session-conf toggle would be lost by
    the time the lazy plan executes, and at fixture scale AQE would
    otherwise demote to broadcast and hide the co-location proof; on
    bucketed+sorted tables SMJ needs neither exchange nor sort, which is
    the whole point."""
    ot, ct = bucketed_orders_customer(spark, sf_dir)
    j = spark.table(ot).hint("merge").join(spark.table(ct), "o_custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "q170_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE h(p_partkey, root, depth) AS (
        SELECT p_partkey, p_partkey AS root, 0 AS depth
        FROM part WHERE p_partkey < 10
        UNION ALL
        SELECT c.p_partkey, h.root, h.depth + 1
        FROM part c JOIN h ON c.p_partkey // 10 = h.p_partkey
        WHERE c.p_partkey >= 10
    )
    SELECT h.root, h.depth, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p.p_retailprice AS DECIMAL(28,4))) AS DOUBLE)
               AS subtree_value
    FROM h JOIN part p USING (p_partkey)
    GROUP BY h.root, h.depth
    """,
)
def q170_recursive_hierarchy(spark, sf_dir) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4): hierarchy traversal over
    the synthetic 10-ary part tree (parent = partkey div 10) — per root,
    per depth, subtree membership and value. The warehouse capability
    Spark historically lacked (BOM explosions, org charts, graph
    reachability) now runs natively: each recursion step is a planned
    join against the previous frontier, executed as iterative jobs —
    semantically what llm/clustering's hand-rolled label-propagation loop
    does, with the engine owning the loop. Depth is data-bounded
    (log₁₀ of the key domain), and each step's join keys on the parent —
    a co-partitioned self-join family at scale."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        WITH RECURSIVE h(p_partkey, root, depth) AS (
            SELECT p_partkey, p_partkey AS root, 0 AS depth
            FROM part WHERE p_partkey < 10
            UNION ALL
            SELECT c.p_partkey, h.root, h.depth + 1
            FROM part c JOIN h ON c.p_partkey div 10 = h.p_partkey
            WHERE c.p_partkey >= 10
        )
        SELECT h.root, h.depth, COUNT(*) AS n_parts,
               CAST(SUM(CAST(p.p_retailprice AS DECIMAL(28,4))) AS DOUBLE)
                   AS subtree_value
        FROM h JOIN part p USING (p_partkey)
        GROUP BY h.root, h.depth
        """
    )


@query(
    "q216_observe_metrics",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q216_observe_metrics(spark, sf_dir) -> DataFrame:
    """Pipeline instrumentation via the Observation API: named metrics
    (row count, null count, value total) are accumulated ON the scan as a
    side effect of whatever action runs downstream — zero extra jobs,
    zero extra scans, unlike a separate `df.count()` audit pass (the
    anti-pattern the reference's row-count logging would naively become;
    its DAG re-reads data per task, mercadolibre_pipeline_dag.py:93,134).
    At 100 TB an extra audit scan is hours — observe() makes data-quality
    counters free riders on the job you already run.

    The returned plan is the ordinary per-type rollup; the observation
    point is part of its lineage, so the driver's collect() both checks
    the rollup against the oracle AND fires the metrics. Metric VALUES
    are asserted in tests/test_ops_properties.py (Observation.get blocks
    until the action completes) — the oracle here checks the data path."""
    from pyspark.sql import Observation

    e = table(spark, sf_dir, "events")
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
        dsum("value").alias("value_total"),
    )
    return observed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("total_value"),
    )


@query(
    "q217_scan_file_metadata",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
               AS revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q217_scan_file_metadata(spark, sf_dir) -> DataFrame:
    """Hidden file-metadata columns (`_metadata.file_path`) as first-class
    query inputs: re-read q86's hive-partitioned orders layout and recover
    each row's partition value FROM ITS FILE PATH rather than from the
    partition column — auditing that physical layout and logical value
    agree (the check a lakehouse ingestion job runs after a partitioned
    backfill; a mismatch means misplaced files). Also the idiomatic
    replacement for the deprecated input_file_name().

    Scale shape: _metadata is constant-per-file, evaluated at the scan
    with zero I/O (it comes from the file listing, not file bytes), and
    the rollup is an ordinary two-phase hash aggregate over 3 distinct
    keys. The layout build is the same write-once memo q86 uses, so under
    the harness this query is scan-only.

    Hive null convention: a NULL partition value writes to the directory
    `o_orderstatus=__HIVE_DEFAULT_PARTITION__/` — decoding that marker
    back to logical NULL is part of reading the path (nullif below);
    without it the audit compares a phantom string group against the
    data's NULL group (null-injection walk finding)."""
    # ensure the layout exists (memo); reuse its frame — the explicit
    # schema keeps the read valid even for an EMPTY layout (no files to
    # infer from; empty-input walk)
    laid = partitioned_orders(spark, sf_dir)
    return (
        laid
        .select(
            F.nullif(
                F.regexp_extract(
                    F.col("_metadata.file_path"),
                    r"o_orderstatus=([^/]+)/",
                    1,
                ),
                F.lit("__HIVE_DEFAULT_PARTITION__"),
            ).alias("o_orderstatus"),
            "o_totalprice",
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


@query(
    "q218_sql_pipe",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
               AS disc_revenue
    FROM lineitem
    WHERE l_quantity > 10
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q218_sql_pipe(spark, sf_dir) -> DataFrame:
    """SQL pipe syntax (Spark 4.x `|>` operators): the same logical plan a
    chained DataFrame program declares, written as linear SQL — each stage
    reads top-to-bottom (FROM |> WHERE |> EXTEND |> AGGREGATE) instead of
    inside-out. Catalyst compiles pipes to the identical operators as the
    nested form, so this is purely a query-authoring surface: the oracle
    is the classic nested formulation and must hash-match exactly.
    Pipe WHERE placement still reaches the parquet scan as a pushed
    filter — syntax doesn't move the predicate out of pushdown's reach."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe")
    return spark.sql(
        """
        FROM lineitem_pipe
        |> WHERE l_quantity > 10
        |> EXTEND CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)) AS disc
        |> AGGREGATE COUNT(*) AS n, CAST(SUM(disc) AS DOUBLE) AS disc_revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, disc_revenue
        """
    )


@query(
    "q219_sql_named_params",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > 1000.0 AND c_nationkey < 10
    GROUP BY c_mktsegment
    """,
)
def q219_sql_named_params(spark, sf_dir) -> DataFrame:
    """Parameterized SQL (`spark.sql(..., args={...})`): named `:param`
    markers bound server-side as literals by the parser — the
    injection-safe way to template the reference's string-interpolated
    SQL (mercadolibre_pipeline_dag.py:75 builds its query by f-string;
    a malicious category name would execute). Binding happens before
    analysis, so constant folding and predicate pushdown see real
    literals — parameterization costs nothing at plan time."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_p")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_bal
        FROM customer_p
        WHERE c_acctbal > :min_bal AND c_nationkey < :max_nation
        GROUP BY c_mktsegment
        """,
        args={"min_bal": 1000.0, "max_nation": 10},
    )


@query(
    "q230_sql_variables",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_totalprice > 250000.0
    GROUP BY o_orderpriority
    """,
)
def q230_sql_variables(spark, sf_dir) -> DataFrame:
    """SQL session variables (DECLARE VARIABLE / SET VAR) + the
    IDENTIFIER() clause: typed, session-scoped parameters referenced
    directly in queries, and identifier templating that stays
    injection-safe (IDENTIFIER() accepts a NAME, not arbitrary SQL) — the
    second half of the templating story q219's :param markers start
    (params bind VALUES; variables & IDENTIFIER bind state and NAMES).
    Variables fold to literals during analysis, so pushdown sees a
    constant predicate — asserted by the oracle being the inlined form."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q230")
    spark.sql("DECLARE OR REPLACE VARIABLE rev_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR rev_floor = 250000.0")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM IDENTIFIER('orders_q230')
        WHERE o_totalprice > rev_floor
        GROUP BY o_orderpriority
        """
    )


@query(
    "q231_execute_immediate",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n
    FROM customer
    WHERE c_acctbal BETWEEN 2000.0 AND 8000.0
    GROUP BY c_mktsegment
    """,
)
def q231_execute_immediate(spark, sf_dir) -> DataFrame:
    """EXECUTE IMMEDIATE — dynamic SQL with positional ? parameters: the
    statement text is data, the parameters bind as literals before
    analysis (same safety contract as q219). This is how generated
    report/rollup SQL runs without Python-side string interpolation; the
    parameters here are the BETWEEN bounds a scheduler would vary per
    run. Plan-wise there is nothing dynamic left after parse: the inner
    statement optimizes exactly like its static form (the oracle)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_q231")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT c_mktsegment, COUNT(*) AS n
         FROM customer_q231 WHERE c_acctbal BETWEEN ? AND ? GROUP BY c_mktsegment'
        USING 2000.0, 8000.0
        """
    )


@query(
    "q232_cached_scan",
    oracle="""
    WITH seg AS (
        SELECT c_mktsegment,
               COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS bal
        FROM customer GROUP BY c_mktsegment
    )
    SELECT a.c_mktsegment, a.n, a.bal,
           round(a.bal / t.total_bal, 6) AS bal_share
    FROM seg a
    CROSS JOIN (SELECT CAST(SUM(CAST(bal AS DECIMAL(28,4))) AS DOUBLE)
                       AS total_bal FROM seg) t
    """,
)
def q232_cached_scan(spark, sf_dir) -> DataFrame:
    """Explicit caching (df.cache → InMemoryRelation): a small aggregate
    consumed TWICE — per-segment rows and their grand total — reads the
    columnar cache on the second pass instead of re-running the scan +
    aggregate (asserted in test_plan_shapes: InMemoryTableScan appears in
    the executed plan). The cache is the right tool exactly here: a tiny,
    reused intermediate. Caching a 100 TB fact table is the classic
    anti-pattern — executors evict under memory pressure and the 'cache'
    becomes a slow disk spill; prefer a written intermediate (the
    materialize_once discipline q86/q63 use) for anything big.

    Cache lifecycle: the result must be returned LAZY (the harness
    collects it), so the cache can't be unpersisted inside this call.
    Instead each invocation unpersists the previous invocation's cached
    relation, bounding the long-lived session to at most one small
    InMemoryRelation from this query instead of one per invocation."""
    prev = getattr(q232_cached_scan, "_cached_seg", None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass
    seg = (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), dsum("c_acctbal").alias("bal"))
        .cache()
    )
    q232_cached_scan._cached_seg = seg
    total = seg.agg(dsum("bal").alias("total_bal"))
    return seg.crossJoin(total).select(
        "c_mktsegment",
        "n",
        "bal",
        F.round(F.col("bal") / F.col("total_bal"), 6).alias("bal_share"),
    )


@query(
    "q246_sql_scripting",
    oracle="""
    SELECT COUNT(*) FILTER (o_totalprice > 100000) AS n1,
           COUNT(*) FILTER (o_totalprice > 200000) AS n2,
           COUNT(*) FILTER (o_totalprice > 300000) AS n3,
           CAST(COUNT(*) FILTER (o_totalprice > 100000)
              + COUNT(*) FILTER (o_totalprice > 200000)
              + COUNT(*) FILTER (o_totalprice > 300000) AS BIGINT) AS total,
           CASE WHEN COUNT(*) FILTER (o_totalprice > 300000) > 0
                THEN 'has_whales' ELSE 'no_whales' END AS verdict
    FROM orders
    """,
)
def q246_sql_scripting(spark, sf_dir) -> DataFrame:
    """SQL scripting (Spark 4.x BEGIN...END): DECLARE'd variables, a
    WHILE loop issuing a parameterized aggregate per iteration, and an
    IF/ELSE verdict — procedural control flow INSIDE the SQL surface,
    where the reference put it in Airflow Python tasks
    (mercadolibre_pipeline_dag.py:131-138's gate). Each loop iteration's
    SELECT-into-variable is an ordinary optimized query; the script only
    sequences them, so scripting costs nothing at plan level. The oracle
    is the single-pass FILTER form — which is ALSO the better plan (one
    scan, not three), a point the docstring makes deliberately: scripts
    are for orchestration logic, not for what one aggregate can say."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q246")
    return spark.sql(
        """
        BEGIN
          DECLARE n1 BIGINT DEFAULT 0;
          DECLARE n2 BIGINT DEFAULT 0;
          DECLARE n3 BIGINT DEFAULT 0;
          DECLARE i INT DEFAULT 1;
          DECLARE v STRING DEFAULT '';
          WHILE i <= 3 DO
            IF i = 1 THEN
              SET n1 = (SELECT COUNT(*) FROM orders_q246 WHERE o_totalprice > 100000);
            ELSEIF i = 2 THEN
              SET n2 = (SELECT COUNT(*) FROM orders_q246 WHERE o_totalprice > 200000);
            ELSE
              SET n3 = (SELECT COUNT(*) FROM orders_q246 WHERE o_totalprice > 300000);
            END IF;
            SET i = i + 1;
          END WHILE;
          IF n3 > 0 THEN
            SET v = 'has_whales';
          ELSE
            SET v = 'no_whales';
          END IF;
          SELECT n1, n2, n3, n1 + n2 + n3 AS total, v AS verdict;
        END
        """
    )


@query(
    "q247_join_hints",
    oracle="""
    SELECT 'shuffle_hash' AS strategy, o.o_orderkey, c.c_mktsegment
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 400000
    UNION ALL
    SELECT 'merge', o.o_orderkey, c.c_mktsegment
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def q247_join_hints(spark, sf_dir) -> DataFrame:
    """Join strategy hints: the SAME equi join forced through
    SHUFFLE_HASH (build a hash table from the hinted side — wins when
    one side is modest and sort would dominate) and MERGE (sort-merge —
    wins when both sides are huge or pre-sorted/bucketed), with
    identical results — the plan changes, the answer must not, which is
    exactly what the duplicated oracle checks. Hints are the manual
    override on the broadcast→SHJ→SMJ ladder (README "join ladder") for
    when Catalyst's size estimates are wrong and ANALYZE (q245) hasn't
    run; both hinted operators are plan-asserted in test_plan_shapes."""
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    shj = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey).select(
        F.lit("shuffle_hash").alias("strategy"), "o_orderkey", "c_mktsegment"
    )
    smj = o.join(c.hint("merge"), o.o_custkey == c.c_custkey).select(
        F.lit("merge").alias("strategy"), "o_orderkey", "c_mktsegment"
    )
    return shj.unionByName(smj)
