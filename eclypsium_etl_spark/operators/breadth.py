"""Breadth operators (q95–q101): null-preserving lateral expansion,
unpivot, array set algebra, string-distance functions, bitwise ops,
deterministic argmax, and a stream-stream interval join — the remaining
shapes a warehouse user reaches for that earlier groups didn't cover.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..io import scratch_path, table
from ..registry import query


@query(
    "q95_explode_outer",
    oracle="""
    SELECT e.event_id, CAST(NULL AS INTEGER) AS pos, CAST(NULL AS VARCHAR) AS tag
    FROM events e WHERE e.event_type = 'error' OR e.event_type IS NULL
    UNION ALL
    SELECT e.event_id, CAST(i - 1 AS INTEGER) AS pos, parts[i] AS tag
    FROM (SELECT event_id, string_split(event_type, 'c') AS parts
          FROM events WHERE event_type <> 'error') e,
         UNNEST(generate_series(1, len(parts))) AS u(i)
    """,
)
def q95_explode_outer(spark, sf_dir) -> DataFrame:
    """posexplode_outer: lateral expansion that KEEPS rows whose array is
    empty/null (here: 'error' rows mapped to an empty array) — the
    null-preserving variant plain explode silently drops."""
    e = table(spark, sf_dir, "events")
    arr = F.when(
        F.col("event_type") != "error", F.split("event_type", "c")
    ).otherwise(F.lit(None).cast("array<string>"))
    return e.select(
        "event_id", F.posexplode_outer(arr).alias("pos", "tag")
    )


@query(
    "q96_unpivot",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value
    FROM customer
    """,
)
def q96_unpivot(spark, sf_dir) -> DataFrame:
    """Unpivot / melt (wide → long) via the unpivot API — the inverse of
    q79's pivot; at scale this is a metadata-only projection explosion,
    no shuffle."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return c.unpivot(
        "c_custkey", ["acctbal", "nationkey"], "metric", "value"
    )


@query(
    "q97_array_setops",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               list_distinct(string_split(text, ' ')) AS toks,
               ['the', 'a', 'data', 'value', 'row'] AS stop
        FROM documents
    )
    SELECT doc_id,
           CAST(len(list_intersect(toks, stop)) AS INTEGER) AS n_common,
           CAST(len(list_distinct(list_concat(toks, stop))) AS INTEGER) AS n_union,
           CAST(len(list_filter(toks, t -> NOT list_contains(stop, t))) AS INTEGER) AS n_only
    FROM t
    """,
)
def q97_array_setops(spark, sf_dir) -> DataFrame:
    """Array set algebra (union/intersect/except) — set ops as row-local
    expressions, the zero-shuffle cousin of q38–q41."""
    d = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in ["the", "a", "data", "value", "row"]])
    toks = F.array_distinct(F.split("text", " "))
    return d.select(
        "doc_id",
        F.size(F.array_intersect(toks, stop)).alias("n_common"),
        F.size(F.array_union(toks, stop)).alias("n_union"),
        F.size(F.array_except(toks, stop)).alias("n_only"),
    )


@query(
    "q98_string_distance",
    oracle="""
    SELECT p_partkey,
           CAST(levenshtein(p_name, 'cold widget') AS INTEGER) AS lev,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(instr(p_name, 'widget') AS INTEGER) AS widget_at
    FROM part
    """,
)
def q98_string_distance(spark, sf_dir) -> DataFrame:
    """Edit distance + regex replace + substring search — the string ops a
    fuzzy-matching/cleaning pipeline needs. (Spark regexp_replace is
    global by default; DuckDB needs the 'g' flag — encoded in the oracle.)"""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", F.lit("cold widget")).alias("lev"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.instr(F.col("p_name"), "widget").alias("widget_at"),
    )


@query(
    "q99_bitwise",
    oracle="""
    SELECT event_id,
           CAST(event_id & 255 AS BIGINT) AS low_byte,
           CAST(xor(event_id, user_id) AS BIGINT) AS xored,
           CAST(event_id << 2 AS BIGINT) AS shifted,
           CAST(bit_count(event_id) AS INTEGER) AS popcount
    FROM events
    """,
)
def q99_bitwise(spark, sf_dir) -> DataFrame:
    """Bitwise expression surface (masks, xor, shifts, popcount) — the
    primitives signature/bucketing schemes build on."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("xored"),
        F.shiftleft("event_id", 2).alias("shifted"),
        F.bit_count("event_id").alias("popcount"),
    )


@query(
    "q100_argmax",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_name, c_acctbal * 100000 + c_custkey) AS richest,
           arg_min(c_name, c_acctbal * 100000 + c_custkey) AS poorest
    FROM customer GROUP BY c_nationkey
    """,
)
def q100_argmax(spark, sf_dir) -> DataFrame:
    """max_by/min_by (argmax aggregation). The ordering key folds the
    unique custkey in so ties can't make the winner engine-dependent —
    argmax on a non-unique key is nondeterministic by contract."""
    c = table(spark, sf_dir, "customer")
    rank_key = F.col("c_acctbal") * 100000 + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", rank_key).alias("richest"),
        F.min_by("c_name", rank_key).alias("poorest"),
    )


@query(
    "q101_stream_stream_join",
    oracle="""
    SELECT a.event_id AS eid_a, b.event_id AS eid_b, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
)
def q101_stream_stream_join(spark, sf_dir) -> DataFrame:
    """Stream-stream interval join (view → purchase within 30 min, per
    user): both sides watermarked, join condition bounds the time range so
    Spark can evict join state — THE requirement for unbounded
    stream-stream joins. availableNow replay of the finite fixture
    converges to the batch range join the oracle states."""
    from .queries_stream_helpers import run_stream_to_memory

    from ..streaming.queries import stream_events

    a = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("eid_a"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("ts_a"),
        )
        .withWatermark("ts_a", "1 hour")
    )
    b = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("eid_b"),
            F.col("user_id").alias("user_id_b"),
            F.col("ts").alias("ts_b"),
        )
        .withWatermark("ts_b", "1 hour")
    )
    joined = a.join(
        b,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("ts_b") > F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 30 MINUTES")),
    ).select("eid_a", "eid_b", "user_id")
    return run_stream_to_memory(spark, joined)


@query(
    "q220_transpose",
    oracle="""
    SELECT 'n_customers' AS key,
           CAST(COUNT(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS DOUBLE) AS AUTOMOBILE,
           CAST(COUNT(*) FILTER (c_mktsegment = 'BUILDING') AS DOUBLE) AS BUILDING,
           CAST(COUNT(*) FILTER (c_mktsegment = 'FURNITURE') AS DOUBLE) AS FURNITURE,
           CAST(COUNT(*) FILTER (c_mktsegment = 'HOUSEHOLD') AS DOUBLE) AS HOUSEHOLD,
           CAST(COUNT(*) FILTER (c_mktsegment = 'MACHINERY') AS DOUBLE) AS MACHINERY
    FROM customer
    UNION ALL
    SELECT 'total_bal' AS key,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) FILTER (c_mktsegment = 'AUTOMOBILE') AS DOUBLE),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) FILTER (c_mktsegment = 'BUILDING') AS DOUBLE),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) FILTER (c_mktsegment = 'FURNITURE') AS DOUBLE),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) FILTER (c_mktsegment = 'HOUSEHOLD') AS DOUBLE),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) FILTER (c_mktsegment = 'MACHINERY') AS DOUBLE)
    FROM customer
    """,
)
def q220_transpose(spark, sf_dir) -> DataFrame:
    """DataFrame.transpose (Spark 4.x): flip a small aggregate so metrics
    become rows and group values become columns — the report orientation
    (q06's HTML table wants one row per metric). Transpose collects the
    frame to the driver to learn the new column names, so it is ONLY for
    post-aggregation results of bounded width (here: 2 metrics × 5 fixed
    segments); transposing a fact table is a driver OOM by construction.
    The double-typed metric matrix is required — transpose unifies all
    value columns to the least common type.

    SCHEMA STABILITY: transpose derives COLUMNS from data, so a missing
    segment (an empty or filtered slice) would silently change the
    output schema — the one failure mode a report contract can't absorb
    (empty-input walk: zero rows transposed to a key-only frame). The
    fix is the report-engineering standard: aggregate onto a FIXED
    segment dimension (the same five names the oracle declares), so the
    shape is constant and absent segments read 0 customers / NULL
    balance."""
    from ..functions import dsum

    segs = spark.createDataFrame(
        [(x,) for x in
         ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")],
        "c_mktsegment string",
    )
    c = table(spark, sf_dir, "customer")
    agg = c.groupBy("c_mktsegment").agg(
        F.count("*").cast("double").alias("n_customers"),
        dsum("c_acctbal").alias("total_bal"),
    )
    wide = (
        segs.join(agg, "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            # COUNT of an absent group is 0; SUM stays NULL — exactly the
            # oracle's FILTER semantics
            F.coalesce("n_customers", F.lit(0.0)).alias("n_customers"),
            "total_bal",
        )
        .orderBy("c_mktsegment")
    )
    return wide.transpose()


@query(
    "q225_sql_pivot_unpivot",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderstatus IN ('F', 'O', 'P')
    GROUP BY 1, 2
    """,
)
def q225_sql_pivot_unpivot(spark, sf_dir) -> DataFrame:
    """SQL PIVOT / UNPIVOT keywords (the declarative forms of q79's
    .pivot() and q96's .unpivot()): pivot per-priority status totals wide,
    then unpivot straight back to long — a lossless round trip whenever
    every (priority, status) combination exists, because UNPIVOT's
    default EXCLUDE NULLS drops exactly the holes PIVOT manufactured.
    The oracle is the direct GROUP BY the round trip must reproduce —
    WITH the pivot's IN-list stated as the filter it IS: a row whose
    status is outside the list (including NULL) matches no pivot column
    and drops. The earlier oracle's ELSE-'P' bucket silently swallowed
    NULL statuses into 'P' (null-injection walk finding).
    Both rewrites happen at analysis time (PIVOT becomes aggregate-with-
    filters, UNPIVOT becomes Expand) — no extra shuffle beyond the one
    aggregate exchange."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q225")
    return spark.sql(
        """
        SELECT o_orderpriority, status, total FROM (
            SELECT * FROM (
                SELECT o_orderpriority, o_orderstatus,
                       CAST(o_totalprice AS DECIMAL(28,4)) AS price
                FROM orders_q225
            )
            PIVOT (CAST(SUM(price) AS DOUBLE) FOR o_orderstatus IN ('F' AS F, 'O' AS O, 'P' AS P))
        )
        UNPIVOT (total FOR status IN (F, O, P))
        """
    )


@query(
    "q226_lateral_view",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok
    FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
    WHERE len(t) >= 1
    """,
)
def q226_lateral_view(spark, sf_dir) -> DataFrame:
    """LATERAL VIEW posexplode — the HiveQL generator syntax that decades
    of warehouse SQL still uses (the modern spellings are the explode()
    API, q61/q95, and ANSI LATERAL joins, q144; all compile to the same
    Generate operator). Zero shuffle: generation happens inside the scan
    stage, and the 0-based position comes from posexplode itself rather
    than a window — no ordering assumption anywhere."""
    table(spark, sf_dir, "documents").createOrReplaceTempView("docs_q226")
    return spark.sql(
        """
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok
        FROM docs_q226
        LATERAL VIEW posexplode(split(text, ' ')) g AS pos, tok
        """
    )


@query(
    "q227_distribute_sort_by",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity
    FROM lineitem WHERE l_quantity >= 25
    """,
)
def q227_distribute_sort_by(spark, sf_dir) -> DataFrame:
    """DISTRIBUTE BY / SORT BY — the physical-layout clauses: hash-spread
    rows across partitions on a key, sort WITHIN each partition, and
    deliberately skip the global order (ORDER BY's range exchange +
    merge). This is the write-side recipe for run-length-friendly,
    min/max-prunable files (the SQL spelling of
    repartition().sortWithinPartitions(), which q195's Z-order layout
    uses): rows are identical to the plain filter — only PLACEMENT
    changes, which is exactly what the order-insensitive oracle hash
    proves. The plan must show one hash exchange and NO range exchange
    (asserted in test_plan_shapes)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q227")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity
        FROM lineitem_q227 WHERE l_quantity >= 25
        DISTRIBUTE BY l_suppkey SORT BY l_suppkey, l_orderkey, l_linenumber
        """
    )


@query(
    "q236_lateral_alias",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS gross,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                 - l_extendedprice * (1 - l_discount), 6) AS tax_paid
    FROM lineitem WHERE l_quantity > 40
    """,
)
def q236_lateral_alias(spark, sf_dir) -> DataFrame:
    """Lateral column aliases: a SELECT item referencing an alias defined
    EARLIER IN THE SAME SELECT (net → gross → tax_paid), the chained-
    derivation style every hand-written report query uses instead of
    nesting three subqueries. Purely an analysis-time rewrite — the
    optimizer inlines the chain, so the plan (and the oracle, written in
    the fully-expanded form DuckDB needs) is identical to the nested
    spelling; each row's arithmetic runs the same IEEE op sequence in
    both engines."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q236")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS net,
               net * (1 + l_tax) AS gross,
               round(gross - net, 6) AS tax_paid
        FROM lineitem_q236 WHERE l_quantity > 40
        """
    )


@query(
    "q237_collated_group",
    oracle="""
    SELECT lower(c_mktsegment) AS segment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS bal
    FROM customer
    GROUP BY lower(c_mktsegment)
    """,
)
def q237_collated_group(spark, sf_dir) -> DataFrame:
    """Collated strings (Spark 4.x COLLATE): case-insensitive GROUP BY as
    a TYPE property instead of a lower() rewrite — the collation travels
    with the column, so every downstream comparison/join/sort inherits
    it (a lower() wrapper must be re-applied at each use and silently
    breaks on one forgotten site). Input case is deliberately mangled by
    a deterministic rule (odd keys get Initcap) so the collation is
    load-bearing: under UTF8_BINARY the mangled table has 10 groups, the
    collated group-by must fold them back to 5. The emitted group label
    is min(lower(x)) — the group REPRESENTATIVE under a case-folding
    collation is first-arrival nondeterministic, a real gotcha this
    query documents by construction. Hash aggregation works on the
    collation key unchanged — same two-phase plan, no extra shuffle."""
    c = table(spark, sf_dir, "customer")
    mangled = c.select(
        F.when(
            F.col("c_custkey") % 2 == 1, F.initcap(F.lower("c_mktsegment"))
        )
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        "c_acctbal",
    ).withColumn("seg_ci", F.expr("seg COLLATE UTF8_LCASE"))
    from ..functions import dsum

    return (
        mangled.groupBy("seg_ci")
        .agg(
            F.min(F.lower("seg")).alias("segment"),
            F.count("*").alias("n"),
            dsum("c_acctbal").alias("bal"),
        )
        .select("segment", "n", "bal")
    )


@query(
    "q238_approx_top_k",
    oracle="""
    SELECT event_type AS item, COUNT(*) AS est
    FROM events GROUP BY event_type
    ORDER BY est DESC LIMIT 3
    """,
)
def q238_approx_top_k(spark, sf_dir) -> DataFrame:
    """approx_top_k — the built-in heavy-hitters sketch (the engine-native
    twin of q128's hand-rolled count-min-sketch): fixed-size state, one
    pass, mergeable across partitions; the 100 TB replacement for the
    GROUP BY + ORDER BY + LIMIT it approximates (which shuffles EVERY
    distinct key; the sketch ships only its tracked candidates). On this
    column the sketch is exact — 5 distinct values ≪ the 10k tracked
    slots, and all per-type counts are distinct at every fixture scale
    (checked), so membership and order are deterministic and the oracle
    can be the exact top-3. The struct array is exploded to rows so the
    comparison is per-item, not array-order-dependent."""
    e = table(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    return topk.select(F.explode("tk").alias("t")).select(
        F.col("t.item").alias("item"), F.col("t.count").cast("long").alias("est")
    )


@query(
    "q264_group_order_by_all",
    oracle="""
    SELECT e.event_type, d.lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST(e.value AS DECIMAL(28,4))) AS DOUBLE), 4)
               AS total_value
    FROM events e JOIN documents d ON d.doc_id = e.event_id % 500
    GROUP BY e.event_type, d.lang
    ORDER BY e.event_type, d.lang
    """,
)
def q264_group_order_by_all(spark, sf_dir) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+ SQL sugar, matching
    DuckDB's original): every non-aggregate select item becomes a
    grouping key, every select item an order key — the migration-killer
    niceties analysts reach for first. The oracle spells the expansion
    out explicitly, proving the sugar resolves to exactly the explicit
    form (a mis-expansion would change grouping and fail the hash).
    Resolution happens in the analyzer; the physical plan is identical
    to q21's hash aggregate."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events_q264")
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_q264")
    return spark.sql(
        """
        SELECT e.event_type, d.lang,
               COUNT(*) AS n,
               round(CAST(SUM(CAST(e.value AS DECIMAL(28,4))) AS DOUBLE), 4)
                   AS total_value
        FROM events_q264 e
        JOIN documents_q264 d ON d.doc_id = e.event_id % 500
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "q265_stack_inline",
    oracle="""
    SELECT o_orderkey, metric, val FROM (
        SELECT o_orderkey, 'price' AS metric,
               CAST(o_totalprice AS DOUBLE) AS val FROM orders
        UNION ALL
        SELECT o_orderkey, 'priority_n',
               CAST(CAST(o_orderpriority[1] AS INTEGER) AS DOUBLE) FROM orders
        UNION ALL
        SELECT o_orderkey, 'status_n',
               CAST(strlen(o_orderstatus) AS DOUBLE) FROM orders
    ) WHERE o_orderkey % 100 = 0
    """,
)
def q265_stack_inline(spark, sf_dir) -> DataFrame:
    """stack() — the generator-function wide-to-long unpivot (the
    pre-UNPIVOT idiom q96 modernized, still everywhere in migrated
    code): n (label, expr) pairs become n rows per input row inside the
    SAME select, no self-union and ONE scan of the source. The oracle is
    the triple-UNION expansion stack replaces — same rows, one-third the
    scans. Generators run scan-stage (Generate node, no shuffle);
    filter on the source column still pushes below the Generate into
    the parquet scan."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(3,"
            " 'price', CAST(o_totalprice AS DOUBLE),"
            " 'priority_n', CAST(CAST(substring(o_orderpriority, 1, 1) AS INT) AS DOUBLE),"
            " 'status_n', CAST(length(o_orderstatus) AS DOUBLE)"
            ") AS (metric, val)"
        ),
    )


@query(
    "q266_str_to_map",
    oracle="""
    WITH kv AS (
        SELECT e.event_id,
               'type:' || COALESCE(e.event_type, 'none')
               || ',uid:' || CAST(e.user_id AS VARCHAR)
               || ',val:' || CAST(CAST(floor(e.value) AS INTEGER) AS VARCHAR)
                   AS tag_str
        FROM events e
    )
    SELECT event_id, tag_str,
           string_split(string_split(tag_str, ',')[1], ':')[2] AS type_v,
           CAST(string_split(string_split(tag_str, ',')[2], ':')[2]
                AS BIGINT) AS uid_v,
           CAST(string_split(string_split(tag_str, ',')[3], ':')[2]
                AS BIGINT) AS val_v
    FROM kv
    """,
)
def q266_str_to_map(spark, sf_dir) -> DataFrame:
    """str_to_map — the log-line / tag-string parser (the k1:v1,k2:v2
    format agents and exporters emit): build a deterministic tag string
    from event fields, parse it back with the builtin in ONE expression,
    and project typed values out of the map. MapType doesn't
    value-hash across engines (iteration order), so the checked output
    is the extracted fields — which is also the honest usage: maps are
    an access path, not a storage format. The oracle re-parses with
    split indexing, proving delimiter semantics match. Scan-stage,
    zero shuffle, whole-stage codegen."""
    e = table(spark, sf_dir, "events")
    tag = F.concat(
        F.lit("type:"), F.coalesce(F.col("event_type"), F.lit("none")),
        F.lit(",uid:"), F.col("user_id").cast("string"),
        F.lit(",val:"), F.floor("value").cast("int").cast("string"),
    )
    return (
        e.select("event_id", tag.alias("tag_str"))
        .withColumn("m", F.expr("str_to_map(tag_str, ',', ':')"))
        .select(
            "event_id",
            "tag_str",
            F.col("m").getItem("type").alias("type_v"),
            F.col("m").getItem("uid").cast("long").alias("uid_v"),
            F.col("m").getItem("val").cast("long").alias("val_v"),
        )
    )


@query(
    "q269_map_hofs",
    oracle="""
    SELECT event_id,
           'T_' || COALESCE(event_type, 'none') AS type_upkey,
           CAST(floor(value) * 2 AS BIGINT) AS val_doubled,
           COALESCE(value >= 50, FALSE) AS kept_big,
           CAST(user_id + floor(value) AS BIGINT) AS zipped_sum
    FROM events
    """,
)
def q269_map_hofs(spark, sf_dir) -> DataFrame:
    """Map higher-order functions — transform_keys / transform_values /
    map_filter / map_zip_with, the lambda family that rewrites MapType
    columns WITHOUT exploding them (the explode→group round trip costs a
    corpus shuffle; the HOF runs scan-stage in codegen). A map is built
    from event fields, each HOF is applied, and the checked output is
    scalar extractions (MapType doesn't value-hash across engines; the
    extracted entries prove each lambda ran). The oracle computes what
    each extraction must equal directly from the source columns.
    Zero shuffle at any scale.

    NULL pin: map_filter has FILTER semantics — an entry whose predicate
    evaluates NULL (value >= 50 on a NULL value) is DROPPED, so the
    presence-as-boolean extraction is FALSE, never NULL; the oracle
    states it as COALESCE(value >= 50, FALSE) (null-injection walk)."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        F.create_map(
            F.coalesce(F.col("event_type"), F.lit("none")),
            F.floor("value").cast("long"),
        ).alias("m"),
    )
    return base.select(
        "event_id",
        # transform_keys: prefix every key
        F.expr(
            "map_keys(transform_keys(m, (k, v) -> concat('T_', k)))[0]"
        ).alias("type_upkey"),
        # transform_values: double every value
        F.expr("map_values(transform_values(m, (k, v) -> v * 2))[0]").alias(
            "val_doubled"
        ),
        # map_filter: keep entries with value >= 50 — presence is the bool
        (F.expr("size(map_filter(m, (k, v) -> v >= 50))") == 1).alias(
            "kept_big"
        ),
        # map_zip_with: merge m with a same-keyed map of user_id
        F.expr(
            "map_values(map_zip_with("
            "  m,"
            "  transform_values(m, (k, v) -> user_id),"
            "  (k, v1, v2) -> v1 + v2))[0]"
        ).alias("zipped_sum"),
    )


_FW_SPEC = [  # (name, start (1-based), width)
    ("o_orderkey", 1, 12),
    ("o_orderstatus", 13, 2),
    ("o_totalprice", 15, 12),
    ("o_orderpriority", 27, 16),
]


@query(
    "q270_fixed_width_source",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def q270_fixed_width_source(spark, sf_dir) -> DataFrame:
    """Fixed-width (COBOL/mainframe export) text ingestion — the legacy
    format every migration eventually meets and Spark has no reader for:
    rows are rendered to a fixed-layout line (rpad to column widths),
    staged as plain text, read back with spark.read.text, and sliced by
    (start, width) substring projections — all JVM expression work, no
    UDF. The slice spec is data, not code (_FW_SPEC), which is how real
    copybook layouts are wired in. Parsing is scan-stage: the text
    source splits by line ranges exactly like CSV, so a 100 TB fixed-
    width dump parallelizes by byte ranges with zero preprocessing.
    Numeric columns re-cast from their padded text; the oracle recomputes
    from the original table, so a one-column misalignment in EITHER
    direction fails every downstream field's hash.

    NULL convention (the fixed-width standard): a NULL field renders as
    ALL BLANKS and blanks parse back to NULL (nullif-on-trim before the
    cast — a bare cast of '' raises under ANSI, the null-injection walk's
    finding; and a bare F.concat would NULL-poison the whole LINE from
    one null field, silently dropping the row). Inherent format
    limitation, documented: an empty STRING field is indistinguishable
    from NULL after the round-trip."""
    out = scratch_path(f"q270_fw_{os.path.basename(sf_dir)}")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)

    def fw(col, width):
        return F.rpad(
            F.coalesce(F.col(col).cast("string"), F.lit("")), width, " "
        )

    line = F.concat(
        fw("o_orderkey", 12),
        fw("o_orderstatus", 2),
        fw("o_totalprice", 12),
        fw("o_orderpriority", 16),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    raw = spark.read.text(out)

    def field(start, width):
        return F.nullif(F.trim(F.substring("value", start, width)), F.lit(""))

    return raw.select(
        field(1, 12).cast("long").alias("o_orderkey"),
        field(13, 2).alias("o_orderstatus"),
        field(15, 12).cast("double").alias("o_totalprice"),
        field(27, 16).alias("o_orderpriority"),
    )


@query(
    "q271_band_join_bnl",
    oracle="""
    SELECT e.event_id, e.value, b.band
    FROM events e
    JOIN (VALUES ('low', 0.0, 50.0),
                 ('mid', 50.0, 200.0),
                 ('high', 200.0, 1e18)) b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    """,
)
def q271_band_join_bnl(spark, sf_dir) -> DataFrame:
    """Inequality-ONLY join against a tiny banding dimension — the one
    legitimate home of BroadcastNestedLoopJoin: with no equi-key at all,
    Spark's only non-cartesian strategy is broadcasting the 3-row band
    table and evaluating the range predicate per row, which is exactly
    right — O(n·k) with k=3, scan-stage, no shuffle. The same query
    against a LARGE band table is the q151 problem (bin the point side
    to synthesize an equi key); the plan-shape discipline is choosing by
    dimension size, and this exhibit pins the small-side case. Contrast
    with q17 (theta join anchored on an equi key) and q84 (skew salting
    of an equi join)."""
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 200.0), ("high", 200.0, 1e18)],
        "band string, lo double, hi double",
    )
    e = table(spark, sf_dir, "events")
    return e.join(
        F.broadcast(bands),
        (e.value >= bands.lo) & (e.value < bands.hi),
    ).select("event_id", "value", "band")


@query(
    "q272_json_permissive",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS n_chars,
           CASE WHEN doc_id % 7 = 0
                THEN '{"doc_id": ' || CAST(doc_id AS VARCHAR) || ', "lang": '
                ELSE NULL END AS bad_record
    FROM documents
    """,
)
def q272_json_permissive(spark, sf_dir) -> DataFrame:
    """PERMISSIVE JSON ingestion with corrupt-record capture — q234's CSV
    triage applied to the other wire format ingestion actually meets:
    every 7th line is staged deliberately TRUNCATED mid-object, and the
    reader must (a) parse the good lines to typed columns, (b) surrender
    the broken ones VERBATIM into columnNameOfCorruptRecord with NULLs
    elsewhere, and (c) never drop a row — the triage contract that lets
    a 100 TB ingest quarantine garbage into a dead-letter column instead
    of failing the job (FAILFAST) or silently losing data (DROPMALFORMED).
    The oracle reconstructs both the parsed values and the exact corrupt
    string from the source table. doc_id survives on corrupt rows only
    because the harness re-derives it from the captured raw string —
    real pipelines key the dead-letter table the same way."""
    out = scratch_path(f"q272_pjson_{os.path.basename(sf_dir)}")
    d = table(spark, sf_dir, "documents")
    line = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
            F.lit(', "lang": '),
        ),
    ).otherwise(
        F.to_json(F.struct("doc_id", "lang", "n_chars"))
    )
    d.select(line.alias("value")).write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema(
            "doc_id BIGINT, lang STRING, n_chars BIGINT, bad_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "bad_record")
        .json(out)
    )
    return parsed.select(
        F.coalesce(
            "doc_id",
            F.regexp_extract("bad_record", r'"doc_id": (\d+)', 1).cast("long"),
        ).alias("doc_id"),
        "lang",
        "n_chars",
        "bad_record",
    )


@query(
    "q273_mask_functions",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_name,
               printf('%02d-%03d-%04d', c_nationkey, c_custkey % 1000,
                      (c_custkey * 7) % 10000) AS phone
        FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
               c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
               '[0-9]', 'n', 'g') AS name_masked,
           regexp_replace(phone, '[0-9]', '*', 'g') AS phone_masked,
           substr(phone, 1, 2) || regexp_replace(
               substr(phone, 3), '[0-9]', 'n', 'g') AS phone_prefix_kept
    FROM c
    """,
)
def q273_mask_functions(spark, sf_dir) -> DataFrame:
    """Data masking (Spark 3.4's mask()) — the PII-redaction expression
    for structured identifiers, complementing q119's regex scrubbing of
    free text: mask() rewrites character CLASSES (upper → X, lower → x,
    digit → n, punctuation preserved) so masked values keep their shape
    — a masked phone still looks like a phone, which is what test-data
    generation and partner exports need. Variants: default classes on
    the name, digits-to-'*' on the phone, and a prefix-preserving mask
    (country code kept, rest masked) built by composition — the realistic
    policy shape. The oracle reproduces each with regexp_replace chains.
    Scan-stage, zero shuffle, codegen.

    NULL pin: Spark's format_string renders a NULL argument as the
    4-char string 'null' (java.util.Formatter), so an unguarded build
    would MASK A PHANTOM VALUE for rows with no nationality — and
    diverge from SQL printf, which propagates NULL (the null-injection
    walk's finding). The engine pins NULL-in → NULL-out: a missing
    component means no phone to mask."""
    c = table(spark, sf_dir, "customer").withColumn(
        "phone",
        F.when(
            F.col("c_nationkey").isNotNull(),
            F.format_string(
                "%02d-%03d-%04d",
                F.col("c_nationkey"),
                F.col("c_custkey") % 1000,
                (F.col("c_custkey") * 7) % 10000,
            ),
        ),
    )
    return c.select(
        "c_custkey",
        F.expr("mask(c_name)").alias("name_masked"),
        F.expr("mask(phone, NULL, NULL, '*', NULL)").alias("phone_masked"),
        F.concat(
            F.substring("phone", 1, 2),
            F.expr("mask(substring(phone, 3), NULL, NULL, 'n', NULL)"),
        ).alias("phone_prefix_kept"),
    )


@query(
    "q275_array_fns_modern",
    oracle="""
    SELECT event_id,
           array_to_string(
               list_filter([event_type, NULL, 'tail'], x -> x IS NOT NULL),
               ',') AS compacted,
           array_to_string(list_prepend('head', [event_type]), ',')
               AS prepended,
           array_to_string(list_append([event_type], 'appended'), ',')
               AS appended,
           array_to_string(
               ['a', 'b', 'd'][1:2] || ['c'] || ['a', 'b', 'd'][3:3],
               ',') AS inserted,
           [event_type, 'z'][1] AS got
    FROM events
    """,
)
def q275_array_fns_modern(spark, sf_dir) -> DataFrame:
    """The Spark 3.4+ array-function additions a migration from 3.3
    gains: array_compact (drop nulls), array_prepend / array_append,
    array_insert (positional, 1-based), and get() (0-based safe index —
    returns NULL instead of erroring past the end). DuckDB spells each
    differently (list_filter / list_prepend / slicing concat), which is
    exactly why they're oracled: the semantics, not the names, must
    agree. Result arrays are serialized with array_join on both sides so
    every output column is scalar (driver canonicalizers hash scalars;
    raw list cells are unhashable — VERDICT r4 #1). Scan-stage, zero
    shuffle."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.array_join(
            F.array_compact(
                F.array(F.col("event_type"), F.lit(None), F.lit("tail"))
            ),
            ",",
        ).alias("compacted"),
        F.array_join(
            F.array_prepend(F.array(F.col("event_type")), F.lit("head")), ","
        ).alias("prepended"),
        F.array_join(
            F.array_append(F.array(F.col("event_type")), F.lit("appended")),
            ",",
        ).alias("appended"),
        F.array_join(
            F.array_insert(
                F.array(F.lit("a"), F.lit("b"), F.lit("d")), 3, F.lit("c")
            ),
            ",",
        ).alias("inserted"),
        F.get(F.array(F.col("event_type"), F.lit("z")), 0).alias("got"),
    )


# Deterministic synthetic geography (the fixture has no coordinates):
# event points spread over a ~2x2 degree box around (40, -74), store
# locations on a coarse grid — identical arithmetic on both engines.
_GEO_RADIUS_KM = 25.0
_GEO_LAT_SQL = "40.0 + (user_id % 200) / 100.0"       # 40.00 .. 41.99
_GEO_LON_SQL = "-74.0 + ((user_id * 7) % 200) / 100.0"
_STORE_LAT_SQL = "40.0 + (store_id % 5) * 0.5"        # 5x4 grid
_STORE_LON_SQL = "-74.0 + (store_id // 5) * 0.5"
_HAV_SQL = (  # haversine distance in km between (la1,lo1) and (la2,lo2)
    "2 * 6371.0 * asin(sqrt("
    " pow(sin(radians(({la2}) - ({la1})) / 2), 2)"
    " + cos(radians({la1})) * cos(radians({la2}))"
    "   * pow(sin(radians(({lo2}) - ({lo1})) / 2), 2)))"
)


@query(
    "q294_haversine_join",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, user_id,
               {_GEO_LAT_SQL} AS lat, {_GEO_LON_SQL} AS lon
        FROM events WHERE event_id % 20 = 0
    ),
    stores AS (
        SELECT store_id, {_STORE_LAT_SQL} AS s_lat, {_STORE_LON_SQL} AS s_lon
        FROM (SELECT UNNEST(range(0, 20)) AS store_id)
    ),
    hits AS (
        SELECT p.event_id, s.store_id,
               round({_HAV_SQL.format(la1='p.lat', lo1='p.lon',
                                      la2='s.s_lat', lo2='s.s_lon')}, 4)
                   AS dist_km
        FROM pts p JOIN stores s
          ON abs(p.lat - s.s_lat) <= 0.3
         AND abs(p.lon - s.s_lon) <= 0.4
    )
    SELECT event_id, store_id, dist_km FROM hits
    WHERE dist_km <= {_GEO_RADIUS_KM}
    """,
)
def q294_haversine_join(spark, sf_dir) -> DataFrame:
    """Geospatial radius join — points to stores within 25 km — done the
    way a warehouse without a geo extension does it: a cheap BOUNDING-BOX
    prefilter provides the join predicate (0.3 deg lat / 0.4 deg lon
    comfortably contains 25 km at this latitude, so no true hit is
    lost), and the exact great-circle haversine distance then filters
    the small candidate set. The box join against a 20-row store table
    broadcasts (q271's small-dim discipline); at scale the box becomes
    a GEOHASH-CELL equi join — exactly the q151 binning trick in two
    dimensions — so the plan never degenerates to all-pairs trig.
    Cross-engine float care: sin/cos/asin on identical doubles agree
    (the ln/exp precedent), distances round to 4dp, and the radius
    threshold sits far from any achievable rounded value. Coordinates
    are synthesized deterministically from ids (the q119 discipline) —
    the fixture has no geography."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    pts = e.select(
        "event_id",
        "user_id",
        F.expr(_GEO_LAT_SQL).alias("lat"),
        F.expr(_GEO_LON_SQL).alias("lon"),
    )
    stores = spark.range(0, 20).select(
        F.col("id").alias("store_id"),
        F.expr("40.0 + (id % 5) * 0.5").alias("s_lat"),
        F.expr("-74.0 + CAST(id / 5 AS INT) * 0.5").alias("s_lon"),
    )
    hav = F.expr(
        _HAV_SQL.format(la1="lat", lo1="lon", la2="s_lat", lo2="s_lon")
    )
    return (
        pts.join(
            F.broadcast(stores),
            (F.abs(F.col("lat") - F.col("s_lat")) <= 0.3)
            & (F.abs(F.col("lon") - F.col("s_lon")) <= 0.4),
        )
        .select("event_id", "store_id", F.round(hav, 4).alias("dist_km"))
        .filter(F.col("dist_km") <= _GEO_RADIUS_KM)
    )


@query(
    "q295_gdpr_purge",
    oracle="""
    WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    o_purged AS (
        SELECT o.o_orderkey FROM orders o
        JOIN del ON del.c_custkey = o.o_custkey
    )
    SELECT 'customer' AS tbl,
           CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS purged,
           CAST((SELECT COUNT(*) FROM customer) -
                (SELECT COUNT(*) FROM del) AS BIGINT) AS retained
    UNION ALL
    SELECT 'orders',
           CAST((SELECT COUNT(*) FROM o_purged) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) -
                (SELECT COUNT(*) FROM o_purged) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT COUNT(*) FROM lineitem l
                 JOIN o_purged p ON p.o_orderkey = l.l_orderkey) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) -
                (SELECT COUNT(*) FROM lineitem l
                 JOIN o_purged p ON p.o_orderkey = l.l_orderkey) AS BIGINT)
    """,
)
def q295_gdpr_purge(spark, sf_dir) -> DataFrame:
    """Right-to-erasure CASCADE audit — the compliance job every
    PII-bearing warehouse runs: given a deletion list (synthesized here
    as custkey % 97 = 0 — the q119 determinism discipline), propagate
    through the foreign-key chain customer -> orders -> lineitem with
    ANTI joins (retained) / SEMI joins (purged) and emit the per-table
    purge-vs-retain counts the auditor signs off on BEFORE the
    destructive write runs. The deletion list and the purged-order key
    sets carry NO pinned broadcast hint (round-6 audit: both grow with
    the data — ~1% of customers and their whole order fan-out — so a
    pinned broadcast is an executor-memory assumption; AQE broadcasts
    them at fixture scale from actual runtime sizes and falls back to
    shuffled semi-joins beyond the threshold); the facts are only ever
    the probe side — at 100 TB the actual rewrite is a partition-level
    anti-join overwrite (q04's idempotent sink per partition), and this
    audit is its dry-run plan. The cascade's second hop keys on
    o_orderkey, NOT custkey — lineitem has no customer column, which is
    exactly why erasure must walk the FK graph rather than filter by
    the deleted id."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    dele = c.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    o_purged = o.join(
        dele, o.o_custkey == dele.c_custkey, "semi"
    ).select("o_orderkey")
    l_purged = l.join(
        o_purged, l.l_orderkey == o_purged.o_orderkey, "semi"
    )

    def counts(tbl: str, total_df, purged_df):
        t = total_df.agg(F.count("*").alias("t"))
        p = purged_df.agg(F.count("*").alias("p"))
        return (
            p.crossJoin(t)
            .select(
                F.lit(tbl).alias("tbl"),
                F.col("p").cast("long").alias("purged"),
                (F.col("t") - F.col("p")).cast("long").alias("retained"),
            )
        )

    return (
        counts("customer", c, dele)
        .unionByName(counts("orders", o, o_purged))
        .unionByName(counts("lineitem", l, l_purged))
    )


@query(
    "q298_pareto_frontier",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, o_totalprice,
               CAST(epoch_us(o_orderdate) AS BIGINT) AS odate_us
        FROM orders WHERE o_orderkey % 10 = 0
          AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ),
    ranked AS (
        SELECT *,
               MAX(odate_us) OVER (
                   ORDER BY o_totalprice ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_date_cheaper
        FROM pts
    )
    SELECT o_orderkey, o_totalprice,
           CAST(odate_us AS BIGINT) AS odate_us
    FROM ranked
    WHERE best_date_cheaper IS NULL OR odate_us > best_date_cheaper
    """,
)
def q298_pareto_frontier(spark, sf_dir) -> DataFrame:
    """2-D Pareto frontier (skyline): orders not dominated on
    (cheaper, more recent) — the shape analysts write as a quadratic
    NOT EXISTS self-join, computed instead with ONE window pass: sort
    by price, keep a row iff its date beats the running max date of
    everything cheaper (strictly — ties on price resolved by orderkey
    so the frontier is deterministic). O(n log n) via the sort the
    window needs anyway, versus O(n^2) for the naive dominator join —
    at 100 TB that's the difference between a query and an outage.
    NULL metrics are PINNED ineligible (filtered on both sides): a row
    with an unknown price can neither dominate nor sit on the frontier,
    and leaving nulls in puts the divergent engine null sort order
    (Spark NULLS FIRST vs DuckDB NULLS LAST on ASC) inside the running
    max — the null-injection walk's finding. The
    global-order window is the documented q127 trade; the scale path
    (frontier-of-frontiers, exact because domination is transitive) is
    REGISTERED as the row-identical ranged twin q359_pareto_ranged.
    Dates compare as integer epoch micros (the q286 cross-engine
    discipline)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 10 == 0)
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderdate").isNotNull()
    )
    pts = o.select(
        "o_orderkey",
        "o_totalprice",
        F.unix_micros("o_orderdate").alias("odate_us"),
    )
    from pyspark.sql import Window as W

    w = (
        W.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = pts.withColumn("best_date_cheaper", F.max("odate_us").over(w))
    return ranked.filter(
        F.col("best_date_cheaper").isNull()
        | (F.col("odate_us") > F.col("best_date_cheaper"))
    ).select("o_orderkey", "o_totalprice", "odate_us")


@query(
    "q359_pareto_ranged",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, o_totalprice,
               CAST(epoch_us(o_orderdate) AS BIGINT) AS odate_us
        FROM orders WHERE o_orderkey % 10 = 0
          AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ),
    ranked AS (
        SELECT *,
               MAX(odate_us) OVER (
                   ORDER BY o_totalprice ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS best_date_cheaper
        FROM pts
    )
    SELECT o_orderkey, o_totalprice,
           CAST(odate_us AS BIGINT) AS odate_us
    FROM ranked
    WHERE best_date_cheaper IS NULL OR odate_us > best_date_cheaper
    """,
)
def q359_pareto_ranged(spark, sf_dir) -> DataFrame:
    """2-D PARETO FRONTIER AT THE RANGED SPELLING — q298's docstring
    names frontier-of-frontiers (per-partition skyline → merged
    skyline, exact because domination is transitive) as its scale
    path; VERDICT r11 #3 asked for it REGISTERED. This is that
    algorithm made exact AND fully distributed via
    ops.global_running_max: range-partition on the total order
    (price, orderkey), per-slice strict-preceding running max of the
    date — the LOCAL skyline test, parallel — then the merge step is
    not a survivors-to-one-task global window but a broadcast of each
    slice's date maximum, prefix-maxed in pid order (num_partitions
    driver rows): a point survives globally iff its date beats
    greatest(local strict-preceding max, best date of ALL cheaper
    slices) — transitivity collapses the cross-slice check to one
    scalar per slice. Zero unpartitioned WindowExec (pinned in
    tests/test_plan_shapes.py) and row-identical to q298 by
    construction (same oracle text, the q350/q355 equivalence
    pattern). NULL metrics pinned ineligible on both sides; dates
    compare as integer epoch micros (q286 discipline)."""
    from .. import ops

    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderkey") % 10 == 0)
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderdate").isNotNull()
    )
    pts = o.select(
        "o_orderkey",
        "o_totalprice",
        F.unix_micros("o_orderdate").alias("odate_us"),
    )
    ranked = ops.global_running_max(
        pts, ["o_totalprice", "o_orderkey"], "odate_us", "best_date_cheaper"
    )
    return ranked.filter(
        F.col("best_date_cheaper").isNull()
        | (F.col("odate_us") > F.col("best_date_cheaper"))
    ).select("o_orderkey", "o_totalprice", "odate_us")


@query(
    "q299_clamped_balance",
    oracle="""
    WITH deltas AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN -floor(value)
                    ELSE floor(value) END AS delta
        FROM events
    ),
    folded AS (
        SELECT user_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           list_sort(list({'ts': ts, 'eid': event_id,
                                           'delta': delta})),
                           r -> CAST(r.delta AS BIGINT))),
                   (acc, d) -> greatest(CAST(0 AS BIGINT), acc + d)
               ) AS final_balance,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM deltas GROUP BY user_id
    )
    SELECT user_id, final_balance, n_events FROM folded
    """,
)
def q299_clamped_balance(spark, sf_dir) -> DataFrame:
    """Clamped running balance — inventory/credit ledgers where the
    balance FLOORS AT ZERO: fold deltas in event order with
    acc = max(0, acc + delta). The clamp makes the fold NON-ASSOCIATIVE,
    so no window frame, no two-phase prefix sum, and no partial
    aggregation can express it — the whole per-key history must fold
    IN ORDER. Batch shape: collect each user's (ts, id, delta) into an
    array, sort it, and run the fold as an expression-level aggregate()
    HOF — executor-local, JVM-side, no UDF; DuckDB mirrors it with
    list_reduce, making a genuinely sequential computation exactly
    differential-testable. At scale the per-key array is bounded by key
    history (fine for ledgers); unbounded histories move to
    applyInPandasWithState (q113's surface) where the clamp folds
    incrementally per micro-batch with the SAME per-key ordering
    contract. Integer deltas (floor) keep the fold exact."""
    e = table(spark, sf_dir, "events")
    deltas = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase", -F.floor("value")
        )
        .otherwise(F.floor("value"))
        .cast("long")
        .alias("delta"),
    )
    return (
        deltas.groupBy("user_id")
        .agg(
            F.expr(
                "aggregate("
                " transform(array_sort(collect_list(struct(ts, event_id, delta))),"
                "           r -> r.delta),"
                " CAST(0 AS BIGINT),"
                " (acc, d) -> greatest(CAST(0 AS BIGINT), acc + d))"
            ).alias("final_balance"),
            F.count("*").cast("long").alias("n_events"),
        )
        .select("user_id", "final_balance", "n_events")
    )


@query(
    "q300_warehouse_build",
    oracle="""
    WITH gate AS (
        SELECT ((SELECT COUNT(*) FROM (
                    SELECT c_custkey FROM customer
                    GROUP BY c_custkey HAVING COUNT(*) > 1))
              + (SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
              + (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
               ) = 0 AS publish
    )
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,4)))
                 AS DOUBLE), 4) AS revenue,
           gate.publish
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    CROSS JOIN gate
    GROUP BY 1, 2, gate.publish
    """,
)
def q300_warehouse_build(spark, sf_dir) -> DataFrame:
    """The reference's DAG shape (extract -> load -> query -> gate ->
    report, mercadolibre_pipeline_dag.py's five tasks) at warehouse
    scale, as ONE lazy plan: the publish GATE is the q296 constraint
    audit's critical rules folded to a single boolean (PK unique, FK
    intact, prices positive — the known-nonzero balance rule is
    monitoring, not gating), and the MART is the month x segment
    revenue rollup (broadcast dim join, decimal-exact money). The gate
    rides every output row the way the reference's ShortCircuitOperator
    gated its report — but here a failed gate still MATERIALIZES the
    mart with publish=false (auditable), rather than silently skipping
    downstream. Composition discipline: each piece is an
    already-oracled kernel (q296's rules, q21's rollup, q06's report
    gate), and the composed oracle replays all of them, so q300 is a
    regression tripwire across the whole stack."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    pk_dupes = c.groupBy("c_custkey").count().filter(F.col("count") > 1)
    # full custkey set: no pinned broadcast — the dim grows with the
    # data; AQE broadcasts from runtime size or shuffles (round-6 audit)
    fk_bad = o.join(
        c.select("c_custkey"),
        o.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    bad_price = o.filter(F.col("o_totalprice") <= 0)
    gate = (
        pk_dupes.agg(F.count("*").alias("a"))
        .crossJoin(fk_bad.agg(F.count("*").alias("b")))
        .crossJoin(bad_price.agg(F.count("*").alias("cnt")))
        .select(
            ((F.col("a") + F.col("b") + F.col("cnt")) == 0).alias("publish")
        )
    )
    mart = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
            .alias("month"),
            "c_mktsegment",
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,4)"))
                .cast("double"),
                4,
            ).alias("revenue"),
        )
    )
    return mart.crossJoin(F.broadcast(gate)).select(
        "month", "c_mktsegment", "n_orders", "revenue", "publish"
    )


# Deterministic typo generator for entity resolution (the fixture has no
# dirty duplicates): every third customer gets a "registration" whose name
# drops one character — the classic fat-finger variant. Same arithmetic
# both engines (q119 discipline).
_ER_TYPO_SQL = (  # drop the character at position (custkey % 5) + 3
    "substr({name}, 1, ({key} % 5) + 2) || substr({name}, ({key} % 5) + 4)"
)


@query(
    "q304_entity_resolution",
    oracle=f"""
    WITH clean AS (
        SELECT c_custkey AS id, c_name AS name FROM customer
    ),
    dirty AS (
        SELECT c_custkey + 1000000 AS id,
               {_ER_TYPO_SQL.format(name='c_name', key='c_custkey')} AS name,
               c_custkey AS true_id
        FROM customer WHERE c_custkey % 3 = 0
    ),
    dirty_k AS (
        -- taildel pass keys: the last-3 window of the name plus the
        -- last-3 window of each variant deleting one of the last 3
        -- chars (deletion-neighborhood / FastSS restricted to the
        -- tail) — formulas char-for-char the kernel's
        SELECT d.*, UNNEST(list_distinct([
            substr(name, greatest(length(name) - 2, 1), 3),
            substr(name, greatest(length(name) - 3, 1), 3),
            substr(name, greatest(length(name) - 3, 1), 2)
                || substr(name, greatest(length(name), 1), 1),
            substr(name, greatest(length(name) - 3, 1), 1)
                || substr(name, greatest(length(name) - 1, 1), 2)
        ])) AS bk
        FROM dirty d
    ),
    clean_k AS (
        SELECT c.*, UNNEST(list_distinct([
            substr(name, greatest(length(name) - 2, 1), 3),
            substr(name, greatest(length(name) - 3, 1), 3),
            substr(name, greatest(length(name) - 3, 1), 2)
                || substr(name, greatest(length(name), 1), 1),
            substr(name, greatest(length(name) - 3, 1), 1)
                || substr(name, greatest(length(name) - 1, 1), 2)
        ])) AS bk
        FROM clean c
    ),
    cand AS (
        -- two-pass suffix + taildel blocking union, mirroring the
        -- kernel default (UNION dedups pairs found by several passes /
        -- several shared keys: the same (dirty, clean) pair always
        -- carries the same dist)
        SELECT d.id AS dirty_id, d.true_id, c.id AS clean_id,
               levenshtein(d.name, c.name) AS dist
        FROM dirty d JOIN clean c
          ON substr(d.name, length(d.name) - 2, 3)
             = substr(c.name, length(c.name) - 2, 3)
         AND abs(length(d.name) - length(c.name)) <= 2
        UNION
        SELECT d.id, d.true_id, c.id, levenshtein(d.name, c.name)
        FROM dirty_k d JOIN clean_k c
          ON d.bk = c.bk
         AND abs(length(d.name) - length(c.name)) <= 2
    ),
    best AS (
        SELECT dirty_id, true_id, clean_id, dist,
               row_number() OVER (PARTITION BY dirty_id
                                  ORDER BY dist, clean_id) AS rn
        FROM cand WHERE dist <= 2
    )
    SELECT dirty_id, clean_id, CAST(dist AS INTEGER) AS dist,
           (clean_id = true_id) AS correct
    FROM best WHERE rn = 1
    """,
)
def q304_entity_resolution(spark, sf_dir) -> DataFrame:
    """ENTITY RESOLUTION — typo-tolerant record matching, the warehouse
    family (MDM / customer-360) the exact-key dedup operators can't
    touch: dirty registrations (deterministic one-character-dropped
    variants of every third customer name) match back to the clean
    master by BLOCKING (the standard trick that turns the O(n*m) fuzzy
    join into per-block candidates) followed by exact LEVENSHTEIN
    distance <= 2 and a deterministic best-match rank. Since round 7 the
    registered default is the kernel's TWO-PASS suffix+taildel union
    (VERDICT r6 #8's completeness ask) — provably complete for any
    single character edit on these names (ops.blocked_levenshtein_match,
    property-tested): the suffix pass (last 3 chars = well-spread
    digits) covers edits before the tail; the taildel pass
    (deletion-neighborhood keys over the last window, the public
    FastSS idea) closes the edits-in-the-tail blind spot with keys
    still drawn from the high-entropy digit tail. Two alternatives
    were implemented, MEASURED, and rejected for this registration:
    suffix+PREFIX (every customer name shares the literal prefix
    'Cus' -> one corpus-sized block, ~75M candidate pairs at sf0.1,
    OOM on a default-heap session, quadratic at scale) and an inner
    end-anchored window at alignments 0/±1 (sub-quadratic but ~10.2M
    candidates at sf0.1 — any window EXCLUDING the tail leaves the
    low 3 digits free, so blocks bottom out ~1000 rows); taildel
    measured ~40x fewer candidates than the latter at identical
    completeness (see ops.py for the proof sketch and numbers).
    The `correct` flag scores the resolver against planted truth IN the
    result — match quality as checkable data (q287's meta-evaluation
    discipline, the recall telemetry kept through the flip). At 100 TB
    the block keys are the join keys (hash-shuffle, per-block-quadratic
    candidates only), and the surviving pair set feeds q111's connected
    components for transitive consolidation. Both engines implement
    levenshtein natively — the oracle is exact and mirrors the union
    pass-for-pass."""
    from .. import ops

    c = table(spark, sf_dir, "customer")
    clean = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    typo = F.expr(
        _ER_TYPO_SQL.format(name="c_name", key="c_custkey")
        .replace("substr", "substring")
        .replace("strlen", "length")
    )
    dirty = c.filter(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + 1000000).alias("id"),
        typo.alias("name"),
    )
    matched = ops.blocked_levenshtein_match(
        dirty,
        clean,
        max_len_diff=2,
        max_dist=2,
        block_chars=3,
        block_passes=("suffix", "taildel"),
    )
    return matched.select(
        "dirty_id",
        F.col("master_id").alias("clean_id"),
        F.col("dist").cast("int").alias("dist"),
        # planted truth: dirty ids are true_id + 1000000 by construction
        (F.col("master_id") == F.col("dirty_id") - 1000000).alias("correct"),
    )


@query(
    "q345_geohash_cell_join",
    oracle=f"""
    WITH pts AS (
        SELECT event_id,
               (user_id % 200) // 30 AS cell_lat,
               ((user_id * 7) % 200) // 40 AS cell_lon,
               {_GEO_LAT_SQL} AS lat, {_GEO_LON_SQL} AS lon
        FROM events WHERE event_id % 20 = 0
    ),
    stores AS (
        SELECT store_id,
               {_STORE_LAT_SQL} AS s_lat, {_STORE_LON_SQL} AS s_lon,
               ((store_id % 5) * 50) // 30 AS s_cell_lat,
               ((store_id // 5) * 50) // 40 AS s_cell_lon
        FROM (SELECT UNNEST(range(0, 20)) AS store_id)
    ),
    expanded AS (
        SELECT s.store_id, s.s_lat, s.s_lon,
               s.s_cell_lat + d1.d AS e_cell_lat,
               s.s_cell_lon + d2.d AS e_cell_lon
        FROM stores s,
             (SELECT UNNEST(range(-1, 2)) AS d) d1,
             (SELECT UNNEST(range(-1, 2)) AS d) d2
    ),
    hits AS (
        SELECT p.event_id, e.store_id, p.cell_lat, p.cell_lon,
               round({_HAV_SQL.format(la1='p.lat', lo1='p.lon',
                                      la2='e.s_lat', lo2='e.s_lon')}, 4)
                   AS dist_km
        FROM pts p JOIN expanded e
          ON p.cell_lat = e.e_cell_lat AND p.cell_lon = e.e_cell_lon
    )
    SELECT event_id, store_id, cell_lat, cell_lon, dist_km FROM hits
    WHERE dist_km <= {_GEO_RADIUS_KM}
    """,
)
def q345_geohash_cell_join(spark, sf_dir) -> DataFrame:
    """GEOHASH-CELL EQUI JOIN — q294's named-but-unregistered 100 TB
    shape (VERDICT r9 #5a): the radius join re-expressed as a pure
    HASH join on integer grid cells so the plan survives a big dim
    side. q294's bounding-box theta join is fine while the store table
    broadcasts, but a theta predicate against a LARGE dim degenerates
    to a nested-loop; gridding both sides into fixed cells and
    exploding the dim into its 3x3 neighborhood turns the same
    candidate generation into a shuffle-on-cell-key equi join —
    exactly q151's interval-bin trick in two dimensions, and the
    standard geo pattern (Uber H3 / S2 cell joins) without a geo lib.

    Coverage proof (no true hit can be lost): 25 km is at most
    0.2249 deg of latitude (<= the 0.30 deg cell height) and at most
    25/(111.19*cos(42 deg)) = 0.3026 deg of longitude at the fixture's
    northernmost latitude (<= the 0.40 deg cell width), and
    |a-b| <= w implies floor(a/w) differs from floor(b/w) by at most
    1, so every true pair lands in the 3x3 neighborhood. Each (point,
    store) pair joins in exactly ONE expanded cell (a point has one
    cell; the neighborhood enumerates distinct cells), so no DISTINCT
    is needed and the exact-haversine filter makes the result
    row-identical to q294's.

    Cross-engine exactness: cells are computed in INTEGER centidegrees
    straight off the id-derived coordinates (user_id % 200 is the
    hundredths-of-a-degree offset by construction), so no float floor
    is ever taken; the only float work is the final haversine, which
    follows q294's proven sin/cos/asin-on-identical-doubles + round(4)
    discipline. At 100 TB both sides hash-partition on (cell_lat,
    cell_lon); cell occupancy is bounded by geography (a city is many
    cells), and a genuinely hot cell splits with AQE skew-join like
    any other hot key — options a theta join never has."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") % 20 == 0)
    pts = e.select(
        "event_id",
        F.expr("(user_id % 200) div 30").alias("cell_lat"),
        F.expr("((user_id * 7) % 200) div 40").alias("cell_lon"),
        F.expr(_GEO_LAT_SQL).alias("lat"),
        F.expr(_GEO_LON_SQL).alias("lon"),
    )
    d = spark.range(-1, 2).select(F.col("id").alias("d"))
    stores = (
        spark.range(0, 20)
        .select(
            F.col("id").alias("store_id"),
            F.expr("40.0 + (id % 5) * 0.5").alias("s_lat"),
            F.expr("-74.0 + CAST(id / 5 AS INT) * 0.5").alias("s_lon"),
            F.expr("((id % 5) * 50) div 30").alias("s_cell_lat"),
            F.expr("((id div 5) * 50) div 40").alias("s_cell_lon"),
        )
        .crossJoin(d.select(F.col("d").alias("dlat")))
        .crossJoin(d.select(F.col("d").alias("dlon")))
        .select(
            "store_id",
            "s_lat",
            "s_lon",
            (F.col("s_cell_lat") + F.col("dlat")).alias("e_cell_lat"),
            (F.col("s_cell_lon") + F.col("dlon")).alias("e_cell_lon"),
        )
    )
    hav = F.expr(
        _HAV_SQL.format(la1="lat", lo1="lon", la2="s_lat", lo2="s_lon")
    )
    return (
        pts.join(
            F.broadcast(stores),
            (F.col("cell_lat") == F.col("e_cell_lat"))
            & (F.col("cell_lon") == F.col("e_cell_lon")),
        )
        .select(
            "event_id",
            "store_id",
            "cell_lat",
            "cell_lon",
            F.round(hav, 4).alias("dist_km"),
        )
        .filter(F.col("dist_km") <= _GEO_RADIUS_KM)
    )
