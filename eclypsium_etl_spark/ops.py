"""Reusable composite operators — the engine's public API.

Each function is a generic ``DataFrame -> DataFrame`` composition of stock
Spark operators (SURVEY.md §4.3: no custom Catalyst rules needed — the
custom work is algorithmic patterns packaged as functions). The checked
queries in operators/ and llm/ are thin instantiations of these against
the fixture tables; users point them at their own tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from . import io


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    suffix: str = "_asof",
    tolerance_s: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts on the same key (backward as-of).

    Implementation is union-tag + running ``last(ignorenulls)`` — ONE
    shuffle on the key and no join at all, which is why it scales where a
    per-row subquery or range join cannot (SURVEY §2.3 q18). A right row
    at exactly left_ts is visible (<=), encoded by sorting right rows
    first among ts ties.

    ``tolerance_s`` bounds the lookback (pandas merge_asof semantics): a
    match older than left_ts − tolerance is masked back to NULL — applied
    as a post-fill projection, so the plan cost is unchanged. (The window
    still carries state per key across the full history; when keys are
    long-lived and tolerance is short, the binned range join is the
    alternative that also bounds state.)
    """
    if value_cols is None:  # explicit [] means "timestamps only", not "all"
        value_cols = [c for c in right.columns if c not in (key, right_ts)]
    # a right value column sharing a left column's name would be MERGED by
    # the union and then dropped with the staging columns — the caller's
    # own data silently destroyed; refuse instead
    collisions = set(value_cols) & set(left.columns)
    if collisions:
        raise ValueError(
            f"asof_join: right value columns collide with left columns "
            f"{sorted(collisions)}; rename them or pass value_cols explicitly"
        )
    lhs = left.withColumn("__side", F.lit(1)).withColumn("__ts", F.col(left_ts))
    rhs = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c) for c in value_cols],
    )
    tagged = lhs.unionByName(rhs, allowMissingColumns=True)
    # right (side=0) sorts before left (side=1) at equal ts → <= semantics
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.select(
        "*",
        *[
            F.last(
                F.when(F.col("__side") == 0, F.col(c)), ignorenulls=True
            ).over(w).alias(f"{c}{suffix}")
            for c in value_cols
        ],
        F.last(
            F.when(F.col("__side") == 0, F.col("__ts")), ignorenulls=True
        ).over(w).alias(f"{right_ts}{suffix}"),
    )
    out = filled.filter(F.col("__side") == 1).drop("__side", "__ts", *value_cols)
    if tolerance_s is not None:
        within = F.col(f"{right_ts}{suffix}") >= F.col(left_ts) - F.expr(
            f"INTERVAL {tolerance_s} SECONDS"
        )
        out = out.select(
            *[
                F.when(within, F.col(c)).alias(c)
                if c in {f"{v}{suffix}" for v in [*value_cols, right_ts]}
                else F.col(c)
                for c in out.columns
            ]
        )
    return out


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], k: int
) -> DataFrame:
    """Deterministic top-k per group (pass total-order order_cols!) — one
    shuffle, per-group heaps; never a global sort (SURVEY §2.6 q37)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_from: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-proof equi join: fact rows get a deterministic salt derived
    from `salt_from`, the dim side explodes ×n_salts, and the join runs on
    (key, salt) so one hot key spreads over n_salts reducers. Results are
    identical to the unsalted join (q84's oracle proves it)."""
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.hash(F.col(salt_from)), F.lit(n_salts)).cast("int")
    )
    return salted_fact.join(salted_dim, [key, "__salt"]).drop("__salt")


def gap_fill(
    df: DataFrame,
    key: str,
    ts_col: str,
    step: str = "INTERVAL 1 DAY",
    agg_cols: dict[str, Column] | None = None,
    ffill_cols: list[str] | None = None,
) -> DataFrame:
    """Resample to a dense per-key time grid (distributed axis generation
    via sequence+explode), zero-filling aggregates and forward-filling the
    named columns (SURVEY-adjacent q89)."""
    bucket = F.date_trunc("day", F.col(ts_col))
    aggs = agg_cols or {"n": F.count("*")}
    sparse = df.groupBy(F.col(key), bucket.alias("__day")).agg(
        *[c.alias(name) for name, c in aggs.items()]
    )
    axis = (
        df.groupBy(key)
        .agg(
            F.date_trunc("day", F.min(ts_col)).alias("__d0"),
            F.date_trunc("day", F.max(ts_col)).alias("__d1"),
        )
        .select(
            key,
            F.explode(F.sequence("__d0", "__d1", F.expr(step))).alias("__day"),
        )
    )
    out = axis.join(sparse, [key, "__day"], "left")
    # the left join leaves gap days NULL — deliver the documented zero-fill
    # (ffill columns are exempt: NULL is what last(ignorenulls) fills over).
    # Zero-fill applies only to NUMERIC aggregates — coalescing a string/
    # struct aggregate with 0 is an analysis error — and the fill literal
    # is cast to the column's own type so decimals/floats keep their type.
    # Caveat (documented contract): a numeric aggregate that is genuinely
    # NULL on a PRESENT day (e.g. sum over all-NULL values) is also
    # zero-filled; callers needing to distinguish should ffill or post-join.
    from pyspark.sql import types as T

    out_types = {f.name: f.dataType for f in out.schema.fields}
    for name in aggs:
        if name not in (ffill_cols or []) and isinstance(
            out_types[name], T.NumericType
        ):
            out = out.withColumn(
                name, F.coalesce(F.col(name), F.lit(0).cast(out_types[name]))
            )
    w = (
        Window.partitionBy(key)
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in ffill_cols or []:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out.withColumnRenamed("__day", "day")


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed global running (prefix) sum in a total order — the
    two-phase scan/prefix-sum that replaces a one-partition
    ``Window.orderBy`` at scale (SURVEY-adjacent; q117's kernel).

    Phases: (1) range-repartition on the order columns so partition i
    holds a contiguous, ascending slice of the order; (2) per-partition
    running sum (an ordinary partitioned window — parallel); (3) collect
    ONE tiny row per partition (its value total), prefix-sum those on the
    driver, and (4) broadcast the per-partition base offsets back and add
    them map-side. The only driver-side data is num_partitions rows — the
    corpus itself never leaves executors.

    The per-partition stage is pinned (io.pin) before the totals are
    read: range-boundary sampling is recomputed per job, so without
    pinning, the totals job and the final job could disagree on
    partition membership and mis-base every row. ``__pid`` is a stored
    COLUMN, so the re-read's own partitioning is irrelevant to
    correctness.

    Takes an INTEGER value column (the base offsets are typed long):
    integer sums are exact and reproduce the single-window result
    bit-for-bit (asserted in tests); for floats, cast to decimal and
    scale to integer units first — the same discipline as everywhere
    else in this engine."""
    reserved = {"__pid", "__run", "__base", "__base_cnt"}
    if out_col in reserved or reserved & set(df.columns):
        raise ValueError(
            f"global_running_sum reserves {sorted(reserved)} internally; "
            f"rename out_col/input columns that collide"
        )
    vtype = dict(df.dtypes).get(value_col)
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        # enforce the documented contract eagerly — otherwise the float
        # leaks into the long-typed base-offset frame and dies later with
        # an unrelatable serializer error
        raise TypeError(
            f"global_running_sum requires an integral value column "
            f"(got {value_col}: {vtype}); scale floats to integer units "
            f"first, e.g. cents: (col * 100).cast('long')"
        )
    spark = df.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
    staged = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = io.pin(staged.withColumn("__run", F.sum(value_col).over(w)), "prefix")
    totals = local.groupBy("__pid").agg(
        F.sum(value_col).alias("__tot"),
        F.count(value_col).alias("__cnt"),
    ).collect()
    acc, acc_cnt = 0, 0
    base_rows = []
    for p, t, n in sorted((r["__pid"], r["__tot"], r["__cnt"]) for r in totals):
        base_rows.append((p, acc, acc_cnt))
        acc += t or 0
        acc_cnt += n
    base = spark.createDataFrame(
        base_rows, "__pid int, __base long, __base_cnt long"
    )
    # NULL semantics must match the single global window EXACTLY: SQL's
    # running SUM is NULL iff every value up to the current row is NULL.
    # The per-partition __run is NULL for a partition-leading run of
    # NULLs even when EARLIER partitions carried values (caught by the
    # null-injection walk — and only when range sampling happens to put
    # a null-value row at a partition head, which is why it flaked), so
    # a NULL __run resolves to the base offset when any prior partition
    # counted a value, and stays NULL only at the true global prefix.
    run_g = (
        F.when(
            F.col("__run").isNull() & (F.col("__base_cnt") == 0),
            F.lit(None).cast("long"),
        )
        .when(F.col("__run").isNull(), F.col("__base"))
        .otherwise(F.col("__run") + F.col("__base"))
    )
    return (
        local.join(F.broadcast(base), "__pid")
        .withColumn(out_col, run_g)
        .drop("__pid", "__run", "__base", "__base_cnt")
    )


def global_running_max(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed global running MAX over STRICTLY-PRECEDING rows in a
    total order — global_running_sum's sibling, and the kernel of the
    skyline/frontier family (q298 → q359): a row's ``out_col`` is the
    max of ``value_col`` over every row earlier in the order, NULL for
    the global first row (exactly ``max(v) OVER (ORDER BY ...
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``).

    Same two-phase shape and the same scratch-pin discipline as
    global_running_sum (range-boundary sampling is recomputed per job;
    without the pin the per-partition job and the totals job could
    disagree on membership): (1) repartitionByRange on the order, (2)
    per-partition strict-preceding running max — an ordinary
    partitioned window, parallel — pinned to disk, (3) ONE tiny row per
    partition (its full max) to the driver, prefix-maxed, (4) broadcast
    base offsets joined back; the global value is greatest(local run,
    base), which Spark's null-skipping greatest resolves correctly at
    every boundary (partition-leading rows have NULL local run; the
    first partition has NULL base). Unlike the sum kernel, max is
    order-insensitive and exact for ANY orderable type — no integral
    restriction. Float NaN follows SPARK ordering (NaN is the greatest
    double, per both MAX and greatest): the driver-side prefix fold
    special-cases NaN so a NaN partition maximum bases every later
    partition, matching what a single unpartitioned window would
    produce (ADVICE r12 — Python's ``nan > x`` is always False, which
    would otherwise silently drop the NaN from the prefix)."""
    import math

    reserved = {"__pid", "__run", "__base"}
    if out_col in reserved or reserved & set(df.columns):
        raise ValueError(
            f"global_running_max reserves {sorted(reserved)} internally; "
            f"rename out_col/input columns that collide"
        )
    spark = df.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
    staged = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = io.pin(staged.withColumn("__run", F.max(value_col).over(w)), "runmax")
    vtype = dict(df.dtypes)[value_col]
    totals = local.groupBy("__pid").agg(F.max(value_col).alias("__tot")).collect()
    def _is_nan(x) -> bool:
        return isinstance(x, float) and math.isnan(x)

    best = None
    base_rows = []
    for p, t in sorted((r["__pid"], r["__tot"]) for r in totals):
        base_rows.append((p, best))
        # Spark max/greatest order: NaN > everything; adopt t when it is
        # NaN (unless best already is), else ordinary Python comparison.
        if t is not None and (
            best is None
            or (_is_nan(t) and not _is_nan(best))
            or (not _is_nan(best) and not _is_nan(t) and t > best)
        ):
            best = t
    base = spark.createDataFrame(base_rows, f"__pid int, __base {vtype}")
    return (
        local.join(F.broadcast(base), "__pid")
        .withColumn(out_col, F.greatest(F.col("__run"), F.col("__base")))
        .drop("__pid", "__run", "__base")
    )


def sessionize(
    df: DataFrame, key: str, ts_col: str, gap: str = "INTERVAL 30 MINUTES",
    tiebreak: str | None = None,
) -> DataFrame:
    """Assign a per-key session id to every row (batch sessionization via
    the lag→flag→running-sum islands algorithm). Boundary matches Spark's
    session_window: a row exactly `gap` after the previous one merges
    (strict > opens a session)."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    new_s = F.when(
        prev.isNull() | (F.col(ts_col) > prev + F.expr(gap)), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", F.sum(new_s).over(wsum))


def dedup_keep_first(
    df: DataFrame, key_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Deterministic dedup: keep the first row per key under an explicit
    total order — what dropDuplicates should be when reruns must agree
    (q62/q85).

    Skew boundary (the q149/q214/q278 audit, round 6): the row_number
    window buffers each duplicate cluster in one task. Clusters here
    are duplicate GROUPS (bounded by how many copies of one content
    exist), not token/gram frequencies, so the idiom holds far further —
    but if a single content can realistically have ~10^8 copies, swap
    to the aggregate form: min_by(struct(order_cols), ...) per key then
    a semi/inner join back, which combines map-side and skew-splits
    under AQE at the cost of a second pass."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cdc_apply(
    log: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Materialize current state from a Debezium-style I/U/D changelog
    (q305's kernel): the latest op per key wins under the total order
    `seq_col` DESC, and a winning tombstone (`op_col == delete_op`)
    removes the key entirely — the delete semantics a plain upsert merge
    (q104) cannot express. One key-hash shuffle for the window; at
    100 TB this is the per-micro-batch foreachBatch merge of a
    streaming CDC sink, partition-pruned to the touched keys. Ties on
    `seq_col` are broken by preferring the tombstone (deterministic:
    a delete and a concurrent update at the same sequence resolve to
    delete on every rerun), then by `op_col` descending, then by every
    remaining payload column descending — a TOTAL order over whole
    rows, so even two rows with identical (key, seq, op) but different
    payloads resolve identically on every rerun (ADVICE r5: without
    the payload tie-break that case was arbitrary per run)."""
    payload_cols = [
        c
        for c in log.columns
        if c not in set(key_cols) | {seq_col, op_col}
    ]
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(seq_col),
        F.desc(F.col(op_col) == delete_op),
        F.desc(op_col),
        *[F.desc_nulls_last(c) for c in payload_cols],
    )
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn")
    )


def similarity_candidates(
    em: DataFrame, tau: float, n_blocks: int | None = None
) -> DataFrame:
    """All-pairs cosine candidates above τ via the executor-side block-grid
    GEMM (q65/q78 kernel): expects (vec_id, embedding) with unit-norm
    embeddings; returns (vec_a, vec_b) with vec_a < vec_b, guaranteed to
    contain every true pair (ε-guard). Verify survivors with an exact
    expression-level dot before trusting scores."""
    from .llm.similarity import grid_gemm_candidates

    return grid_gemm_candidates(em, tau, n_blocks)


def dedup_groups(
    pairs: DataFrame, max_iter: int = 25, algorithm: str = "label"
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b) → dedup groups: connected components,
    each group's min doc_id elected canonical keeper (q111). Feed it any
    pair source — exact-Jaccard (q63), MinHash banding (q71), or embedding
    candidates (similarity_candidates).

    algorithm="label" (default): min-label propagation — one shuffle per
    round, converges in diameter-many rounds; right for the shallow,
    star-like components near-dup corpora produce. algorithm="star":
    large-star/small-star contraction — O(log n) rounds regardless of
    diameter; switch when components may be long chains (e.g. transitive
    near-dup at a loose τ). Both return identical (doc_id, group_id)."""
    if algorithm == "star":
        from .llm.clustering import connected_components_star

        comp = connected_components_star(pairs, max_iter)
    elif algorithm == "label":
        from .llm.clustering import connected_components

        comp = connected_components(pairs, max_iter)
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}: use 'label' or 'star'")
    return comp.withColumn(
        "is_canonical", F.col("doc_id") == F.col("group_id")
    )


def interval_bin_join(
    points: DataFrame,
    intervals: DataFrame,
    point_us: str,
    start_us: str,
    end_us: str,
    bucket_width_us: int,
    how: str = "left",
) -> DataFrame:
    """Range join of points against half-open intervals [start, end) with
    NO equi key — the case where Spark's only native plan is a nested-loop
    (O(|points|·|intervals|)). The scalable shape is time binning: each
    interval explodes to the buckets it covers, each point maps to exactly
    ONE bucket, and the match becomes an equi join on bucket + a residual
    range filter. A (point, interval) pair can meet only in the point's
    bucket, so no post-join dedup is needed. Bucket width should be on the
    order of the typical interval length: an interval spans
    len/width (+1) buckets, so width ≫ len wastes selectivity and
    width ≪ len multiplies the explode.

    Timestamps are epoch-microsecond LONGS (callers convert with
    unix_micros) — integer bucket arithmetic is exact and engine-portable
    where float division is not. Columns from both inputs survive;
    ``how='left'`` keeps unmatched points (interval columns NULL).
    """
    b = int(bucket_width_us)
    # floor division everywhere (true floor, not truncation): the only
    # correctness requirement is that a point's bucket is always among its
    # covering interval's buckets, which holds when all three bounds go
    # through the identical expression
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_us) / b).cast("long"),
                F.floor((F.col(end_us) - 1) / b).cast("long"),
            )
        ),
    )
    pt = points.withColumn("__bucket", F.floor(F.col(point_us) / b).cast("long"))
    cond = (
        (pt["__bucket"] == iv["__bucket"])
        & (iv[start_us] <= pt[point_us])
        & (pt[point_us] < iv[end_us])
    )
    return pt.join(iv, cond, how).drop("__bucket")


def blocked_levenshtein_match(
    dirty: DataFrame,
    master: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_len_diff: int = 2,
    max_dist: int = 2,
    block_chars: int = 3,
    block_passes: tuple[str, ...] = ("suffix", "taildel"),
) -> DataFrame:
    """Typo-tolerant record matching (q304's kernel): resolve each dirty
    row to its best master match by exact Levenshtein distance, with the
    O(n·m) fuzzy join bounded by BLOCKING — candidates must share a
    block key derived from the name and sit within ``max_len_diff`` of
    its length. Returns one row per resolvable dirty id:
    (dirty_id, master_id, dist), best = lowest (dist, master_id) —
    a deterministic keeper election, rerun-identical.

    Contract: complete WITHIN the blocking scheme — a pair whose typo
    falls inside the block key is invisible by design (the standard ER
    recall trade). ``block_passes`` tightens it: each named pass
    contributes an equality-blocked candidate set and the union is
    resolved once. The DEFAULT since round 7 is the TWO-PASS union
    ``("suffix", "taildel")`` (VERDICT r6 #8's completeness ask), which
    is provably COMPLETE for any SINGLE character edit (substitution,
    deletion, OR insertion) on names longer than ``3*block_chars``,
    pinned by the completeness property test:

    - "suffix": last ``block_chars`` chars — covers every edit at
      1-based position p <= len-block_chars (the edit leaves the last
      window's characters contiguous at the end on both sides).
    - "taildel": deletion-neighborhood keys over the tail (the public
      FastSS technique, Bocek et al. 2007, restricted to the last
      window): each name contributes the last-k window of itself plus
      the last-k window of every variant deleting one of the last k
      characters (<= k+1 keys, exploded; one equi-join on the key).
      A tail substitution at distance j shares the delete-j variant,
      a tail deletion's base key IS one of the master's variants, a
      tail insertion's delete-variant restores the master's base key —
      so every tail edit meets an identical key, and every key is
      drawn from the tail's HIGH-entropy characters.

    Two rejected designs, both measured (round 7): the textbook
    "prefix" second pass (still available by name) is equally complete
    but on template-named corpora (every TPC-H customer name starts
    with the literal 'Customer#') its key is ONE corpus-sized block —
    ~75M candidate pairs at sf0.1 (the whole dirty x clean cross
    product inside the length band), OOM on a default-heap session,
    per-block-quadratic at scale. An inner end-anchored window
    (chars [len-5..len-3] matched at alignments 0/±1) fixes the
    quadratic but inherits the tail-excluded window's entropy floor:
    on zero-padded sequential names the low ``block_chars`` digits are
    free inside every such block, so blocks bottom out ~1000 rows and
    the pass measured ~10.2M candidates at sf0.1 (~2000 per dirty row).
    taildel's keys INCLUDE tail characters (minus the edited one),
    escaping that floor: blocks stay suffix-sized and the measured
    candidate set dropped ~40x. Each pass stays an equi-join Catalyst
    hash-shuffles on the block key — no BNL; a genuinely hot key
    AQE-skew-splits into extra tasks, never one unsplittable
    partition.

    SIZE ``block_chars`` TO THE DATA — the key-entropy ceiling: a
    k-char key over an alphabet of size A has at most A^k distinct
    values (digit suffixes: 10^k), so once n >> A^k, block size grows
    ~n/A^k and candidates ~n^2/A^k — quadratic with a small constant.
    The 10x decorrelated proof shards dodge this by construction
    (disjoint per-shard alphabets make blocks MULTIPLY); HOMOGENEOUS
    growth does not, and scripts/scale_proof.py's run_er_entropy
    measures it: at 4x rows over the same digit alphabet,
    block_chars=3 candidates grow ~16x (the 1,000-key ceiling) while
    block_chars=5 stays ~4x (linear), with matches IDENTICAL across
    both settings at both scales — the completeness proof does not
    depend on k (names longer than 3*block_chars), so raising k trades
    nothing but the minimum-name-length bound. Rule of thumb at scale:
    pick block_chars ~ ceil(log_A(n / target_block_size)).

    Caveat measured on the 64x ladder (run_er_ladder): the sizing rule
    governs the SUFFIX pass; taildel's deletion variants forfeit ~one
    digit of key entropy (~n^2/A^(k-1) candidates on digit tails) and
    widening the window only helps where the added positions VARY — on
    zero-padded id-style names bc5 and bc6 produce byte-identical
    candidate sets, because the variant deleting the new digit pulls in
    a constant pad character. taildel is tail-edit INSURANCE: when the
    workload's typo model is known non-tail (OCR'd prefixes, truncated
    exports), pass ``block_passes=("suffix",)`` and pay n candidates,
    not the insurance budget."""
    merged = blocked_candidate_pairs(
        dirty,
        master,
        id_col=id_col,
        name_col=name_col,
        max_len_diff=max_len_diff,
        block_chars=block_chars,
        block_passes=block_passes,
    )
    cand = merged.select(
        "dirty_id",
        "master_id",
        F.levenshtein("__dn", "__mn").alias("dist"),
    )
    w = Window.partitionBy("dirty_id").orderBy("dist", "master_id")
    return (
        cand.filter(F.col("dist") <= max_dist)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def blocked_candidate_pairs(
    dirty: DataFrame,
    master: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_len_diff: int = 2,
    block_chars: int = 3,
    block_passes: tuple[str, ...] = ("suffix", "taildel"),
) -> DataFrame:
    """The candidate stage of blocked_levenshtein_match, exposed so the
    scale proof (scripts/scale_proof.py) measures EXACTLY the pair set
    the kernel scores: the pair-deduped union of every block pass's
    equi-join, as (dirty_id, master_id, __dn, __mn)."""
    from functools import reduce

    d = dirty.select(
        F.col(id_col).alias("dirty_id"), F.col(name_col).alias("__dn")
    )
    m = master.select(
        F.col(id_col).alias("master_id"), F.col(name_col).alias("__mn")
    )

    def sub(col: str, start, length: int):
        # 1-based substring with the start clamped to >= 1 so the key
        # expressions are identical on both engines even for short
        # names — completeness is only CLAIMED for len > 3*block_chars,
        # but the keys must never be undefined
        return F.substring(
            F.col(col), F.greatest(start, F.lit(1)), length
        )

    def taildel_keys(col: str):
        """Deletion-neighborhood keys over the name's tail (the FastSS
        idea — Bocek et al. 2007 — restricted to the last window): the
        last-k window of the string itself plus the last-k window of
        each variant that deletes one of the last k characters. Every
        key is drawn from the tail's high-entropy characters, so blocks
        stay suffix-sized; a single tail edit always leaves one shared
        key (see blocked_levenshtein_match's completeness sketch)."""
        k = block_chars
        length = F.length(col)
        keys = [sub(col, length - (k - 1), k)]  # the base last-k window
        for j in range(k):
            # delete the char at distance j from the end, then take the
            # last k of the result: chars [len-k .. len] minus position
            # len-j == first (k-j) of the window ++ last j chars
            keys.append(
                F.concat(
                    sub(col, length - k, k - j),
                    sub(col, length - (j - 1), j) if j else F.lit(""),
                )
            )
        return F.array_distinct(F.array(*keys))

    def pass_joins(mode: str) -> list:
        band = F.abs(F.length("__dn") - F.length("__mn")) <= max_len_diff
        if mode == "suffix":
            keys = [
                (
                    F.substring("__dn", -block_chars, block_chars),
                    F.substring("__mn", -block_chars, block_chars),
                )
            ]
        elif mode == "prefix":
            keys = [
                (
                    F.substring("__dn", 1, block_chars),
                    F.substring("__mn", 1, block_chars),
                )
            ]
        elif mode == "taildel":
            # one equi-join on the EXPLODED deletion-neighborhood keys
            # of both sides (<= k+1 keys per row), pair-deduped by the
            # multi-pass merge below
            de = d.withColumn("__bk", F.explode(taildel_keys("__dn")))
            me = m.withColumn("__bk", F.explode(taildel_keys("__mn")))
            return [
                de.join(me.withColumnRenamed("__bk", "__bk_m"),
                        (F.col("__bk") == F.col("__bk_m")) & band)
                .select("dirty_id", "master_id", "__dn", "__mn")
                # a pair can meet under several shared keys — dedup here
                # so the pass is exact even when used alone
                .dropDuplicates(["dirty_id", "master_id"])
            ]
        else:
            raise ValueError(f"unknown block pass: {mode!r}")
        return [
            d.join(m, (dk == mk) & band).select(
                "dirty_id", "master_id", "__dn", "__mn"
            )
            for dk, mk in keys
        ]

    cands = [j for p in block_passes for j in pass_joins(p)]
    # single pass keeps the shuffle-free candidate plan; multi-pass
    # unions dedup pairs found by several passes before scoring
    return (
        cands[0]
        if len(cands) == 1
        else reduce(DataFrame.unionByName, cands).dropDuplicates(
            ["dirty_id", "master_id"]
        )
    )


def ntile_from_rn(i: Column, n: Column, k: int) -> Column:
    """Closed-form ntile(k) from a 1-based GLOBAL row number ``i`` and
    total count ``n`` — engine ntile semantics on both Spark and DuckDB:
    the first n mod k buckets take floor(n/k)+1 rows, the rest
    floor(n/k). With a distributed row number (global_running_sum of a
    literal 1) this turns the single-reducer global-ntile window into
    scan-stage integer math — the q350/q355 scale spelling. Returns a
    LONG 1..k. When n < k every row lands in its own bucket (q >= 1 in
    the otherwise-branch whenever any row reaches it, so the integer
    division is safe). All divisions use Spark's integral DIV
    (IntegralDivide, registered as the ``div`` function) — long-exact
    at ANY row count, unlike double-division-then-cast, which silently
    loses integers above 2^53 (ADVICE r11)."""

    def _div(a: Column, b: Column) -> Column:
        return F.call_function("div", a.cast("long"), b.cast("long"))

    kk = F.lit(k).cast("long")
    q = _div(n, kk)  # floor: n, k nonnegative
    r = n % kk
    threshold = r * (q + 1)
    return (
        F.when(i <= threshold, _div(i - 1, q + 1) + 1)
        .otherwise(r + _div(i - threshold - 1, q) + 1)
        .cast("long")
    )
