"""Text-analysis operators — SURVEY.md §2.12 (q66–q68) plus the
training-data-pipeline extensions (q73 language-ID, q74 quality scoring,
q75 token counting, q76 fingerprinting).

All pure expression pipelines: tokenization is split/explode (one shuffle
for corpus-level stats, none for per-doc scores), scoring is arithmetic
over counts. Per-doc operators (q73–q76) are scan-stage map work — at
100 TB they run inside the Parquet scan projection with zero shuffles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import io
from ..functions import davg, davg_sql
from ..io import table, table_spread
from ..registry import ORACLE, query


@query(
    "q66_text_tokenize",
    oracle="""
    SELECT t AS token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
    GROUP BY t
    """,
)
def q66_text_tokenize(spark, sf_dir) -> DataFrame:
    """Tokenization + corpus token stats (word-count shape: explode →
    two-phase hash aggregate)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
    )


@query(
    "q67_text_tfidf",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    """,
)
def q67_text_tfidf(spark, sf_dir) -> DataFrame:
    """TF-IDF: term frequency ⋈ document frequency ⋈ corpus size, smoothed
    idf = ln((N+1)/(df+1)). The corpus size rides along as a cross-joined
    1-row aggregate — the whole query stays one lazy plan (no driver-side
    count action per invocation), and Catalyst broadcasts the single-row
    side automatically. The tf⋈df join carries NO broadcast hint: df is
    vocabulary-sized, which fits a broadcast at fixture scale but outgrows
    the limit at web scale — AQE picks broadcast vs shuffle from the
    actual runtime size (same reasoning as q65's verify join).
    MLlib HashingTF/IDF is the fixed-width variant at vocabulary scale."""
    # NO spread before this token explode, deliberately: the clean-box
    # bench (steal 0.0-0.4%) read 0.82/0.81 s plain vs 0.93/0.86 s with
    # the spread exchange — the single split+explode is cheaper than an
    # extra corpus exchange, because tf/df aggregation shuffles by
    # token/doc anyway and parallelizes there.
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    tfidf = F.round(
        F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
    )
    return (
        tf.join(df, "token")
        .crossJoin(n)
        .select("doc_id", "token", tfidf.alias("tfidf"))
    )


@query(
    "q68_text_lang_stats",
    oracle=f"""
    SELECT lang, source, COUNT(*) AS n_docs,
           {davg_sql('n_chars')} AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def q68_text_lang_stats(spark, sf_dir) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        davg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# Fixed marker tokens per language (mined once from the fixture's vocabulary
# distribution; constants by design — language ID must not depend on the
# data it classifies).
_MARKERS = {
    "de": ("customer", "merge"),
    "en": ("order", "table"),
    "es": ("slow", "agg"),
    "fr": ("scan", "batch"),
    "zh": ("join", "small"),
}


def _marker_count(col_expr: str, words: tuple[str, ...], duck: bool) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    fn = "len(list_filter" if duck else "size(filter"
    return f"{fn}({col_expr}, t -> t IN ({inlist})))"


def _pred_case(scores: dict[str, str]) -> str:
    """Alphabetical-priority argmax as a CASE chain — identical text works
    in both engines, so tie-breaking is identical by construction."""
    langs = sorted(scores)
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"{scores[lang]} >= {scores[other]}" for other in langs[i + 1:]
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


@query(
    "q73_text_langid",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents)
    SELECT doc_id, lang,
           {_pred_case({l: _marker_count('tk', w, duck=True) for l, w in _MARKERS.items()})} AS pred_lang,
           (lang = {_pred_case({l: _marker_count('tk', w, duck=True) for l, w in _MARKERS.items()})}) AS correct
    FROM toks
    """,
)
def q73_text_langid(spark, sf_dir) -> DataFrame:
    """N-gram-heuristic language ID: score each language by its marker-token
    hits, predict the argmax (alphabetical tie-break). Pure per-row
    expressions — scan-stage work, no shuffle."""
    d = table(spark, sf_dir, "documents")
    scores = {
        lang: _marker_count("split(text, ' ')", words, duck=False)
        for lang, words in _MARKERS.items()
    }
    pred = _pred_case(scores)
    return d.select(
        "doc_id",
        "lang",
        F.expr(pred).alias("pred_lang"),
        (F.col("lang") == F.expr(pred)).alias("correct"),
    )


_STOPWORDS = ("a", "the", "data", "value")

# ---- shared stage expressions (q74 quality, q114 mixing) — ONE definition
# each in Spark and SQL so composed pipelines (q116) can't drift from the
# standalone operators they chain.

_STOP_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

# DuckDB twins (expression fragments over a `documents`-shaped relation)
_N_STOP_SQL = (
    f"len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_LIST})))"
)
_QUALITY_SQL = f"""round(0.4 * least(1.0, len(string_split(text, ' ')) / 50.0)
    + 0.3 * (1.0 - CAST({_N_STOP_SQL} AS DOUBLE) / len(string_split(text, ' ')))
    + 0.3 * least(1.0, n_chars / 300.0), 6)"""
_MIX_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|mix1'), 1, 8))"
    " AS BIGINT) % 100"
)
_MIX_RATE_SQL = "CASE WHEN lang = 'en' THEN 50 ELSE 10 END"


def n_tok_col():
    return F.size(F.split("text", " "))


def n_stop_col():
    return F.expr(f"size(filter(split(text, ' '), t -> t IN ({_STOP_LIST})))")


def quality_col():
    """The q74 quality score as a reusable Column (expects text, n_chars)."""
    n_tok = n_tok_col()
    return F.round(
        0.4 * F.least(F.lit(1.0), n_tok / 50.0)
        + 0.3 * (1.0 - n_stop_col().cast("double") / n_tok)
        + 0.3 * F.least(F.lit(1.0), F.col("n_chars") / 300.0),
        6,
    )


def mix_bucket_col():
    """q114's salted hash bucket (expects doc_id)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|mix1"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )


def mix_rate_col():
    """q114's per-stratum sampling rate (expects lang)."""
    return F.when(F.col("lang") == "en", 50).otherwise(10)


@query(
    "q74_text_quality",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, n_chars, text,
               len(string_split(text, ' ')) AS n_tok,
               {_N_STOP_SQL} AS n_stop
        FROM documents
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stop_ratio,
           {_QUALITY_SQL} AS quality
    FROM m
    """,
)
def q74_text_quality(spark, sf_dir) -> DataFrame:
    """Heuristic quality score: length saturation + stopword-ratio penalty
    + char-length saturation, the standard cheap pre-filter in a training
    data pipeline. All divisions act on identical integer operands, so the
    doubles match the oracle bit-for-bit."""
    d = table(spark, sf_dir, "documents")
    stop_ratio = n_stop_col().cast("double") / n_tok_col()
    return d.select(
        "doc_id",
        n_tok_col().cast("long").alias("n_tok"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality_col().alias("quality"),
    )


@query(
    "q75_text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
    FROM documents
    """,
)
def q75_text_token_count(spark, sf_dir) -> DataFrame:
    """Token counting three ways: whitespace split, regex word extraction
    (the BPE-ish pre-tokenizer pattern), and the chars/4 BPE estimate used
    for quick corpus sizing."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws"),
        F.size(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").alias("n_re"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_bpe_est"),
    )


@query(
    "q76_text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(
               generate_series(1, greatest(1, length(text) - 15), 8),
               i -> md5(substring(text, i, 16)))) AS fingerprint
    FROM documents
    """,
)
def q76_text_fingerprint(spark, sf_dir) -> DataFrame:
    """Winnowing-style document fingerprint: md5 over a rolling window of
    16-char substrings (stride 8), keep the minimum — robust to local edits,
    md5 keeps it engine-portable. Per-row expression work, no shuffle."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(
            "array_min(transform("
            " sequence(1, greatest(1, length(text) - 15), 8),"
            " i -> md5(substring(text, i, 16))))"
        ).alias("fingerprint"),
    )


@query(
    "q114_stratified_sample",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang, source, n_chars,
               {_MIX_BUCKET_SQL} AS bucket,
               {_MIX_RATE_SQL} AS rate
        FROM documents
    )
    SELECT doc_id, lang, source, n_chars FROM h WHERE bucket < rate
    """,
)
def q114_stratified_sample(spark, sf_dir) -> DataFrame:
    """Deterministic stratified sampling for data mixing: per-stratum
    rates (here 50% en / 10% other) applied via a salted content hash —
    NOT rand(). Hash-bucket sampling is the reproducible form a training
    pipeline needs: rerun-stable, cluster-size-independent, joinable
    (the same doc always lands in or out), and rate changes are monotone
    (raising 10→20 only ADDS docs — incremental mixes stay supersets).
    Per-row expression work, zero shuffles; md5 keeps it engine-portable."""
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("bucket", mix_bucket_col())
        .withColumn("rate", mix_rate_col())
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "q116_curation_pipeline",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, text, lang, n_chars,
               {_QUALITY_SQL} AS quality
        FROM documents
    ),
    good AS (SELECT * FROM q WHERE quality >= 0.5),
    canon AS (
        SELECT doc_id, lang, n_chars, quality FROM (
            SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM good
        ) WHERE rn = 1
    )
    SELECT doc_id, lang, n_chars, quality FROM canon
    WHERE {_MIX_BUCKET_SQL} < {_MIX_RATE_SQL}
    """,
)
def q116_curation_pipeline(spark, sf_dir) -> DataFrame:
    """The curation steps COMPOSED as one lazy plan — quality gate →
    canonical exact-dedup → deterministic stratified sample — the way a
    real corpus build chains them. Every stage reuses the SAME expression
    definition as its standalone operator (quality_col/q74,
    ops.dedup_keep_first/q62, mix_bucket_col+mix_rate_col/q114) in both
    engines, so the composition cannot drift from the pieces. One plan
    means Catalyst pushes the quality projection into the scan, the dedup
    shuffle is the only exchange, and the hash sample is a zero-shuffle
    filter on top — no intermediate materialization between stages."""
    from .. import ops

    d = table(spark, sf_dir, "documents")
    good = d.withColumn("quality", quality_col()).filter(F.col("quality") >= 0.5)
    canon = ops.dedup_keep_first(good, ["text"], [F.asc("doc_id")])
    return canon.filter(mix_bucket_col() < mix_rate_col()).select(
        "doc_id", "lang", "n_chars", "quality"
    )


_PACK_CAPACITY = 2048  # tokens per training sequence/bin


@query(
    "q117_sequence_pack",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, lang, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tok AS tok_start
        FROM t
    )
    SELECT doc_id, lang, n_tok,
           CAST(floor(tok_start / {_PACK_CAPACITY}) AS BIGINT) AS bin_id,
           CAST(tok_start % {_PACK_CAPACITY} AS BIGINT) AS bin_offset
    FROM c
    """,
)
def q117_sequence_pack(spark, sf_dir) -> DataFrame:
    """Sequence packing for training shards: lay documents head-to-tail in
    doc_id order and assign each to the fixed-capacity bin where its first
    token lands (contiguous streaming packing — deterministic, exactly
    what a tokenizer-side packer does; docs straddling a boundary spill
    into the next bin at materialization time).

    The running token total uses ops.global_running_sum — the two-phase
    scan/prefix-sum (range repartition → parallel per-partition windows →
    driver prefix over one tiny row per partition → map-side base add) —
    NOT a one-partition global window, so the plan has no single-task
    bottleneck at 100 TB. Integer token counts sum exactly, so the
    distributed form is bit-identical to the single-window statement of
    the semantics (equivalence asserted in tests/test_ops_properties.py)
    and the oracle is unchanged."""
    from .. import ops

    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    t = d.select("doc_id", "lang", n_tok.alias("n_tok"))
    c = ops.global_running_sum(t, ["doc_id"], "n_tok", "__end").withColumn(
        "tok_start", F.col("__end") - F.col("n_tok")
    )
    return c.select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor(F.col("tok_start") / _PACK_CAPACITY).cast("long").alias("bin_id"),
        (F.col("tok_start") % _PACK_CAPACITY).alias("bin_offset"),
    )


# ---- PII redaction (q119) ----------------------------------------------
# The fixture corpus is synthetic word soup with no PII, so the operator
# augments each doc with DETERMINISTIC synthetic PII derived from doc_id
# (identically in Spark and the oracle) before redacting — otherwise the
# differential test would only ever prove "zero matches stay zero". The
# redaction kernel itself (pattern → placeholder, per-doc match counts) is
# exactly what runs on real data.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.' || CAST((doc_id * 7) % 200 AS VARCHAR)"
    " || '.' || CAST((doc_id * 13) % 250 AS VARCHAR)"
)


@query(
    "q119_pii_redact",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, {_PII_AUG_SQL} AS raw FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(regexp_replace(raw, '{_PII_EMAIL}', '[EMAIL]', 'g'), '{_PII_IP}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(raw, '{_PII_EMAIL}', '[EMAIL]', 'g'), '{_PII_IP}', '[IP]', 'g') AS redacted
    FROM aug
    """,
)
def q119_pii_redact(spark, sf_dir) -> DataFrame:
    """PII scrubbing: regex-redact emails then IPv4 addresses to typed
    placeholders, counting matches per doc — the compliance pass every
    web-scale training corpus runs before anything else touches the text.

    Pure scan-stage expression work (regexp_replace / regexp_count are
    JVM codegen'd): zero shuffles, runs inside the Parquet scan projection
    at any scale. Order matters and is part of the contract: emails are
    redacted FIRST so the IP pass can't partially eat a dotted domain;
    n_ips is counted on the email-redacted string for the same reason.
    Patterns are RE2-safe (no backtracking constructs), so Java regex and
    the oracle's RE2 agree; both engines see the same deterministic
    augmented input (see _PII_AUG_SQL note above)."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 7) % 200).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 13) % 250).cast("string"),
    )
    no_email = F.regexp_replace(raw, _PII_EMAIL, "[EMAIL]")
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(_PII_IP)).alias("n_ips"),
        F.regexp_replace(no_email, _PII_IP, "[IP]").alias("redacted"),
    )


# ---- domain/source rebalancing (q122) ----------------------------------
_BAL_CAP = 30  # per-source keep cap at fixture scale


@query(
    "q122_domain_rebalance",
    oracle=f"""
    SELECT doc_id, source, pick_rank FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || '|bal'), doc_id
               ) AS BIGINT) AS pick_rank
        FROM documents
    ) WHERE pick_rank <= {_BAL_CAP}
    """,
)
def q122_domain_rebalance(spark, sf_dir) -> DataFrame:
    """Domain-mix rebalancing: cap every source's contribution at an exact
    per-source quota, picking survivors in deterministic md5 order (a
    rerun-stable uniform shuffle within each source, independent of input
    order — the same salted-hash discipline as q114's mixing buckets).

    Exact-cap via per-source row_number, the q37 top-k shape. Scale note:
    source cardinality is LOW (tens of domains over 100 TB), so a naive
    per-source window is a handful of giant partitions; the scale path is
    two-level — row_number within (source, salt) buckets, keep the
    cheapest `cap` across buckets by re-ranking the per-bucket survivors
    (bounded at salt×cap rows per source) — or, when an approximate cap
    suffices, q114's pure hash-threshold rate (zero sort, zero skew).
    The fixture-scale window states the exact semantics those must match."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|bal")))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        d.select("doc_id", "source", F.row_number().over(w).cast("long").alias("pick_rank"))
        .filter(F.col("pick_rank") <= _BAL_CAP)
    )


# ---- within-doc repetition quality (q123) ------------------------------
@query(
    "q123_quality_repetition",
    oracle="""
    WITH bg AS (
        SELECT doc_id, UNNEST(
            CASE WHEN len(string_split(text, ' ')) >= 2 THEN
                list_transform(range(1, len(string_split(text, ' '))),
                               i -> string_split(text, ' ')[i] || ' ' ||
                                    string_split(text, ' ')[i + 1])
            ELSE [] END) AS b
        FROM documents
    ),
    c AS (SELECT doc_id, b, COUNT(*) AS f FROM bg GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(SUM(f) AS BIGINT) AS n_bigrams,
           COUNT(*) AS n_distinct_bigrams,
           MAX(f) AS top_bigram_freq,
           round(1.0 - COUNT(*) / CAST(SUM(f) AS DOUBLE), 6) AS rep_ratio
    FROM c GROUP BY doc_id
    """,
)
def q123_quality_repetition(spark, sf_dir) -> DataFrame:
    """Within-document repetition scoring: bigram duplication ratio — the
    standard heuristic for machine-generated/boilerplate text (a doc whose
    bigrams are mostly repeats of a few phrases scores near 1). Emits the
    raw counts too, so downstream filters can pick their own thresholds.

    Plan: bigrams are built JVM-side from ONE split (transform over an
    index sequence — no self-join of the token explode), then a two-phase
    count on (doc_id, bigram) and a per-doc rollup. Both keys contain
    doc_id, so at scale the second aggregate is a near-local regroup of
    the first's output partitioning. The size()>=2 guard exists because
    Spark's sequence(1, n) with n <= 0 yields a DESCENDING array, not an
    empty one."""
    d = table(spark, sf_dir, "documents")
    bigrams = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 2 THEN"
        " transform(sequence(1, size(split(text, ' ')) - 1),"
        "           i -> concat(element_at(split(text, ' '), i), ' ',"
        "                       element_at(split(text, ' '), i + 1)))"
        " ELSE array() END"
    )
    c = (
        d.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("f"))
    )
    return c.groupBy("doc_id").agg(
        F.sum("f").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        F.max("f").alias("top_bigram_freq"),
        F.round(1.0 - F.count("*") / F.sum("f").cast("double"), 6).alias("rep_ratio"),
    )


# ---- deterministic weighted sampling (q125) ----------------------------
@query(
    "q125_sample_weighted",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, {_QUALITY_SQL} AS quality,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|samp'), 1, 8))
                    AS BIGINT) / 4294967296.0 AS draw
        FROM documents
    )
    SELECT doc_id, quality, draw FROM scored WHERE draw < quality
    """,
)
def q125_sample_weighted(spark, sf_dir) -> DataFrame:
    """Quality-weighted corpus sampling: keep each doc with probability
    equal to its q74 quality score, using a DETERMINISTIC per-doc uniform
    draw (md5 of a salted doc_id, first 8 hex digits / 2^32) instead of
    rand() — reruns, retries, and both engines agree row-for-row, which
    rand() can never give a differential test or an idempotent pipeline.

    Zero shuffles: score and draw are scan-stage expressions, the filter
    is pushed into the scan projection. The draw is independent of the
    score's inputs (different salt than q114's mixing buckets, so sampling
    composes with mixing without correlation). int/2^32 is exact in a
    double, so the comparison is bit-identical cross-engine."""
    d = table(spark, sf_dir, "documents")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|samp"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return (
        d.select("doc_id", quality_col().alias("quality"), draw.alias("draw"))
        .filter(F.col("draw") < F.col("quality"))
    )


# ---- count-min-sketch heavy hitters (q128) -----------------------------
_CMS_D = 3      # hash rows
_CMS_W = 1024   # counters per row
_CMS_FRAC = 64  # heavy hitter: true count > corpus_tokens / _CMS_FRAC

_CMS_POS_SQL = (
    f"CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || '|' || t), 1, 8))"
    f" AS BIGINT) % {_CMS_W}"
)


@query(
    "q128_heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY t),
    total AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM cnt),
    pos AS (
        SELECT t, n, j, {_CMS_POS_SQL} AS p
        FROM cnt, UNNEST([1, 2, 3]) AS u(j)
    ),
    counters AS (SELECT j, p, CAST(SUM(n) AS BIGINT) AS c FROM pos GROUP BY j, p),
    est AS (
        SELECT pos.t, MIN(c.c) AS est_n
        FROM pos JOIN counters c ON c.j = pos.j AND c.p = pos.p
        GROUP BY pos.t
    )
    SELECT cnt.t AS token, cnt.n AS true_n, est.est_n AS est_n,
           est.est_n >= cnt.n AS never_undercounts
    FROM cnt JOIN est ON est.t = cnt.t CROSS JOIN total
    WHERE cnt.n * {_CMS_FRAC} > total.tot
    """,
)
def q128_heavy_hitters_cms(spark, sf_dir) -> DataFrame:
    """Heavy-hitter detection by count-min sketch — the frequency sketch
    that completes the engine's sketch family (HLL q23, Bloom q124,
    MinHash q71, SimHash q70): d×w integer counters replace a
    vocabulary-sized exact count, with one-sided error (estimates never
    undercount; overcount bounded by collisions ≤ tot/w per row, take the
    min across d rows).

    The md5 probe family makes the sketch bit-identical cross-engine, so
    the approximate structure has an EXACT differential oracle — and the
    emitted never_undercounts boolean states CMS's guarantee as data the
    hash check verifies. Exact counts ride along as the in-query
    verification (affordable at check scale; at 100 TB you'd ship only
    the d×w counter grid, which is why the sketch exists). The corpus
    total arrives as a cross-joined 1-row aggregate — no driver-side
    count action (the q67 discipline). Scale shape: one token shuffle for
    counts; the counter grid is ≤ d·w rows — broadcastable at ANY corpus
    size — and the heavy-hitter filter bounds the estimate join."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    cnt = tok.groupBy("t").agg(F.count("*").alias("n"))
    total = cnt.agg(F.sum("n").cast("long").alias("tot"))
    js = F.explode(F.array(*[F.lit(j) for j in range(1, _CMS_D + 1)])).alias("j")
    pos = cnt.select(
        "t", "n", js
    ).withColumn(
        "p",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit("|"), F.col("t"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % _CMS_W,
    )
    counters = pos.groupBy("j", "p").agg(F.sum("n").cast("long").alias("c"))
    est = (
        pos.join(F.broadcast(counters), ["j", "p"])
        .groupBy("t")
        .agg(F.min("c").alias("est_n"))
    )
    return (
        cnt.join(est, "t")
        .crossJoin(total)
        .filter(F.col("n") * _CMS_FRAC > F.col("tot"))
        .select(
            F.col("t").alias("token"),
            F.col("n").alias("true_n"),
            "est_n",
            (F.col("est_n") >= F.col("n")).alias("never_undercounts"),
        )
    )


# ---- temperature-scaled mixture weights (q131) -------------------------
_MIX_BUDGET = 100_000  # token budget the mixture allocates across sources


@query(
    "q131_mixture_temperature",
    oracle=f"""
    WITH s AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    sw AS (SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS w_raw FROM s),
    t AS (SELECT list_sum(list(w_raw ORDER BY source)) AS tot FROM sw)
    SELECT source, n_docs, n_tokens,
           round(w_raw / t.tot, 9) AS weight,
           CAST(floor(w_raw / t.tot * {_MIX_BUDGET} + 0.5) AS BIGINT)
               AS target_tokens,
           round(floor(w_raw / t.tot * {_MIX_BUDGET} + 0.5) / n_tokens, 6)
               AS epochs
    FROM sw CROSS JOIN t
    """,
)
def q131_mixture_temperature(spark, sf_dir) -> DataFrame:
    """Temperature-scaled source mixing (the mT5/PaLM recipe, Xue et al.
    2021 §3.1): sampling weight w_s ∝ n_s^α with α = 0.5, so small
    sources are upsampled and giant ones downweighted relative to
    proportional mixing. Sized by TOKENS (doc counts mislead when doc
    length varies by source); emits the normalized weight, the token
    allocation under a fixed budget, and the implied epochs per source —
    the three numbers a training-mixture config actually needs.

    Cross-engine discipline: the weight denominator Σ n_s^α is a sum of
    doubles, order-dependent in general — so it is folded LEFT over the
    source-sorted list (collect_list → array_sort → aggregate; DuckDB:
    list(ORDER BY) → list_sum), identical operands in identical order ⇒
    bit-identical totals. Legal because source cardinality is tiny by
    definition (tens of domains over 100 TB — the one place collect_list
    is the RIGHT scale call); the heavy work is the per-source token
    count, one partial-agg shuffle of (source, long). The budget split
    uses floor(x + 0.5) — exact on doubles, no HALF_UP-vs-banker's
    hazard (the q121 discipline)."""
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    sw = s.withColumn("w_raw", F.sqrt(F.col("n_tokens").cast("double")))
    tot = sw.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("source").alias("s"), F.col("w_raw").alias("w")))
            ),
            F.lit(0.0),
            lambda acc, v: acc + v["w"],
        ).alias("tot")
    )
    target = F.floor(F.col("w_raw") / F.col("tot") * _MIX_BUDGET + 0.5).cast("long")
    return sw.crossJoin(tot).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("w_raw") / F.col("tot"), 9).alias("weight"),
        target.alias("target_tokens"),
        F.round(target.cast("double") / F.col("n_tokens"), 6).alias("epochs"),
    )


# ---- deterministic train/val/test split (q132) -------------------------
_SPLIT_SALT = "split-v1"  # version the salt ⇒ version the split
_SPLIT_SQL = (
    f"CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|{_SPLIT_SALT}'),"
    f" 1, 8)) AS BIGINT) % 100"
)


@query(
    "q132_split_assign",
    oracle=f"""
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
    FROM (SELECT doc_id, lang, {_SPLIT_SQL} AS bucket FROM documents)
    """,
)
def q132_split_assign(spark, sf_dir) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted content
    hash — the split that stays stable under reruns, repartitioning, and
    corpus growth (a doc's split NEVER changes when other docs are added,
    which row_number- or rand()-based splits cannot promise). The salt
    versions the split: bump it and the whole corpus re-splits
    independently of q114/q125's sampling hashes (independent salts ⇒
    independent uniform draws).

    Pure scan-stage expression work: zero shuffle, filter-pushable, and
    at 100 TB each split materializes as a partition-pruned write. The
    md5-bucket family is the same as q114's mixing (one discipline,
    different salt)."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"|{_SPLIT_SALT}"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 100
    )
    return d.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# ---- unigram-LM surprisal scoring (q133) -------------------------------
@query(
    "q133_perplexity_unigram",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (SELECT t, COUNT(*) AS n_t FROM tok GROUP BY t),
    tt AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM cnt
    )
    SELECT tok.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
           round(CAST(SUM(CAST(-ln((cnt.n_t + 1.0) / (tt.tot + tt.vocab))
                              AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
               AS mean_surprisal
    FROM tok JOIN cnt ON cnt.t = tok.t CROSS JOIN tt
    GROUP BY tok.doc_id
    """,
)
def q133_perplexity_unigram(spark, sf_dir) -> DataFrame:
    """Language-model quality filtering, CCNet-style, with the LM the
    engine can train in-query: a unigram model with add-1 smoothing over
    the corpus itself. Per-doc mean token surprisal −ln p(t) is the
    perplexity proxy (monotone in it) — docs far above the corpus median
    are line noise, far below are boilerplate; both ends get filtered in
    a real pipeline (the thresholds stay downstream policy, the score is
    emitted for every doc).

    Cross-engine discipline: ln on identical doubles agrees (the q67
    precedent); the per-doc MEAN of surprisals is a float sum, so each
    term is cast to DECIMAL(28,12) first — exact, order-independent
    summation (the functions.dsum discipline; 12 decimals ≪ the 17th
    significant digit where double reprs diverge). Plan: one token-count
    shuffle (vocab-sized values), one shuffle join of tokens against
    their counts keyed on the token, one per-doc rollup; corpus totals
    fold in as a cross-joined 1-row aggregate — fully lazy."""
    # NO spread before this token explode, deliberately: the clean-box
    # bench read 0.70/0.65 s plain vs 0.80/0.70 s spread — both consumers
    # re-shuffle by token/doc immediately, so the guard only added an
    # exchange.
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    cnt = tok.groupBy("t").agg(F.count("*").alias("n_t"))
    tt = cnt.agg(
        F.sum("n_t").cast("long").alias("tot"),
        F.count("*").cast("long").alias("vocab"),
    )
    surprisal = -F.log(
        (F.col("n_t") + 1.0) / (F.col("tot") + F.col("vocab"))
    )
    return (
        tok.join(cnt, "t")
        .crossJoin(tt)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.round(
                F.sum(surprisal.cast("decimal(28,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_surprisal"),
        )
    )


# ---- canonical text normalization (q135) -------------------------------
@query(
    "q135_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS norm_hash,
           length(text) - length(trim(regexp_replace(lower(text), ' +', ' ', 'g')))
               AS n_removed
    FROM documents
    """,
)
def q135_text_normalize(spark, sf_dir) -> DataFrame:
    """Canonical text normalization — the cleaning step that runs BEFORE
    every hash-based dedup so trivially-different copies (case, runs of
    whitespace) collide: lowercase, collapse whitespace runs, trim, and
    emit the normalized content hash (the key q62/q102/q134 would group
    on in a real pipeline — normalization and dedup compose as
    norm_hash → ops.dedup). n_removed audits how much the normalizer
    changed, so a corpus where normalization is destructive gets noticed.

    Unicode note: full NFC/NFKC folding needs ICU, absent here — the
    kernel is the ASCII subset both engines implement identically; the
    NFC pass would slot into the same expression (Spark 4 has no builtin
    NFC; production adds a pandas_udf with unicodedata). Pure scan-stage
    expression work: zero shuffle, JVM regexp, no UDF."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), " +", " "))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_hash"),
        (F.length("text") - F.length(norm)).alias("n_removed"),
    )


# ---- Unicode NFC normalization (q261) ----------------------------------
# NFC-divergent building blocks: decomposed sequences (base + combining
# mark) that canonical composition rewrites to single codepoints. Embedded
# as literals on BOTH engines so the normalizers face identical input.
_NFC_DECOMP = " Cafe\u0301 A\u030angstro\u0308m no\u0303"  # é Å ö õ


@query(
    "q261_unicode_nfc",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               substr(text, 1, 24) || '{_NFC_DECOMP}' AS raw_text
        FROM documents
    )
    SELECT doc_id,
           nfc_normalize(raw_text) AS nfc_text,
           md5(nfc_normalize(raw_text)) AS nfc_hash,
           CAST(length(raw_text) AS INT) AS len_raw,
           CAST(length(nfc_normalize(raw_text)) AS INT) AS len_nfc,
           length(raw_text) <> length(nfc_normalize(raw_text)) AS changed
    FROM raw
    """,
)
def q261_unicode_nfc(spark, sf_dir) -> DataFrame:
    """Unicode NFC normalization — the canonicalization layer q135's
    docstring deferred (VERDICT r3 #8): text arriving from different
    sources encodes the same glyphs differently (e-acute as one codepoint
    or as e + combining acute), so hash-based dedup misses duplicates
    until codepoint sequences are canonically composed. Spark 4 has no
    NFC builtin, so the normalizer is a pandas_udf over stdlib
    unicodedata (Arrow-batched — the sanctioned slow path); DuckDB
    checks it with its native nfc_normalize. Every row is made
    NFC-DIVERGENT by appending decomposed sequences, so the pass is
    exercised on content where NFC actually rewrites bytes: length
    shrinks by 4 per row (four compositions) and the md5 is over
    composed bytes — an engine skipping normalization fails both.
    Scan-stage: zero shuffle; at 100 TB this rides the ingest scan."""
    import unicodedata

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda t: unicodedata.normalize("NFC", t))

    d = table(spark, sf_dir, "documents")
    raw = F.concat(F.substring("text", 1, 24), F.lit(_NFC_DECOMP))
    out = d.select("doc_id", raw.alias("raw_text")).withColumn(
        "nfc_text", nfc("raw_text")
    )
    return out.select(
        "doc_id",
        "nfc_text",
        F.md5("nfc_text").alias("nfc_hash"),
        F.length("raw_text").cast("int").alias("len_raw"),
        F.length("nfc_text").cast("int").alias("len_nfc"),
        (F.length("raw_text") != F.length("nfc_text")).alias("changed"),
    )


_BOILER_N = 6       # boilerplate gram width
_BOILER_MIN_DF = 5  # grams in ≥ this many docs OF THE SAME SOURCE are boilerplate
_BOILER_GRAMS_DUCK = (
    f"list_distinct(list_transform(generate_series(1, len(toks) - {_BOILER_N - 1}),"
    f" i -> array_to_string(list_slice(toks, i, i + {_BOILER_N - 1}), ' ')))"
)
_BOILER_GRAMS_SPARK = (
    f"CASE WHEN size(toks) >= {_BOILER_N} THEN array_distinct("
    f"  transform(sequence(1, size(toks) - {_BOILER_N - 1}),"
    f"    i -> concat_ws(' ', slice(toks, i, {_BOILER_N}))))"
    f" ELSE array() END"
)


@query(
    "q149_boilerplate_grams",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id, source, unnest({_BOILER_GRAMS_DUCK}) AS gram FROM t),
    boiler AS (
        SELECT source, gram FROM g
        GROUP BY source, gram
        HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DF}
    ),
    per_doc AS (
        SELECT g.doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        FROM g LEFT JOIN boiler b USING (source, gram)
        GROUP BY g.doc_id
    )
    SELECT d.doc_id, d.source,
           COALESCE(p.n_grams, 0) AS n_grams,
           CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           round(CASE WHEN COALESCE(p.n_grams, 0) > 0
                      THEN COALESCE(p.n_boiler, 0) / p.n_grams
                      ELSE 0.0 END, 6) AS boiler_frac
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def q149_boilerplate_grams(spark, sf_dir) -> DataFrame:
    """Intra-source boilerplate detection (the C4/RefinedWeb cleaning
    heuristic): an n-gram repeated across ≥ K documents of the SAME
    source (site) is template text — nav bars, footers, cookie banners —
    and each doc is scored by the fraction of its grams that are
    boilerplate. Differs from q140 (overlap vs a FIXED eval set,
    broadcast join) in that the reference set is discovered from the
    corpus itself, per source.

    Scale shape: gram document-frequency is one groupBy keyed on
    (source, gram) — the shuffle carries distinct grams, not documents —
    and the verdict join is keyed the same way, so both co-partition; a
    source-keyed layout makes the whole thing shuffle-local. The
    boilerplate table is NOT broadcast: it's corpus-derived and grows
    with source count, exactly the case q67's TF-IDF fix documents (let
    AQE decide). Deliberately NOT the one-pass window fusion
    (count(*) over (source, gram) on the exploded stream): measured
    ~40% faster at bench scale (one explode instead of two — DataFrame
    subtrees don't share), but a window partition is unsplittable, so
    one hot template gram on one giant source concentrates all its
    occurrences into a single task at 100 TB. The two-pass spelling
    keeps the df aggregate map-side-combined (skew-immune) and the
    join under AQE's skew-split — the bench seconds are the price of
    the bounded worst case."""
    # spread before tokenize+gram explode (io.spread, guide §2.5): the
    # gram stream is built twice (df pass + verdict probe) and the
    # single-row-group fixture scan would run both builds in one task.
    d = table_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    )
    g = d.select(
        "doc_id", "source", F.explode(F.expr(_BOILER_GRAMS_SPARK)).alias("gram")
    )
    # grams are per-doc DISTINCT (array_distinct upstream), so
    # (doc_id, source, gram) rows are unique and COUNT(*) ≡
    # COUNT(DISTINCT doc_id) — the plain count skips the distinct
    # aggregate's Expand + second shuffle the oracle's spelling implies
    boiler = (
        g.groupBy("source", "gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _BOILER_MIN_DF)
        .select("source", "gram", F.lit(1).alias("hit"))
    )
    per_doc = (
        g.join(boiler, ["source", "gram"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_boiler"),
        )
    )
    frac = F.when(
        F.col("n_grams") > 0, F.col("n_boiler") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).cast("long").alias("n_boiler"),
            F.round(frac, 6).alias("boiler_frac"),
        )
    )


_ZIPF_TOP = 200  # fit the head of the rank-frequency curve


@query(
    "q150_zipf_fit",
    oracle=f"""
    WITH freq AS (
        SELECT t AS token, COUNT(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t
    ),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank
        FROM freq
    ),
    pts AS (
        SELECT log10(CAST(rank AS DOUBLE)) AS x, log10(CAST(n AS DOUBLE)) AS y
        FROM ranked WHERE rank <= {_ZIPF_TOP}
    ),
    s AS (
        SELECT COUNT(*) AS m,
               CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT m AS n_points,
           round((sxy - sx * sy / m) / (sxx - sx * sx / m), 6) AS zipf_slope,
           round(sy / m - (sxy - sx * sy / m) / (sxx - sx * sx / m) * sx / m, 6)
               AS zipf_intercept
    FROM s
    """,
)
def q150_zipf_fit(spark, sf_dir) -> DataFrame:
    """Zipf's-law fit over the corpus token distribution: OLS slope of
    log10(freq) on log10(rank) for the top-200 tokens — the one-number
    health check for a pretraining corpus (natural text ≈ −1; a synthetic
    or template-heavy corpus drifts toward 0 or oscillates). Counting is
    the q66 word-count aggregate; ranking the head is a TakeOrdered-sized
    window (only top-k rows survive the rank filter); the fit is a 5-sum
    decimal aggregate over 200 points — nothing after the token count
    exceeds kilobytes, regardless of corpus size. Log inputs are doubles
    computed identically on both engines; the decimal sums make the tiny
    regression order-independent."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    pts = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ZIPF_TOP)
        .select(
            F.log10(F.col("rank").cast("double")).alias("x"),
            F.log10(F.col("n").cast("double")).alias("y"),
        )
    )
    dec = "decimal(28,10)"
    s = pts.agg(
        F.count("*").alias("m"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
    )
    m, sx, sxx = F.col("m"), F.col("sx"), F.col("sxx")
    sy, sxy = F.col("sy"), F.col("sxy")
    slope = (sxy - sx * sy / m) / (sxx - sx * sx / m)
    return s.select(
        m.alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(sy / m - slope * sx / m, 6).alias("zipf_intercept"),
    )


# top-p (nucleus) corpus selection: keep each source's best docs until the
# kept set holds _TOPP_NUM/_TOPP_DEN of the source's tokens (exact integer
# threshold compare — no float at the boundary)
_TOPP_NUM, _TOPP_DEN = 4, 5


@query(
    "q154_nucleus_topp",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               {_QUALITY_SQL} AS quality
        FROM documents
    ),
    w AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n_tok) OVER (PARTITION BY source) AS total,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rnk
        FROM q
    )
    SELECT doc_id, source, n_tok, rnk,
           round(CAST(cum AS DOUBLE) / total, 6) AS cum_share
    FROM w
    WHERE (cum - n_tok) * {_TOPP_DEN} < total * {_TOPP_NUM}
    """,
)
def q154_nucleus_topp(spark, sf_dir) -> DataFrame:
    """Top-p (nucleus) corpus selection: per source, rank docs by quality
    and keep the head until it holds p = 80% of the source's tokens —
    the budgeted-quality cut that drops each domain's worst tail without
    fixed per-domain quotas (q122) or a global rate (q125). Both window
    sums share ONE source-keyed exchange; the p boundary is compared in
    exact integer arithmetic (cum·5 < total·4), so the kept set is
    bit-deterministic on both engines — a float share at the boundary
    would not be. The crossing doc is kept (standard nucleus semantics:
    smallest set whose share ≥ p)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        n_tok_col().cast("long").alias("n_tok"),
        quality_col().alias("quality"),
    )
    from pyspark.sql import Window

    order = [F.desc("quality"), F.asc("doc_id")]
    w_cum = (
        Window.partitionBy("source")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    ranked = d.select(
        "doc_id",
        "source",
        "n_tok",
        F.sum("n_tok").over(w_cum).alias("cum"),
        F.sum("n_tok").over(w_all).alias("total"),
        F.row_number().over(Window.partitionBy("source").orderBy(*order)).alias(
            "rnk"
        ),
    )
    return ranked.filter(
        (F.col("cum") - F.col("n_tok")) * _TOPP_DEN < F.col("total") * _TOPP_NUM
    ).select(
        "doc_id",
        "source",
        "n_tok",
        "rnk",
        F.round(F.col("cum").cast("double") / F.col("total"), 6).alias(
            "cum_share"
        ),
    )


_TR_D = 0.85     # damping
_TR_ITERS = 3    # fixed iteration count (unrolled in the oracle)
_TR_TOP = 20
_TR_DEC = "DECIMAL(28,18)"

_TR_EDGES_DUCK = f"""
    t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    pp AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i] || ' ' || toks[i + 1]))
                  AS pair
           FROM t WHERE len(toks) >= 2),
    e0 AS (SELECT string_split(pair, ' ')[1] AS u,
                  string_split(pair, ' ')[2] AS v FROM pp),
    e1 AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    edges AS (SELECT u, v, COUNT(*) AS w FROM e1 GROUP BY u, v),
    outw AS (SELECT u, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM outw)
"""


def _tr_iter_duck(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT e.v AS node,
               0.15 / MAX(nn.n)
               + {_TR_D} * CAST(SUM(CAST(p.pr * e.w / o.ow AS {_TR_DEC}))
                                AS DOUBLE) AS pr
        FROM edges e
        JOIN {prev} p ON p.node = e.u
        JOIN outw o ON o.u = e.u
        CROSS JOIN nn
        GROUP BY e.v
    )"""


@query(
    "q156_textrank",
    oracle=f"""
    WITH {_TR_EDGES_DUCK},
    pr0 AS (SELECT o.u AS node, 1.0 / nn.n AS pr FROM outw o CROSS JOIN nn),
    {','.join(_tr_iter_duck(f'pr{i}', f'pr{i + 1}') for i in range(_TR_ITERS))}
    SELECT node AS token, round(pr, 12) AS rank_score, rnk FROM (
        SELECT node, pr,
               row_number() OVER (ORDER BY pr DESC, node) AS rnk
        FROM pr{_TR_ITERS}
    ) WHERE rnk <= {_TR_TOP}
    """,
)
def q156_textrank(spark, sf_dir) -> DataFrame:
    """TextRank keyword extraction: PageRank ({_TR_ITERS} fixed
    iterations, d=0.85) over the undirected adjacent-token co-occurrence
    graph — the classic iterative graph algorithm, with an EXACT
    differential oracle (the oracle unrolls the same iterations as
    chained CTEs; no rows-only cop-out). Per-edge contributions are
    double arithmetic on identical operands; each iteration's fan-in sum
    goes through decimal(28,18) so accumulation order can't move a bit.
    Every node has incoming edges (both directions inserted), so there is
    no dangling-mass term. Scale shape: edges/outw/pr are all vocab-keyed
    tables co-partitioned on the join key; one iteration = one join +
    one aggregate shuffle, and the iteration count is fixed, not
    data-dependent.

    Iteration discipline (r14, guide §5 — the persist-between-
    iterations posture this docstring used to defer to 100 TB): the
    graph tables (edges, outw, nn) are localCheckpoint'ed once, so the
    corpus explode+count runs exactly once per invocation and each
    iteration joins against materialized vocab-sized RDDs instead of
    re-embedding the whole edge subtree (the r13 unrolled plan carried
    44 parquet scans / 233 operators and re-planned them every
    invocation). The per-step pr stays LAZY: each pr_k appears exactly
    once in pr_{k+1}'s tree, so the 3-step tail is a linear chain over
    the checkpointed tables — measured equal-or-faster than eagerly
    checkpointing pr each step (plans/r14/EXP_iterative.md: 0.98-1.32 s
    vs 0.95-1.42 s, both well under the 1.27-1.96 s unrolled shape).
    localCheckpoint is executor-local and recomputed fresh inside every
    invocation — nothing is shared across runs."""
    # NO spread here, deliberately — re-measured under the checkpointed
    # respell (the r13 verdict was measured on the unrolled plan): the
    # edge build's heavy aggregation parallelizes at its own groupBy
    # exchange, so fanning the scan first only adds an exchange
    # (plans/r14/EXP_iterative.md: 1.12-1.54 s with spread vs
    # 0.98-1.32 s without).
    d = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("toks")
    )
    pairs = d.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) AS u,"
                "             element_at(toks, i + 1) AS v))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    e1 = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    edges = e1.groupBy("u", "v").agg(F.count("*").alias("w")).localCheckpoint(
        eager=True
    )
    outw = (
        edges.groupBy("u")
        .agg(F.sum("w").cast("long").alias("ow"))
        .localCheckpoint(eager=True)
    )
    nn = outw.agg(F.count("*").alias("n")).localCheckpoint(eager=True)
    pr = outw.crossJoin(nn).select(
        F.col("u").alias("node"), (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_TR_ITERS):
        contrib = (
            edges.join(pr, edges["u"] == pr["node"])
            .join(outw, "u")
            .select(
                F.col("v"),
                (F.col("pr") * F.col("w") / F.col("ow")).alias("c"),
            )
        )
        pr = (
            contrib.groupBy("v")
            .agg(
                F.sum(F.col("c").cast(_TR_DEC)).cast("double").alias("s")
            )
            .crossJoin(nn)
            .select(
                F.col("v").alias("node"),
                (F.lit(0.15) / F.col("n") + _TR_D * F.col("s")).alias("pr"),
            )
        )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("pr"), F.asc("node"))
    return (
        pr.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TR_TOP)
        .select(
            F.col("node").alias("token"),
            F.round("pr", 12).alias("rank_score"),
            "rnk",
        )
    )


_RES_K = 64  # reservoir size
# md5-derived uniform in (0, 1]: 52 hash bits + 1, over 2^52
_RES_U_DUCK = (
    "(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|res1'), 1, 13))"
    " AS BIGINT) + 1) / 4503599627370496.0"
)


@query(
    "q158_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln({_RES_U_DUCK}) / n_chars AS k
        FROM documents
    )
    SELECT doc_id, source, n_chars, round(k, 8) AS key FROM (
        SELECT *, row_number() OVER (ORDER BY k DESC, doc_id) AS rnk
        FROM keyed
    ) WHERE rnk <= {_RES_K}
    """,
)
def q158_weighted_reservoir(spark, sf_dir) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    each doc draws a deterministic md5 uniform u and is ranked by
    ln(u)/weight (⇔ u^(1/w)) — the top-k by that key IS a weighted
    sample without replacement, computed distributed as one
    TakeOrderedAndProject instead of k sequential draws. Complements
    q125 (independent Bernoulli by weight, no size bound): this draws an
    EXACT-size sample. Deterministic u ⇒ rerun-stable and cross-engine
    identical (same md5 bits, same double arithmetic)."""
    d = table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|res1"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(4503599627370496.0)
    keyed = d.select(
        "doc_id", "source", "n_chars", (F.log(u) / F.col("n_chars")).alias("k")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RES_K)
        .select("doc_id", "source", "n_chars", F.round("k", 8).alias("key"))
    )


_IDX_MIN_DF = 2          # drop hapax legomena (absolute)
_IDX_MAX_DF_FRAC = 0.10  # stopword ceiling: df <= 10% of corpus docs


@query(
    "q159_inverted_index",
    oracle=f"""
    WITH post AS (
        SELECT DISTINCT t AS token, doc_id
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    agg AS (
        SELECT token, COUNT(*) AS df,
               array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        FROM post GROUP BY token
    )
    SELECT token, df, postings FROM agg CROSS JOIN n
    WHERE df >= {_IDX_MIN_DF}
      AND df <= CAST(floor({_IDX_MAX_DF_FRAC} * n_docs) AS BIGINT)
    """,
)
def q159_inverted_index(spark, sf_dir) -> DataFrame:
    """Inverted-index build (token → sorted posting list + document
    frequency) — the search-index construction shape. Postings are
    per-token sorted INSIDE the aggregate expression (sort_array ∘
    collect_list) because shuffle arrival order is nondeterministic,
    then serialized to a CSV string so every result column is scalar
    (driver canonicalizers hash scalars, not lists — VERDICT r4 #1);
    df-band filtering (drop hapax legomena and stop-like terms) bounds
    posting length. The stopword ceiling is CORPUS-RELATIVE since r7
    (df <= 10% of the document count, a 1-row broadcast aggregate
    attached in-plan): an absolute cap is meaningless across scales —
    the old `df <= 200` emptied the index at sf0.1 where every fixture
    token's df >= 250, which made the r7 scale-proof row vacuous (0
    rows at both scales proves nothing) — and a relative cap is also
    the realistic IR spelling. The band screen runs BEFORE the collect
    (round-6 audit): a cheap map-side-combined df count filters tokens
    to the band and joins back, so the collect_list buffer for a
    Zipf-hot stop token is never built at all — filtering AFTER the
    aggregate would have materialized a corpus-sized posting buffer
    first and only then dropped it. At 100 TB the production variant
    further shards the surviving hot tokens (token, doc_id div B) into
    postings segments; the relative df cap keeps any single collected
    posting list a bounded fraction of the corpus (segment-shard past
    executor size)."""
    # NO spread before this token explode, deliberately: the clean-box
    # bench read 0.69/0.56 s plain vs 0.70/0.67 s spread — the distinct
    # right after the explode already shuffles and parallelizes the
    # aggregate work; the guard only added an exchange.
    d = table(spark, sf_dir, "documents")
    post = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    banded = (
        post.groupBy("token")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= _IDX_MIN_DF)
            & (
                F.col("df")
                <= F.floor(F.lit(_IDX_MAX_DF_FRAC) * F.col("n_docs")).cast(
                    "long"
                )
            )
        )
        .drop("n_docs")
    )
    return (
        post.join(banded, "token")
        .groupBy("token")
        .agg(
            F.max("df").alias("df"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)),"
                " x -> cast(x AS string)), ',')"
            ).alias("postings"),
        )
    )


_SEG_DOCS = 100  # q318: posting-segment width in doc_id space


@query(
    "q318_posting_segments",
    oracle=f"""
    WITH post AS (
        SELECT DISTINCT t AS token, doc_id
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    banded AS (
        SELECT token, COUNT(*) AS df
        FROM post GROUP BY token
        HAVING COUNT(*) >= {_IDX_MIN_DF}
           AND COUNT(*) <= CAST(floor({_IDX_MAX_DF_FRAC}
                                      * (SELECT n_docs FROM n)) AS BIGINT)
    )
    SELECT p.token, CAST(p.doc_id // {_SEG_DOCS} AS BIGINT) AS seg_id,
           b.df,
           CAST(COUNT(*) AS BIGINT) AS seg_df,
           array_to_string(list(p.doc_id ORDER BY p.doc_id), ',') AS postings
    FROM post p JOIN banded b USING (token)
    GROUP BY p.token, CAST(p.doc_id // {_SEG_DOCS} AS BIGINT), b.df
    """,
)
def q318_posting_segments(spark, sf_dir) -> DataFrame:
    """SEGMENTED (chunked) inverted index — q159's registered 100 TB
    variant (VERDICT r7 #2): the posting list for a token is sharded by
    document range into fixed-width SEGMENTS (seg_id = doc_id div
    {_SEG_DOCS}), so no single collected posting buffer can exceed the
    segment width no matter how hot the token — q159's relative df cap
    bounds lists as a fraction of the corpus, which still grows WITH the
    corpus; the segment bound is absolute. This is the layout real
    search engines ship (Lucene segments, posting blocks): a term lookup
    reads (token, seg_id) shards in parallel, and segment-locality also
    makes the index INCREMENTALLY maintainable — new documents only
    touch the trailing segment, exactly q301's affected-partition
    discipline applied to IR.

    Plan shape: the banded df screen runs BEFORE any collect (the
    round-6 q159 audit, unchanged here) — a map-side-combined df count
    joins back to the posting stream, so a Zipf-hot stop token never
    builds a buffer at all; then the collect groups on (token, seg_id),
    whose per-group cardinality is ≤ {_SEG_DOCS} BY CONSTRUCTION. The
    grouping key carries the global df along (it is functionally
    dependent on token), so a reader gets term statistics without a
    second join. Hot-token fan-out is measured on the 10x fixture in
    scripts/scale_proof.py: a banded token's segments grow linearly
    with the corpus while max per-segment posting length stays flat.
    Cites q159 (llm/text.py) as the monolithic-posting baseline."""
    d = table(spark, sf_dir, "documents")
    post = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    banded = (
        post.groupBy("token")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= _IDX_MIN_DF)
            & (
                F.col("df")
                <= F.floor(F.lit(_IDX_MAX_DF_FRAC) * F.col("n_docs")).cast(
                    "long"
                )
            )
        )
        .drop("n_docs")
    )
    return (
        post.join(banded, "token")
        .groupBy(
            "token",
            (F.col("doc_id") / _SEG_DOCS).cast("long").alias("seg_id"),
        )
        .agg(
            F.max("df").alias("df"),
            F.count("*").cast("long").alias("seg_df"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)),"
                " x -> cast(x AS string)), ',')"
            ).alias("postings"),
        )
    )


_CURR_SHARDS = 10


@query(
    "q180_curriculum_order",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, {_QUALITY_SQL} AS quality,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    sh AS (
        SELECT doc_id, quality, n_tok,
               ntile({_CURR_SHARDS})
                   OVER (ORDER BY quality DESC, doc_id) AS shard
        FROM q
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS avg_quality,
           CAST(SUM(n_tok) AS BIGINT) AS total_toks
    FROM sh GROUP BY shard
    """,
)
def q180_curriculum_order(spark, sf_dir) -> DataFrame:
    """Curriculum sharding: docs ranked easiest-first (quality as the
    difficulty proxy — a perplexity model slots in identically, q133)
    and cut into {_CURR_SHARDS} equal shards with ntile; training then
    consumes shards in order. Emits the shard manifest (count, mean
    quality via decimal-exact sums, token budget) — what the data
    loader's schedule is built from. The global ntile is a single-
    reducer sort at fixture scale; at 100 TB the same ordering comes
    from range partitioning on the difficulty score (sample quantile
    bounds → rangepartition → per-partition rank) — REGISTERED as the
    row-identical scale twin q356_curriculum_ranged (the q350/q355
    equivalence-demonstration pattern)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        quality_col().alias("quality"),
        n_tok_col().cast("long").alias("n_tok"),
    )
    from pyspark.sql import Window

    sh = d.withColumn(
        "shard",
        F.ntile(_CURR_SHARDS).over(
            Window.orderBy(F.desc("quality"), F.asc("doc_id"))
        ),
    )
    return sh.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("quality").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("avg_quality"),
        F.sum("n_tok").cast("long").alias("total_toks"),
    )


@query(
    "q356_curriculum_ranged",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, {_QUALITY_SQL} AS quality,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    sh AS (
        SELECT doc_id, quality, n_tok,
               ntile({_CURR_SHARDS})
                   OVER (ORDER BY quality DESC, doc_id) AS shard
        FROM q
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS avg_quality,
           CAST(SUM(n_tok) AS BIGINT) AS total_toks
    FROM sh GROUP BY shard
    """,
)
def q356_curriculum_ranged(spark, sf_dir) -> DataFrame:
    """CURRICULUM SHARDING AT THE RANGED SPELLING — q180 is the last
    corpus-sized member of the single-reducer global-window family
    whose docstring NAMED range partitioning as its scale path without
    a registered twin (VERDICT r11 #1). Same manifest, zero
    unpartitioned WindowExec (pinned in tests/test_plan_shapes.py):
    the global curriculum rank comes from ops.global_running_sum of a
    literal 1 over the total order (quality DESC, doc_id) — spelled as
    ascending (-quality, doc_id), an exact order-reversing map for
    IEEE doubles — and the shard id from ops.ntile_from_rn's closed
    form (long-exact integral DIV at any corpus size). Row-identical
    to q180 by construction (same oracle text — the q350/q355
    equivalence-demonstration pattern); the shard manifest aggregate
    downstream is an ordinary partitioned group-by. At 100 TB the only
    data movement is ONE repartitionByRange on the difficulty score;
    the per-partition running count is parallel and the base offsets
    are num_partitions driver rows."""
    from .. import ops

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        quality_col().alias("quality"),
        n_tok_col().cast("long").alias("n_tok"),
    )
    staged = d.withColumn("__negq", -F.col("quality")).withColumn(
        "__one", F.lit(1).cast("long")
    )
    rn_df = ops.global_running_sum(
        staged, ["__negq", "doc_id"], "__one", "rn"
    ).drop("__one", "__negq")
    total = rn_df.agg(F.count("*").alias("__n"))
    j = rn_df.crossJoin(F.broadcast(total))
    shard = ops.ntile_from_rn(F.col("rn"), F.col("__n"), _CURR_SHARDS)
    return (
        j.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            (
                F.sum(F.col("quality").cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("avg_quality"),
            F.sum("n_tok").cast("long").alias("total_toks"),
        )
    )


_PSI_BUCKETS = 10


@query(
    "q182_drift_psi",
    oracle=f"""
    WITH q AS (
        SELECT doc_id % 2 AS snap,
               least({_PSI_BUCKETS - 1},
                     CAST(floor({_QUALITY_SQL} * {_PSI_BUCKETS}) AS BIGINT))
                   AS bucket
        FROM documents
    ),
    b AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM q GROUP BY bucket
    ),
    t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM b)
    SELECT b.bucket, b.n_a, b.n_b,
           round((CAST(b.n_a + 1 AS DOUBLE) / (t.ta + {_PSI_BUCKETS})
                  - CAST(b.n_b + 1 AS DOUBLE) / (t.tb + {_PSI_BUCKETS}))
                 * ln((CAST(b.n_a + 1 AS DOUBLE) / (t.ta + {_PSI_BUCKETS}))
                      / (CAST(b.n_b + 1 AS DOUBLE) / (t.tb + {_PSI_BUCKETS}))),
                 9) AS psi_contrib
    FROM b CROSS JOIN t
    """,
)
def q182_drift_psi(spark, sf_dir) -> DataFrame:
    """Distribution drift between corpus snapshots via PSI (population
    stability index) over quality-score deciles — the monitor that
    catches a crawler or filter change shifting the corpus before it
    shifts the model. Snapshots stand in as doc_id parity; per-bucket
    counts are one tiny aggregate, totals fold back with a 1-row cross
    join (never a collect), and Laplace (+1) smoothing keeps empty
    buckets finite AND integer-derived — every double on both engines
    is computed from the same exact integers, so the log-ratio
    contributions match bitwise. Σ|contrib| > 0.2 is the usual alarm."""
    d = table(spark, sf_dir, "documents")
    q = d.select(
        (F.col("doc_id") % 2).alias("snap"),
        F.least(
            F.lit(_PSI_BUCKETS - 1),
            F.floor(quality_col() * _PSI_BUCKETS).cast("long"),
        ).alias("bucket"),
    )
    b = q.groupBy("bucket").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    t = b.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    pa = (F.col("n_a") + 1).cast("double") / (F.col("ta") + _PSI_BUCKETS)
    pb = (F.col("n_b") + 1).cast("double") / (F.col("tb") + _PSI_BUCKETS)
    return b.crossJoin(F.broadcast(t)).select(
        "bucket",
        "n_a",
        "n_b",
        F.round((pa - pb) * F.log(pa / pb), 9).alias("psi_contrib"),
    )


@query(
    "q183_ab_lift",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS grp,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS c_a,
               CAST(SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS c_b
        FROM u
    )
    SELECT n_a, n_b, c_a, c_b,
           round(CAST(c_b AS DOUBLE) / n_b / (CAST(c_a AS DOUBLE) / n_a) - 1.0,
                 9) AS lift,
           round((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 9) AS zscore
    FROM s
    """,
)
def q183_ab_lift(spark, sf_dir) -> DataFrame:
    """A/B conversion lift with a pooled two-proportion z-test — the
    experimentation readout. Per-user conversion collapses events to one
    flag per user (one user_id aggregate), the four counts are a second
    1-row aggregate, and lift/z derive from exact integers so the
    doubles match bitwise cross-engine. Nothing in the plan scales with
    event volume past the first aggregate."""
    e = table(spark, sf_dir, "events")
    # conversion = a HIGH-VALUE purchase: the plain any-purchase flag is
    # saturated in this fixture (every user converts), which makes the
    # pooled z denominator exactly 0 — a degenerate test either way
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).alias("grp"), "converted")
    s = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled * (1.0 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return s.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.round(rb / ra - 1.0, 9).alias("lift"),
        F.round((rb - ra) / se, 9).alias("zscore"),
    )


@query(
    "q184_token_entropy",
    oracle="""
    WITH c AS (
        SELECT source, t AS token, COUNT(*) AS n
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        GROUP BY source, t
    ),
    tot AS (SELECT source, SUM(n) AS total FROM c GROUP BY source)
    SELECT c.source,
           CAST(MAX(tot.total) AS BIGINT) AS n_tokens,
           COUNT(*) AS vocab,
           round(-CAST(SUM(CAST((CAST(c.n AS DOUBLE) / tot.total)
                                * ln(CAST(c.n AS DOUBLE) / tot.total)
                                AS DECIMAL(38,20))) AS DOUBLE), 9) AS entropy
    FROM c JOIN tot USING (source)
    GROUP BY c.source
    """,
)
def q184_token_entropy(spark, sf_dir) -> DataFrame:
    """Per-source Shannon entropy of the token distribution — the corpus
    diversity gauge (template/boilerplate-heavy sources score low;
    entropy collapsing over time means the crawler is looping). Token
    counts are the q66 word-count aggregate keyed by (source, token);
    totals join back source-keyed (co-partitioned); each −p·ln p term is
    computed from the same exact integers on both engines and the
    vocab-sized fan-in sum routes through decimal(38,20), the same
    discipline as q156/q162's iterative fan-ins."""
    d = table(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n"))
    )
    tot = c.groupBy("source").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        c.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("total").cast("long").alias("n_tokens"),
            F.count("*").alias("vocab"),
            F.round(
                -F.sum((p * F.log(p)).cast("decimal(38,20)")).cast("double"), 9
            ).alias("entropy"),
        )
    )


@query(
    "q186_source_overlap",
    oracle="""
    WITH v AS (
        SELECT DISTINCT source, t AS token
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM v GROUP BY source),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM v a JOIN v b ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.src_a, s.src_b, s.n_shared,
           round(CAST(s.n_shared AS DOUBLE)
                 / (x.n + y.n - s.n_shared), 6) AS vocab_jaccard
    FROM shared s
    JOIN sz x ON x.source = s.src_a
    JOIN sz y ON y.source = s.src_b
    """,
)
def q186_source_overlap(spark, sf_dir) -> DataFrame:
    """Source-pair vocabulary overlap matrix (Jaccard over distinct
    token sets) — which domains say the same things; the input to
    merging near-identical sources before mixture weighting (q131) and
    to spotting a mirror site the URL-level dedup missed. The token
    self-join fans out per token by the number of sources containing it
    — bounded by sources², never documents² (same blow-up logic as
    q63's df cap, with source count as the natural cap). Shuffles key
    on token then on the pair; output is |sources|²/2 rows regardless
    of corpus size."""
    d = table(spark, sf_dir, "documents")
    v = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    sz = v.groupBy("source").agg(F.count("*").alias("n"))
    a = v.select(F.col("source").alias("src_a"), "token")
    b = v.select(F.col("source").alias("src_b"), "token")
    shared = (
        a.join(b, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(sz.select(F.col("source").alias("src_a"), F.col("n").alias("na")), "src_a")
        .join(sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb")), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("vocab_jaccard"),
        )
    )


@query(
    "q191_corpus_fingerprint",
    oracle="""
    WITH h AS (
        SELECT source,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
                                        || md5(text)), 1, 12)) AS BIGINT)
                   AS h,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(h) AS BIGINT) AS fingerprint
    FROM h GROUP BY source
    """,
)
def q191_corpus_fingerprint(spark, sf_dir) -> DataFrame:
    """Dataset manifest with a content fingerprint per source: doc count,
    token budget, and an ORDER-INDEPENDENT checksum (sum of 48-bit
    per-doc content hashes — addition commutes, so any partitioning or
    row order yields the same value; 48 bits leaves 15 bits of count
    headroom before an int64 ANSI overflow, and a modular sum is the
    production form at larger counts). This is the data-versioning primitive: two corpus
    builds with equal fingerprints are content-identical per source —
    what dataset cards, cache keys, and rerun-skip logic key on. Pure
    scan-stage hashing + one tiny aggregate. The id is hashed WITH the
    content (md5(doc_id:md5(text))) so id remaps change the fingerprint
    too."""
    d = table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.md5("text")
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.select(
            "source",
            h.alias("h"),
            n_tok_col().cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("h").cast("long").alias("fingerprint"),
        )
    )


_SHARDS_N = 8


@query(
    "q193_shard_rebalance",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_tok,
               CAST((row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1)
                    % {_SHARDS_N} AS BIGINT) AS shard
        FROM t
    ),
    s AS (
        SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_toks
        FROM r GROUP BY shard
    ),
    g AS (SELECT CAST(SUM(total_toks) AS DOUBLE) / {_SHARDS_N} AS mean_toks
          FROM s)
    SELECT s.shard, s.n_docs, s.total_toks,
           round(s.total_toks / g.mean_toks, 6) AS balance_ratio
    FROM s CROSS JOIN g
    """,
)
def q193_shard_rebalance(spark, sf_dir) -> DataFrame:
    """Size-balanced training-shard assignment: docs ranked by token
    count descending and dealt round-robin across {_SHARDS_N} shards —
    the deterministic one-pass approximation of LPT bin balancing
    (true greedy-least-loaded is inherently sequential; snake-order
    round-robin over size-sorted items bounds imbalance tightly when
    item sizes are small vs shard totals). Emits the shard manifest
    with each shard's deviation from the mean token load — the number
    that decides whether stragglers will dominate a training epoch.
    Global rank is the fixture spelling; the scale path is range
    partitioning on n_tok (q185's quantile edges) + per-range dealing."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents").select(
        "doc_id", n_tok_col().cast("long").alias("n_tok")
    )
    r = d.withColumn(
        "shard",
        (
            (F.row_number().over(W.orderBy(F.desc("n_tok"), F.asc("doc_id"))) - 1)
            % _SHARDS_N
        ).cast("long"),
    )
    s = r.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_toks"),
    )
    g = s.agg(
        (F.sum("total_toks").cast("double") / _SHARDS_N).alias("mean_toks")
    )
    return s.crossJoin(F.broadcast(g)).select(
        "shard",
        "n_docs",
        "total_toks",
        F.round(F.col("total_toks") / F.col("mean_toks"), 6).alias(
            "balance_ratio"
        ),
    )


@query(
    "q194_pack_boundaries",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - n_tok AS tok_start
        FROM t
    )
    SELECT CAST(floor(tok_start / {_PACK_CAPACITY}) AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           array_to_string(list(CAST(tok_start % {_PACK_CAPACITY} AS BIGINT)
                                ORDER BY doc_id), ',') AS boundaries,
           CAST(MAX(tok_start % {_PACK_CAPACITY} + n_tok) AS BIGINT)
               AS fill_level
    FROM c GROUP BY bin_id
    """,
)
def q194_pack_boundaries(spark, sf_dir) -> DataFrame:
    """Attention-boundary metadata for packed sequences: per training bin
    (q117's contiguous packing), the ordered token offsets where each
    document starts — exactly what block-diagonal attention masking and
    position-id resets consume at train time — plus the bin's fill
    level (capacity minus fill = padding). The offsets aggregate sorted
    INSIDE the array expression and are serialized to a CSV string (the
    driver canonicalizer hashes scalars only); the prefix sum IS
    ops.global_running_sum — round 6 replaced a single-partition global
    window that only CLAIMED the q117 plan shape with the actual
    two-phase kernel (range partition → per-partition prefix →
    broadcast base offsets), so no task ever sees the whole corpus;
    integer token counts make the distributed sum bit-equal to the
    oracle's one window."""
    from .. import ops

    d = table(spark, sf_dir, "documents").select(
        "doc_id", n_tok_col().cast("long").alias("n_tok")
    )
    c = ops.global_running_sum(d, ["doc_id"], "n_tok", "run_tok").withColumn(
        "tok_start", F.col("run_tok") - F.col("n_tok")
    )
    return (
        c.withColumn(
            "bin_id", F.floor(F.col("tok_start") / _PACK_CAPACITY).cast("long")
        )
        .withColumn("off", F.col("tok_start") % _PACK_CAPACITY)
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(doc_id, off))), st -> cast(st.off AS string)), ',')"
            ).alias("boundaries"),
            F.max(F.col("off") + F.col("n_tok")).cast("long").alias(
                "fill_level"
            ),
        )
    )


@query(
    "q200_corpus_build",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source, text, lower(trim(text)) AS norm,
               {_QUALITY_SQL} AS quality,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    good AS (SELECT * FROM q WHERE quality >= 0.5),
    canon AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(norm)
                                         ORDER BY doc_id) AS rn
            FROM good
        ) WHERE rn = 1
    ),
    clean AS (
        SELECT c.* FROM canon c
        WHERE NOT EXISTS (
            SELECT 1 FROM documents ev
            WHERE ev.doc_id < 20
              AND substring(ev.text, 1, 40) = substring(c.text, 1, 40)
        ) AND c.doc_id >= 20
    ),
    assigned AS (
        SELECT *, CASE WHEN {_SPLIT_SQL} < 80 THEN 'train'
                       WHEN {_SPLIT_SQL} < 90 THEN 'val'
                       ELSE 'test' END AS split
        FROM clean
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                                            || ':' || md5(text)), 1, 12))
                         AS BIGINT)) AS BIGINT) AS fingerprint,
           CAST(SUM(CAST(quality AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS avg_quality
    FROM assigned GROUP BY split
    """,
)
def q200_corpus_build(spark, sf_dir) -> DataFrame:
    """The capstone: the corpus build END-TO-END as one lazy plan —
    quality gate (q74) → normalized-hash canonical dedup (q135+q62) →
    eval-set decontamination (q115's prefix screen as a broadcast
    anti-join) → deterministic split assignment (q132) → per-split
    manifest with token budget, order-independent content fingerprint
    (q191), and decimal-exact mean quality. Catalyst fuses the gate,
    normalization, split hash, and fingerprint into the scan stage; the
    plan's only wide operations are the dedup window and the final
    3-row rollup, with the eval prefixes broadcast. This is the query a
    user of the engine actually ships nightly: corpus in, versioned
    training manifest out, rerun-identical to the bit."""
    d = table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "source",
        "text",
        F.lower(F.trim("text")).alias("norm"),
        quality_col().alias("quality"),
        n_tok_col().cast("long").alias("n_tok"),
    )
    good = q.filter(F.col("quality") >= 0.5)
    from pyspark.sql import Window as W

    canon = (
        good.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(F.md5("norm")).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    ev = (
        d.filter(F.col("doc_id") < 20)
        .select(F.substring("text", 1, 40).alias("pref"))
        .distinct()
    )
    clean = canon.filter(F.col("doc_id") >= 20).join(
        F.broadcast(ev),
        F.substring(F.col("text"), 1, 40) == F.col("pref"),
        "left_anti",
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit("|split-v1"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    assigned = clean.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )
    fp = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.md5("text"))
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum(fp).cast("long").alias("fingerprint"),
        (
            F.sum(F.col("quality").cast("decimal(28,6)")).cast("double")
            / F.count("*")
        ).alias("avg_quality"),
    )


# ---- tokenizer-prep character coverage (q262) --------------------------
@query(
    "q262_char_coverage",
    oracle="""
    WITH ch AS (
        SELECT UNNEST(string_split_regex(text, '')) AS c FROM documents
        WHERE text <> ''
    ),
    cnt AS (SELECT c, COUNT(*) AS n FROM ch WHERE c <> '' GROUP BY c),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
    SELECT c, n,
           round(CAST(SUM(n) OVER (ORDER BY n DESC, c ASC) AS DOUBLE)
                 / tot.total, 6) AS cum_frac,
           SUM(n) OVER (ORDER BY n DESC, c ASC) - n
               < CAST(0.99 * tot.total AS DOUBLE) AS in_coverage_99
    FROM cnt CROSS JOIN tot
    """,
)
def q262_char_coverage(spark, sf_dir) -> DataFrame:
    """Character-coverage table — the statistic SentencePiece/BPE
    tokenizer training starts from (its character_coverage parameter
    decides which rare codepoints collapse to <unk>): explode the corpus
    to characters, rank by frequency, and compute the cumulative
    coverage fraction plus a 99%-coverage membership flag (a char is IN
    coverage if the mass BEFORE it is still under the target — the
    greedy prefix rule). Two tiny shuffles (char count, then a
    ~vocab-row window); the explode itself is scan-stage and never
    materializes corpus-size state. At 100 TB the char-count partial
    aggregation map-side-combines to at most |alphabet| rows per task —
    this is the cheapest corpus-wide statistic there is. The
    ~vocab-row global window has a registered row-identical ranged
    twin, q357_char_coverage_ranged, for alphabets that outgrow one
    task."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    cnt = (
        d.select(F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("c")
        .agg(F.count("*").alias("n"))
    )
    tot = cnt.agg(F.sum("n").cast("long").alias("total"))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("c")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cnt.crossJoin(tot)
        .withColumn("cum_n", F.sum("n").over(w))
        .select(
            "c",
            "n",
            F.round(F.col("cum_n").cast("double") / F.col("total"), 6).alias(
                "cum_frac"
            ),
            (
                (F.col("cum_n") - F.col("n")).cast("double")
                < 0.99 * F.col("total")
            ).alias("in_coverage_99"),
        )
    )


@query(
    "q357_char_coverage_ranged",
    oracle="""
    WITH ch AS (
        SELECT UNNEST(string_split_regex(text, '')) AS c FROM documents
        WHERE text <> ''
    ),
    cnt AS (SELECT c, COUNT(*) AS n FROM ch WHERE c <> '' GROUP BY c),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
    SELECT c, n,
           round(CAST(SUM(n) OVER (ORDER BY n DESC, c ASC) AS DOUBLE)
                 / tot.total, 6) AS cum_frac,
           SUM(n) OVER (ORDER BY n DESC, c ASC) - n
               < CAST(0.99 * tot.total AS DOUBLE) AS in_coverage_99
    FROM cnt CROSS JOIN tot
    """,
)
def q357_char_coverage_ranged(spark, sf_dir) -> DataFrame:
    """CHARACTER COVERAGE AT THE RANGED SPELLING — q262's global
    cumulative-frequency window runs over |alphabet| rows (tiny today),
    but it is still a registered unpartitioned WindowExec, and a CJK +
    emoji + PUA corpus pushes |alphabet| to ~10^6 — this twin closes
    the family (VERDICT r11 #1) so the registry carries ZERO
    single-reducer window shapes outside the deliberate direct
    spellings. The cumulative mass IS a global running sum of the
    count column itself, so ops.global_running_sum applies directly
    (value_col = n, a bigint — exact): repartitionByRange on
    (-n, c) — the exact ascending spelling of (n DESC, c ASC) —
    per-partition running sums in parallel, num_partitions base-offset
    rows to the driver, broadcast back. Row-identical to q262 by
    construction (same oracle text, the q350/q355 pattern); coverage
    flag and fraction are scan-stage arithmetic over (cum_n, total)."""
    from .. import ops

    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    cnt = (
        d.select(F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("c")
        .agg(F.count("*").alias("n"))
    )
    staged = cnt.withColumn("__negn", -F.col("n"))
    cum = ops.global_running_sum(staged, ["__negn", "c"], "n", "cum_n").drop(
        "__negn"
    )
    tot = cnt.agg(F.sum("n").cast("long").alias("total"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "c",
        "n",
        F.round(F.col("cum_n").cast("double") / F.col("total"), 6).alias(
            "cum_frac"
        ),
        (
            (F.col("cum_n") - F.col("n")).cast("double")
            < 0.99 * F.col("total")
        ).alias("in_coverage_99"),
    )


# ---- bigram-LM surprisal scoring (q263) --------------------------------
@query(
    "q263_perplexity_bigram",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id,
               UNNEST(list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM t WHERE len(toks) >= 2
    ),
    bgd AS (SELECT doc_id, bigram, COUNT(*) AS m FROM bg GROUP BY 1, 2),
    bgc AS (SELECT bigram, SUM(m) AS n_bg FROM bgd GROUP BY bigram),
    ctx AS (
        SELECT string_split(bigram, ' ')[1] AS w1, SUM(n_bg) AS n_ctx
        FROM bgc GROUP BY 1
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM (
            SELECT UNNEST(toks) AS tok FROM t
        )
    )
    SELECT bgd.doc_id, CAST(SUM(bgd.m) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(CAST(-ln((bgc.n_bg + 1.0)
                                   / (ctx.n_ctx + vocab.v)) * bgd.m
                              AS DECIMAL(28,12))) AS DOUBLE) / SUM(bgd.m), 6)
               AS mean_surprisal
    FROM bgd
    JOIN bgc USING (bigram)
    JOIN ctx ON ctx.w1 = string_split(bgd.bigram, ' ')[1]
    CROSS JOIN vocab
    GROUP BY bgd.doc_id
    """,
)
def q263_perplexity_bigram(spark, sf_dir) -> DataFrame:
    """Bigram-LM surprisal per document — q133's unigram scorer upgraded
    one Markov order (the CCNet-style quality signal: fluent text has
    predictable ADJACENT-token statistics, not just common tokens).
    Add-one smoothing over context counts: p(w2|w1) = (C(w1 w2) + 1) /
    (C(w1 ·) + V), with C(w1 ·) the context total derived FROM the
    bigram table (so the model is self-consistent at document edges) and
    V the corpus unigram vocabulary. Same float-parity discipline as
    q133: per-doc sums fold in DECIMAL so partitioning order can't move
    a bit, rounded once at the end. Shuffles: bigram count, context
    roll-up (tiny), per-doc aggregate — the corpus text never shuffles,
    only bigram strings do, and at 100 TB those are Zipf-concentrated so
    map-side combine absorbs most of the volume. The lazy plan evaluates
    the bigram rollup for both the count table and the probe side (AQE
    reuses one exchange at runtime); a production run persists the count
    table — it IS the language model, trained once and scored against
    many times — which removes the residual recompute the way q129
    persists its assignments."""
    # spread before tokenize+bigram explode (io.spread, guide §2.5): the
    # bigram stream is evaluated for both the count table and the probe
    # side, and the single-row-group fixture scan is one task.
    d = table_spread(spark, sf_dir, "documents", "doc_id")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    bg = t.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("bigram"),
    )
    # score DISTINCT (doc, bigram) pairs with their multiplicity instead of
    # every instance: Zipf repetition makes |bg_doc| << |bg|, shrinking the
    # join probe side before the corpus-wide count tables attach
    bg_doc = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("m"))
    bgc = bg_doc.groupBy("bigram").agg(F.sum("m").alias("n_bg"))
    ctx = bgc.groupBy(
        F.split("bigram", " ").getItem(0).alias("w1")
    ).agg(F.sum("n_bg").alias("n_ctx"))
    vocab = t.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").cast("long").alias("v")
    )
    surprisal = -F.log(
        (F.col("n_bg") + 1.0) / (F.col("n_ctx") + F.col("v"))
    )
    return (
        bg_doc.join(bgc, "bigram")
        .join(ctx, F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"))
        .crossJoin(vocab)
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.round(
                F.sum((surprisal * F.col("m")).cast("decimal(28,12)")).cast("double")
                / F.sum("m"),
                6,
            ).alias("mean_surprisal"),
        )
    )


# ---- vocabulary truncation + OOV rate (q267) ---------------------------
_VOCAB_TOP = 20  # kept vocabulary size


@query(
    "q267_vocab_oov",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    ranked AS (
        SELECT t, row_number() OVER (ORDER BY COUNT(*) DESC, t ASC) AS r
        FROM tok GROUP BY t
    ),
    kept AS (SELECT t FROM ranked WHERE r <= {_VOCAB_TOP})
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(COUNT(*) FILTER (kept.t IS NULL) AS BIGINT) AS n_oov,
           round(CAST(COUNT(*) FILTER (kept.t IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM tok LEFT JOIN kept ON kept.t = tok.t
    GROUP BY tok.doc_id
    """,
)
def q267_vocab_oov(spark, sf_dir) -> DataFrame:
    """Vocabulary truncation + per-document OOV rate — the classic
    fixed-vocab (word2vec / GloVe / WordPiece seed) preprocessing
    decision: keep the top-V tokens by frequency (deterministic
    count-desc, token-asc tiebreak), measure what fraction of each
    document falls out of vocabulary. High-OOV docs are either noise or
    domain-shifted — both things a curation pipeline wants flagged. The
    kept vocabulary is V rows → broadcast joined against the token
    stream (never a shuffle of the corpus); the rank itself is a
    |vocab|-row window, not a corpus sort. At 100 TB: identical plan,
    with the token count map-side combining into |vocab| partials."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    ranked = (
        tok.groupBy("t")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("t"))),
        )
    )
    kept = ranked.filter(F.col("r") <= _VOCAB_TOP).select(
        F.col("t").alias("kt")
    )
    return (
        tok.join(F.broadcast(kept), tok.t == F.col("kt"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.count(F.when(F.col("kt").isNull(), 1)).cast("long").alias("n_oov"),
            F.round(
                F.count(F.when(F.col("kt").isNull(), 1)).cast("double")
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


# ---- BPE merge learning (q268) -----------------------------------------
_BPE_ROUNDS = 3

# Symbol sequences are bracket-delimited ('<a> <b> <c>') so that a single
# left-to-right string replace IS the BPE merge step: the pattern
# '<a> <b>' (no surrounding spaces consumed) can never match inside a
# longer symbol ('<ba> <b>' does not contain '<a> <b>'), and adjacent
# occurrences ('<a> <b> <a> <b>') share no characters, so one replace
# merges all of them — the exact greedy non-overlapping semantics BPE
# defines. A space-joined representation without brackets fails BOTH
# properties (shared boundary spaces and substring ambiguity).
_BPE_MERGED = "replace({p}, '> <', '')"  # '<a> <b>' -> '<ab>'


def _bpe_seq_spark(word_col: str) -> str:
    return (
        f"concat_ws(' ', transform("
        f"  filter(split({word_col}, ''), c -> c <> ''),"
        f"  c -> concat('<', c, '>')))"
    )


@query(
    "q268_bpe_merges",
    oracle=f"""
    WITH w AS (
        SELECT t AS word, COUNT(*) AS n FROM (
            SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
        ) WHERE t <> '' GROUP BY t
    ),
    s0 AS (
        SELECT word, n,
               array_to_string(list_transform(
                   list_filter(string_split_regex(word, ''), c -> c <> ''),
                   c -> '<' || c || '>'), ' ') AS seq
        FROM w
    ),
    p1 AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, UNNEST(list_transform(
                generate_series(1, len(sym) - 1),
                i -> sym[i] || ' ' || sym[i + 1])) AS pair
            FROM (SELECT n, string_split(seq, ' ') AS sym FROM s0)
            WHERE len(sym) >= 2
        ) GROUP BY pair
    ),
    b1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
    s1 AS (
        SELECT word, n,
               replace(seq, b1.pair, {_BPE_MERGED.format(p='b1.pair')}) AS seq
        FROM s0 CROSS JOIN b1
    ),
    p2 AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, UNNEST(list_transform(
                generate_series(1, len(sym) - 1),
                i -> sym[i] || ' ' || sym[i + 1])) AS pair
            FROM (SELECT n, string_split(seq, ' ') AS sym FROM s1)
            WHERE len(sym) >= 2
        ) GROUP BY pair
    ),
    b2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
    s2 AS (
        SELECT word, n,
               replace(seq, b2.pair, {_BPE_MERGED.format(p='b2.pair')}) AS seq
        FROM s1 CROSS JOIN b2
    ),
    p3 AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, UNNEST(list_transform(
                generate_series(1, len(sym) - 1),
                i -> sym[i] || ' ' || sym[i + 1])) AS pair
            FROM (SELECT n, string_split(seq, ' ') AS sym FROM s2)
            WHERE len(sym) >= 2
        ) GROUP BY pair
    ),
    b3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair ASC LIMIT 1)
    SELECT 1 AS rank, pair, {_BPE_MERGED.format(p='pair')} AS merged, cnt FROM b1
    UNION ALL
    SELECT 2, pair, {_BPE_MERGED.format(p='pair')}, cnt FROM b2
    UNION ALL
    SELECT 3, pair, {_BPE_MERGED.format(p='pair')}, cnt FROM b3
    """,
)
def q268_bpe_merges(spark, sf_dir) -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016 — the
    algorithm behind GPT/LLaMA tokenizers), distributed and fully
    oracled for {_BPE_ROUNDS} merge rounds: word frequencies roll up
    once (the classic BPE-on-word-counts optimization — corpus size
    drops out, only the vocabulary's weighted symbol sequences iterate),
    then each round (a) explodes adjacent symbol pairs weighted by word
    count, (b) picks the global argmax pair (count desc, pair asc — a
    TakeOrdered of a tiny aggregate, never a full sort), and (c) applies
    the merge to every sequence via ONE broadcast of the single winning
    row + a string replace whose bracket-delimited symbol encoding makes
    left-to-right non-overlapping replace exactly BPE's merge semantics
    (see _BPE_MERGED comment). The iteration state is (vocab-size rows x
    seq string) — at 100 TB the word-count rollup is the only
    corpus-scale pass; every subsequent round runs on the ~1M-row
    weighted vocabulary, which is the same reason SentencePiece trains
    on counts, not tokens. Each round's iterate is localCheckpoint'ed
    (bpe_learn_chain's r14 iteration discipline): the driver never sees
    a pair count."""
    results, _ = bpe_learn_chain(spark, sf_dir)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def bpe_learn_chain(spark, sf_dir, rounds: int = _BPE_ROUNDS):
    """The q268 learning loop as a reusable chain: returns (per-round
    winner DataFrames, final word->segmentation table). Both q268 (the
    merge table) and q283 (applying the segmentation per document)
    consume it — no driver-side state ever (each round's winner re-enters
    the plan as a broadcast row, never a collect).

    Iteration discipline (r14, guide §5 — the same fix as q156/q162):
    the per-round state is localCheckpoint'ed, because every round's
    `seq` is consumed TWICE (the pair-count explode and the next round's
    merge apply) and each winner twice (the emitted merge row and the
    broadcast), so the unrolled lazy plan re-evaluated the corpus rollup
    once per consumer per level (7 parquet scans in the r13 plan). With
    seq0 (the one corpus-scale pass) and each round's vocab-sized
    iterate materialized, the corpus is read exactly once per
    invocation. Measured at sf0.1 (plans/r14/exp_q268.log, clean
    window): 1.22-1.35 s unrolled vs 0.86-0.95 s checkpointed."""
    # spread before the word explode (io.spread, guide §2.5): the
    # corpus-scale rollup is the one heavy pass of the BPE chain and the
    # single-row-group fixture scan would run it in one task.
    d = table_spread(spark, sf_dir, "documents", "doc_id")
    w = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    seq = w.select(
        "word", "n", F.expr(_bpe_seq_spark("word")).alias("seq")
    ).localCheckpoint(eager=True)

    pair_expr = (
        "transform(sequence(1, size(sym) - 1),"
        " i -> concat(element_at(sym, i), ' ', element_at(sym, i + 1)))"
    )
    results = []
    for r in range(1, rounds + 1):
        pairs = (
            seq.select("n", F.split("seq", " ").alias("sym"))
            .filter(F.size("sym") >= 2)
            .select("n", F.explode(F.expr(pair_expr)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("n").cast("long").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).localCheckpoint(
            eager=True  # 1 row: feeds both the merge table and the broadcast
        )
        results.append(
            best.select(
                F.lit(r).alias("rank"),
                "pair",
                F.expr(_BPE_MERGED.format(p="pair")).alias("merged"),
                "cnt",
            )
        )
        best_b = best.select(
            F.col("pair").alias("__bp"),
            F.expr(_BPE_MERGED.format(p="pair")).alias("__bm"),
        )
        seq = seq.crossJoin(F.broadcast(best_b)).select(
            "word",
            "n",
            F.expr("replace(seq, __bp, __bm)").alias("seq"),
        )
        if r < rounds:  # the final seq has one consumer; keep it lazy
            seq = seq.localCheckpoint(eager=True)
    return results, seq


# ---- sparse TF-IDF cosine pairs (q276) ---------------------------------
_SPARSE_TAU = 0.85     # cosine threshold for reported pairs
_SPARSE_DF_FRAC = 0.9  # terms in more than this fraction of docs are pruned
_SPARSE_DF_ABS = 1000  # hard df ceiling: a term in f docs costs C(f,2) join rows


def sparse_cosine_weights(
    d: DataFrame,
    df_cap_frac: float = _SPARSE_DF_FRAC,
    df_cap_abs: int = _SPARSE_DF_ABS,
):
    """TF-IDF weights with common-term pruning — the shared kernel of
    q276. Terms whose document frequency exceeds df_cap_frac * N are
    DEFINED out of the similarity space (stop-term removal): they carry
    near-zero IDF signal but quadratic join cost (a term in every doc
    pairs every doc with every doc). Returned weights are rounded to 6dp
    so products and decimal-folded sums are bit-identical cross-engine."""
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(df, "token")
        .crossJoin(n)
        .filter(
            (F.col("df") <= df_cap_frac * F.col("n_docs"))
            & (F.col("df") <= df_cap_abs)
        )
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("w"),
        )
    )


@query(
    "q276_sparse_cosine_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
           WHERE token <> '' GROUP BY 1, 2),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks
           WHERE token <> '' GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (
        SELECT tf.doc_id, tf.token,
               round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS w
        FROM tf JOIN df USING (token) CROSS JOIN n
        WHERE df.df <= {_SPARSE_DF_FRAC} * n.n_docs
          AND df.df <= {_SPARSE_DF_ABS}
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
        FROM w GROUP BY 1
    ),
    dot AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(CAST(a.w * b.w AS DECIMAL(28,12))) AS DOUBLE) AS dot
        FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(dot / (x.nrm * y.nrm), 6) AS sim
    FROM dot JOIN nrm x ON x.doc_id = doc_a JOIN nrm y ON y.doc_id = doc_b
    WHERE round(dot / (x.nrm * y.nrm), 6) >= {_SPARSE_TAU}
    """,
)
def q276_sparse_cosine_pairs(spark, sf_dir) -> DataFrame:
    """Sparse TF-IDF cosine all-pairs via INVERTED-INDEX join — the
    classic sparse-similarity algorithm (Broder/Elsayed-Lin shape) and
    the textual complement to q65's dense GEMM: instead of shipping
    vectors into grid cells, weights join ON TOKEN (an inverted index),
    partial products fold per document pair, and cosine falls out of
    decimal-folded dot / norms — no embedding needed, exact, and the
    candidate set is automatically restricted to pairs that SHARE a
    term. The scale control is the df cap in sparse_cosine_weights:
    a term in f docs contributes C(f,2) join rows, so stop-terms are
    pruned by DEFINITION of the similarity space (this fixture's
    synthetic vocabulary is nearly uniform, so the relative cap keeps
    all terms here; the absolute-cap pruning behavior is pinned by a
    unit test on a corpus with a genuine stop word; an ABSOLUTE df
    ceiling additionally bounds the join at N_terms * C(cap, 2) at any
    scale). Algorithm selection, measured: this fixture's vocabulary is
    ~uniform (31 terms, df ~ 0.78N, median pairwise cosine 0.61) — the
    similarity problem itself is DENSE, and without the absolute cap
    the inverted-index join costs 250 s at sf0.1 where q65's block-GEMM
    answers the dense form in 0.64 s. Sparse inverted-index all-pairs
    is the right tool exactly when vocabulary is Zipf (real text):
    candidates come from RARE shared terms; stop-terms carry no signal
    and all the cost. The caps encode that; on corpora where they
    prune everything, use the dense kernel. All sums fold in
    DECIMAL(28,12) on both engines — partitioning order cannot move a
    bit. Shuffles: tf, df, the token join, the pair fold, two broadcast
    norm joins — each keyed on tokens/digest-sized rows, never raw
    documents."""
    d = table(spark, sf_dir, "documents")
    w = sparse_cosine_weights(d)
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(28,12)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), F.col("token").alias("token_b"),
        F.col("w").alias("wb"),
    )
    dot = (
        a.join(b, (a.token == b.token_b) & (a.doc_a < b.doc_b))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,12)"))
            .cast("double")
            .alias("dot")
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    sim = F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6)
    return (
        dot.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", sim.alias("sim"))
        .filter(F.col("sim") >= _SPARSE_TAU)
    )


# ---- GPT-style concat-and-chunk token blocks (q277) --------------------
_CHUNK_L = 256  # training block length (tokens)


@query(
    "q277_token_stream_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    off AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tok AS tok_start
        FROM t
    )
    SELECT doc_id, b AS block_id,
           CAST(greatest(tok_start, b * {_CHUNK_L}) - b * {_CHUNK_L}
                AS BIGINT) AS pos_in_block,
           CAST(least(tok_start + n_tok, (b + 1) * {_CHUNK_L})
                - greatest(tok_start, b * {_CHUNK_L}) AS BIGINT) AS n_frag
    FROM off, UNNEST(generate_series(
        CAST(floor(tok_start / {_CHUNK_L}) AS BIGINT),
        CAST(floor((tok_start + n_tok - 1) / {_CHUNK_L}) AS BIGINT))) u(b)
    WHERE n_tok > 0
    """,
)
def q277_token_stream_chunks(spark, sf_dir) -> DataFrame:
    """GPT-style concat-and-chunk — the OTHER packing discipline (q117
    packs whole documents into bins; pretraining pipelines for decoder
    LMs instead concatenate the token stream in a fixed order and cut it
    into exact L-token blocks, letting documents CROSS block
    boundaries): each doc's global token span [start, start+n) maps onto
    every block it overlaps, emitting (block_id, fragment offset,
    fragment length) — the manifest a shard writer consumes to emit
    fixed-shape training examples with zero padding. Global offsets come
    from ops.global_running_sum (two-phase scan/prefix-sum, no
    single-partition window — q117's kernel); the block fan-out is a
    per-row explode of ceil(n/L) ≤ 2-ish entries, scan-stage. Exact
    integer arithmetic end-to-end, so the oracle states the same spans
    with a plain window."""
    from .. import ops

    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    off = ops.global_running_sum(t, ["doc_id"], "n_tok", "__end").withColumn(
        "tok_start", F.col("__end") - F.col("n_tok")
    )
    L = _CHUNK_L
    return off.select(
        "doc_id",
        F.explode(
            F.expr(
                f"sequence(CAST(floor(tok_start / {L}) AS BIGINT),"
                f" CAST(floor((tok_start + n_tok - 1) / {L}) AS BIGINT))"
            )
        ).alias("block_id"),
        "tok_start",
        "n_tok",
    ).select(
        "doc_id",
        "block_id",
        (
            F.greatest(F.col("tok_start"), F.col("block_id") * L)
            - F.col("block_id") * L
        ).alias("pos_in_block"),
        (
            F.least(F.col("tok_start") + F.col("n_tok"), (F.col("block_id") + 1) * L)
            - F.greatest(F.col("tok_start"), F.col("block_id") * L)
        ).alias("n_frag"),
    )


# ---- soft dedup: duplicate-aware sampling weights (q278) ---------------
@query(
    "q278_soft_dedup_weights",
    oracle="""
    WITH g AS (
        SELECT doc_id, md5(text) AS h,
               COUNT(*) OVER (PARTITION BY md5(text)) AS k
        FROM documents
    )
    SELECT doc_id, h AS content_hash, CAST(k AS BIGINT) AS n_copies,
           round(1.0 / k, 6) AS sample_weight,
           (k = 1) AS is_unique
    FROM g
    """,
)
def q278_soft_dedup_weights(spark, sf_dir) -> DataFrame:
    """Soft deduplication — instead of DROPPING duplicates (q62), keep
    every copy but weight it 1/k where k is its duplicate-group size, so
    the EXPECTED contribution of each distinct content to training is
    exactly one copy (the downweighting scheme used when hard dedup is
    too aggressive — e.g. templated-but-informative pages). Group sizes
    are a map-side-combined aggregate over the 16-byte content digest
    joined back digest-keyed — raw text never shuffles (q102's
    discipline), and NOT the one-shuffle count-window spelling: a
    viral page's duplicate cluster would be one unsplittable window
    partition at corpus scale, while the aggregate's partials merge
    hierarchically and AQE skew-splits the join probe (the q149/q214
    analysis — soft dedup exists precisely because k can be huge).
    Downstream samplers consume sample_weight directly (q125's weighted
    draw composes: accept if u(doc) < sample_weight). Emitted per-doc
    so both hard (is_unique or min-id) and soft policies read from one
    table."""
    d = table(spark, sf_dir, "documents")
    g = d.select("doc_id", F.md5("text").alias("content_hash"))
    cnt = g.groupBy("content_hash").agg(F.count("*").alias("k"))
    return g.join(cnt, "content_hash").select(
        "doc_id",
        "content_hash",
        F.col("k").cast("long").alias("n_copies"),
        F.round(1.0 / F.col("k"), 6).alias("sample_weight"),
        (F.col("k") == 1).alias("is_unique"),
    )


# ---- CCNet-style quality buckets (q279) --------------------------------
@query(
    "q279_ccnet_buckets",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    cnt AS (SELECT t, COUNT(*) AS n_t FROM tok GROUP BY t),
    tt AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM cnt
    ),
    sc AS (
        SELECT tok.doc_id,
               round(CAST(SUM(CAST(-ln((cnt.n_t + 1.0) / (tt.tot + tt.vocab))
                                  AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
                   AS mean_surprisal
        FROM tok JOIN cnt ON cnt.t = tok.t CROSS JOIN tt
        GROUP BY tok.doc_id
    )
    SELECT d.doc_id, d.lang, sc.mean_surprisal,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY sc.mean_surprisal, d.doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM sc JOIN documents d USING (doc_id)
    """,
)
def q279_ccnet_buckets(spark, sf_dir) -> DataFrame:
    """The CCNet head/middle/tail split (Wenzek et al. 2020) — the
    composition that made CommonCrawl usable as LM training data:
    per-language, rank documents by LM perplexity (q133's unigram
    surprisal proxy, reused verbatim) and cut into tertiles. 'head' is
    the fluent third that trains the next model, 'tail' is noise,
    'middle' is policy. Deterministic tiebreak (surprisal, doc_id) keeps
    ntile stable cross-engine. The per-language window shuffles only
    (doc_id, lang, score) rows — text stays in the scan stage of the
    scoring pass; at 100 TB the exact ntile becomes approx_percentile
    thresholds (q80's note) with the same output contract."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    sc = q133_perplexity_unigram(spark, sf_dir).select(
        "doc_id", "mean_surprisal"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy("mean_surprisal", "doc_id")
    nt = F.ntile(3).over(w)
    return (
        sc.join(d, "doc_id")
        .select(
            "doc_id",
            "lang",
            "mean_surprisal",
            F.when(nt == 1, "head")
            .when(nt == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


# ---- DSIR importance resampling (q282) ---------------------------------
_DSIR_KEEP = 100  # documents selected into the target-matched subset


@query(
    "q282_dsir_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    tgt_docs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    tgt AS (
        SELECT t, COUNT(*) AS n_t FROM tok
        WHERE doc_id IN (SELECT doc_id FROM tgt_docs) GROUP BY t
    ),
    tgt_tot AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS tot,
               (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM tok) AS vocab
        FROM tgt
    ),
    src AS (SELECT t, COUNT(*) AS n_t FROM tok GROUP BY t),
    src_tot AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS tot,
               (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM tok) AS vocab
        FROM src
    ),
    scored AS (
        SELECT tok.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               round(CAST(SUM(CAST(
                   ln((COALESCE(tgt.n_t, 0) + 1.0)
                      / (tgt_tot.tot + tgt_tot.vocab))
                   - ln((src.n_t + 1.0) / (src_tot.tot + src_tot.vocab))
                   AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) + 0.0
                   AS log_importance
        FROM tok
        JOIN src USING (t) LEFT JOIN tgt USING (t)
        CROSS JOIN tgt_tot CROSS JOIN src_tot
        GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tok, log_importance,
           row_number() OVER (ORDER BY log_importance DESC, doc_id)
               <= {_DSIR_KEEP} AS selected
    FROM scored
    """,
)
def q282_dsir_weights(spark, sf_dir) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.
    2023, arXiv:2302.03169), the published method for picking
    pretraining data that MATCHES A TARGET DISTRIBUTION: fit cheap bag-
    of-words models to the target (here: the English slice, standing in
    for 'high-quality domain') and to the raw source (the full corpus),
    score every document by mean per-token log importance
    ln p_target(t) − ln p_source(t), and keep the top-K (the paper
    resamples by Gumbel-perturbed weights; the deterministic rank is
    the differential-testable variant — swap in q125's md5 draw for the
    stochastic form). Both models use add-1 smoothing over the SHARED
    corpus vocabulary, so target-unseen tokens get a finite penalty
    rather than −inf — and every per-doc sum folds in DECIMAL, the
    q133 discipline. Plan: two vocabulary-sized count tables join the
    token stream (Zipf map-side combine), one per-doc rollup, one
    |docs|-row ranking window — the corpus text itself never shuffles.
    At 100 TB the paper's hashed-ngram trick replaces tokens with
    'hash(t) % 2^20' in the SAME plan (bounded count tables)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("t")
    )
    vocab = tok.agg(F.countDistinct("t").cast("long").alias("vocab"))
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("t")
        .agg(F.count("*").alias("tgt_n"))
    )
    tgt_tot = tgt.agg(F.sum("tgt_n").cast("long").alias("tgt_tot")).crossJoin(
        vocab
    )
    src = tok.groupBy("t").agg(F.count("*").alias("src_n"))
    src_tot = src.agg(F.sum("src_n").cast("long").alias("src_tot"))
    term = F.log(
        (F.coalesce(F.col("tgt_n"), F.lit(0)) + 1.0)
        / (F.col("tgt_tot") + F.col("vocab"))
    ) - F.log((F.col("src_n") + 1.0) / (F.col("src_tot") + F.col("vocab")))
    scored = (
        tok.join(src, "t")
        .join(tgt, "t", "left")
        .crossJoin(tgt_tot)
        .crossJoin(src_tot)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            # + 0.0 normalizes IEEE negative zero: a doc whose decimal
            # sum rounds to zero from below prints -0.0 on one engine
            # and 0.0 on the other (found by the sf0.1 cross-scale walk)
            (
                F.round(
                    F.sum(term.cast("decimal(28,12)")).cast("double")
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)
            ).alias("log_importance"),
        )
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.orderBy(F.desc("log_importance"), F.asc("doc_id"))
    )
    return scored.select(
        "doc_id", "n_tok", "log_importance", (rk <= _DSIR_KEEP).alias("selected")
    )


@query(
    "q283_bpe_apply",
    oracle=f"""
    WITH w AS (
        SELECT t AS word, COUNT(*) AS n FROM (
            SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
        ) WHERE t <> '' GROUP BY t
    ),
    s0 AS (
        SELECT word, n,
               array_to_string(list_transform(
                   list_filter(string_split_regex(word, ''), c -> c <> ''),
                   c -> '<' || c || '>'), ' ') AS seq
        FROM w
    ),
    p1 AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, UNNEST(list_transform(
                generate_series(1, len(sym) - 1),
                i -> sym[i] || ' ' || sym[i + 1])) AS pair
            FROM (SELECT n, string_split(seq, ' ') AS sym FROM s0)
            WHERE len(sym) >= 2
        ) GROUP BY pair
    ),
    b1 AS (SELECT pair FROM p1 ORDER BY cnt DESC, pair ASC LIMIT 1),
    s1 AS (
        SELECT word, n,
               replace(seq, b1.pair, {_BPE_MERGED.format(p='b1.pair')}) AS seq
        FROM s0 CROSS JOIN b1
    ),
    p2 AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, UNNEST(list_transform(
                generate_series(1, len(sym) - 1),
                i -> sym[i] || ' ' || sym[i + 1])) AS pair
            FROM (SELECT n, string_split(seq, ' ') AS sym FROM s1)
            WHERE len(sym) >= 2
        ) GROUP BY pair
    ),
    b2 AS (SELECT pair FROM p2 ORDER BY cnt DESC, pair ASC LIMIT 1),
    s2 AS (
        SELECT word, n,
               replace(seq, b2.pair, {_BPE_MERGED.format(p='b2.pair')}) AS seq
        FROM s1 CROSS JOIN b2
    ),
    p3 AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
            SELECT n, UNNEST(list_transform(
                generate_series(1, len(sym) - 1),
                i -> sym[i] || ' ' || sym[i + 1])) AS pair
            FROM (SELECT n, string_split(seq, ' ') AS sym FROM s2)
            WHERE len(sym) >= 2
        ) GROUP BY pair
    ),
    b3 AS (SELECT pair FROM p3 ORDER BY cnt DESC, pair ASC LIMIT 1),
    s3 AS (
        SELECT word, n,
               replace(seq, b3.pair, {_BPE_MERGED.format(p='b3.pair')}) AS seq
        FROM s2 CROSS JOIN b3
    ),
    vocab AS (
        SELECT word, len(string_split(seq, ' ')) AS n_sym,
               len(string_split(seq, ' ')) <
                   len(list_filter(string_split_regex(word, ''), c -> c <> ''))
                   AS merged_any
        FROM s3
    ),
    dt AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
    )
    SELECT dt.doc_id,
           -- length(), not strlen(): the Spark side counts CHARACTERS
           -- (F.length); DuckDB strlen is byte-based and would diverge
           -- on a non-ASCII fixture (ADVICE r6 unit taxonomy)
           CAST(SUM(length(dt.word)) AS BIGINT) AS n_tok_char,
           CAST(SUM(vocab.n_sym) AS BIGINT) AS n_tok_bpe,
           round(CAST(SUM(length(dt.word)) AS DOUBLE)
                 / SUM(vocab.n_sym), 6) AS compression,
           CAST(SUM(CASE WHEN vocab.merged_any THEN 1 ELSE 0 END) AS BIGINT)
               AS n_words_merged
    FROM dt JOIN vocab USING (word)
    WHERE dt.word <> ''
    GROUP BY dt.doc_id
    """,
)
def q283_bpe_apply(spark, sf_dir) -> DataFrame:
    """Applying the learned tokenizer — the second half of the BPE loop
    (q268 learns the merges; production then RE-TOKENIZES the corpus
    with them): the final word→segmentation table from bpe_learn_chain
    joins back onto the token stream, and each document reports its
    character-level token count, its post-merge BPE token count, the
    compression ratio (the metric tokenizer training optimizes), and
    how many of its words were touched by any merge. The vocabulary
    table is tiny (distinct words) and broadcasts onto the corpus —
    exactly how a trained tokenizer ships at 100 TB: the merge table is
    a broadcast artifact, application is scan-stage. One oracled plan
    covers learn AND apply, so a subtly-wrong merge application (the
    q268 overlap pitfalls) would shift every count downstream."""
    _, seq = bpe_learn_chain(spark, sf_dir)
    vocab = seq.select(
        "word",
        F.size(F.split("seq", " ")).alias("n_sym"),
        (
            F.size(F.split("seq", " "))
            < F.size(F.expr("filter(split(word, ''), c -> c <> '')"))
        ).alias("merged_any"),
    )
    d = table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        dt.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.length("word")).cast("long").alias("n_tok_char"),
            F.sum("n_sym").cast("long").alias("n_tok_bpe"),
            F.round(
                F.sum(F.length("word")).cast("double") / F.sum("n_sym"), 6
            ).alias("compression"),
            F.sum(F.when(F.col("merged_any"), 1).otherwise(0))
            .cast("long")
            .alias("n_words_merged"),
        )
    )


# ---- round-4 capstone: curated corpus -> shard manifest (q284) ---------
@query(
    "q284_corpus_manifest",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    tgt AS (
        SELECT t, COUNT(*) AS n_t FROM tok
        WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
        GROUP BY t
    ),
    tgt_tot AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS tot,
               (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM tok) AS vocab
        FROM tgt
    ),
    src AS (SELECT t, COUNT(*) AS n_t FROM tok GROUP BY t),
    src_tot AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS tot,
               (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) FROM tok) AS vocab
        FROM src
    ),
    dsir AS (
        SELECT tok.doc_id,
               row_number() OVER (
                   ORDER BY round(CAST(SUM(CAST(
                       ln((COALESCE(tgt.n_t, 0) + 1.0)
                          / (tgt_tot.tot + tgt_tot.vocab))
                       - ln((src.n_t + 1.0) / (src_tot.tot + src_tot.vocab))
                       AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) DESC,
                   tok.doc_id) <= {_DSIR_KEEP} AS selected
        FROM tok
        JOIN src USING (t) LEFT JOIN tgt USING (t)
        CROSS JOIN tgt_tot CROSS JOIN src_tot
        GROUP BY tok.doc_id
    ),
    cnt AS (SELECT t, COUNT(*) AS n_t FROM tok GROUP BY t),
    tt AS (
        SELECT CAST(SUM(n_t) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS vocab FROM cnt
    ),
    sc AS (
        SELECT tok.doc_id,
               round(CAST(SUM(CAST(-ln((cnt.n_t + 1.0) / (tt.tot + tt.vocab))
                                  AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
                   AS mean_surprisal
        FROM tok JOIN cnt ON cnt.t = tok.t CROSS JOIN tt
        GROUP BY tok.doc_id
    ),
    bucketed AS (
        SELECT d.doc_id,
               CASE ntile(3) OVER (PARTITION BY d.lang
                                   ORDER BY sc.mean_surprisal, d.doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
               END AS bucket
        FROM sc JOIN documents d USING (doc_id)
    ),
    kept AS (
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
        FROM documents d
        JOIN dsir USING (doc_id) JOIN bucketed USING (doc_id)
        WHERE dsir.selected AND bucketed.bucket <> 'tail'
    ),
    off AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tok AS tok_start
        FROM kept
    ),
    frags AS (
        SELECT doc_id, b AS block_id,
               least(tok_start + n_tok, (b + 1) * {_CHUNK_L})
                   - greatest(tok_start, b * {_CHUNK_L}) AS n_frag
        FROM off, UNNEST(generate_series(
            CAST(floor(tok_start / {_CHUNK_L}) AS BIGINT),
            CAST(floor((tok_start + n_tok - 1) / {_CHUNK_L}) AS BIGINT))) u(b)
        WHERE n_tok > 0
    )
    SELECT block_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_frag) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM frags GROUP BY block_id
    """,
)
def q284_corpus_manifest(spark, sf_dir) -> DataFrame:
    """Round-4 capstone: DATA SELECTION -> TRAINING SHARDS as one lazy
    plan, composing three round-4 operators end-to-end — DSIR keeps the
    target-matched top-K (q282), the CCNet gate drops the per-language
    perplexity tail (q279), and the surviving corpus lays out as exact
    {_CHUNK_L}-token blocks (q277's concat-and-chunk), reported as the
    per-block shard manifest (docs per block, fill level, doc-id span)
    a training loader consumes. Every stage is the already-oracled
    kernel reused verbatim, and the composed oracle replays all three —
    so a drift anywhere in the selection or layout chain moves block
    boundaries and fails the hash (interior blocks must land EXACTLY
    full: n_tokens = {_CHUNK_L}). The q200 discipline, upgraded to the
    round-4 curation stack."""
    sel = q282_dsir_weights(spark, sf_dir).select("doc_id", "selected")
    buck = q279_ccnet_buckets(spark, sf_dir).select("doc_id", "bucket")
    d = table(spark, sf_dir, "documents")
    kept = (
        d.join(sel, "doc_id")
        .join(buck, "doc_id")
        .filter(F.col("selected") & (F.col("bucket") != "tail"))
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
    )
    from .. import ops

    off = ops.global_running_sum(kept, ["doc_id"], "n_tok", "__end").withColumn(
        "tok_start", F.col("__end") - F.col("n_tok")
    )
    L = _CHUNK_L
    frags = off.select(
        "doc_id",
        "tok_start",
        "n_tok",
        F.explode(
            F.expr(
                f"sequence(CAST(floor(tok_start / {L}) AS BIGINT),"
                f" CAST(floor((tok_start + n_tok - 1) / {L}) AS BIGINT))"
            )
        ).alias("block_id"),
    ).select(
        "doc_id",
        "block_id",
        (
            F.least(F.col("tok_start") + F.col("n_tok"), (F.col("block_id") + 1) * L)
            - F.greatest(F.col("tok_start"), F.col("block_id") * L)
        ).alias("n_frag"),
    )
    return frags.groupBy("block_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_frag").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---- Gopher quality rules (q285) ---------------------------------------
# Rae et al. 2021 (Gopher, arXiv:2112.11446) Appendix A1.1 — the rule set
# Dolma/FineWeb/RefinedWeb descend from. Thresholds below are the paper's
# where the fixture can express them; rules needing markup (bullet/ellipsis
# lines) are stated on this corpus's word-soup equivalent.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MEAN_WLEN = 3.0
_GOPHER_MAX_MEAN_WLEN = 10.0
_GOPHER_MAX_SYMBOL_RATIO = 0.10   # '#' or '...' to words
_GOPHER_MIN_ALPHA_WORD_RATIO = 0.80  # words containing >=1 alphabetic char
_GOPHER_STOP_HITS = 2  # docs must contain >= 2 distinct common words


@query(
    "q285_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               -- length(), not strlen(): Spark counts chars (ADVICE r6)
               round(CAST(list_sum(list_transform(toks, w -> length(w)))
                     AS DOUBLE) / len(toks), 6) AS mean_wlen,
               round(CAST(len(list_filter(toks,
                     w -> w LIKE '%#%' OR w LIKE '%...%')) AS DOUBLE)
                     / len(toks), 6) AS symbol_ratio,
               round(CAST(len(list_filter(toks,
                     w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                     / len(toks), 6) AS alpha_ratio,
               len(list_distinct(list_filter(toks,
                     w -> w IN ('the', 'a', 'of', 'to', 'and', 'in'))))
                   AS stop_hits
        FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, n_words, mean_wlen, symbol_ratio, alpha_ratio,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
               AS ok_n_words,
           (mean_wlen BETWEEN {_GOPHER_MIN_MEAN_WLEN}
                          AND {_GOPHER_MAX_MEAN_WLEN}) AS ok_mean_wlen,
           (symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbols,
           (alpha_ratio >= {_GOPHER_MIN_ALPHA_WORD_RATIO}) AS ok_alpha,
           (stop_hits >= {_GOPHER_STOP_HITS}) AS ok_stop,
           ((n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
            AND (mean_wlen BETWEEN {_GOPHER_MIN_MEAN_WLEN}
                               AND {_GOPHER_MAX_MEAN_WLEN})
            AND symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO}
            AND alpha_ratio >= {_GOPHER_MIN_ALPHA_WORD_RATIO}
            AND stop_hits >= {_GOPHER_STOP_HITS}) AS keep
    FROM m
    """,
)
def q285_gopher_rules(spark, sf_dir) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, arXiv:2112.11446,
    A1.1) — the heuristic filter battery Dolma / RefinedWeb / FineWeb
    all descend from, emitted as PER-RULE verdicts plus the combined
    keep flag (pipelines audit rule-level rejection rates before
    tightening thresholds; a single boolean hides which rule fired):
    word-count window, mean-word-length window, symbol-to-word ratio,
    alphabetic-word ratio, and the required-stopword rule (>= 2
    distinct common words — the cheap English-fluency proxy). Every
    rule is one array HOF over a single split of the text — the whole
    battery is ONE scan-stage projection, zero shuffles, zero UDFs,
    which is what makes running it over 100 TB on ingest a non-event.
    Thresholds are the paper's; the markup-dependent rules (bullet /
    ellipsis LINE ratios) are expressed on this corpus's tokens."""
    d = table(spark, sf_dir, "documents")
    toks = F.expr("filter(split(text, ' '), w -> w <> '')")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n_words = F.size("toks")
    mean_wlen = F.round(
        F.expr(
            "aggregate(toks, 0L, (a, w) -> a + length(w))"
        ).cast("double")
        / n_words,
        6,
    )
    symbol_ratio = F.round(
        F.expr(
            "size(filter(toks, w -> w LIKE '%#%' OR w LIKE '%...%'))"
        ).cast("double")
        / n_words,
        6,
    )
    alpha_ratio = F.round(
        F.expr(
            "size(filter(toks, w -> w RLIKE '[a-zA-Z]'))"
        ).cast("double")
        / n_words,
        6,
    )
    stop_hits = F.expr(
        "size(array_distinct(filter(toks,"
        " w -> w IN ('the', 'a', 'of', 'to', 'and', 'in'))))"
    ).cast("long")
    m = base.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wlen.alias("mean_wlen"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
    )
    ok_n = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ok_wl = F.col("mean_wlen").between(
        _GOPHER_MIN_MEAN_WLEN, _GOPHER_MAX_MEAN_WLEN
    )
    ok_sym = F.col("symbol_ratio") <= _GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = F.col("alpha_ratio") >= _GOPHER_MIN_ALPHA_WORD_RATIO
    ok_stop = F.col("stop_hits") >= _GOPHER_STOP_HITS
    return m.select(
        "*",
        ok_n.alias("ok_n_words"),
        ok_wl.alias("ok_mean_wlen"),
        ok_sym.alias("ok_symbols"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_n & ok_wl & ok_sym & ok_alpha & ok_stop).alias("keep"),
    )


# ---- Unicode script detection (q288) -----------------------------------
# Deterministic script-divergent tails keyed by the lang label: the
# fixture corpus is pure ASCII, so each doc gets a synthetic tail in its
# language's native script (identically on both engines) and the
# detector must recover the mix — same discipline as q119's synthetic
# PII and q261's NFC-divergent rows.
_SCRIPT_TAILS = {
    "zh": "数据处理引擎",   # CJK ideographs
    "fr": "café élève noël",     # accented Latin
    "de": "größe über straße",
    "es": "niño macaón acción",
    "en": "plain ascii tail",
}
_SCRIPT_CASE_SQL = (
    "CASE lang WHEN 'zh' THEN '" + _SCRIPT_TAILS["zh"] + "'"
    " WHEN 'fr' THEN '" + _SCRIPT_TAILS["fr"] + "'"
    " WHEN 'de' THEN '" + _SCRIPT_TAILS["de"] + "'"
    " WHEN 'es' THEN '" + _SCRIPT_TAILS["es"] + "'"
    " ELSE '" + _SCRIPT_TAILS["en"] + "' END"
)


@query(
    "q288_script_detect",
    oracle=f"""
    WITH aug AS (
        SELECT doc_id, lang,
               substr(text, 1, 32) || ' ' || ({_SCRIPT_CASE_SQL}) AS t
        FROM documents
    ),
    ch AS (
        SELECT doc_id, lang,
               list_transform(
                   list_filter(string_split_regex(t, ''),
                               c -> c <> '' AND c <> ' '),
                   c -> ord(c)) AS cps
        FROM aug
    )
    SELECT doc_id, lang,
           CAST(len(cps) AS BIGINT) AS n_chars,
           round(CAST(len(list_filter(cps, p -> p < 128)) AS DOUBLE)
                 / len(cps), 6) AS frac_ascii,
           round(CAST(len(list_filter(cps,
                 p -> p >= 128 AND p < 592)) AS DOUBLE)
                 / len(cps), 6) AS frac_latin_ext,
           round(CAST(len(list_filter(cps,
                 p -> p >= 19968 AND p <= 40959)) AS DOUBLE)
                 / len(cps), 6) AS frac_cjk,
           (len(list_filter(cps, p -> p >= 19968 AND p <= 40959)) * 2
                > len(cps) / 5) AS likely_cjk
    FROM ch
    """,
)
def q288_script_detect(spark, sf_dir) -> DataFrame:
    """Unicode SCRIPT detection by codepoint ranges — the routing step
    that runs BEFORE language ID in multilingual pipelines (script is
    decidable per-character with zero models; CJK text should never
    reach a Latin-trained lang-ID path): per-document fractions of
    ASCII, extended-Latin (accents, 0x80-0x24F), and CJK-ideograph
    (0x4E00-0x9FFF) characters, plus a likely-CJK flag. The fixture is
    pure ASCII, so script-divergent tails are synthesized per lang
    label on BOTH engines (the q119/q261 discipline) and the detector
    must recover them: zh docs show nonzero frac_cjk, European langs
    nonzero frac_latin_ext, en stays pure ASCII. Entirely expression-
    level (split → codepoint → range tests) — zero shuffle, no UDF, and
    codepoint arithmetic is engine-neutral by construction."""
    d = table(spark, sf_dir, "documents")
    tail = (
        F.when(F.col("lang") == "zh", F.lit(_SCRIPT_TAILS["zh"]))
        .when(F.col("lang") == "fr", F.lit(_SCRIPT_TAILS["fr"]))
        .when(F.col("lang") == "de", F.lit(_SCRIPT_TAILS["de"]))
        .when(F.col("lang") == "es", F.lit(_SCRIPT_TAILS["es"]))
        .otherwise(F.lit(_SCRIPT_TAILS["en"]))
    )
    aug = d.select(
        "doc_id",
        "lang",
        F.concat(F.substring("text", 1, 32), F.lit(" "), tail).alias("t"),
    )
    cps = F.expr(
        "transform(filter(split(t, ''), c -> c <> '' AND c <> ' '),"
        " c -> ascii(c))"
    )
    ch = aug.select("doc_id", "lang", cps.alias("cps"))
    n = F.size("cps")
    frac = lambda cond: F.round(
        F.expr(f"size(filter(cps, p -> {cond}))").cast("double") / n, 6
    )
    return ch.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_chars"),
        frac("p < 128").alias("frac_ascii"),
        frac("p >= 128 AND p < 592").alias("frac_latin_ext"),
        frac("p >= 19968 AND p <= 40959").alias("frac_cjk"),
        (
            F.expr("size(filter(cps, p -> p >= 19968 AND p <= 40959))") * 2
            > n / 5
        ).alias("likely_cjk"),
    )


# ---- Gopher repetition rules: top n-gram coverage (q290) ---------------
# Rae et al. 2021 A1.2: drop docs where the single most frequent n-gram
# covers too much of the text (templated/generated content). Paper
# thresholds: top-2gram > 0.20, top-3gram > 0.18, top-4gram > 0.16.
_REP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}


def _topgram_duck(n: int) -> str:
    return f"""
    SELECT doc_id, MAX(cnt * {n}) AS covered FROM (
        SELECT doc_id, g, COUNT(*) AS cnt FROM (
            SELECT doc_id,
                   UNNEST(list_transform(
                       generate_series(1, len(toks) - {n - 1}),
                       i -> array_to_string(list_slice(toks, i, i + {n - 1}),
                                            ' '))) AS g
            FROM t WHERE len(toks) >= {n}
        ) GROUP BY doc_id, g
    ) GROUP BY doc_id"""


@query(
    "q290_gopher_repetition",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
    ),
    g2 AS ({_topgram_duck(2)}),
    g3 AS ({_topgram_duck(3)}),
    g4 AS ({_topgram_duck(4)})
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_words,
           round(CAST(COALESCE(g2.covered, 0) AS DOUBLE) / len(t.toks), 6)
               AS top2_cov,
           round(CAST(COALESCE(g3.covered, 0) AS DOUBLE) / len(t.toks), 6)
               AS top3_cov,
           round(CAST(COALESCE(g4.covered, 0) AS DOUBLE) / len(t.toks), 6)
               AS top4_cov,
           (COALESCE(g2.covered, 0) <= {_REP_THRESHOLDS[2]} * len(t.toks)
            AND COALESCE(g3.covered, 0) <= {_REP_THRESHOLDS[3]} * len(t.toks)
            AND COALESCE(g4.covered, 0) <= {_REP_THRESHOLDS[4]} * len(t.toks))
               AS keep
    FROM t LEFT JOIN g2 USING (doc_id)
           LEFT JOIN g3 USING (doc_id)
           LEFT JOIN g4 USING (doc_id)
    WHERE len(t.toks) > 0
    """,
)
def q290_gopher_repetition(spark, sf_dir) -> DataFrame:
    """The Gopher REPETITION rules (Rae et al. 2021 A1.2 — the
    complement to q285's quality battery): per document, the fraction
    of tokens covered by the single most frequent 2-/3-/4-gram
    (count x n / n_words), with the paper's drop thresholds combined
    into `keep`. Templated and model-generated text concentrates mass
    on one repeated phrase; fluent text doesn't — this family plus
    q123's bigram-repetition score and q149's cross-doc boilerplate df
    is the full repetition axis. (The paper's duplicate-LINE rules need
    line structure this word-soup fixture lacks; their block analog is
    q120.) Plan: per n, one explode -> (doc, gram) count -> per-doc max
    — grams hash-partition with map-side combine, the doc join keys are
    longs, and nothing driver-side; the three n-gram passes unroll in
    one lazy plan."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr("filter(split(text, ' '), w -> w <> '')").alias("toks"),
    ).filter(F.size("toks") > 0)

    def topgram(n: int) -> DataFrame:
        return (
            t.filter(F.size("toks") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(toks) - {n - 1}),"
                        f" i -> concat_ws(' ', slice(toks, i, {n})))"
                    )
                ).alias("g"),
            )
            .groupBy("doc_id", "g")
            .agg(F.count("*").alias("cnt"))
            .groupBy("doc_id")
            .agg(F.max(F.col("cnt") * n).alias(f"covered{n}"))
        )

    out = t.select("doc_id", F.size("toks").cast("long").alias("n_words"))
    for n in (2, 3, 4):
        out = out.join(topgram(n), "doc_id", "left")
    cov = {
        n: F.coalesce(F.col(f"covered{n}"), F.lit(0)) for n in (2, 3, 4)
    }
    keep = (
        (cov[2] <= _REP_THRESHOLDS[2] * F.col("n_words"))
        & (cov[3] <= _REP_THRESHOLDS[3] * F.col("n_words"))
        & (cov[4] <= _REP_THRESHOLDS[4] * F.col("n_words"))
    )
    return out.select(
        "doc_id",
        "n_words",
        F.round(cov[2].cast("double") / F.col("n_words"), 6).alias("top2_cov"),
        F.round(cov[3].cast("double") / F.col("n_words"), 6).alias("top3_cov"),
        F.round(cov[4].cast("double") / F.col("n_words"), 6).alias("top4_cov"),
        keep.alias("keep"),
    )


# ---- largest-remainder quota apportionment (q309) ----------------------
_APPORTION_BUDGET = 1000  # documents to allocate across sources


@query(
    "q309_quota_apportion",
    oracle=f"""
    WITH w AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents
        GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM w),
    exact_q AS (
        SELECT source, n,
               {_APPORTION_BUDGET} * n / CAST(t AS DOUBLE) AS exact_quota,
               CAST(floor({_APPORTION_BUDGET} * n / CAST(t AS DOUBLE))
                    AS BIGINT) AS base_quota,
               {_APPORTION_BUDGET} * n / CAST(t AS DOUBLE)
                   - floor({_APPORTION_BUDGET} * n / CAST(t AS DOUBLE))
                   AS remainder
        FROM w CROSS JOIN tot
    ),
    short AS (
        SELECT CAST({_APPORTION_BUDGET} - SUM(base_quota) AS BIGINT) AS k
        FROM exact_q
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY remainder DESC, source ASC)
                      AS rr
        FROM exact_q
    )
    SELECT source, n, round(exact_quota, 6) AS exact_quota,
           CAST(base_quota + CASE WHEN rr <= short.k THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked CROSS JOIN short
    """,
)
def q309_quota_apportion(spark, sf_dir) -> DataFrame:
    """Largest-remainder (Hare) quota APPORTIONMENT — the integer
    allocation problem every fixed-budget data mix hits: proportional
    shares of a {_APPORTION_BUDGET}-doc budget are fractional, naive
    rounding over- or under-spends the budget, and largest-remainder is
    the standard fix — floor every share, then hand the leftover K
    units to the K largest remainders (deterministic remainder-desc,
    source-asc tiebreak). The emitted quotas provably sum to the budget
    exactly (asserted in the unit test) while staying within one unit
    of exact proportionality — the property the method exists for.
    Downstream, q122's per-source quota taker consumes these numbers.
    Plan: one source-count aggregate (|sources| rows), everything after
    is window work on that tiny frame."""
    d = table(spark, sf_dir, "documents")
    w = d.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    tot = w.agg(F.sum("n").cast("long").alias("t"))
    exact = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "exact_quota",
            F.lit(_APPORTION_BUDGET) * F.col("n") / F.col("t").cast("double"),
        )
        .withColumn(
            "base_quota", F.floor("exact_quota").cast("long")
        )
        .withColumn("remainder", F.col("exact_quota") - F.floor("exact_quota"))
    )
    short = exact.agg(
        (F.lit(_APPORTION_BUDGET) - F.sum("base_quota")).cast("long").alias("k")
    )
    from pyspark.sql import Window as W

    rr = F.row_number().over(W.orderBy(F.desc("remainder"), F.asc("source")))
    return (
        exact.withColumn("rr", rr)
        .crossJoin(F.broadcast(short))
        .select(
            "source",
            "n",
            F.round("exact_quota", 6).alias("exact_quota"),
            (
                F.col("base_quota")
                + F.when(F.col("rr") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("quota"),
        )
    )


@query(
    "q341_text_ingest_gate",
    oracle="""
    WITH raw AS (
        -- deterministic defect injection (the q272 bad-record pattern):
        -- the fixture is clean by construction, so the gate's input
        -- models what a real crawl batch carries
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 3 THEN NULL
                    WHEN doc_id % 13 = 5 THEN ''
                    WHEN doc_id % 17 = 9 THEN '   ' || chr(9) || chr(10)
                    ELSE text END AS text,
               lang
        FROM documents
    ),
    gated AS (
        SELECT doc_id, lang,
               CASE WHEN text IS NULL THEN 'null_text'
                    WHEN length(text) = 0 THEN 'empty'
                    WHEN length(trim(text, ' ' || chr(9) || chr(10)
                                      || chr(13))) = 0
                        THEN 'whitespace_only'
                    WHEN length(text) < 20 THEN 'too_short'
                    ELSE 'ok' END AS verdict,
               text
        FROM raw
    )
    SELECT verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM gated
    GROUP BY verdict
    """,
)
def q341_text_ingest_gate(spark, sf_dir) -> DataFrame:
    """TEXT INGEST QUALITY GATE — the quarantine stage every corpus
    pipeline runs BEFORE the text family touches a document, and the
    registered statement of the engine's ingest contract: NULL, empty,
    whitespace-only and too-short texts are classified OUT at the door,
    which is WHY the downstream tokenizers/shinglers/hashers (q62-q78,
    q102+) may assume non-null text (the null-injection walk masks the
    relational tables but not documents.text — this gate is the
    documented reason). Defects are injected deterministically (the
    q272 bad-record pattern: doc_id mod 11/13/17 arms produce each
    defect class) because the fixture itself is clean, and the checked
    output is the per-verdict audit summary (counts, char volume,
    id range) — the report an ingest job publishes alongside its
    quarantine sink.

    Verdict order matters and is pinned by the CASE: NULL before
    length (length(NULL) is NULL and would fall through every arm to a
    phantom 'ok'), empty before whitespace-only (trim('') is '' too),
    whitespace before too-short. The whitespace trim set is explicit
    (space/tab/LF/CR) because Spark's trim() strips SPACES ONLY while
    DuckDB's trim default differs — the cross-engine pin is the
    explicit character set on both sides.

    At 100 TB: one scan, zero shuffles before the 5-group aggregate;
    the pass-through slice (verdict='ok') is the same scan with a
    filter, so gate + quarantine + clean-write is a single read of the
    batch (write-audit-publish: counts land next to the data)."""
    d = table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    ws = " \t\n\r"
    raw = d.select(
        "doc_id",
        "lang",
        F.when(k % 11 == 3, F.lit(None))
        .when(k % 13 == 5, F.lit(""))
        .when(k % 17 == 9, F.concat(F.lit("   "), F.lit("\t"), F.lit("\n")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    verdict = (
        F.when(F.col("text").isNull(), "null_text")
        .when(F.length("text") == 0, "empty")
        .when(
            F.length(F.expr(f"trim(BOTH '{ws}' FROM text)")) == 0,
            "whitespace_only",
        )
        .when(F.length("text") < 20, "too_short")
        .otherwise("ok")
    )
    return (
        raw.select("doc_id", verdict.alias("verdict"), "text")
        .groupBy("verdict")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.length("text")), F.lit(0))
            .cast("long")
            .alias("n_chars"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


_HOT_SHARD_B = 25  # q344: target posting-shard width (docs per shard)


@query(
    "q344_posting_hot_shards",
    oracle=f"""
    WITH post AS (
        SELECT DISTINCT t AS token, doc_id
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    banded AS (
        SELECT token, COUNT(*) AS df
        FROM post GROUP BY token
        HAVING COUNT(*) >= {_IDX_MIN_DF}
    ),
    widths AS (
        SELECT b.token, b.df,
               (n.n_docs * {_HOT_SHARD_B} + b.df - 1) // b.df AS w
        FROM banded b CROSS JOIN n
    )
    SELECT p.token, w.df, CAST(p.doc_id // w.w AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS shard_df,
           array_to_string(list(p.doc_id ORDER BY p.doc_id), ',')
               AS postings
    FROM post p JOIN widths w USING (token)
    GROUP BY p.token, w.df, CAST(p.doc_id // w.w AS BIGINT)
    """,
)
def q344_posting_hot_shards(spark, sf_dir) -> DataFrame:
    """ADAPTIVE HOT-TOKEN SHARDING — the named-but-unregistered scale
    path of the inverted-index family (VERDICT r9 #5; q159's docstring
    names it, q318 ships the fixed-width cousin). q318 segments EVERY
    token by a fixed doc range, which is absolutely bounded but
    fragments cold tokens (a df=3 term can scatter into 3 segments, so
    a lookup pays 3 reads for 3 postings) and its per-token segment
    count grows with the corpus regardless of df. Here the shard width
    is chosen PER TOKEN from its document frequency:

        W(t) = ceil(n_docs · B / df(t)),  shard_id = doc_id div W(t)

    so a cold token (df ≤ B) keeps ONE monolithic shard while a
    Zipf-hot token splits into ~df/B shards of ~B postings each (in
    expectation under uniform doc-id spread — the residual worst case
    is doc-id clustering, which composing q318's absolute range split
    below the adaptive width would cap; stated, not hidden). This is
    the skew-battery posture as a layout: the hotter the key, the more
    shards it spreads over, and NOTHING here is a window — the width is
    scan-stage integer math off the map-side-combined df count, so
    there is no per-token ordered partition to go unsplittable at
    100 TB (the r6 audit class the naive rank-div-B spelling would
    reintroduce). Because every shard is bounded, the STOPWORD CEILING
    GOES AWAY: q159/q318 must ban df > 10%·corpus tokens to protect
    their collect buffers, while this layout indexes them (blocked
    postings are how real engines keep stop terms queryable); only the
    hapax floor remains. The df screen still runs BEFORE any collect
    (q159's round-6 audit); each collected buffer is ~B doc_ids.

    Exact on both engines: ceil division is spelled in integers
    ((n·B + df − 1) div df), shard assignment is integer div, postings
    serialize sorted-CSV (driver-hashable scalars)."""
    d = table(spark, sf_dir, "documents")
    post = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .distinct()
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    widths = (
        post.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= _IDX_MIN_DF)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.expr(
                f"(n_docs * {_HOT_SHARD_B} + df - 1) DIV df"
            ).alias("w"),
        )
    )
    return (
        post.join(widths, "token")
        .groupBy(
            "token",
            F.col("df"),
            F.expr("doc_id DIV w").cast("long").alias("shard_id"),
        )
        .agg(
            F.count("*").cast("long").alias("shard_df"),
            F.expr(
                "array_join(transform(sort_array(collect_list(doc_id)),"
                " x -> cast(x AS string)), ',')"
            ).alias("postings"),
        )
        .select("token", "df", "shard_id", "shard_df", "postings")
    )


# q349 hybrid retrieval: BM25 constants + candidate/final depths.
_RRF_K1 = 1.2     # BM25 tf saturation
_RRF_B = 0.75     # BM25 length normalization
_RRF_C = 60       # RRF damping constant (Cormack et al. 2009)
_RRF_NQ = 5       # query documents: doc_id < 5
_RRF_DEPTH = 20   # per-modality candidate depth fed into the fusion
_RRF_TOP = 10     # fused results per query


@query(
    "q349_hybrid_rrf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               SUM(dl) * 1.0 / COUNT(*) AS avgdl
        FROM dl
    ),
    idf AS (
        SELECT t.token,
               ln(1.0 + (s.n_docs - COUNT(DISTINCT t.doc_id) + 0.5)
                        / (COUNT(DISTINCT t.doc_id) + 0.5)) AS idf
        FROM tf t CROSS JOIN stats s
        GROUP BY t.token, s.n_docs
    ),
    qtok AS (
        SELECT DISTINCT doc_id AS query_id, token FROM tok
        WHERE doc_id < {_RRF_NQ}
    ),
    sparse AS (
        SELECT q.query_id, t.doc_id,
               round(SUM(i.idf * t.tf * ({_RRF_K1} + 1.0)
                     / (t.tf + {_RRF_K1} * (1.0 - {_RRF_B}
                        + {_RRF_B} * d.dl / s.avgdl))), 6) AS score
        FROM qtok q
        JOIN tf t ON t.token = q.token AND t.doc_id <> q.query_id
        JOIN idf i ON i.token = q.token
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_id, t.doc_id
    ),
    r_sparse AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS r_s
        FROM sparse QUALIFY r_s <= {_RRF_DEPTH}
    ),
    dense AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               round({{dot}}, 6) AS sim
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {_RRF_NQ}
    ),
    r_dense AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, doc_id) AS r_d
        FROM dense QUALIFY r_d <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(s.query_id, d.query_id) AS query_id,
               COALESCE(s.doc_id, d.doc_id) AS doc_id,
               s.r_s, d.r_d,
               COALESCE(1.0 / ({_RRF_C} + s.r_s), 0.0)
                   + COALESCE(1.0 / ({_RRF_C} + d.r_d), 0.0) AS rrf
        FROM r_sparse s
        FULL OUTER JOIN r_dense d
          ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, r_s, r_d, round(rrf, 6) AS rrf_score
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, doc_id) AS rn
        FROM fused
    ) WHERE rn <= {_RRF_TOP}
    """.replace("{dot}", "list_sum(list_transform(list_zip(q.embedding, c.embedding), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"),
)
def q349_hybrid_rrf(spark, sf_dir) -> DataFrame:
    """HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION — the production
    RAG-retrieval shape: a BM25 sparse ranking (Robertson-Sparck Jones;
    k1=1.2, b=0.75) and a dense cosine ranking over the SAME corpus are
    fused per query as RRF = Σ 1/(60 + rank) (Cormack, Clarke &
    Buettcher 2009 — rank fusion beats score fusion because ranks are
    scale-free, so the two modalities need no calibration). Query set =
    the first 5 documents (their text drives the sparse side, their
    aligned embedding the dense side); each modality contributes its
    top-20, a full-outer join unions the candidate sets (a doc found by
    only one modality still fuses, with the other term 0), and the
    fused top-10 is emitted with both source ranks carried as data.

    Determinism: ranks are integers, RRF terms are exact rationals in
    double (integer denominators), and the only transcendental — the
    BM25 idf ln — is rounded at 6dp inside a score whose magnitude
    keeps the quantum far above ulp; rank ties break on doc_id in every
    window on both engines. Scale: the sparse side is a posting join on
    token (q159's family — hash-shuffle on the key, df-bounded), the
    dense side is q64's broadcast-queries scan; both rank windows are
    WindowGroupLimit-capped at 20 before the fusion join, so the
    full-outer join is per-query-bounded (≤40 rows per query) no matter
    the corpus size. BM25's per-doc work is scan-stage arithmetic; avgdl
    is a 1-row broadcast aggregate. At 100 TB you materialize the
    sparse index (q159/q344) and ANN-screen the dense side (q72/q348);
    the fusion stage is unchanged — it only ever sees 2·depth rows per
    query."""
    d = table(spark, sf_dir, "documents")
    em = table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window
    from ..functions import dot

    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
    )
    idf = (
        tf.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "token",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    qtok = (
        tok.filter(F.col("doc_id") < _RRF_NQ)
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    sparse = (
        qtok.join(
            tf.withColumnRenamed("doc_id", "doc_id"),
            on="token",
        )
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(idf, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("idf")
                    * F.col("tf")
                    * (_RRF_K1 + 1.0)
                    / (
                        F.col("tf")
                        + _RRF_K1
                        * (1.0 - _RRF_B + _RRF_B * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    w_s = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    r_sparse = (
        sparse.withColumn("r_s", F.row_number().over(w_s))
        .filter(F.col("r_s") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "r_s")
    )
    queries = em.filter(F.col("vec_id") < _RRF_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    dense = (
        em.withColumnRenamed("vec_id", "doc_id")
        .join(F.broadcast(queries), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(dot(F.col("embedding"), F.col("q_emb")), 6).alias("sim"),
        )
    )
    w_d = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc_id"))
    r_dense = (
        dense.withColumn("r_d", F.row_number().over(w_d))
        .filter(F.col("r_d") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "r_d")
    )
    fused = (
        r_sparse.join(r_dense, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            "r_s",
            "r_d",
            (
                F.coalesce(1.0 / (_RRF_C + F.col("r_s")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_C + F.col("r_d")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= _RRF_TOP)
        .select(
            "query_id",
            "doc_id",
            "r_s",
            "r_d",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


# ---- q352: hybrid RRF over MATERIALIZED retrieval indexes -----------------

_RRF_SCREEN = 15 * _RRF_DEPTH  # q348's measured rerank-depth rule at k=20


def _rrf_sparse_index(spark, sf_dir) -> DataFrame:
    """Materialized tf-bearing sharded posting index — q344's adaptive
    hot-token layout extended with the per-posting term frequency a
    BM25 scorer needs (what a real sparse index stores per posting).
    Landed once per fixture via io.materialize_once (the shingles
    memo discipline — standing in for the catalog index table a
    cluster would maintain); every q352 run thereafter is scan-only
    on the index side.

    Unlike q344's registered layout, NO hapax floor: dropping df<2
    terms is a retrieval-quality knob, and q349-equivalence (which
    scores every term) requires keeping them. The adaptive width
    W(t) = ceil(n_docs·B/df) is floor-free either way — cold tokens
    keep one monolithic shard, Zipf-hot tokens split into ~df/B
    bounded shards, so no per-token partition is unsplittable at
    100 TB. Shard reassembly is LOSSLESS for scoring: the BM25 join
    keys on token alone, and the shard column only shapes layout."""
    d = table(spark, sf_dir, "documents")
    # the keyed repartitions fan out to the session's shuffle width
    width = spark.conf.get("spark.sql.shuffle.partitions")
    out = io.scratch_path(
        io.memo_key("rrfidx", sf_dir, "documents.parquet", params=(width,))
    )

    def write(path: str) -> None:
        tok = d.repartition("doc_id").select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        tf = tok.groupBy("token", "doc_id").agg(F.count("*").alias("tf"))
        n_docs = d.agg(F.count("*").alias("n_docs"))
        widths = (
            tf.groupBy("token")
            .agg(F.count("*").alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "token",
                "df",
                F.expr(f"(n_docs * {_HOT_SHARD_B} + df - 1) DIV df").alias("w"),
            )
        )
        (
            tf.join(widths, "token")
            .select(
                "token",
                "df",
                F.expr("doc_id DIV w").cast("long").alias("shard_id"),
                "doc_id",
                "tf",
            )
            .repartition("token")
            .write.parquet(path)
        )

    return io.materialize_once(
        spark,
        out,
        write,
        schema="token string, df bigint, shard_id bigint, doc_id bigint, tf bigint",
    )


def _rrf_dense_index(spark, sf_dir) -> DataFrame:
    """Materialized binary-quantized embedding table — q348's cold-tier
    layout landed as columns: the packed 64-bit sign word (two
    signed-safe 32-bit halves) NEXT TO the float embedding, so the
    Hamming screen reads 8 bytes/vector and column pruning fetches the
    floats only for the rerank set."""
    from .similarity import _bq_pack_expr

    out = io.scratch_path(io.memo_key("bqidx", sf_dir, "embeddings.parquet"))

    def write(path: str) -> None:
        table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr(_bq_pack_expr(0, 32)).alias("w_lo"),
            F.expr(_bq_pack_expr(32, 64)).alias("w_hi"),
            "embedding",
        ).write.parquet(path)

    return io.materialize_once(
        spark,
        out,
        write,
        schema="vec_id bigint, w_lo bigint, w_hi bigint, embedding array<float>",
    )


def hybrid_rrf_indexed(spark, sf_dir, screen_depth: int | None) -> DataFrame:
    """q349's hybrid BM25+dense RRF pipeline re-expressed over the two
    materialized indexes. ``screen_depth=None`` disables the dense
    Hamming screen (exact scan through the index layout) — in that
    configuration the composition is STRUCTURALLY q349 and the results
    are row-identical (pinned in tests/test_llm_variants.py); the
    registered q352 runs the production screen at 15× the fusion
    depth (q348's measured rerank rule)."""
    from pyspark.sql import Window

    from ..functions import dot

    idx = _rrf_sparse_index(spark, sf_dir)
    # doc lengths recovered exactly from the index (dl = Σ tf per doc —
    # possible only because the index keeps every term; a floored index
    # would need the separate norms file real engines carry)
    dl = idx.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
    )
    d = table(spark, sf_dir, "documents")
    qtok = (
        d.filter(F.col("doc_id") < _RRF_NQ)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .distinct()
    )
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sparse = (
        qtok.join(idx, "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(
                    idf
                    * F.col("tf")
                    * (_RRF_K1 + 1.0)
                    / (
                        F.col("tf")
                        + _RRF_K1
                        * (1.0 - _RRF_B + _RRF_B * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("score")
        )
    )
    w_s = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    r_sparse = (
        sparse.withColumn("r_s", F.row_number().over(w_s))
        .filter(F.col("r_s") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "r_s")
    )

    pk = _rrf_dense_index(spark, sf_dir)
    bq = pk.filter(F.col("vec_id") < _RRF_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("w_lo").alias("q_lo"),
        F.col("w_hi").alias("q_hi"),
    )
    cand = pk.withColumnRenamed("vec_id", "doc_id").join(
        F.broadcast(bq), F.col("doc_id") != F.col("query_id")
    )
    if screen_depth is not None:
        hamming = F.bit_count(
            F.col("w_lo").bitwiseXOR(F.col("q_lo"))
        ) + F.bit_count(F.col("w_hi").bitwiseXOR(F.col("q_hi")))
        w_h = Window.partitionBy("query_id").orderBy(
            F.asc("hamming"), F.asc("doc_id")
        )
        cand = (
            cand.withColumn("hamming", hamming)
            .withColumn("rn_h", F.row_number().over(w_h))
            .filter(F.col("rn_h") <= screen_depth)
        )
    dense = cand.select(
        "query_id",
        "doc_id",
        F.round(dot(F.col("embedding"), F.col("q_emb")), 6).alias("sim"),
    )
    w_d = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc_id"))
    r_dense = (
        dense.withColumn("r_d", F.row_number().over(w_d))
        .filter(F.col("r_d") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "r_d")
    )

    fused = r_sparse.join(r_dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "r_s",
        "r_d",
        (
            F.coalesce(1.0 / (_RRF_C + F.col("r_s")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_C + F.col("r_d")), F.lit(0.0))
        ).alias("rrf"),
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= _RRF_TOP)
        .select(
            "query_id",
            "doc_id",
            "r_s",
            "r_d",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


from ..functions import dot_sql as _dot_sql  # noqa: E402
from .similarity import _bq_pack_sql  # noqa: E402  (no import cycle: similarity does not import text)


@query(
    "q352_hybrid_rrf_indexed",
    oracle=f"""
    -- q349's sparse CTEs verbatim (the index path must reproduce the
    -- direct BM25 recompute), dense side through the q348 binary
    -- screen at depth {_RRF_SCREEN} before the exact top-{_RRF_DEPTH} rerank.
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ),
    dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
    ),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               SUM(dl) * 1.0 / COUNT(*) AS avgdl
        FROM dl
    ),
    idf AS (
        SELECT t.token,
               ln(1.0 + (s.n_docs - COUNT(DISTINCT t.doc_id) + 0.5)
                        / (COUNT(DISTINCT t.doc_id) + 0.5)) AS idf
        FROM tf t CROSS JOIN stats s
        GROUP BY t.token, s.n_docs
    ),
    qtok AS (
        SELECT DISTINCT doc_id AS query_id, token FROM tok
        WHERE doc_id < {_RRF_NQ}
    ),
    sparse AS (
        SELECT q.query_id, t.doc_id,
               round(SUM(i.idf * t.tf * ({_RRF_K1} + 1.0)
                     / (t.tf + {_RRF_K1} * (1.0 - {_RRF_B}
                        + {_RRF_B} * d.dl / s.avgdl))), 6) AS score
        FROM qtok q
        JOIN tf t ON t.token = q.token AND t.doc_id <> q.query_id
        JOIN idf i ON i.token = q.token
        JOIN dl d ON d.doc_id = t.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_id, t.doc_id
    ),
    r_sparse AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS r_s
        FROM sparse QUALIFY r_s <= {_RRF_DEPTH}
    ),
    packed AS (
        SELECT vec_id, embedding,
               {_bq_pack_sql(0, 32)} AS w_lo,
               {_bq_pack_sql(32, 64)} AS w_hi
        FROM embeddings
    ),
    bq AS (
        SELECT vec_id AS query_id, embedding AS q_emb, w_lo AS q_lo,
               w_hi AS q_hi
        FROM packed WHERE vec_id < {_RRF_NQ}
    ),
    cand AS (
        SELECT qu.query_id, c.vec_id AS doc_id,
               bit_count(xor(c.w_lo, qu.q_lo))
                   + bit_count(xor(c.w_hi, qu.q_hi)) AS hamming,
               round({_dot_sql('c.embedding', 'qu.q_emb')}, 6) AS sim
        FROM packed c JOIN bq qu ON c.vec_id <> qu.query_id
    ),
    screened AS (
        SELECT query_id, doc_id, sim FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY hamming, doc_id) AS rn_h
            FROM cand
        ) WHERE rn_h <= {_RRF_SCREEN}
    ),
    r_dense AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, doc_id) AS r_d
        FROM screened QUALIFY r_d <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(s.query_id, d.query_id) AS query_id,
               COALESCE(s.doc_id, d.doc_id) AS doc_id,
               s.r_s, d.r_d,
               COALESCE(1.0 / ({_RRF_C} + s.r_s), 0.0)
                   + COALESCE(1.0 / ({_RRF_C} + d.r_d), 0.0) AS rrf
        FROM r_sparse s
        FULL OUTER JOIN r_dense d
          ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, r_s, r_d, round(rrf, 6) AS rrf_score
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, doc_id) AS rn
        FROM fused
    ) WHERE rn <= {_RRF_TOP}
    """,
)
def q352_hybrid_rrf_indexed(spark, sf_dir) -> DataFrame:
    """HYBRID RRF AT THE MATERIALIZED-INDEX SPELLING — q349's own
    docstring names this as its 100 TB plan (VERDICT r10 #7), now
    registered as ONE composition: the BM25 side reads the landed
    tf-bearing sharded posting index (q344's adaptive hot-token layout
    + per-posting tf; doc lengths recovered as Σtf per doc), the dense
    side reads the landed binary-quantized table (q348's packed sign
    words next to the floats), screens by XOR+POPCOUNT Hamming at 15×
    the fusion depth (q348's measured rerank rule), exact-reranks the
    survivors, and fuses both top-20 rankings with RRF exactly as q349
    does. Nothing in the fusion stage changed — it only ever sees
    2·depth rows per query.

    Equivalence contract (the q345/q346 demonstration pattern, with
    the honest asterisk an approximate screen forces): the SPARSE
    ranking is row-identical to q349's BY CONSTRUCTION (shard
    reassembly keys on token and loses nothing; the index keeps every
    term), and with the screen DISABLED the whole composition is
    structurally q349 — pinned row-identical in
    tests/test_llm_variants.py via hybrid_rrf_indexed(screen_depth=
    None). WITH the screen, the dense candidate set is approximate
    with the measured recall of q348's 64-bit code (0.82 at 15× on
    clustered geometry; lower on the isotropic noise fixture, where
    ANY sign-projection screen is near-blind) — so the registered
    query is oracled against ITS OWN exact SQL spelling (screen
    included), the honest differential for an approximate operator
    (q72/q343's IVF discipline).

    Scale economics vs q349: the sparse side pays a token-key join
    against bounded posting shards instead of re-exploding the corpus
    (build cost amortized across every query thereafter — the memo is
    the catalog index table), and the dense scan reads 8 bytes/vector
    for the screen with floats fetched only for the 300-row rerank set
    (column pruning does it for free). 100 TB retrieval is exactly
    this shape: index once, screen cheap, rerank tiny, fuse ranks."""
    return hybrid_rrf_indexed(spark, sf_dir, screen_depth=_RRF_SCREEN)


# ---- q360: the retrieval capstone — chunk → pool → hybrid → negatives ----
from .prep import _CHUNK_S as _CAP_S, _CHUNK_W as _CAP_W  # noqa: E402
from .similarity import _POOL_CHUNKS as _CAP_PC, _POOL_DEC as _CAP_DEC  # noqa: E402


@query(
    "q360_rag_capstone",
    oracle=f"""
    -- replay of every stage (the q284 composed-oracle discipline):
    -- q138's chunker, q178's pooled vectors (array form), chunk-level
    -- BM25 with max-passage doc aggregation, dense top-k over pooled
    -- vectors, q349's RRF fusion, q179's non-positive selection.
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, greatest(len(toks) - 1, 0),
                                      {_CAP_S})) AS start
        FROM t
    ),
    chunks AS (
        SELECT doc_id, start // {_CAP_S} AS chunk_id,
               array_to_string(list_slice(toks, start + 1,
                                          start + {_CAP_W}), ' ') AS chunk_text
        FROM s
    ),
    ctok AS (
        SELECT doc_id, chunk_id,
               unnest(string_split(chunk_text, ' ')) AS token
        FROM chunks WHERE chunk_text <> ''
    ),
    tf AS (
        SELECT doc_id, chunk_id, token, COUNT(*) AS tf
        FROM ctok GROUP BY 1, 2, 3
    ),
    dl AS (
        SELECT doc_id, chunk_id, COUNT(*) AS dl FROM ctok GROUP BY 1, 2
    ),
    stats AS (
        SELECT COUNT(*) AS n_chunks, SUM(dl) * 1.0 / COUNT(*) AS avgdl
        FROM dl
    ),
    idf AS (
        SELECT t.token,
               ln(1.0 + (s.n_chunks - COUNT(*) + 0.5)
                        / (COUNT(*) + 0.5)) AS idf
        FROM tf t CROSS JOIN stats s
        GROUP BY t.token, s.n_chunks
    ),
    qtok AS (
        SELECT DISTINCT doc_id AS query_id, token FROM ctok
        WHERE doc_id < {_RRF_NQ}
    ),
    cscore AS (
        SELECT q.query_id, t.doc_id, t.chunk_id,
               round(SUM(i.idf * t.tf * ({_RRF_K1} + 1.0)
                     / (t.tf + {_RRF_K1} * (1.0 - {_RRF_B}
                        + {_RRF_B} * d.dl / s.avgdl))), 6) AS cs
        FROM qtok q
        JOIN tf t ON t.token = q.token AND t.doc_id <> q.query_id
        JOIN idf i ON i.token = q.token
        JOIN dl d ON d.doc_id = t.doc_id AND d.chunk_id = t.chunk_id
        CROSS JOIN stats s
        GROUP BY q.query_id, t.doc_id, t.chunk_id
    ),
    sparse AS (
        SELECT query_id, doc_id, MAX(cs) AS score
        FROM cscore GROUP BY query_id, doc_id
    ),
    r_sparse AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS r_s
        FROM sparse QUALIFY r_s <= {_RRF_DEPTH}
    ),
    pool AS (
        SELECT vec_id // {_CAP_PC} AS doc, j.j AS j,
               round(CAST(SUM(CAST(CAST(embedding[j.j] AS DOUBLE)
                                   AS {_CAP_DEC})) AS DOUBLE)
                     / COUNT(*), 9) + 0.0 AS v
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS j(j)
        GROUP BY vec_id // {_CAP_PC}, j.j
    ),
    pooled AS (SELECT doc, list(v ORDER BY j) AS vec FROM pool GROUP BY doc),
    bq AS (SELECT doc AS query_id, vec AS qvec FROM pooled
           WHERE doc < {_RRF_NQ}),
    dense AS (
        SELECT b.query_id, p.doc AS doc_id,
               round({{DOT}}, 6) AS sim
        FROM pooled p JOIN bq b ON p.doc <> b.query_id
    ),
    r_dense AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, doc_id) AS r_d
        FROM dense QUALIFY r_d <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(s.query_id, d.query_id) AS query_id,
               COALESCE(s.doc_id, d.doc_id) AS neg_id,
               s.r_s, d.r_d,
               COALESCE(1.0 / ({_RRF_C} + s.r_s), 0.0)
                   + COALESCE(1.0 / ({_RRF_C} + d.r_d), 0.0) AS rrf
        FROM r_sparse s
        FULL OUTER JOIN r_dense d
          ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, neg_id, r_s, r_d, round(rrf, 6) AS rrf_score
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, neg_id) AS rn
        FROM fused
    ) WHERE rn <= {_RRF_TOP}
    """.replace(
        "{DOT}",
        "list_sum(list_transform(list_zip(p.vec, b.qvec),"
        " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))",
    ),
)
def q360_rag_capstone(spark, sf_dir) -> DataFrame:
    """ROUND-12 CAPSTONE: the RAG chain end-to-end as ONE lazy plan
    (VERDICT r11 #6) — what q200/q284 did for corpus build, done for
    retrieval: q138's chunker feeds the sparse index, q178's pooling
    kernel feeds the dense index, the two retrieve and fuse with
    q349/q352's RRF, and the fused non-positives land as q179's
    hard-negative training set. No stage materializes: chunking is the
    scan projection, pooling is one (doc, dim)-keyed aggregate, both
    retrieval sides broadcast the 5 query rows, and the fusion only
    ever sees 2·{_RRF_DEPTH} rows per query — Catalyst plans the whole
    chain as one DAG with zero collect/write boundaries (the
    composed-oracle replays every stage, so drift ANYWHERE in the
    chain moves ranks and fails the hash).

    Stage semantics, each the already-oracled kernel:
    - CHUNK (q138 verbatim — the registered function is called, not
      re-spelled): overlapping {_CAP_W}-token windows, stride
      {_CAP_S}; empty chunks dropped on both sides (the chunk_text
      re-split keeps tokenization engine-symmetric).
    - POOL (q178's kernel in array form): vec_id div {_CAP_PC} stands
      in for the chunker's doc_id — q178's own fixture convention —
      per-dim decimal-exact means rounded to 9dp (+0.0 normalizes the
      -0.0 divergence), reassembled in dimension order.
    - RETRIEVE: BM25 at CHUNK granularity with MAX-PASSAGE doc
      aggregation (per-chunk scores rounded to 6dp BEFORE the max so
      both engines max identical doubles — the q349 rounding
      discipline moved one stage earlier), dense exact top-k over
      pooled vectors via the dot fold; both modalities rank to depth
      {_RRF_DEPTH} per query under (score DESC, doc) total order.
    - FUSE + MINE (q349's RRF, q179's exclusion): reciprocal-rank
      fusion at c={_RRF_C}, and the query's own document — the
      positive — is excluded on BOTH modalities by construction, so
      the fused top-{_RRF_TOP} IS the hard-negative set: maximally
      confusable non-positives, ranked by cross-modal agreement.

    100 TB posture: identical to its parents — the chunker rides the
    corpus scan; the pooling exchange carries scalar partial sums,
    never vectors; BM25 is a token-key join against the posting shape
    q344 materializes (q352 proves the landed-index spelling is
    row-identical on the sparse side); the dense side swaps in q348's
    binary screen or q72's IVF cells when the pooled table outgrows a
    broadcast scan. Fusion cost is rank-depth-bounded, independent of
    corpus size."""
    return _rag_chain(spark, sf_dir, _rag_chunk_tf(spark, sf_dir))


def _rag_chunk_tf(spark, sf_dir) -> DataFrame:
    """q360's inline tf relation: q138's chunker (the registered
    function, called not re-spelled) exploded to per-chunk term
    frequencies — the whole sparse side derives from this one relation
    (dl as SUM(tf) per chunk, the q352 recovery trick; df/idf and the
    query vocabulary as token groupings)."""
    from .prep import q138_doc_chunking

    return _tf_of_chunks(q138_doc_chunking(spark, sf_dir))


def _tf_of_chunks(chunks: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, chunk_text) → per-chunk term frequencies
    (doc_id, chunk_id, token, tf); empty chunks dropped on both sides —
    factored from _rag_chunk_tf so the streaming ingest (q362) builds
    each micro-batch's postings with exactly the corpus kernel."""
    ctok = chunks.filter(F.col("chunk_text") != "").select(
        "doc_id",
        "chunk_id",
        F.explode(F.split("chunk_text", " ")).alias("token"),
    )
    return ctok.groupBy("doc_id", "chunk_id", "token").agg(
        F.count("*").alias("tf")
    )


def _rag_pooled(em: DataFrame) -> DataFrame:
    """(doc, embedding) → pooled dense vectors (doc, vec): q178's
    per-dim decimal-exact mean rounded to 9dp (+0.0 normalizing -0.0),
    reassembled in dimension order. Factored from _rag_chain so the
    streaming ingest (q362) pools each arriving doc's embedding group
    with exactly the query-time kernel — per-doc pooling never crosses
    docs, so incremental and global pooling are value-identical."""
    pool = (
        em.select("doc", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("doc", (F.col("pos") + 1).alias("j"))
        .agg(
            (
                F.round(
                    F.sum(F.col("x").cast("double").cast(_CAP_DEC)).cast(
                        "double"
                    )
                    / F.count("*"),
                    9,
                )
                + 0.0
            ).alias("v")
        )
    )
    return pool.groupBy("doc").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, v))), s -> s.v)"
        ).alias("vec")
    )


def _rag_chain(
    spark, sf_dir, tf: DataFrame, pooled: DataFrame | None = None
) -> DataFrame:
    """The q360/q361/q362 retrieval chain over a chunk-granular tf
    relation (doc_id, chunk_id, token, tf): BM25 with max-passage
    aggregation on the sparse side, pooled-vector exact top-k on the
    dense side, RRF fusion, hard-negative selection. All callers share
    this plan; they differ only in WHERE the sides come from (inline
    explode vs the landed posting index vs the streaming-maintained
    tables), which is exactly the q349 -> q352 equivalence. `pooled`
    overrides the dense side with a pre-materialized (doc, vec)
    relation — it must carry _rag_pooled's exact values (per-dim
    decimal-exact mean rounded to 9dp), which per-doc incremental
    pooling preserves because a doc's pool never crosses docs."""
    from pyspark.sql import Window as W

    dl = tf.groupBy("doc_id", "chunk_id").agg(
        F.sum("tf").cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count("*").alias("n_chunks"),
        (F.sum("dl") * 1.0 / F.count("*")).alias("avgdl"),
    )
    idf = (
        tf.groupBy("token")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_chunks")))
        .select(
            "token",
            F.log(
                1.0
                + (F.col("n_chunks") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    qtok = (
        tf.filter(F.col("doc_id") < _RRF_NQ)
        .select(F.col("doc_id").alias("query_id"), "token")
        .distinct()
    )
    cscore = (
        qtok.join(tf, "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(idf, "token")
        .join(dl, ["doc_id", "chunk_id"])
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("query_id", "doc_id", "chunk_id")
        .agg(
            F.round(
                F.sum(
                    F.col("idf")
                    * F.col("tf")
                    * (_RRF_K1 + 1.0)
                    / (
                        F.col("tf")
                        + _RRF_K1
                        * (1.0 - _RRF_B + _RRF_B * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("cs")
        )
    )
    sparse = cscore.groupBy("query_id", "doc_id").agg(
        F.max("cs").alias("score")
    )
    w_s = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    r_sparse = (
        sparse.withColumn("r_s", F.row_number().over(w_s))
        .filter(F.col("r_s") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "r_s")
    )

    if pooled is None:
        em = table(spark, sf_dir, "embeddings").select(
            (F.col("vec_id") / _CAP_PC).cast("long").alias("doc"),
            "embedding",
        )
        pooled = _rag_pooled(em)
    bq = pooled.filter(F.col("doc") < _RRF_NQ).select(
        F.col("doc").alias("query_id"), F.col("vec").alias("qvec")
    )
    from ..functions import dot

    dense = (
        pooled.join(F.broadcast(bq), F.col("doc") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc").alias("doc_id"),
            F.round(dot(F.col("vec"), F.col("qvec")), 6).alias("sim"),
        )
    )
    w_d = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc_id"))
    r_dense = (
        dense.withColumn("r_d", F.row_number().over(w_d))
        .filter(F.col("r_d") <= _RRF_DEPTH)
        .select("query_id", "doc_id", "r_d")
    )

    fused = r_sparse.join(
        r_dense, ["query_id", "doc_id"], "full_outer"
    ).select(
        "query_id",
        F.col("doc_id").alias("neg_id"),
        "r_s",
        "r_d",
        (
            F.coalesce(1.0 / (_RRF_C + F.col("r_s")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_C + F.col("r_d")), F.lit(0.0))
        ).alias("rrf"),
    )
    w_f = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neg_id"))
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= _RRF_TOP)
        .select(
            "query_id", "neg_id", "r_s", "r_d",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


def _rag_chunk_index(spark, sf_dir) -> DataFrame:
    """q361's landed chunk posting index — the q344 tf-bearing posting
    shape at chunk granularity, written ONCE per fixture generation
    (io.materialize_once) and read back as the sparse side's only
    input. Postings carry (token, shard, doc_id, chunk_id, tf); the
    shard column is the bounded token-hash layout q344's hot-shard
    adaptivity starts from, so a cluster deployment can bucket/cluster
    the landed table by it. Build cost amortizes across every query thereafter — the
    100 TB retrieval economics q352 documents."""
    # params: the chunker constants and the shuffle width the keyed
    # repartition fans out to; v1 versions the posting columns
    params = (_CAP_W, _CAP_S, spark.conf.get("spark.sql.shuffle.partitions"))
    out = io.scratch_path(
        io.memo_key("q361idx_v1", sf_dir, "documents.parquet", params=params)
    )
    return io.materialize_once(
        spark,
        out,
        lambda path: _rag_chunk_tf(spark, sf_dir)
        .withColumn("shard", F.pmod(F.hash("token"), F.lit(32)).cast("int"))
        .repartition("shard")
        .write.parquet(path),
    ).select("doc_id", "chunk_id", "token", "tf")


@query(
    "q361_rag_capstone_indexed",
    oracle=ORACLE["q360_rag_capstone"],
)
def q361_rag_capstone_indexed(spark, sf_dir) -> DataFrame:
    """q360 AT THE MATERIALIZED-INDEX SPELLING — the q349 -> q352
    discipline applied to the capstone: the sparse side reads the
    LANDED chunk posting index (_rag_chunk_index, the q344 tf-bearing
    posting shape with a bounded token-hash shard column) instead of
    re-exploding the chunk corpus per query batch; doc lengths are
    recovered as SUM(tf) per chunk from the index itself (q352's
    recovery trick), so the index is the sparse side's ONLY input.
    Row-identical to q360 by construction — the index keeps every
    (chunk, token, tf) posting and the chain is the shared _rag_chain
    plan — and oracled against the SAME full stage-replay SQL, so the
    equivalence is hash-checked, not asserted. This is the capstone's
    production shape: chunk + embed + index ONCE at ingest (write-once
    memo standing in for the catalog index table), then every query
    batch pays a token-key join against bounded posting shards and a
    broadcast of the query rows."""
    return _rag_chain(spark, sf_dir, _rag_chunk_index(spark, sf_dir))


# ---- q366: CDC document-revision re-index (copy-on-write MERGE) -----------

_REV_MOD, _REV_REM = 10, 7  # revised cohort: doc_id % 10 == 7
_REV_MARKER = "zzrevised zzedition zzaddendum"  # 3 fresh vocabulary tokens
_Q366_SHARDS = 32

# The oracle is q360's full stage-replay SQL pointed at the REVISED
# corpus: one new CTE rewrites the revised cohort's text exactly as the
# Spark side does, and the chunker CTE reads it instead of documents.
# Everything downstream (tf, BM25 stats, fusion) recomputes from scratch
# — which is precisely the claim q366 must prove: the incrementally
# MERGED index retrieves identically to a full rebuild of the revised
# corpus.
_Q366_ORACLE = (
    ORACLE["q360_rag_capstone"]
    .replace("FROM documents", "FROM revd")
    .replace(
        "WITH t AS",
        f"WITH revd AS (SELECT doc_id, CASE WHEN doc_id % {_REV_MOD} = "
        f"{_REV_REM} THEN text || ' {_REV_MARKER}' ELSE text END AS text "
        "FROM documents),\n    t AS",
    )
)


def _post_of(docs: DataFrame) -> DataFrame:
    """documents-shaped relation → sharded chunk postings (the q344
    tf-bearing layout q361/q362 land): chunk → per-chunk tf → bounded
    token-hash shard."""
    from .prep import chunk_docs

    return (
        _tf_of_chunks(chunk_docs(docs))
        .withColumn(
            "shard", F.pmod(F.hash("token"), F.lit(_Q366_SHARDS)).cast("int")
        )
        .select("doc_id", "chunk_id", "token", "tf", "shard")
    )


@query("q366_rag_index_cdc", oracle=_Q366_ORACLE)
def q366_rag_index_cdc(spark, sf_dir) -> DataFrame:
    """CDC DOCUMENT-REVISION RE-INDEX — the update path the append-only
    ingest (q362) deliberately lacks: a cohort of existing documents is
    REVISED (text changes), and the landed posting index must converge
    to the revised corpus without a full rebuild. The maintenance is a
    copy-on-write MERGE at shard-partition granularity:

      1. seed the managed posting table with the original corpus
         (q361's landed layout, PARTITIONED BY the token-hash shard);
      2. the CDC batch re-chunks ONLY the revised documents;
      3. affected shards = shards holding the revised docs' OLD
         postings ∪ shards their NEW postings hash into;
      4. replacement content for those shards (surviving old rows via
         doc_id anti-join ∪ new postings) is MATERIALIZED to staging
         first — the read must complete before the table mutates;
      5. dynamic-partition INSERT OVERWRITE rewrites exactly the
         affected shard partitions (partitions absent from the
         replacement are dropped explicitly — a shard whose only
         postings belonged to revised docs must empty, not linger).

    Retrieval then runs the shared _rag_chain over the merged index,
    oracled against q360's full stage-replay SQL pointed at the REVISED
    corpus — "merged == rebuilt" is hash-checked end-to-end through
    BM25 stats (df/idf/avgdl all shift with the revision), fusion and
    hard-negative selection. The dense side is untouched by design:
    text revisions without re-embedding is the standard lag window in
    production RAG stacks (the embedding refresh is q364's re-train
    cadence problem).

    At 100 TB: this is Delta/Iceberg MERGE economics without the log —
    rewrite cost is proportional to affected partitions, not corpus
    size; the staging materialization IS the copy-on-write file
    rewrite, and a transactional table format would make step 5's
    drop+overwrite one atomic commit. The reference's daily full
    re-extract (mercadolibre_pipeline_dag.py:65) is the degenerate
    form: every partition affected, every day."""
    import shutil

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    # managed posting table, seeded with the ORIGINAL corpus
    suf = io.fixture_suffix(sf_dir)
    tpost = f"t_q366_post_{suf}"
    loc = io.scratch_path(f"{tpost}_tbl")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {tpost}")
    spark.sql(
        f"CREATE TABLE {tpost} (doc_id BIGINT, chunk_id BIGINT, "
        f"token STRING, tf BIGINT, shard INT) USING parquet "
        f"PARTITIONED BY (shard) LOCATION '{loc}'"
    )
    _post_of(docs).write.insertInto(tpost)
    spark.catalog.refreshTable(tpost)

    # CDC batch: the revised cohort with its new text
    revised = docs.filter(F.col("doc_id") % _REV_MOD == _REV_REM).select(
        "doc_id", F.concat("text", F.lit(" " + _REV_MARKER)).alias("text")
    )
    new_post = _post_of(revised)
    cur = spark.table(tpost)
    rev_ids = revised.select("doc_id")
    affected = sorted(
        r["shard"]
        for r in (
            cur.join(rev_ids, "doc_id", "semi")
            .select("shard")
            .union(new_post.select("shard"))
            .distinct()
            .collect()
        )
    )  # bounded by the shard-layout width — a manifest read, not data

    if affected:  # empty CDC batch (e.g. zero-row corpus): nothing to merge
        surviving = cur.filter(F.col("shard").isin(affected)).join(
            rev_ids, "doc_id", "left_anti"
        )
        _cow_overwrite_shards(
            spark,
            tpost,
            affected,
            surviving.select(
                "doc_id", "chunk_id", "token", "tf", "shard"
            ).unionByName(new_post),
        )
    spark.catalog.refreshTable(tpost)

    return _rag_chain(
        spark, sf_dir, spark.table(tpost).select("doc_id", "chunk_id", "token", "tf")
    )


def _cow_overwrite_shards(
    spark, tpost: str, affected: list, rep_df: DataFrame
) -> None:
    """Copy-on-write rewrite of the ``affected`` shard partitions of
    ``tpost`` with ``rep_df``'s content (columns in table order, shard
    last): materialize the replacement to staging FIRST (the read must
    finish before the table mutates), dynamic-partition INSERT
    OVERWRITE the partitions present in it, and explicitly drop
    affected partitions the replacement no longer contains (dynamic
    overwrite cannot empty a partition). Shared by the CDC revision
    (q366) and compliance-purge (q368) merge paths."""
    import os
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(prefix="eclypsium_cow_")
    try:
        rep_df.write.mode("overwrite").parquet(staging)
        present: set = set()
        # a zero-row replacement writes no part files (only _SUCCESS) —
        # nothing to read back or insert; every affected shard empties
        if any(f.endswith(".parquet") for f in os.listdir(staging)):
            rep = spark.read.parquet(staging)
            mode_key = "spark.sql.sources.partitionOverwriteMode"
            old_mode = spark.conf.get(mode_key, "static")
            spark.conf.set(mode_key, "dynamic")
            try:
                rep.select(
                    "doc_id", "chunk_id", "token", "tf", "shard"
                ).write.mode("overwrite").insertInto(tpost)
            finally:
                spark.conf.set(mode_key, old_mode)
            present = {
                r["shard"] for r in rep.select("shard").distinct().collect()
            }
        for s in set(affected) - present:
            spark.sql(
                f"ALTER TABLE {tpost} DROP IF EXISTS PARTITION (shard={s})"
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# ---- q367: phrase query over positional chunk postings --------------------

_PHR_TOP_P = 5  # phrases tracked (top corpus bigrams)
_PHR_TOP_K = 3  # docs returned per phrase


@query(
    "q367_phrase_positional",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
        SELECT doc_id, toks,
               unnest(generate_series(0, greatest(len(toks) - 1, 0),
                                      {_CAP_S})) AS start
        FROM t
    ),
    chunks AS (
        SELECT doc_id, start // {_CAP_S} AS chunk_id,
               array_to_string(list_slice(toks, start + 1,
                                          start + {_CAP_W}), ' ') AS chunk_text
        FROM s
    ),
    ptok AS (
        SELECT doc_id, chunk_id,
               unnest(ctoks) AS token,
               unnest(generate_series(1, len(ctoks))) AS pos
        FROM (SELECT doc_id, chunk_id, string_split(chunk_text, ' ') AS ctoks
              FROM chunks WHERE chunk_text <> '')
    ),
    big AS (
        SELECT a.doc_id, a.token || ' ' || b.token AS phrase
        FROM ptok a JOIN ptok b
          ON a.doc_id = b.doc_id AND a.chunk_id = b.chunk_id
         AND b.pos = a.pos + 1
    ),
    topp AS (
        SELECT phrase FROM (
            SELECT phrase,
                   row_number() OVER (ORDER BY COUNT(*) DESC, phrase) AS rn
            FROM big GROUP BY phrase
        ) WHERE rn <= {_PHR_TOP_P}
    ),
    occ AS (
        SELECT phrase, doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
        FROM big JOIN topp USING (phrase) GROUP BY 1, 2
    )
    SELECT phrase, doc_id, n_occ, rnk FROM (
        SELECT phrase, doc_id, n_occ,
               row_number() OVER (
                   PARTITION BY phrase ORDER BY n_occ DESC, doc_id
               ) AS rnk
        FROM occ
    ) WHERE rnk <= {_PHR_TOP_K}
    """,
)
def q367_phrase_positional(spark, sf_dir) -> DataFrame:
    """PHRASE QUERY OVER POSITIONAL POSTINGS — the capability the
    tf-bearing posting family (q159/q318/q344, the q361/q362 landed
    index) cannot express: "A immediately followed by B" needs token
    POSITIONS, not frequencies. The chunk corpus (q138's chunker)
    explodes to positional postings (doc_id, chunk_id, pos, token) —
    the classic positional inverted index — and a phrase occurrence is
    the pos+1 adjacency SELF-JOIN on (doc_id, chunk_id, pos): all three
    join keys are equi (Catalyst folds ``b.pos = a.pos + 1`` into an
    equi-key), so occurrences co-partition with the postings and never
    fan out. The corpus's top-{_PHR_TOP_P} bigrams (count DESC, phrase
    ASC — deterministic) stand in for a query workload; each returns
    its top-{_PHR_TOP_K} documents by phrase frequency.

    Chunk overlap note: the {_CAP_W}/{_CAP_S} overlapping chunker
    counts a bigram instance once per chunk containing it — a property
    of chunk-scoped retrieval (q360's max-passage has the same view),
    replayed identically by the oracle.

    At 100 TB: positions multiply posting volume by ~1 (one row per
    token either way — tf rows collapse duplicates, positional rows
    don't, typically ~1.1-1.3×), and the adjacency join is
    partition-local under the (doc_id, chunk_id) layout; a landed
    deployment shards by token like q344 and keeps (doc, chunk, pos)
    sorted within shard so a phrase probe is two shard reads + a merge
    — the economics Lucene's position lists encode. The top-phrase
    selection is one exchange on the bigram key; the per-phrase doc
    ranking is rank-depth-bounded like q349's fusion."""
    from .prep import chunk_docs

    chunks = chunk_docs(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    ).filter(F.col("chunk_text") != "")
    ptok = chunks.select(
        "doc_id",
        "chunk_id",
        F.posexplode(F.split("chunk_text", " ")).alias("pos", "token"),
    )
    a, b = ptok.alias("a"), ptok.alias("b")
    big = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.chunk_id") == F.col("b.chunk_id"))
        & (F.col("b.pos") == F.col("a.pos") + 1),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.concat(F.col("a.token"), F.lit(" "), F.col("b.token")).alias(
            "phrase"
        ),
    )
    topp = (
        big.groupBy("phrase")
        .count()
        .orderBy(F.desc("count"), F.asc("phrase"))
        .limit(_PHR_TOP_P)
        .select("phrase")
    )
    occ = (
        big.join(F.broadcast(topp), "phrase")
        .groupBy("phrase", "doc_id")
        .agg(F.count("*").alias("n_occ"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("phrase").orderBy(F.desc("n_occ"), F.asc("doc_id"))
    return (
        occ.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PHR_TOP_K)
        .select("phrase", "doc_id", "n_occ", "rnk")
    )


# ---- q368: compliance purge (right-to-be-forgotten) from the index --------

_PURGE_MOD, _PURGE_REM = 10, 3  # purged cohort: doc_id % 10 == 3

# q360's stage-replay SQL over the corpus MINUS the purged cohort, on
# BOTH retrieval sides: the chunker CTE reads the kept documents, and
# the pooled CTE drops the cohort's dense vectors. A purged doc must
# vanish as candidate AND as query (doc 3 is one of the 5 standard
# query docs — the query-set shift is part of what the oracle checks).
_Q368_ORACLE = (
    ORACLE["q360_rag_capstone"]
    .replace(
        "FROM documents",
        f"FROM documents WHERE doc_id % {_PURGE_MOD} <> {_PURGE_REM}",
    )
    .replace(
        "pooled AS (SELECT doc, list(v ORDER BY j) AS vec "
        "FROM pool GROUP BY doc)",
        f"pooled AS (SELECT doc, list(v ORDER BY j) AS vec FROM pool "
        f"WHERE doc % {_PURGE_MOD} <> {_PURGE_REM} GROUP BY doc)",
    )
)


@query("q368_rag_index_purge", oracle=_Q368_ORACLE)
def q368_rag_index_purge(spark, sf_dir) -> DataFrame:
    """COMPLIANCE PURGE (right-to-be-forgotten) from the landed
    retrieval index — the DELETE path completing the index-maintenance
    triad: q362 appends new documents, q366 merges revisions, q368
    REMOVES a cohort so thoroughly that retrieval is indistinguishable
    from an index never containing it. Training-data pipelines carry a
    legal version of this op: a takedown/opt-out list arrives, and
    every derived asset — postings, dense vectors, query sets — must
    converge to the corpus-minus-cohort state without a full rebuild.

    Maintenance is the q366 copy-on-write merge with an empty insert
    set: affected shards = shards holding the cohort's postings;
    replacement = the anti-joined survivors; _cow_overwrite_shards
    rewrites exactly those partitions (and DROPs any shard the cohort
    monopolized). The dense side filters the cohort out of the pooled
    relation — and because doc 3 is one of the 5 standard query docs,
    the purge also shrinks the QUERY set, which the oracle (q360's
    replay over the kept corpus, pooled CTE filtered identically)
    verifies end-to-end: BM25 stats shift (n_chunks, df, avgdl), ranks
    close over the vacated positions, and no fused row references the
    cohort in either role.

    At 100 TB: purge cost is proportional to the cohort's posting
    footprint (affected partitions), not corpus size — the same
    economics as q366; a transactional format adds the atomic commit
    and, for parquet-level hard deletion, compaction of the rewritten
    files IS the erasure (q235's pass). The anti-join keys on the
    takedown manifest, which is broadcast-sized by construction."""
    import shutil

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    suf = io.fixture_suffix(sf_dir)
    tpost = f"t_q368_post_{suf}"
    loc = io.scratch_path(f"{tpost}_tbl")
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(f"DROP TABLE IF EXISTS {tpost}")
    spark.sql(
        f"CREATE TABLE {tpost} (doc_id BIGINT, chunk_id BIGINT, "
        f"token STRING, tf BIGINT, shard INT) USING parquet "
        f"PARTITIONED BY (shard) LOCATION '{loc}'"
    )
    _post_of(docs).write.insertInto(tpost)
    spark.catalog.refreshTable(tpost)

    purged = docs.filter(
        F.col("doc_id") % _PURGE_MOD == _PURGE_REM
    ).select("doc_id")
    cur = spark.table(tpost)
    affected = sorted(
        r["shard"]
        for r in cur.join(purged, "doc_id", "semi")
        .select("shard")
        .distinct()
        .collect()
    )
    if affected:
        surviving = cur.filter(F.col("shard").isin(affected)).join(
            purged, "doc_id", "left_anti"
        )
        _cow_overwrite_shards(
            spark,
            tpost,
            affected,
            surviving.select("doc_id", "chunk_id", "token", "tf", "shard"),
        )
    spark.catalog.refreshTable(tpost)

    em = (
        table(spark, sf_dir, "embeddings")
        .select(
            (F.col("vec_id") / _CAP_PC).cast("long").alias("doc"),
            "embedding",
        )
        .filter(F.col("doc") % _PURGE_MOD != _PURGE_REM)
    )
    return _rag_chain(
        spark,
        sf_dir,
        spark.table(tpost).select("doc_id", "chunk_id", "token", "tf"),
        pooled=_rag_pooled(em),
    )
