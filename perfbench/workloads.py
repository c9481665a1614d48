"""The benchmark's workloads: which queries run, on which fixture.

Every workload is a closed loop with one client: the next invocation of
``queries()[name](spark, fixture)`` starts only after the previous one's
rows are collected and checked.  The seed permutes the query order in
every pass.  Why each workload exists, and which layer metrics it is
expected to move, is written up in README.md next to this file.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    fixture: str  # "base" or "scale10" (see fixture.ensure)
    queries: tuple[str, ...]
    warm_per_10s: int = 1  # warm passes per 10 s of --seconds


WORKLOADS = {
    w.name: w
    for w in (
        # Sub-second queries where fixed per-query cost dominates (job
        # launch, small-plan planning, the Python build, streaming
        # micro-batches); a cross-section of the bench.py headline list
        # plus the flagship gate (q52), so that with iterative_tail every
        # registering module runs.
        Workload(
            "headline",
            "base",
            (
                "q08_filter_arith",
                "q53_stream_tumbling",
                "q63_dedup_near",
                "q121_embed_quantize",
                "q138_doc_chunking",
                "q77_multimodal_decode",
                "q103_kmeans_assign",
                "q52_shortcircuit_gate",
            ),
        ),
        # Build-time Spark jobs dominate: IVF training with its memo, and
        # the eagerly checkpointed iterations of BPE.
        Workload(
            "iterative_tail",
            "base",
            (
                "q319_ivf_trained",
                "q268_bpe_merges",
            ),
            # two short queries: more passes steady the warm median
            warm_per_10s=2,
        ),
        # Not declared in BENCHMARK.json (see README.md): execution-heavy
        # queries on ten decorrelated shards of the base fixture.
        Workload(
            "scale10",
            "scale10",
            (
                "q08_filter_arith",
                "q21_agg_groupby",
                "q29_win_rownumber",
                "q143_regression_agg",
                "q63_dedup_near",
                "q71_dedup_minhash_lsh",
                "q120_dedup_blocks",
                "q140_ngram_decontaminate",
                "q149_boilerplate_grams",
                "q165_mlm_mask",
                "q214_substring_spans",
                "q263_perplexity_bigram",
            ),
        ),
    )
}
