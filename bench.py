"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Each query is forced end-to-end with a
noop sink (full computation, no collect-to-driver skew, no sink cost).
The line also carries the Janino compile count of the warmup pass and of
the timed passes (``codegen_compiles``: a timed pass that compiles many
classes means the generated-class cache is too small for the pack), and
the driver JVM's Metaspace use after them (``metaspace_mb``), the memory
those classes hold.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_from_s3_to_postgresql_template_spark.session import get_spark
from etl_from_s3_to_postgresql_template_spark.plans import QUERIES

# Headline set: scan-agg, multi-join, window, as-of, LSH dedup, ANN, text.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_topk_per_group",
    "join_asof",
    "agg_rows_per_day",
    "dedup_exact",
    "dedup_minhash_pairs",
    "similarity_topk_bruteforce",
    "text_quality",
]

# Heavy multi-join pack (r3 verdict #8): q9 is the 6-table join + agg the
# 100 TB story leans on; q21 is the 4-way lineitem self-join with
# exists/not-exists. Timed identically, reported in the same `queries`
# map; `value` covers all 12, `value_headline10` preserves the r1-r3
# comparable subtotal.
HEAVY = [
    "q9_product_profit",
    "q21_waiting_suppliers",
]

# Docs-scale heavy hitters (r4 verdict #6): the three most expensive
# text/embedding plans from the 100x-docs sweep, tracked round-over-round
# at fixture scale so a constant-factor regression in any of them is
# driver-visible. Timed identically; `value` covers all 15,
# `value_headline10` still preserves the r1-r3 comparable subtotal.
DOCS_HEAVY = [
    "dedup_semantic_clusters",
    "similarity_topk_ivfpq",
    "docs_repeated_spans",
    # r5 additions tracked per the r5 verdict (#8): the winnowing kernel +
    # its pair join, and the BPE first-merge gate (distributed word-count
    # pass + step-1 argmax — the corpus-scale half of the fit).
    "doc_winnowing_fingerprints",
    "dedup_winnowing_pairs",
    "corpus_bpe_first_merge_gate",
    # r6 additions: the round's three heaviest new corpus plans — PPJoin
    # exact tau-Jaccard (prefix-filter candidate join), chunk-level dedup
    # exposure (hash count + join-back), and the three-gate prep funnel
    # that composes them with the classifier.
    "dedup_jaccard_prefix_filter",
    "docs_chunk_dedup_stats",
    "corpus_prep_funnel3",
    # r7 additions (VERDICT r6 item 9): the fast64 winnowing PRODUCTION
    # tiers (fingerprints + pair join), tracked alongside the md5
    # oracle-parity tiers so the round-over-round signal is the number
    # users would see (the md5 tiers' cost is the per-gram Python md5
    # loop the product never runs).
    "doc_winnowing_fingerprints_fast",
    "dedup_winnowing_pairs_fast",
    # r8 addition: ExactSubstr corpus cleaning (interval form) — the new
    # north-star operator, tracked from its first round.
    "docs_exactsubstr_clean",
    # r9 additions: DSIR importance weighting (hashed-bigram log-ratio in
    # exact integer micro-units) — the data-selection north-star — and
    # n-gram benchmark decontamination (gram-key semi-join).
    "dsir_importance_weights",
    "docs_decontaminate_ngram",
    # r9 extension additions: line-wise corpus dedup, SoftDeDup
    # commonness (exact + hashed broadcast tiers), distinct-word BPE
    # corpus encoder — tracked from their first round.
    "docs_line_dedup",
    "docs_softdedup_weights",
    "docs_softdedup_weights_hashed",
    "corpus_bpe_encode",
    # r9 third-session addition: the Gopher REPETITION rules (zero-shuffle
    # Arrow kernel + integer micro-unit gates) — tracked from its first
    # round.
    "docs_gopher_repetition",
    # r10 additions: the fused markup-strip production tier (kept over
    # the codegen chain on a measured same-session A/B), the web-prep
    # funnel capstone (URL gate -> strip -> token gate -> dedup), and
    # the CCNet perplexity buckets (bigram LM + histogram cutoffs) —
    # the round's three heaviest new plans, tracked from their first
    # round.
    "docs_strip_markup_fused",
    "corpus_prep_funnel_web",
    "docs_ccnet_ppl_buckets",
    "docs_ccnet_ppl_buckets_hashed",
    # r11 additions, tracked from their first round: the external-LM
    # CCNet production tier (bounded broadcast LM from the held-out
    # slice, zero LM-construction shuffle from the scored stream), the
    # Bloom paragraph-dedup tier (128 KB packed bitset, k broadcast
    # joins), and the late-added xxhash64 CCNet bucket tier (the
    # production hash; 2.5x the md5 tier's 500k throughput).
    "docs_ccnet_ppl_score_external",
    "docs_bloom_paragraph_dedup",
    "docs_ccnet_ppl_buckets_fast",
    # second r11 batch: the per-language external-LM tier (the
    # production CCNet shape; the selection stage composes it)
    "docs_ccnet_ppl_score_external_perlang",
    # r12 additions, tracked from their first round: the composed
    # production funnel (Bloom clean -> per-lang CCNet -> selection ->
    # quality gates, zero corpus-to-corpus joins) and the cross-shard
    # Bloom merge (the 100 TB deployment shape).
    "corpus_prep_funnel4_bloom",
    "docs_bloom_merge_shards",
    # second r12 batch (llm_ops15), tracked from their first round: the
    # Kneser-Ney external-LM document scorer (the CCNet smoother
    # upgrade; bounded broadcast LM tables, map-side scoring), the
    # bucketed-vocabulary KN LM (the int64-safe 100 TB tier), and the
    # Matryoshka two-stage retrieval (prefix-dims coarse pass + |Q|*100
    # full-dim rescore).
    "docs_ccnet_ppl_score_kn",
    "corpus_bigram_lm_kn_bucketed",
    "similarity_topk_matryoshka",
    # r13 additions (VERDICT r12 item 1): the two ANN scale-path tiers
    # whose interpreted HOF fold chains were this round's biggest known
    # unbenched cost (builder-measured 3.3 / 6.5 s per pass at sf0.1);
    # now Arrow fold kernels + hoisted norms — tracked from this round.
    "similarity_topk_lsh",
    "similarity_topk_ivf",
]

# Cross-engine REFERENCE twins (VERDICT r11 item 5): timed for
# round-over-round comparability but NOT production numbers — each is
# the md5/exact oracle-parity tier of a family whose production tier is
# benched alongside it. docs_ccnet_ppl_buckets is the known
# 9.4-GB-shuffle-at-500k self-LM exact tier superseded by
# _hashed/_fast/_score_external; the md5 winnowing tiers pay a per-gram
# Python md5 loop the fast64 production tiers never run. Echoed in the
# JSON line so the artifact is self-describing.
REFERENCE_ONLY = [
    "docs_ccnet_ppl_buckets",
    "doc_winnowing_fingerprints",
    "dedup_winnowing_pairs",
]


def _calibrate() -> float:
    """Fixed single-core busy loop (~1 s on an unloaded box). Reported as
    calib_loop_sec so per-round headline numbers can be normalized for
    host speed: the shared box's effective CPU throughput varies by >2x
    between rounds (measured: the same commit benched 6.0 s and ~20 s on
    different days, with this loop at 1.0 s vs 3.1 s — same ratio).
    Compare value/calib_loop_sec across rounds, not raw value."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    return round(time.perf_counter() - t0, 3)


def _codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM (Spark's CodegenMetrics)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _metaspace_mb(spark) -> float | None:
    """Metaspace in use by the driver JVM, in MB."""
    for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return round(pool.getUsage().getUsed() / 2**20, 1)
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    calib = _calibrate()
    spark = get_spark("bench")

    # Warmup phase (untimed): one full pass over every headline query, plus
    # two extra executions of the Python-UDF query. Measured on this box:
    # dedup_minhash_pairs needs ~5 executions before the JVM reaches steady
    # state (codegen + Arrow serialization + G1 heap sizing tails bleed
    # past the THIRD identical run — 11.4 s, 4.1 s, 2.6 s, ... → ~1 s
    # floor), and a long-running cluster job amortizes that tail to zero,
    # which is what the headline metric claims to measure. The cold pass is
    # still recorded per query (first TIMED pass below) as first_pass_total.
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    compiles0 = _codegen_compiles(spark)
    for name in HEADLINE + HEAVY + DOCS_HEAVY:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    for _ in range(2):
        QUERIES["dedup_minhash_pairs"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    compiles1 = _codegen_compiles(spark)

    # Three timed passes per query; headline value = best (TPC power-run
    # convention, min instead of second-run to resist this shared box's
    # ±40% co-tenant noise).
    for name in HEADLINE + HEAVY + DOCS_HEAVY:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 3)
        passes = [cold[name]]
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            passes.append(time.perf_counter() - t0)
        warm[name] = round(min(passes), 3)

    compiles = {"warmup": compiles1 - compiles0, "timed": _codegen_compiles(spark) - compiles1}
    total = round(sum(warm.values()), 3)
    total10 = round(sum(warm[n] for n in HEADLINE), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_warm",
                "value": total,
                "unit": "sec",
                "queries": warm,
                # r1-r3 ran only the 10-query HEADLINE set; this subtotal is
                # the round-over-round comparable number (r4+ `value` adds
                # the HEAVY multi-join pack on top).
                "value_headline10": total10,
                # first timed pass per query, post-warmup (was "cold" before
                # the warmup phase existed; name kept for round comparability)
                "cold_total": round(sum(cold.values()), 3),
                # single-core busy-loop seconds on this host at bench time;
                # divide `value` by this to compare rounds on a shared box
                "calib_loop_sec": calib,
                "codegen_compiles": compiles,
                "metaspace_mb": _metaspace_mb(spark),
                # oracle-parity twins, not production tiers — read the
                # family's production number instead (REFERENCE_ONLY doc)
                "reference_only": REFERENCE_ONLY,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
