#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan evidence for representative queries.

For each selected query, captures the executed-plan skeleton and the
scan-level evidence (PushedFilters / ReadSchema column pruning), plus a
summary table of join strategies, shuffle (Exchange) counts, and
whole-stage-codegen spans. Run: python tools/plan_snapshot.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    ("q1_pricing_summary", "filter+agg: shipdate filter and 2 group columns push to the scan"),
    ("q3_shipping_priority", "fact-fact shuffle join with broadcast dims"),
    ("q9_product_type_profit", "5-table star: every dimension broadcasts"),
    ("q18_large_volume_orders", "aggregate-before-join: HAVING output broadcast"),
    ("q21_waiting_suppliers", "decorrelated double-EXISTS: one extra agg, no self-join re-scans"),
    ("dedup_exact_docs", "hash-fingerprint dedup: one shuffle on md5"),
    ("ann_brute_force_topk", "k-NN: norms precomputed below the join, per-partition top-k"),
    ("sample_hash_documents", "hash sampling: predicate evaluates inside the scan"),
    ("q2_best_supplier_per_part", "decorrelated MAX subquery: persisted pair relation, broadcast everything else"),
    ("events_funnel_click_purchase", "funnel: anchor aggregate collapses events before the self-join"),
    ("ann_lsh_topk", "LSH ANN: Arrow-batched integer bucket einsum, id-only candidate join, broadcast query side"),
    ("pipeline_curated_corpus", "curation pipeline: quality gate -> dedup keep-list agg -> semi join -> rollup"),
    ("text_pii_redaction", "PII scrub: codegen'd regexp chain, map-only, no shuffle"),
    ("token_shift_pools", "drift detector: one token shuffle, broadcast totals, 25-row TakeOrdered"),
    ("copurchase_part_pairs", "market basket: row-local C(n,2) pair generation, no self-join"),
    ("rolling_active_users_7d", "rolling distinct: membership fan-out, equi-joins only"),
    ("decontam_ngram_overlap", "decontamination: eval gram list broadcasts, training side never shuffles pre-rollup"),
    ("text_repetition_scores", "repetition filter: pure scan-stage projection, no exchange"),
    ("kmeans_assign_stats", "k-means assignment: centroid literal folded into the scan stage, no join"),
    ("text_unigram_logprob", "LM scoring: vocab builds once, corpus re-scores against broadcast hash"),
    ("chunk_documents_overlap", "chunking: transform+explode fan-out, zero exchanges"),
    ("pipeline_chunked_training_mix", "chunk dedup mix: hash-key shuffles only, TakeOrdered head"),
    ("dq_constraint_report", "constraint report: anti-join FK checks, broadcast parent sides"),
    ("embedding_dim_stats", "whitening stats: posexplode fan-out, one map-side-combined agg on 64 dims"),
    ("mix_source_reweighting", "mix weights: 20-group agg, broadcast 1-row total, no windowed global agg"),
    ("skew_key_profile", "skew diagnostic: per-key frequency collapse before the rank window"),
    ("scd2_customer_history", "SCD2 apply: one full-outer key join classifies all four transition cases"),
    ("retention_sweep_orders", "retention cascade: expired-key set broadcasts into the child anti-join"),
    ("heavy_hitter_tokens", "Misra-Gries two-pass: Arrow sketch partitions, broadcast-candidate recount"),
    ("incremental_agg_orders", "MV refresh: summary union delta-partials, one combine aggregate"),
    ("pagerank_part_supplier", "integer PageRank: per-iteration combined shuffle on destination"),
    ("chargram_neighbor_pairs", "deletion-neighborhood blocking: variant equi-join, levenshtein refine"),
    ("kmeans_fit_portable_stats", "integer Lloyd's: scan-stage assignment vs centroid literals, kxdim agg"),
    ("events_hourly_locf", "gap fill: broadcast bounds spine, per-type running-frame forward fill"),
    ("topk_per_group_agg", "salted two-level top-k: k rows per subgroup cross the shuffle"),
    ("exact_quantiles_order_price", "distributed quickselect: 256-bucket histogram rounds, no sort"),
    ("quality_gate_per_source", "per-source quality gate: window and rollup share one source-key shuffle"),
    ("decontam_minhash_fuzzy", "fuzzy decontamination: eval bands+signatures broadcast, train side never self-joins"),
    ("q15_top_supplier", "scalar-MAX subquery: 1-row aggregate broadcast back, revenue exchange reused"),
    ("embedding_truncation_energy", "MRL truncation audit: higher-order array aggregates, no explode, one label rollup"),
    ("bpe_tokenize_stats", "BPE application: trained vocab broadcasts, corpus probes it, map-side-combined source rollup"),
    ("bm25_bigram_topk", "lexical retrieval: query-bigram probe filters at the explode, stats broadcast, per-query top-k window"),
    ("retrieval_rrf_fusion", "hybrid rerank: BM25 candidates joined to broadcast quality prior, fusion windows bounded by candidate k"),
    ("incremental_join_mv_orders", "join-view delta rule: stored view never re-joined, both delta legs batch-sized"),
    ("mix_token_budget_waterfill", "water-filling caps: windows over the per-source aggregate only, 1-row level broadcast back"),
    ("events_cusum_drift", "CUSUM closed form: per-type mean broadcast, both windows and rollup share one entity shuffle"),
    ("pipeline_attrition_funnel", "curation accounting: id-only keep/contam relations, conditional-sum rollup on source"),
    ("graph_triangle_parts", "triangle counting: degree-ordered orientation bounds wedges O(m^1.5), weight-gated edges"),
    ("events_trend_slope", "OLS trend: exact BIGINT moments share one type shuffle, IEEE finish per group"),
    ("events_conversion_latency_hist", "conversion latency: day-blocked range equi-join, first-purchase MIN, 4h histogram"),
    ("dedup_span_coverage", "span dedup: gram min/max partials decide cross-doc, bounded explode unions overlaps"),
    ("pareto_quality_length_frontier", "skyline: prefix-max window over (lang, score) pre-aggregates, no dominance join"),
    ("text_winnowing_fingerprints", "winnowing: integer-packed rightmost-min sliding window, per-document partitions"),
    ("index_posting_gaps", "posting compression: one (term,doc) shuffle, per-term LAG, 10-group rollup"),
    # round-4 additions
    ("mix_doremi_weights", "DoReMi MW: token explode -> two combinable aggs; trajectory on |sources|x3 literal rows"),
    ("quality_prune_sweep", "pruning frontier: corpus collapses to distinct-score rows; windows + 9-fraction sweep on the bounded relation"),
    ("decontam_min_k_prob", "min-k% prob: broadcast unigram LM, doc-keyed collect, row-local sort/slice"),
    ("dedup_containment_pairs", "containment dedup: df-capped inverted index, ids-only self-join, integer permille"),
    ("events_multitouch_attribution", "attribution: descending purchase running count replaces the touch-to-purchase join"),
    ("asof_forward_click_to_purchase", "forward as-of with tolerance: union+window, row-local 1h CASE"),
    ("events_funnel_three_step", "3-step funnel: MIN anchor per step before each user-keyed equi-join"),
    ("hist_equidepth_order_totals", "equi-depth hist: 9 boundaries from SHARED quickselect rounds, one bucketing agg"),
    ("drift_tv_source_matrix", "TV matrix: token-keyed pair join bounded by C(|sources|,2) per token"),
    ("incremental_agg_retractions", "Z-set retraction: signed delta through the same combine aggregate"),
    ("weighted_quantiles_doclen", "weighted quickselect: SUM(weight) histogram rounds, no sort"),
    ("events_hazard_table", "hazard table: user MIN/MAX agg, lifetime histogram, window over distinct lifetimes"),
    # round-5 additions
    ("streaming_near_dup_batch_twin", "streaming fold twin: one signature/banding pass, per-batch ids-only store semi-joins"),
    ("streaming_token_budget_batch_twin", "budget gate twin: applyInPandas per source, parallel across sources"),
    ("multimodal_audio_decode", "real WAV decode: two iterator mapInPandas stages, zero exchanges"),
    ("text_ngram_novelty", "novelty: one uniform gram shuffle + ids-only join back, per-doc rollup"),
    ("pack_padding_efficiency_sweep", "padding sweep: constant 4-way explode, two map-side-combined aggs"),
    ("retrieval_ndcg_audit", "nDCG audit: bounded top-10 relation, broadcast hits, <=10-row ideal windows"),
    # round-6 additions
    ("graph_kcore_copurchase", "k-core peel: per-round degree agg + two ids-only semi-joins over checkpointed edges"),
    ("embedding_pq_quantization", "PQ audit: row-local integer zip-dots against 8 broadcast codebook literals, zero joins"),
    ("stats_two_proportion_ab", "A/B test: per-user combinable agg, 5-row broadcast 2x2 roll-up"),
    ("ann_pq_adc_recall", "PQ-ADC recall: codes equi-join broadcast partial-distance table, vectors never ship"),
    ("sketch_hll_registers_portable", "portable HLL: one map-side-combinable (grp, reg) MAX, 64 rows/group shuffle"),
    # round-6 second wave
    ("layout_zorder_pruning", "z-order audit: extents broadcast onto the scan, codegen bit interleave, 64-cell aggs, no global sort"),
    ("graph_ktruss_copurchase", "k-truss peel: edge-iterator support via row-local adjacency-array intersects, only the |V|-row adjacency build shuffles"),
    ("ce_histogram_join_audit", "CE audit: per-key counts -> bucket roll-up; the audited self-join never executes"),
    ("stats_bootstrap_ci_revenue", "Poisson bootstrap: constant 32-way explode into a 32-group combinable agg, no RNG state"),
    ("window_rolling_median_orders", "rolling median: customer-partitioned window, constant 7-element percentile frames"),
    ("dq_referential_integrity", "FK audit: child collapsed to keys map-side, dimension parents broadcast"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from db_writer_redshift_spark.session import get_spark

    spark = get_spark(
        app_name="plan_snapshot",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()

    out = [
        "# PLANS — physical-plan evidence (generated by tools/plan_snapshot.py)",
        "",
        f"Captured at `{sf_dir}` on local[8]. For each showcase query: the",
        "join/exchange skeleton and the scan lines proving predicate pushdown",
        "and column pruning. Regenerate after plan-affecting changes.",
        "",
    ]

    summary = []
    for name, why in SHOWCASE:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()

        skeleton, scans = [], []
        for ln in lines:
            t = ln.strip(" :+-*")
            if re.match(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|"
                r"CartesianProduct|Exchange|BroadcastExchange|HashAggregate|ObjectHashAggregate|"
                r"SortAggregate|TakeOrderedAndProject|Window|Generate|Expand)",
                t,
            ):
                skeleton.append(t[:130])
            if "FileScan parquet" in t or "PushedFilters" in t or "ReadSchema" in t:
                scans.append(t[:200])

        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        n_cart = plan.count("CartesianProduct")
        n_exch = len(re.findall(r"\bExchange hashpartitioning", plan))
        summary.append((name, n_bhj, n_smj, n_exch, n_cart))

        out += [f"## {name}", "", f"_{why}_", "", "```"]
        out += skeleton[:14]
        if scans:
            out.append("-- scan evidence --")
            out += scans[:6]
        out += ["```", ""]

    out += [
        "## Summary",
        "",
        "| query | broadcast joins | sort-merge joins | shuffles | cartesian |",
        "|---|---|---|---|---|",
    ]
    for name, b, s, e, c in summary:
        out.append(f"| {name} | {b} | {s} | {e} | {c} |")
    out += [
        "",
        "Cartesian products: none anywhere (enforced for every registered",
        "query by tests/test_plan_lint.py; the 1-row threshold cross joins",
        "plan as BroadcastNestedLoopJoin over a broadcast scalar).",
        "",
    ]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
