#!/usr/bin/env python3
"""Aggregate graft.Probe output into a per-family summary.

Usage: python3 scripts/scale_summary.py LOG [LOG...]

Reads the JSON lines graft.Probe prints, one per query (other lines, such
as sbt's, are ignored; the last record of a query wins, so a re-run after
a fix supersedes the failed one), groups queries into operator families,
and prints a markdown table plus the slowest-query, skip and failure lists.
A query's seconds are its build + plan + exec seconds.
"""
import json
import sys
from collections import defaultdict

FAMILIES = [
    ("streaming", ["q_stream_"]),
    ("dedup", ["q_dedup", "q_normalized_dedup", "q_semdedup", "q_survivorship",
               "q_exact_substr", "q_winnowing", "q_fingerprint", "q_bloom",
               "q_contamination", "q_identity"]),
    ("similarity/ANN", ["q_minhash", "q_simhash", "q_lsh", "q_jaccard",
                        "q_containment", "q_cosine", "q_embedding", "q_ann",
                        "q_ivf", "q_pq", "q_srp", "q_mmr", "q_gram_matrix",
                        "q_semantic", "q_rrf", "q_edit_distance", "q_jaro",
                        "q_damerau"]),
    ("text", ["q_token", "q_bpe", "q_lang", "q_quality", "q_gopher", "q_pmi",
              "q_zipf", "q_entropy", "q_lexical", "q_ngram", "q_rouge",
              "q_tfidf", "q_bm25", "q_bigram", "q_heavy_hitters", "q_redact",
              "q_boilerplate", "q_repetition", "q_length", "q_chunk", "q_pack",
              "q_fim", "q_split", "q_shard", "q_perplexity", "q_kneser_ney",
              "q_stopword", "q_unicode", "q_url", "q_vocab", "q_whitespace",
              "q_sentence", "q_slop"]),
    ("eval/stats", ["q_auc", "q_ndcg", "q_calibration", "q_cohens", "q_ks_",
                    "q_ab_", "q_chi_", "q_js_", "q_log_odds", "q_mmd",
                    "q_conformal", "q_classifier", "q_psi", "q_cusum",
                    "q_drift", "q_source_drift", "q_correlation", "q_spearman",
                    "q_kendall", "q_mutual", "q_benford", "q_gini", "q_anomaly",
                    "q_regression", "q_dp_noise", "q_k_anonymity",
                    "q_l_diversity", "q_bootstrap"]),
    ("sketches", ["q_count_min", "q_hll", "q_theta", "q_kll", "q_approx"]),
    ("sampling", ["q_hash_sample", "q_mixture", "q_stratified", "q_pps",
                  "q_weighted_sample", "q_dsir", "q_reservoir"]),
    ("graphs", ["q_pagerank", "q_hits", "q_label_prop", "q_triangle",
                "q_communities", "q_components", "q_entity_resolution"]),
    ("learn", ["q_kmeans", "q_centroids", "q_coreset", "q_pca", "q_perceptron",
               "q_quantize", "q_feature", "q_sequence_mining", "q_curation"]),
    ("time-series", ["q_acf", "q_seasonality", "q_ohlc", "q_gapfill", "q_ewma",
                     "q_forecast", "q_decay", "q_retention", "q_sessionize",
                     "q_funnel", "q_snapshot"]),
    ("business", ["q_rfm", "q_gains", "q_attribution", "q_market",
                  "q_quantile_norm", "q_churn", "q_quota", "q_skyline"]),
    ("joins", ["q3_join", "q5_multi", "q_semi", "q_anti", "q_left_join",
               "q_full_outer", "q_skew", "q_range_join", "q_asof",
               "q_interval", "q_scd2_pit", "q_merge_apply"]),
    ("windows", ["q_window", "q_topk", "q_argmax"]),
    ("relational", []),  # catch-all
]


def family_of(q):
    for fam, prefixes in FAMILIES:
        if any(q.startswith(p) for p in prefixes):
            return fam
    return "relational"


def main():
    results, failures, skipped = {}, {}, {}
    for path in sys.argv[1:]:
        for raw in open(path, errors="replace"):
            if not raw.startswith("{"):
                continue
            r = json.loads(raw)
            q = r["query"]
            for seen in (results, failures, skipped):
                seen.pop(q, None)
            if r["status"] == "ok":
                joins = " ".join(f"{k}={v}" for k, v in sorted(r["joins"].items()))
                results[q] = dict(
                    rows=r["rows"], secs=r["build_s"] + r["plan_s"] + r["exec_s"],
                    rd=r["shuffle_read_bytes"] / 1e6, wr=r["shuffle_write_bytes"] / 1e6,
                    joins=joins or "none")
            elif r["status"] == "skip":
                skipped[q] = r["error"]
            else:
                failures[q] = r["error"]

    fams = defaultdict(list)
    for q, r in results.items():
        fams[family_of(q)].append((q, r))

    print("| family | queries | total s | worst query | worst s | shuffle GB |")
    print("|---|---|---|---|---|---|")
    order = [f for f, _ in FAMILIES]
    for fam in sorted(fams, key=lambda f: order.index(f)):
        qs = fams[fam]
        tot = sum(r["secs"] for _, r in qs)
        wq, wr_ = max(qs, key=lambda t: t[1]["secs"])
        gb = sum(r["rd"] for _, r in qs) / 1024
        print(f"| {fam} | {len(qs)} | {tot:.1f} | {wq} | "
              f"{wr_['secs']:.1f} | {gb:.1f} |")

    print(f"\nok={len(results)} skipped={len(skipped)} failed={len(failures)} "
          f"total={sum(r['secs'] for r in results.values()):.1f}s")
    print("\nslowest 12:")
    for q, r in sorted(results.items(), key=lambda t: -t[1]["secs"])[:12]:
        print(f"  {q:32s} {r['secs']:7.1f}s  rd={r['rd']:.0f}MB  "
              f"joins{{{r['joins']}}}")
    if skipped:
        print("\nSKIPPED (ScaleGuard):")
        for q, err in sorted(skipped.items()):
            print(f"  {q}: {err[:160]}")
    if failures:
        print("\nFAILURES:")
        for q, err in sorted(failures.items()):
            print(f"  {q}: {err[:160]}")


if __name__ == "__main__":
    main()
