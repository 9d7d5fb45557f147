"""Benchmark harness: runs the headline inventory queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The full per-key timing dict (now 75+ keys) exceeds the driver's
2,000-char output-tail capture, so the printed line keeps ``queries``
BOUNDED to the 27 r1-common anchor keys (the round-over-round
comparison suite BASELINE.md tracks) plus the 10 heavy optimized keys
(HEAVY_KEYS — VERDICT r12 asked for these to be driver-comparable
again) plus suite totals; the complete dict is written to
``BENCH.json`` at the repo root (``queries_file`` in the printed line
points there).

Each query executes its full plan via a count-style action (noop write),
so scan+shuffle+agg costs are real; results are not collected to the
driver (collect would bench the driver, not the engine).

Methodology: steady-state throughput — the JVM + Python-worker pool are
warmed once, then each query runs twice and the minimum is recorded
(first runs are dominated by whole-stage-codegen compilation, which a
long-running cluster pays once, not per query).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hops_spark.io.readers import load_table
from hops_spark.registry import load_all
from hops_spark.session import get_spark

# The first 27 HEADLINE entries = the BENCH_r01 suite; every round's
# anchor comparison ("27 r1-common keys vs 33.067 s") reads exactly
# these, so they are the dict the printed line must always carry whole.
N_R1_COMMON = 27

# VERDICT r12 "Next round #2": the anchor-27 line no longer carries the
# heavy optimized keys, so round-over-round comparison was blind for
# the queries that matter most. The printed line's ``queries`` dict now
# ALSO carries these 10 (additions only — no key removed or renamed;
# total line stays well under the driver's 2,000-char tail capture).
HEAVY_KEYS = [
    "semantic_dedup", "tokenizer_compression", "soft_dedup_weights",
    "kn_trigram_perplexity", "maxsim_retrieval", "probe_calibration",
    "anneal_step_sample", "knn_ivf", "hybrid_rrf_retrieval",
    "pipeline_clean_corpus",
]

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "q18_large_orders",
    "q21_sole_returner",
    "top_customers",
    "wordcount",
    "chain_map_reduce",
    "top_k_per_group",
    "secondary_sort",
    "session_window_agg",
    "tumbling_window_agg",
    "value_histogram",
    "minhash_dedup_pairs",
    "pipeline_clean_corpus",
    "ngram_jaccard_pairs",
    "simhash_signatures",
    "knn_bruteforce",
    "knn_lsh",
    "doc_quality",
    "meta_content_summary",
    "join_asof",
    "scan_md5_filter",
    "teragen_sorted",
    "media_features",
    # round-4 additions (new keys; pre-existing keys stay comparable
    # round-over-round)
    "tfidf_doc_pairs",
    "doc_perplexity",
    "cms_heavy_hitters",
    # round-5 additions
    "pagerank_words",
    "zorder_layout",
    "funnel_conversion",
    "knn_ivf",
    "semantic_dedup",
    # round-8 additions (suffix-sort exact-substring dedup + excision)
    "exact_substring_spans",
    "span_excised_corpus",
    # round-8 late additions (heavy-hitter summary, hybrid retrieval,
    # boilerplate/budget selection, perceptual media dedup)
    "mg_heavy_hitters",
    "hybrid_rrf_retrieval",
    "boilerplate_strip",
    "quality_budget_head",
    "image_dhash_neardup",
    "audio_fingerprint_neardup",
    # round-9 additions (collision-free cross-corpus decontamination,
    # drop-free soft-dedup reweighting)
    "decontaminate_exact_spans",
    "soft_dedup_weights",
    # round-9 session-2 additions (tokenizer trio completion + KN LM)
    "wordpiece_tokenize",
    "kn_doc_perplexity",
    # round-9 session-2 late additions (late-interaction retrieval,
    # bucketed interval-overlap join)
    "maxsim_retrieval",
    "interval_overlap_events",
    # round-10 additions (retrieve-then-rerank cascade, probe
    # calibration, DoReMi mixture design+execution, Gopher top-n-gram
    # concentration gate)
    "rerank_maxsim",
    "probe_calibration",
    "domain_mixture_doremi",
    "mixture_schedule_sample",
    "top_ngram_filters",
    # round-10 session-2 additions (dedup recall eval, path mining,
    # classifier metrics, graph expansion, sampling/LM/model exports)
    "lsh_recall_eval",
    "event_path_mining",
    "classifier_prf",
    "word_graph_bfs",
    "negative_sampling_table",
    "kn_bigram_table",
    "corpus_data_card",
    # round-11 additions
    "kn_trigram_arpa",
    "response_length_bias",
    "preference_pair_overlap",
    "prompt_group_stats",
    "mixture_anneal_schedule",
    "kn_trigram_perplexity",
    "kn_heldout_perplexity",
    "anneal_step_sample",
    "arpa_model_card",
    "preference_margin_deciles",
    # round-12 additions (reward-model evaluation + tokenizer family
    # close)
    "pairwise_winrate",
    "bradley_terry_strengths",
    "annotator_agreement",
    "tokenizer_compression",
    "best_of_n_curve",
    "bt_calibration",
    "matryoshka_recall",
    "adaptive_prefix_rerank",
    "pass_at_k",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("hops-spark-bench")
    specs = load_all()
    # --all: time EVERY registered query (diagnostic mode; the recorded
    # driver metric stays the stable HEADLINE suite for round-over-round
    # comparability).
    names = list(specs) if "--all" in sys.argv else HEADLINE

    # warm the JVM + parquet footers + the Python (Arrow UDF) worker pool
    load_table(spark, sf_dir, "region").count()
    spark.range(32).mapInPandas(lambda it: it, "id long") \
         .write.format("noop").mode("overwrite").save()
    # ...and the full shuffle/codegen path of the heaviest query shape:
    # one untimed flagship run so the first timed heavy query measures
    # plan cost, not first-query JVM/Arrow spin-up (BENCH_r01 recorded
    # 8.56 s for minhash_dedup_pairs vs ~3.5 s steady-state).
    try:
        specs["minhash_dedup_pairs"].fn(spark, sf_dir) \
            .write.format("noop").mode("overwrite").save()
    except Exception:
        pass

    # One failing query must NEVER sink the whole suite number (BENCH_r02
    # was lost to a single plan-time AnalysisException): record the error
    # per-query, keep timing the rest, and always emit the JSON line.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        spec = specs[name]
        best = float("inf")
        try:
            for _ in range(2):
                t0 = time.time()
                df = spec.fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — diagnostic capture
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "inventory_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
    }
    if errors:
        full["errors"] = errors
    bench_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "BENCH.json")
    with open(bench_path, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    # the driver captures only the output TAIL (~2k chars): print a
    # line bounded for good — the stable 27-key anchor dict + totals +
    # where the complete per-key dict lives. 2-dp values, no spaces.
    anchor = {k: round(timings[k], 2) for k in HEADLINE[:N_R1_COMMON]
              if k in timings}
    r1_sum = round(sum(anchor.values()), 2)
    for k in HEAVY_KEYS:              # additions only; anchor sum above
        if k in timings:              # is computed before they land
            anchor.setdefault(k, round(timings[k], 2))
    line = {
        "metric": "inventory_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": anchor,
        "sf": sf_val,
        "r1_common_sum": r1_sum,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries_file": "BENCH.json",
    }
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
