#!/usr/bin/env python
"""Regenerate SURVEY.md §2.1 (implementation status) from registry.py.
Run after adding/renaming queries: python scripts/gen_survey_status.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from demo_segmenter_spark.registry import REGISTRY, load_all_operators

FOOTER = (
    "Mapping of §2 rows without their own Q-name: PAPI stateful processor → "
    "`a_papi_sessionize`; the core sessionization has FOUR independent "
    "hash-matching implementations (lag/cumsum rewrite, streaming "
    "session_window, batch-native session_window `a_session_agg_native`, PAPI "
    "state machine); KStream DSL completion: `a_branch`, `a_ktable_latest`, "
    "`a_stream_stream_join[_stream]`, `a_stream_table_join_stream` "
    "(GlobalKTable); sinks → `streaming/sinks.py` (exactly-once restart + "
    "incremental-arrival tests), `c_lang_partitioned_sink`, "
    "`b_source_csv/json/orc`; custom connectors → `sources/python_source.py` "
    "(Spark 4 Python Data Source: partition-parallel reader AND "
    "manifest-commit atomic writer); streaming twins carry the `_stream` "
    "suffix; real multi-batch watermark-drop test in tests/test_late_data.py; "
    "RocksDB state-store parity in tests/test_state_store.py; scale paths: "
    "`b_join_bucketed`, `b_join_skew_salted`, `c_sim_lsh`/`c_sim_ivf`, "
    "`b_sample`/`c_sample_stratified`, `b_upsert` + `b_scd2_intervals` "
    "(CDC/SCD2), `c_embed_quantize`, `c_embed_centroids`, "
    "`c_multimodal_frames`; modern-API surface: `b_scalar_variant` (Spark 4 "
    "VariantType), `b_sql_cte` (spark.sql entry path), `c_udtf_bigrams`; "
    "corpus prep: `c_chunking`, `c_text_scrub`, `c_quality_repetition`, "
    "`c_quality_unigram_lp`, `c_text_bm25` (retrieval scoring), "
    "`c_decontaminate` (train/eval leakage gate), `c_train_shuffle`, "
    "`c_pack_sequences`, `c_dedup_cluster` (connected components, "
    "functions/graph.py); composed pipelines: `b_pipeline_tpch_q3`, "
    "`c_pipeline_corpus`. Beyond-§2 additions: event analytics "
    "(`a_funnel`, `a_retention_cohorts`, `a_transitions`, "
    "`a_gapfill_locf`, `a_anomaly_zscore[_stream]`); profiling/sketches "
    "(`b_agg_histogram`, `b_agg_top_k`, `b_agg_sketch_merge`); "
    "deterministic weighted sampling `c_sample_weighted`; fuzzy blocked "
    "dedup `c_dedup_fuzzy`; text entropy `c_text_entropy`; XML + "
    "binaryFile sources (`b_source_xml`, `c_multimodal_binaryfile`); "
    "modern SQL (`b_sql_lateral`, `b_sql_recursive` — Spark 4 WITH "
    "RECURSIVE). Round-7 additions: the train→apply artifact family "
    "(`c_token_bpe_encode`, `c_embed_pca_project`, `c_sim_ivf_trained` "
    "with learned centroids + nprobe=2, `c_pack_sequences_bpe` packing on "
    "real tokenizer counts, `c_sim_knn_int8` integer-exact quantized kNN); "
    "hybrid retrieval `c_rag_fusion` (reciprocal-rank fusion); streaming "
    "twins `a_window_dau_stream` (distinct-user state via dedup+union), "
    "`a_gapfill_locf_stream`, `a_trending[_stream]`, "
    "`a_peak_concurrency[_stream]` (distributed two-pass sweep line); "
    "TPC-H Q1/Q7/Q10; exact cross-engine `b_agg_percentiles`; streaming "
    "CDC upsert into the versioned manifest sink (streaming/sinks.py::"
    "cdc_upsert_sink, idempotent by batchId). Round-7 fourth-session "
    "additions: compliance + dataloader surface (`c_pii_scrub` "
    "zero-exchange detect/redact, `c_dedup_url` canonicalization dedup, "
    "`c_batch_by_length` padding-waste-accounted dynamic batching, "
    "`c_shard_balance` balanced output sharding, `c_fingerprint_winnow` "
    "SIGMOD-2003 winnowing with guarantee tests); IR metrics harness "
    "`c_rag_eval` (MRR/recall@10/P@10/AP, micro-quantized); mergeable "
    "exact distinct `b_agg_bitmap_distinct[_stream]` (bit_or word state); "
    "exact DECIMAL ledger `b_agg_decimal`; ops monitoring "
    "`a_seasonal_baseline` + `a_sli_burn_rate[_stream]` (SRE "
    "multi-window multi-burn); growth accounting `a_new_vs_returning_"
    "stream` (order-insensitive first-seen via per-user day-set state) "
    "and `a_cohort_ltv` (cumulative revenue triangle, integer cents); "
    "payload drift detection `b_json_schema_profile`; SFT data prep "
    "`c_sft_render` (chat-template render + loss-mask accounting — "
    "completes the MLM/T5/SFT masking trilogy); experimentation "
    "`a_ab_test` (two-proportion z, sqrt correctly rounded by IEEE so "
    "no quantization); `c_dedup_winnow` (MOSS end-to-end — the third "
    "independent near-dup candidate generator, fully deterministic so "
    "fully hash-certified, on sketch-sized ~m/w exchanges); ingestion "
    "integrity `b_completeness_audit` (binned sequence-gap monitor, "
    "planted loss). "
    "Shuffle budgets are enforced "
    "per-query in tests/test_plans.py::test_shuffle_budgets_table."
)


def main() -> None:
    load_all_operators()
    survey = __file__.rsplit("/", 2)[0] + "/SURVEY.md"
    text = open(survey).read()
    head = text.split("### §2.1 Implementation status")[0]
    lines = [
        "### §2.1 Implementation status (auto-generated: scripts/gen_survey_status.py)",
        "",
        "| Q-name | oracle | notes |",
        "| --- | --- | --- |",
    ]
    for name, spec in sorted(REGISTRY.items()):
        first = (spec.doc.splitlines() or [""])[0].strip()
        kind = "DuckDB hash" if spec.oracle else "DuckDB bound"
        lines.append(f"| `{name}` | {kind} | {first} |")
    n_hash = sum(1 for s in REGISTRY.values() if s.oracle)
    n_bound = sum(1 for s in REGISTRY.values() if s.bound)
    counts = f"{len(REGISTRY)} queries registered; {n_hash} hash-checked, {n_bound} bound-checked."
    lines += ["", counts + " " + FOOTER]
    open(survey, "w").write(head + "\n".join(lines) + "\n")
    print(f"SURVEY.md §2.1 regenerated: {counts}")


if __name__ == "__main__":
    main()
