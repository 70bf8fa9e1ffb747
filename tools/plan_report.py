"""Generate PLANS.md: physical-plan evidence for the headline queries.

For each selected query, the report records the plan facts the engine's
scale posture rests on — shuffle exchanges, broadcast joins, parquet
filter/column pushdown, Python-eval nodes, whole-stage-codegen spans —
plus two full formatted plans as worked examples. The same facts are
ASSERTED in tests/test_plans.py; this artifact makes them readable
without running pytest.

Usage: python tools/plan_report.py   (rewrites PLANS.md)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from kafka_exercise_spark.plans import (
    broadcast_join_count,
    explain_str,
    pushed_filters,
    python_eval_count,
    read_schema_columns,
    shuffle_exchange_count,
    wholestage_codegen_spans,
)
from kafka_exercise_spark.session import get_spark

SF = "/root/testdata/sf0.01"

#: (query key, one-line "why this plan is right at 100 TB")
SELECTED = [
    ("jovens", "filter evaluated inside the parquet scan; map-only"),
    ("q1_pricing_summary", "7/16 lineitem columns read; one shuffle (partial agg first)"),
    ("q3_shipping_priority", "unhinted: AQE broadcasts the cust slice while it fits, SMJ beyond"),
    ("idadecont", "tumbling window = one hash shuffle with map-side combine"),
    ("dedup_exact", "60-bit fingerprint groupBy — one long-key shuffle"),
    ("dedup_ngram_jaccard", "df-bounded inverted-index self-join; exact verify on candidates"),
    ("dedup_passages", "gram df + covered-position joins, all long keys"),
    ("decontaminate_bloom", "16 KB Bloom literal probed in codegen before the join"),
    ("ann_cosine_topk", "query side broadcast; ranked-window top-k"),
    ("domain_cap", "per-domain window — parallelism = #domains, no global sort"),
    ("global_shuffle", "sharded window — deterministic shuffle without a global sort"),
    ("retention_cohorts", "three shrinking hash aggregations; window over final matrix"),
    ("user_event_gaps", "one user_id shuffle serves window AND aggregate"),
    ("salted_agg_events", "two-phase salted aggregate for hot keys"),
    ("token_budget_select", "per-lang window fill — shuffle key is lang, shardable"),
    ("quality_quantile_filter", "quartiles broadcast back; corpus never re-shuffled"),
    ("chunk_documents", "map-only explode+slice passage fan-out, zero data shuffle"),
    ("corpus_profile", "one groupBy(source) with two-phase partial-distincts"),
    ("zorder_events", "unrolled Morton key in codegen; stats broadcast; tile agg"),
    ("lm_unigram_score", "cost join unhinted (vocab grows; AQE decides); exact micro-nats"),
    ("embed_feature_hashing", "ONE scan: explode + combine-agg; norms via window"),
    ("sparse_ann_topk", "posting-list equi-join — cost is Σ|list|², never n×m"),
    ("gopher_quality_filter", "map-only rule battery, all exact integer signals"),
    ("classifier_quality_score", "ONE token shuffle; weight lookup is a literal array"),
    ("bm25_topk", "postings join on shared terms; scalar stats hinted, idf join AQE-decided"),
    ("heavy_hitters_topk", "ONE tokenize scan + groupBy; total via 1-partition window"),
    ("ann_ivf_pq_topk", "cells prune, ADC = 4 table lookups/candidate, no folds"),
    ("contamination_report", "composes both decontam plans; flags join per doc"),
    ("er_fuzzy_pairs", "delete-1 blocking equi-join; verify before pair dedup"),
    ("graph_pagerank", "edge list materialized once; join+groupBy per iteration"),
    ("lm_bigram_score", "tokenize once; vocab-sized joins unhinted, scalar V hinted"),
    ("weighted_sample_topn", "WindowGroupLimit: per-partition N-heap pre-shuffle"),
    ("k_anonymity_report", "one groupBy bounded by the QI domain cardinality"),
    ("basket_pair_rules", "within-basket pair join: cost Σ|basket|², never n²"),
    ("resample_ffill_events", "grid+fill share one user-key partitioning"),
    ("embedding_top_component", "per-round: row-projection agg + 64-cell agg"),
    ("merge_upsert_profiles", "MERGE INTO = one full-outer shuffle on the key"),
    ("merge_scd2_apply", "same full-outer merge; 1→2 row fan-out is a map-side explode"),
    ("ann_recall_report", "bounded joins over served-index top-k frames (≤N_QUERIES·k rows)"),
    ("ann_index_refresh", "one groupBy(cell) over the served assignment; 16 rows out"),
    ("dedup_cluster_canonicals", "cluster frame is O(near-dup docs); quality joins by key"),
    ("span_corruption_masks", "map-only hash-derived masking plan; zero shuffle"),
    ("tokenizer_fertility_report", "two codegen scans + one small join/agg; |langs| rows"),
    ("classifier_calibration_report", "fixed pmod-floor bands: map-side expr, no ntile sort"),
    ("dedup_source_matrix", "memoized pair frame x 2-col source map; corpus not rescanned"),
    ("twa_value_per_user", "one user shuffle serves LEAD window + aggregate"),
    ("bpe_segment_words", "map-only replace chain after the word explode"),
    ("rfm_segments", "one custkey groupBy; scoring is a map-side CASE"),
    ("attribution_credit", "lookback-bounded join + per-conversion windows"),
    ("drift_report_events", "(type,bucket) combine + broadcast-back totals"),
    ("skew_key_census", "per-key combine; top-k over the tiny key frame"),
    ("winnowing_overlap_pairs", "df-bounded fingerprint self-join; memoized posting frame"),
    ("pii_scrub_report", "regex battery all map-side; the 1 shuffle is the fixture-parallelism rebalance"),
    ("split_leakage_report", "split = map-side expr; reads memoized pair + fp frames"),
    ("knn_label_vote", "query side broadcast; vote tail is nq x k rows"),
    ("ann_filtered_topk", "one scored pass; filtered + global ranks share one exchange"),
    ("quality_ablation_report", "6-rule explode over the map-only battery; one agg"),
    ("log_compaction", "ONE key shuffle: latest record + count in one aggregate"),
    ("dedup_detector_matrix", "union of memoized pair frames + 2 tiny groupBys"),
    ("text_novelty_score", "shared shingle frame; df census + per-doc rollup"),
    ("curriculum_plan", "fixed micro-nat bands map-side; window over the band frame"),
    # r06 additions
    ("bpe_pair_counts", "ONE scan+agg subtree -> distributed TopK (TakeOrderedAndProject); rank window input is the <=512-row head"),
    ("winnow_incremental", "batch postings broadcast into the corpus index; corpus never self-joins"),
    ("curation_run_manifest", "ONE doc scan + left joins to cluster frame and the per-source mixture sheet"),
    ("source_disposition_matrix", "one groupBy over the manifest; per-source windows on a bounded frame"),
    ("dedup_pair_audit_sample", "memoized pair frames; per-tier capped window (WindowGroupLimit)"),
    ("ann_pareto_report", "bucket/cell censuses of served indexes; bounded panel joins"),
    # r07 additions
    ("lsh_buckets_report", "one agg over the served LSH frame; total is an in-plan 1-row aggregate (construction-pure since r7)"),
    # r08 additions
    ("mixture_temperature_plan", "one token-count scan to |sources| rows; |ladder| fan-out over the tiny frame"),
    # bpe_train_merges, the perceptron entries, the r7/r8 model sheets
    # (disagreement / threshold sweep / model-gated manifest /
    # promotion / batch drift / impact matrices), and the
    # component-frame consumers (dedup_soft_weights,
    # token_budget_weighted, split_repair_plan) are deliberately
    # absent: constructing their plans RUNS an iterative fit or the
    # union-find contraction (bounded per-round collects), same
    # exclusion class as the streaming replays. Their plan shapes are
    # fenced in tests/test_plans.py instead.
    ("length_bucket_plan", "tokenize behind projection barriers; 8-row agg with map-side combine"),
    ("output_shard_manifest", "groupBy (shard, seq_bin) = the write's own output partitioning"),
    ("packing_vs_bucketing_report", "both layouts folded to 1 row each; parents' scans, nothing more"),
    ("fim_split_plan", "map-only md5 plan, byte-reproducible; zero data shuffle"),
    # preference_pairs is a classifier consumer (one token shuffle +
    # doc-keyed lang join + lang window, no self-join) — its shape is
    # fenced in test_plans.py::test_r8_training_data_sheets_plan_shape;
    # hard_negatives_topk consumes the memoized SemDeDup frame (same
    # exclusion class as the other component-frame consumers above).
    # ---- r9 ----
    ("curation_export_delta", "both manifests folded to per-shard rows; one shards-row join — the corpus is never touched by the diff"),
    ("preference_pair_repair_plan", "pairing plan read once; O(poisoned) window + 2-row side explode + one groupBy, no self-join"),
    ("simhash_threshold_sweep", "the pair plan scored once at d<=3; constant 4-way explode of the survivor frame"),
    ("preference_margin_histogram", "pow-2 CASE band map-side; bands-row groupBy + langs-row broadcast total"),
    ("streaming_soft_draw_replay", "served landed state read; per-batch: one join to the O(near-dup) served frame, map-side draw"),
    ("bucket_batch_manifest", "one tokenize scan; per-bucket window then (bucket, batch) groupBy = the loader write partitioning"),
    # ---- r10 ----
    ("bucket_export_manifest", "selection's token counts reused — no re-tokenize; per-bucket window + (bucket, batch) groupBy"),
    ("bucket_export_delta", "both bucket manifests folded to <=8 rows each; one 8-row join — the corpus is never touched by the diff"),
    ("preference_filtered_export", "repaired pairs banded map-side (pow-2 CASE); |langs|-row cuts broadcast back; one groupBy"),
    ("packing_vs_bucketing_selected_report", "selection scanned once; both layouts folded to 1 row each"),
    # ---- r11 ----
    ("preference_export_manifest", "kept pairs tagged by the shared band rule; hash shard map-side; one (lang, shard) groupBy"),
    ("export_version_delta", "both selections memo-served; four <=8-row folds then outer joins — the diff never touches the corpus"),
    ("bucket_version_delta", "same memo-served selections priced per length bucket; version-stable CASE-ladder bucket, <=8-row folds"),
    ("preference_version_delta", "both versions' repaired pair sets checkpoint-served — zero parquet scans; |langs|-row folds + pair-tuple anti-joins"),
]

FULL_PLANS = ["q3_shipping_priority", "dedup_ngram_jaccard"]


def main() -> None:
    spark = get_spark("plan_report")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    lines = [
        "# PLANS — physical-plan evidence (auto-generated)",
        "",
        f"Generated by `tools/plan_report.py` at sf0.01; the same properties",
        "are asserted in `tests/test_plans.py`. Columns: shuffle exchanges,",
        "broadcast joins, Python-eval nodes, whole-stage-codegen spans,",
        "parquet pushed filters (count), read-schema width per scan.",
        "",
        "Entries served from a session memo (detector matrix, audit",
        "sample, manifest + its rollup) show the SERVED plan — a",
        "localCheckpoint scan with `-` scan cols: the production shape",
        "where the staging/pair table is read from the lake. Their",
        "one-time build cost is the memo builder's plan, audited via",
        "the scaling rungs (SCALING_r{N}.json).",
        "",
        "Broadcast policy (r05): explicit hints exist ONLY on",
        "fixed-cardinality frames (region/nation/≤25-row joins, 1-row",
        "scalars, bounded query panels). Every ∝-data side joins",
        "unhinted — the `bcast` counts below are what AQE/Catalyst CHOSE",
        "from runtime size at this sf, and those joins degrade to",
        "shuffle joins at scale instead of OOMing on a forced hint",
        "(pinned by tests/test_plans.py::test_no_scaling_table_hints).",
        "",
        "| query | shuffles | bcast | py | codegen | pushed | scan cols | why this survives 100 TB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, why in SELECTED:
        df = queries[name](spark, SF)
        cols = read_schema_columns(df)
        lines.append(
            f"| `{name}` | {shuffle_exchange_count(df)} | "
            f"{broadcast_join_count(df)} | {python_eval_count(df)} | "
            f"{wholestage_codegen_spans(df)} | {len(pushed_filters(df))} | "
            f"{'/'.join(str(len(c)) for c in cols) or '-'} | {why} |"
        )
    for name in FULL_PLANS:
        df = queries[name](spark, SF)
        lines += [
            "",
            f"## `{name}` — full formatted plan",
            "",
            "```",
            explain_str(df, "formatted").strip(),
            "```",
        ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
