"""Pin the physical-plan properties that decide 100 TB viability.

These tests are the scale audit: they fail if a code change silently
introduces an extra shuffle, drops predicate pushdown, un-broadcasts a
dimension join, or moves a hot-path operator into Python. The properties
asserted here hold at any scale factor because they are plan-shape facts,
not data facts.
"""

from __future__ import annotations

import pytest

from kafka_exercise_spark.operators import (
    dedup,
    multimodal,
    pipeline_ops,
    relational,
    similarity,
    textops,
)
from kafka_exercise_spark.plans import (
    broadcast_hint_count,
    broadcast_join_count,
    has_cartesian_product,
    pushed_filters,
    python_eval_count,
    read_schema_columns,
    shuffle_exchange_count,
)


def test_jovens_is_scan_only(spark, sf_dir):
    """Filter+format pipeline: no shuffle, predicate pushed to parquet."""
    df = pipeline_ops.jovens(spark, sf_dir)
    assert shuffle_exchange_count(df) == 0
    assert python_eval_count(df) == 0
    assert any("GreaterThanOrEqual(o_orderdate" in f for f in pushed_filters(df))


def test_jovens_prunes_columns(spark, sf_dir):
    """orders has 9 columns; jovens reads exactly the 5 it needs."""
    df = pipeline_ops.jovens(spark, sf_dir)
    (cols,) = read_schema_columns(df)
    assert sorted(cols) == [
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
    ]


def test_q1_single_shuffle_pushdown(spark, sf_dir):
    """Grouped agg = exactly one shuffle (partial → final); filter pushed."""
    df = relational.q1_pricing_summary(spark, sf_dir)
    assert shuffle_exchange_count(df) == 1
    assert python_eval_count(df) == 0
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # column pruning: lineitem is 16 columns, q1 needs 7
    (cols,) = read_schema_columns(df)
    assert len(cols) == 7


def test_q3_broadcasts_dimensions(spark, sf_dir):
    """The filtered customer slice still PLANS as a broadcast join at
    bench scale — chosen by Catalyst/AQE from size stats, not forced (the
    hint-free property is pinned separately in test_no_scaling_table_hints)."""
    df = relational.q3_shipping_priority(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian_product(df)
    assert any("EqualTo(c_mktsegment,BUILDING)" in f for f in pushed_filters(df))
    # join + agg + topk still only needs the one aggregation shuffle locally
    assert shuffle_exchange_count(df) <= 2


def test_q5_six_table_join_no_cartesian(spark, sf_dir):
    df = relational.q5_local_supplier(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert broadcast_join_count(df) >= 3
    assert python_eval_count(df) == 0


def test_window_rank_single_shuffle(spark, sf_dir):
    """Ranking window: one hash shuffle on the partition key, no more."""
    df = relational.window_rank_orders(spark, sf_dir)
    assert shuffle_exchange_count(df) == 1
    assert python_eval_count(df) == 0


def test_sort_topk_no_global_sort(spark, sf_dir):
    """LIMIT+ORDER BY must plan TakeOrderedAndProject, not a full sort."""
    from kafka_exercise_spark.plans import explain_str

    df = relational.sort_topk(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert shuffle_exchange_count(df) == 0


def test_bpe_pair_counts_rank_is_capped_topk(spark, sf_dir):
    """The merge-rank ladder must come from ONE distributed TopK
    (TakeOrderedAndProject at BPE_RANK_CAP) with the rank window ABOVE
    the cap — never an unpartitioned rank over the full observed-bigram
    frame (10⁵–10⁷ rows at web scale; the r5 plan-audit finding), and
    never two copies of the scan+aggregation subtree (the r6 broadcast
    theta-rank shape, which ReusedExchange never deduped — r7 ADVICE)."""
    import re

    from kafka_exercise_spark.plans import explain_str

    df = textops.bpe_pair_counts(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert f"TakeOrderedAndProject(limit={textops.BPE_RANK_CAP}" in plan
    fplan = explain_str(df, "formatted")
    # the corpus is scanned exactly once — rank must not duplicate the
    # scan + pair-aggregation subtree
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", fplan))) == 1
    # the window's input is the capped head: TopK appears BELOW it in
    # simple-mode text (physical plans print top-down)
    assert "Window" in plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")
    assert python_eval_count(df) == 0


def test_q6_scan_only_full_pushdown(spark, sf_dir):
    """Q6 is the pushdown litmus test: all predicates reach the scan, the
    global agg needs no data shuffle, and only 4 columns are read."""
    df = relational.q6_forecast_revenue(spark, sf_dir)
    assert python_eval_count(df) == 0
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters)
    assert any("l_discount" in f for f in filters)
    assert any("l_quantity" in f for f in filters)
    (cols,) = read_schema_columns(df)
    assert sorted(cols) == [
        "l_discount",
        "l_extendedprice",
        "l_quantity",
        "l_shipdate",
    ]


def test_q19_disjunction_stays_hash_join(spark, sf_dir):
    """OR-of-ANDs with a common equi-key must plan a (broadcast) hash join
    with a post-join filter — never a nested-loop/cartesian product."""
    df = relational.q19_disjunctive_join(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert broadcast_join_count(df) >= 1
    assert python_eval_count(df) == 0


def test_q21_single_shuffle_window_rewrite(spark, sf_dir):
    """The double-EXISTS correlation is rewritten to one window pass: one
    hash shuffle on l_orderkey (plus the final small agg), no fact
    self-join."""
    df = relational.q21_waiting_supplier(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert shuffle_exchange_count(df) <= 2
    assert python_eval_count(df) == 0


@pytest.mark.parametrize(
    "fn",
    [
        relational.q7_volume_shipping,
        relational.q8_market_share,
        relational.q9_product_profit,
        relational.q10_returned_items,
        relational.q17_small_qty_revenue,
    ],
    ids=lambda f: f.__name__,
)
def test_star_joins_broadcast_no_cartesian(spark, sf_dir, fn):
    """Multi-way star joins: dims broadcast, no cartesian, no Python."""
    df = fn(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert broadcast_join_count(df) >= 2
    assert python_eval_count(df) == 0


@pytest.mark.parametrize(
    "fn",
    [
        textops.text_token_stats,
        textops.text_quality_score,
        textops.text_langid,
        textops.doc_fingerprint,
        textops.text_token_entropy,
        dedup.minhash_signatures,
        dedup.dedup_simhash,
    ],
    ids=lambda f: f.__name__,
)
def test_text_and_hash_ops_stay_jvm_side(spark, sf_dir, fn):
    """Token/hash-heavy operators run entirely in codegen — zero Python."""
    df = fn(spark, sf_dir)
    assert python_eval_count(df) == 0


def test_minhash_lsh_no_cartesian(spark, sf_dir):
    """LSH self-join joins on band keys — never a cartesian product.

    Asserted on the un-materialized plan builder: the public
    dedup_minhash_lsh wrapper checkpoints, which would hide the join."""
    df = dedup._lsh_pairs_plan(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert python_eval_count(df) == 0


def test_ann_bruteforce_is_broadcast(spark, sf_dir):
    """Tiny query set × big corpus: the query side must broadcast."""
    df = similarity.ann_cosine_topk(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert python_eval_count(df) == 0


def test_python_eval_count_sees_map_in_arrow(spark):
    """Positive control for the Python-stage fence: an Arrow map stage is
    one Python-eval node (Spark 4 prints it as ``MapInArrow``)."""

    def identity(batches):
        yield from batches

    df = spark.range(3).mapInArrow(identity, "id long")
    assert python_eval_count(df) == 1


def test_heavy_hitters_is_one_jvm_aggregate(spark, sf_dir):
    """The exact heavy-hitter set is one declared aggregate: no Python
    stage and a single tokenize scan of ``documents``."""
    df = textops.heavy_hitters_topk(spark, sf_dir)
    assert python_eval_count(df) == 0
    assert len(read_schema_columns(df)) == 1


def test_multimodal_is_the_only_python_path(spark, sf_dir):
    """Pandas-UDF decode plumbing is explicitly Python (and only it)."""
    df = multimodal.multimodal_features(spark, sf_dir)
    assert python_eval_count(df) >= 1


def test_winnow_incremental_broadcasts_batch_side_only(spark, sf_dir):
    """The winnow admission probe must broadcast ONLY batch-bounded frames
    (the incoming ids, postings, counts) — the corpus posting index streams
    through map-side, never self-joins, never shuffles on doc_id. All four
    hints in this plan sit on frames bounded by the incoming batch."""
    from kafka_exercise_spark.operators import dedup

    df = dedup.winnow_incremental(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert python_eval_count(df) == 0
    # 4 authored hints, all batch-bounded: new_ids (batch split ×2 — keep
    # and anti), batch postings, batch counts. The analyzed plan inlines
    # the new_ids-hinted subtrees twice each (pairs + counts consumers),
    # so the occurrence counter reads 6 — an analyzer inlining artifact
    # (same as the q11 entry) that an optimizer/version change may shrink
    # without any real regression. Assert the BOUND only: more than 6
    # occurrences means someone hinted a new (possibly scaling) frame.
    assert 1 <= broadcast_hint_count(df) <= 6


def test_exact_dedup_pushes_projection(spark, sf_dir):
    """Fingerprint groupBy reads only doc_id+text from documents."""
    df = dedup.dedup_exact(spark, sf_dir)
    schemas = read_schema_columns(df)
    assert schemas, "expected a parquet scan"
    for cols in schemas:
        assert set(cols) <= {"doc_id", "text"}


def test_q2_supply_distinct_then_broadcast_dims(spark, sf_dir):
    """Q2: every dimension (part/supplier/nation/region) broadcasts; the
    wide shuffles are only the supply DISTINCT and the window repartition."""
    df = relational.q2_min_cost_supplier(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert broadcast_join_count(df) >= 2
    assert python_eval_count(df) == 0


def test_q11_global_threshold_no_collect(spark, sf_dir):
    """Q11: the global total joins back as a broadcast scalar — the plan
    contains the threshold as a join, not a driver-side collected literal.
    The per-part agg feeds both the threshold and the output; AQE must
    compute its shuffle once (ReusedExchange), not scan the fact twice.
    Pinned to sf0.01: at sf0.001 the result is empty and AQE collapses the
    whole plan to EmptyRelation, leaving no exchange to reuse."""
    df = relational.q11_important_stock(spark, "/root/testdata/sf0.01")
    assert python_eval_count(df) == 0
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_q20_semi_join_chain(spark, sf_dir):
    """Q20: part list broadcasts into the fact scan; supplier side ends in
    a semi join — no duplicate-producing inner join on the qualified set."""
    df = relational.q20_potential_promotion(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert broadcast_join_count(df) >= 1
    assert python_eval_count(df) == 0


@pytest.mark.parametrize(
    ("fn", "max_hints"),
    [
        # zero hints: every joined side grows ∝ data
        (relational.q3_shipping_priority, 0),
        (relational.q18_large_orders, 0),
        (relational.join_customer_orders, 0),
        (relational.q21_waiting_supplier, 0),
        (relational.q17_small_qty_revenue, 0),
        (relational.q15_top_supplier, 0),
        (relational.q16_supplier_cnt, 0),
        (relational.q14_promo_effect, 0),
        (relational.q19_disjunctive_join, 0),
        (relational.q20_potential_promotion, 1),  # nation (25 rows)
        (relational.q10_returned_items, 1),  # nation
        (relational.q9_product_profit, 1),  # nation
        (relational.q7_volume_shipping, 2),  # nation ×2
        (relational.q5_local_supplier, 2),  # region + ≤25-row asian_nations
        (relational.q2_min_cost_supplier, 2),  # nation + region
        (relational.q8_market_share, 3),  # region + am_nations + nation
        # nation + 1-row total; the nation-hinted per-part subtree is
        # inlined twice in the analyzed plan (output + scalar total)
        (relational.q11_important_stock, 3),
        (relational.q22_dormant_customers, 1),  # 1-row scalar avg_bal
    ],
    ids=lambda v: v.__name__ if callable(v) else str(v),
)
def test_no_scaling_table_hints(spark, sf_dir, fn, max_hints):
    """Module policy pin (VERDICT r4 #2): explicit ``broadcast()`` hints are
    allowed ONLY on fixed-cardinality frames — region (5), nation (25),
    their ≤25-row joins, and 1-row scalar aggregates. Customer, supplier,
    part, orders and every filtered slice of them must join UNHINTED so AQE
    can degrade to a shuffle join when the side outgrows 64 MB at scale.
    The expected count per query is exactly its fixed-dim hints; a new hint
    on a ∝-data table raises the count and fails here.
    """
    assert broadcast_hint_count(fn(spark, sf_dir)) == max_hints


def test_broadcast_hint_count_positive_control(spark, sf_dir):
    """The hint counter must actually FIRE on a hinted plan — guards the
    policy test against regex drift across Spark versions (a counter
    that always returns 0 would make every <= assertion vacuous)."""
    from pyspark.sql import functions as F

    from kafka_exercise_spark.catalog import load_table

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    hinted = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    assert broadcast_hint_count(hinted) == 1
    assert broadcast_hint_count(nation.join(
        region, nation.n_regionkey == region.r_regionkey
    )) == 0


def test_ksql_dialect_queries_stay_jvm_side(spark, sf_dir):
    """The dialect layer's SQL UDFs (DATETOSTRING/TIMESTAMPTOSTRING) are
    inlined by Catalyst — a full verbatim CSAS plans with ZERO Python nodes
    and zero shuffles (pure project+filter over the generator range)."""
    df = pipeline_ops.ksql_jovens(spark, sf_dir)
    assert python_eval_count(df) == 0
    assert shuffle_exchange_count(df) == 0


def test_ksql_windowed_ctas_single_shuffle(spark, sf_dir):
    """WINDOW TUMBLING rewrite: one hash aggregation = one shuffle on
    (window, key), partial aggregation map-side — the minimum for a
    grouped count, same as the hand-built idadecont."""
    df = pipeline_ops.ksql_idadecont(spark, sf_dir)
    assert python_eval_count(df) == 0
    assert shuffle_exchange_count(df) == 1


def test_avro_codec_is_declared_python_path(spark, sf_dir):
    """The Avro wire codec is the documented Python path (no JVM codec in
    this container): exactly the encode and decode mapInPandas stages, with
    the epoch-int wire columns computed JVM-side before the encode."""
    df = pipeline_ops.avro_wire_roundtrip(spark, sf_dir)
    assert python_eval_count(df) == 2


def test_ngram_jaccard_reads_shared_shingle_cache(spark, sf_dir):
    """dedup_ngram_jaccard's 4 subtrees (inverted index, both candidate
    sides, both verify sides) must read the family-shared PERSISTED
    hashed-shingle frame — shingling the corpus once per query, not per
    branch (the r3 plan audit counted 6 `documents` scans here)."""
    from kafka_exercise_spark.operators import dedup

    df = dedup.dedup_ngram_jaccard(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan()
    assert "InMemoryTableScan" in plan.toString()  # branches hit the cache
    # every LEAF of the executed tree must be a cache read (or reused
    # exchange) — a FileScan leaf would mean some branch re-shingles the
    # corpus from parquet instead of reading the shared materialization
    # (the string dump inlines the cache's parquet recipe, so leaves are
    # the reliable check)
    leaves = plan.collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    assert names and not any("Scan parquet" in n for n in names), names


def test_no_unexpected_python_eval_nodes_anywhere(spark, sf_dir):
    """Sweeping anti-pattern guard: EVERY batch queries() entry must run
    JVM-side unless it is on the explicit allowlist of operators whose
    Python stage is the design (Arrow-batched codec / union-find /
    multimodal plumbing). A new operator that accidentally introduces a
    row-at-a-time UDF fails here, not in a 100 TB run.

    Streaming/stateful replays and source ops with side effects are
    skipped: calling them executes jobs; their plan properties are pinned
    in their own tests.
    """
    import __spark_entry__ as entrymod
    from kafka_exercise_spark.plans import python_eval_count

    # name -> max allowed Python-eval operators (the documented design)
    allow = {
        "avro_wire_roundtrip": 2,  # encode + decode mapInPandas
        "avro_embeddings_roundtrip": 2,
        "multimodal_meta": 1,  # Arrow-batched metadata extraction
        "multimodal_features": 1,
        "multimodal_frame_sample": 0,  # JVM-only byte slicing
        "dedup_components": 0,  # union-find contraction pre-checkpoint
        "dedup_semantic_components": 0,
    }
    skip_prefixes = ("streaming_", "incremental_", "serving_", "ksql_")
    failures = []
    for name, fn in entrymod.queries().items():
        if name.startswith(skip_prefixes):
            continue
        df = fn(spark, sf_dir)
        n = python_eval_count(df)
        if n > allow.get(name, 0):
            failures.append((name, n))
    assert not failures, failures


def test_pii_scrub_prunes_and_stays_jvm(spark, sf_dir):
    """Regex battery: no Python, reads only (doc_id, text), and the only
    exchange is the documented fixture-parallelism rebalance."""
    from kafka_exercise_spark.operators import dataquality as dq

    df = dq.pii_scrub_report(spark, sf_dir)
    assert python_eval_count(df) == 0
    assert shuffle_exchange_count(df) <= 1
    (cols,) = read_schema_columns(df)
    assert sorted(cols) == ["doc_id", "text"]


def test_winnowing_no_cartesian_no_python(spark, sf_dir):
    """Winnow overlap: df-bounded equi-self-join — never a cartesian,
    never Python."""
    df = dedup.winnowing_overlap_pairs(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert python_eval_count(df) == 0


def test_split_leakage_no_hints_no_cartesian(spark, sf_dir):
    """Leakage census: every join unhinted (AQE decides), no cartesian,
    no Python."""
    df = dedup.split_leakage_report(spark, sf_dir)
    assert broadcast_hint_count(df) == 0
    assert not has_cartesian_product(df)
    assert python_eval_count(df) == 0


def test_knn_vote_broadcasts_queries_single_shuffle(spark, sf_dir):
    """kNN vote: bounded query side broadcasts; the neighbor window and
    the vote window share ONE query_id partitioning (no second
    exchange)."""
    df = similarity.knn_label_vote(spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert shuffle_exchange_count(df) == 1
    assert python_eval_count(df) == 0


def test_log_compaction_single_key_shuffle(spark, sf_dir):
    """Compaction = ONE shuffle on the key: the latest record and the
    per-key count come out of one map-side-combined aggregate (no second
    exchange, no join-back)."""
    from kafka_exercise_spark.operators import merge as m

    df = m.log_compaction(spark, sf_dir)
    assert shuffle_exchange_count(df) == 1
    assert broadcast_join_count(df) == 0
    assert python_eval_count(df) == 0


def test_model_sheets_plan_shape(spark, sf_dir):
    """The r7 model-vs-rules sheets stay JVM-side and bounded: zero
    Python-eval nodes anywhere; the disagreement report's documents scan
    reads ONLY (doc_id, source) — the corpus text never re-tokenizes for
    the join; the threshold sweep's constant 9-row fan-out joins as a
    broadcast; nothing plans a cartesian product."""
    df_dis = textops.model_rule_disagreement_report(spark, sf_dir)
    assert python_eval_count(df_dis) == 0
    assert not has_cartesian_product(df_dis)
    # every parquet scan in this plan is the pruned 2-column source map
    # (the feature/label sides are memo-served localCheckpoint frames)
    for cols in read_schema_columns(df_dis):
        assert set(cols) <= {"doc_id", "source"}

    df_sw = textops.model_gate_threshold_sweep(spark, sf_dir)
    assert python_eval_count(df_sw) == 0
    assert not has_cartesian_product(df_sw)
    assert broadcast_join_count(df_sw) >= 1  # the 9-row theta ladder

    df_up = textops.perceptron_incremental_update(spark, sf_dir)
    assert python_eval_count(df_up) == 0
    assert not has_cartesian_product(df_up)

    df_wr = textops.model_weight_report(spark, sf_dir)
    assert python_eval_count(df_wr) == 0
    assert not has_cartesian_product(df_wr)


def test_r8_capstone_sheets_plan_shape(spark, sf_dir):
    """The r8 additions stay JVM-side and bounded: zero Python-eval
    nodes; the weighted budget selection broadcasts its |sources|-row
    budget sheet and shuffles the corpus once (the per-source window);
    the promotion sheet's parquet scans read ONLY (doc_id, source) —
    both weight vectors ship as literals, never a corpus rescan; the
    drift monitor likewise; nothing plans a cartesian product."""
    from kafka_exercise_spark.operators import sampling

    df_tb = sampling.token_budget_weighted(spark, sf_dir)
    assert python_eval_count(df_tb) == 0
    assert not has_cartesian_product(df_tb)
    assert broadcast_join_count(df_tb) >= 1  # the budget sheet

    df_pr = textops.model_promotion_report(spark, sf_dir)
    assert python_eval_count(df_pr) == 0
    assert not has_cartesian_product(df_pr)
    for cols in read_schema_columns(df_pr):
        assert set(cols) <= {"doc_id", "source"}

    df_dr = textops.model_batch_drift_report(spark, sf_dir)
    assert python_eval_count(df_dr) == 0
    assert not has_cartesian_product(df_dr)
    for cols in read_schema_columns(df_dr):
        assert set(cols) <= {"doc_id", "source"}


def test_impact_matrices_read_no_parquet(spark, sf_dir):
    """The deploy-impact matrices are pure compositions over the
    memo-served manifest/feature frames: zero Python-eval nodes, no
    cartesian product, and — the load-bearing fact — NO parquet scan at
    all (a corpus rescan sneaking into what claims to be a served-frame
    join would show up here first)."""
    df_g = textops.model_gate_impact_matrix(spark, sf_dir)
    df_r = textops.model_replace_impact_matrix(spark, sf_dir)
    for df in (df_g, df_r):
        assert python_eval_count(df) == 0
        assert not has_cartesian_product(df)
        assert read_schema_columns(df) == []


def test_r8_training_data_sheets_plan_shape(spark, sf_dir):
    """The late-r8 training-data entries stay JVM-side and bounded:
    zero Python-eval nodes, no cartesian product anywhere; the FIM plan
    is map-only (zero shuffles — like span_corruption_masks, modulo the
    scale_partitions repartition); preference pairing joins the scored
    frame to a (doc_id, lang)-pruned scan and NEVER self-joins; the
    contrastive miner broadcasts the duplicate pair set."""
    from kafka_exercise_spark.operators import sampling, similarity

    df_fim = textops.fim_split_plan(spark, sf_dir)
    assert python_eval_count(df_fim) == 0
    assert not has_cartesian_product(df_fim)
    # map-only: the only exchange is the scale_partitions repartition
    assert shuffle_exchange_count(df_fim) <= 1
    for cols in read_schema_columns(df_fim):
        assert set(cols) <= {"doc_id", "text"}

    df_pp = textops.preference_pairs(spark, sf_dir)
    assert python_eval_count(df_pp) == 0
    assert not has_cartesian_product(df_pp)
    # the lang side is a pruned 2-column scan; the classifier side
    # reads (doc_id, text) — nothing else touches parquet
    for cols in read_schema_columns(df_pp):
        assert set(cols) <= {"doc_id", "lang"} or set(cols) <= {
            "doc_id",
            "text",
        }

    df_hn = similarity.hard_negatives_topk(spark, sf_dir)
    assert python_eval_count(df_hn) == 0
    assert not has_cartesian_product(df_hn)
    assert broadcast_join_count(df_hn) >= 1  # the dup pair set

    df_pb = sampling.packing_vs_bucketing_report(spark, sf_dir)
    assert python_eval_count(df_pb) == 0
    assert not has_cartesian_product(df_pb)


def test_r10_export_sheets_plan_shape(spark, sf_dir):
    """The r10 additions stay JVM-side and bounded: zero Python-eval
    nodes, no cartesian product; the bucketed export manifest adds NO
    new corpus scan over its selection parent (the no-re-tokenize
    claim: same parquet scans, the layout is windows + groupBy on
    top); the bucket delta composes the two manifests; the preference
    export broadcasts its |langs|-row band cuts and its only parquet
    reads are the repair plan's own pruned scans."""
    from kafka_exercise_spark.operators import sampling

    df_sel = sampling.token_budget_weighted(spark, sf_dir)
    df_bm = sampling.bucket_export_manifest(spark, sf_dir)
    assert python_eval_count(df_bm) == 0
    assert not has_cartesian_product(df_bm)
    assert len(read_schema_columns(df_bm)) == len(
        read_schema_columns(df_sel)
    )

    df_bd = sampling.bucket_export_delta(spark, sf_dir)
    assert python_eval_count(df_bd) == 0
    assert not has_cartesian_product(df_bd)

    df_pf = textops.preference_filtered_export(spark, sf_dir)
    assert python_eval_count(df_pf) == 0
    assert not has_cartesian_product(df_pf)
    assert broadcast_join_count(df_pf) >= 1  # the band cuts
    for cols in read_schema_columns(df_pf):
        assert set(cols) <= {"doc_id", "lang"} or set(cols) <= {
            "doc_id",
            "text",
        }

    df_ps = sampling.packing_vs_bucketing_selected_report(spark, sf_dir)
    assert python_eval_count(df_ps) == 0
    assert not has_cartesian_product(df_ps)


def test_r11_export_sheets_plan_shape(spark, sf_dir):
    """The r11 additions stay JVM-side and fold-first: the preference
    writer manifest is the repair plan's own reads + the broadcast band
    cuts and ONE (lang, shard) groupBy (zero Python-eval nodes in the
    final plan — the component memo is checkpoint-served); the
    cross-version delta adds NO parquet read beyond the published
    selection's own plan: the v side is a memo-served checkpoint
    (zero scans), the v+1 side is the persist-served selection whose
    lineage scans show through — so the delta's scan set must equal
    the selection's exactly, and the ≤8-row manifest/churn folds and
    outer joins are everything on top."""
    from kafka_exercise_spark.operators import sampling

    df_pm = textops.preference_export_manifest(spark, sf_dir)
    assert python_eval_count(df_pm) == 0
    assert not has_cartesian_product(df_pm)
    assert broadcast_join_count(df_pm) >= 1  # the band cuts
    for cols in read_schema_columns(df_pm):
        assert set(cols) <= {"doc_id", "lang"} or set(cols) <= {
            "doc_id",
            "text",
        }

    df_vd = sampling.export_version_delta(spark, sf_dir)
    assert python_eval_count(df_vd) == 0
    assert not has_cartesian_product(df_vd)
    sel_scans = sorted(
        map(sorted, read_schema_columns(
            sampling.token_budget_weighted(spark, sf_dir)
        ))
    )
    vd_scans = sorted(map(sorted, read_schema_columns(df_vd)))
    assert vd_scans == sel_scans  # v side memo-checkpointed: no extras

    df_bv = sampling.bucket_version_delta(spark, sf_dir)
    assert python_eval_count(df_bv) == 0
    assert not has_cartesian_product(df_bv)
    bv_scans = sorted(map(sorted, read_schema_columns(df_bv)))
    assert bv_scans == sel_scans  # same two memo-served selections

    # late-r11 preference delta: BOTH sides are checkpoint-served (v =
    # the version_pref_tagged memo, v+1 = the pref_pairs_comps memo the
    # repair plan transforms), so the delta's plan touches NO parquet
    # at all — folds, anti-joins and outer joins over two checkpoints
    df_pv = textops.preference_version_delta(spark, sf_dir)
    assert python_eval_count(df_pv) == 0
    assert not has_cartesian_product(df_pv)
    assert read_schema_columns(df_pv) == []


def test_scaling_ladder_chunks_partition_the_registry():
    """Every ladder entry must be timed in exactly one fresh-session
    chunk, warm lists must name real entries, and chunk order must
    respect the registry order within each chunk (the parents-first
    convention marginal-cost rungs depend on)."""
    from tools.scale_experiment import CHUNKS, QUERIES

    timed = [n for c in CHUNKS for n in c["timed"]]
    assert sorted(timed) == sorted(QUERIES)
    assert len(set(timed)) == len(timed)
    order = {n: i for i, n in enumerate(QUERIES)}
    for c in CHUNKS:
        idx = [order[n] for n in c["timed"]]
        assert idx == sorted(idx), c["name"]
        assert all(w in QUERIES for w in c["warm"])
