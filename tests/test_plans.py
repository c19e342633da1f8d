"""Physical-plan audits: the scale properties the engine claims, asserted.

These are regression tests for plan *shape* (SURVEY §4): column pruning and
filter pushdown reaching the scan, broadcast joins for dim tables, top-k
compiling to TakeOrderedAndProject (no global sort), and no Python in
JVM-expressible hot paths. A plan regression here is a 100 TB performance
bug even when sf0.001 results stay correct.
"""

from __future__ import annotations

from flink_mm_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_prunes_and_pushes(spark):
    plan = _plan(spark, "pricing_summary")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # lineitem has 16 columns; the query needs 7 — pruned at the scan
    read_cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
    assert len(read_cols) <= 7, scan
    assert "l_orderkey" not in scan
    # the shipdate predicate reaches the scan as a data filter
    assert "DataFilters: [isnotnull(l_shipdate" in plan


def test_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(spark, "cosine_topk")
    assert "TakeOrderedAndProject" in plan
    # scoring is JVM higher-order functions — no Python exchange
    assert "Python" not in plan


def test_whole_stage_codegen_on_agg(spark):
    # AQE only finalizes the plan on execution; codegen markers appear then
    df = registry.QUERIES["pricing_summary"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen'd operators in the tree string
    assert "*(1)" in plan and "HashAggregate" in plan


def test_media_metadata_prunes_payload(spark):
    """The metadata rollup must not read document text (the payload bytes)."""
    plan = _plan(spark, "media_metadata")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "text" not in scan.split("[", 1)[1].split("]", 1)[0]


def test_embedding_near_dup_is_distributed(spark):
    """VERDICT r1 'What's wrong' #1: the registered query must not collect
    the corpus to the driver nor broadcast it. The block-pair GEMM keeps all
    data movement in groupBy/equi-joins; the only construction-time jobs
    allowed are parquet schema reads (no data-collecting job)."""
    import inspect

    from flink_mm_spark.operators import dedup

    src = inspect.getsource(dedup.embedding_near_dup)
    assert ".collect(" not in src
    assert "broadcast(" not in src

    plan = _plan(spark, "embedding_near_dup")
    # pack stage is a grouped pandas kernel; pair payloads attach by equi-join
    assert "FlatMapGroupsInPandas" in plan
    # no corpus-wide CartesianProduct of packed data (key-only BNLJ is fine:
    # its broadcast side is the single `blk` int column)
    assert "CartesianProduct" not in plan


def test_embedding_near_dup_lsh_joins_on_bucket(spark):
    """The LSH scale tier's candidate generation must be an equi-join on the
    band-bucket key — never an all-pairs product — and must not collect or
    broadcast the corpus (the whole point of the tier)."""
    import inspect

    from flink_mm_spark.operators import dedup

    src = inspect.getsource(dedup.embedding_near_dup_lsh)
    assert ".collect(" not in src
    assert "broadcast(" not in src

    plan = _plan(spark, "embedding_near_dup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the self-join keys on the 64-bit bucket (band id << 32 | signature)
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert any("bucket" in l for l in join_lines), join_lines


def test_damds_point_construction_single_shuffle(spark):
    """damds_blocks_from_points' table has one exchange, the placement of
    its row-block specs (the points reach the stripes in the kernel's
    closure); the O(N²) stripes are born in place — no join, no second
    exchange, no N² shuffle (VERDICT r1 'What's wrong' #3 done-criteria)."""
    import re

    import numpy as np
    import pandas as pd

    from flink_mm_spark.algos import damds as D

    n = 48
    pts = np.random.RandomState(3).standard_normal((n, 4))
    pdf = pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "vec": list(pts)})
    pts_df = spark.createDataFrame(pdf, "point_id long, vec array<double>")
    blocks = D.damds_blocks_from_points(spark, pts_df, n_points=n, n_blocks=4)
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    # AQE prints each exchange in both Initial and Final sections —
    # count distinct exchange nodes by plan_id
    exchanges = set(re.findall(r"Exchange \w+\(.*?\[plan_id=(\d+)\]", plan))
    assert len(exchanges) == 1, plan
    assert "Join" not in plan, plan


def test_contamination_broadcasts_eval_side(spark):
    """The decontamination join must broadcast the eval-split shingle set
    (KBs at any corpus size) and stream the exploded train grams through a
    BroadcastHashJoin — never shuffle or sort-merge the gram table
    (SCALE.md §Document/LLM pipelines)."""
    df = registry.QUERIES["benchmark_contamination"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    gram_joins = [l for l in plan.splitlines() if "Join [gram" in l]
    assert gram_joins and all("BroadcastHashJoin" in l for l in gram_joins), gram_joins
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_is_one_codegen_scan(spark):
    """The redaction chain must stay inside whole-stage codegen over a
    pruned scan (doc_id, text, source only) — no Python, no extra
    exchanges beyond the per-source aggregate + output sort."""
    df = registry.QUERIES["pii_scrub"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    read_cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
    assert len(read_cols) == 3, scan
    assert "*(1)" in plan  # scan→project→partial agg fused in one stage


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column must
    become a PartitionFilter (pruned at file listing, zero data read from
    other partitions) — the at-rest layout lever for 100 TB event tables."""
    from flink_mm_spark.sources.tables import table

    out = str(tmp_path / "events_by_type")
    table(spark, SF_DIR, "events").write.partitionBy("event_type").mode("overwrite").parquet(out)
    df = spark.read.parquet(out).filter("event_type = 'click'").select("event_id")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters: [isnotnull(event_type" in scan, scan
    # the predicate must NOT degrade to a post-scan data filter
    assert "PushedFilters: []" in scan


def test_emb_lsh_candidate_shuffles_are_id_only(spark):
    """The LSH tier's bucket join and pair dedup must exchange (vec_id,
    bucket) rows only — re-attaching the 64-float vectors happens AFTER the
    dedup via equi-joins on vec_id. An `ea`/`eb` payload inside the
    candidate join or the dropDuplicates exchange multiplies every shuffled
    byte ~64x at corpus scale."""
    plan = _plan(spark, "embedding_near_dup_lsh")
    lines = plan.splitlines()
    for l in lines:
        if "HashAggregate" in l and "vec_a" in l and "vec_b" in l:
            # the pair-dedup aggregate carries no embedding arrays
            assert "ea" not in l and "eb" not in l, l
    join_lines = [l for l in lines if "Join" in l and "bucket" in l]
    assert join_lines, plan
    for l in join_lines:
        assert "ea#" not in l and "eb#" not in l, l


def test_naive_jaccard_shuffled_join_under_aqe_skew_split(spark):
    """The posting self-join (the hot-token risk at scale) must run as a
    shuffled join under AQE with skew-join splitting armed — both in the
    engine session factory AND through the driver's tune_session path.
    The actual split is measured in scripts/skew_experiment.py --spark
    (Zipfian corpus: 1 skew-marked SortMergeJoin, 55 extra split tasks,
    wall 2.0→1.2 s; recorded in SCALE.md)."""
    from flink_mm_spark.session import tune_session

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    tune_session(spark)  # idempotent; the driver-harness path sets it too
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

    # at sf0.001 AQE rightly broadcasts the tiny posting side; disable the
    # broadcast path to reveal the AT-SCALE shape (posting tables beyond
    # the threshold): a shuffled join — the skew-splittable kind
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = registry.QUERIES["jaccard_token_pairs"].fn(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "AdaptiveSparkPlan" in plan
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin")
    ), plan[:2000]


def test_knn_per_label_uses_cogrouped_gemm(spark):
    """knn_per_label must score via the cogrouped numpy-GEMM kernel (one
    FlatMapCoGroupsInPandas on the label cell), never the per-pair
    interpreted aggregate(zip_with(...)) fold inside a join (VERDICT r2
    'What's wrong' #1 done-criteria)."""
    import inspect

    from flink_mm_spark.operators import similarity

    src = inspect.getsource(similarity.knn_per_label)
    assert "cosine_expr" not in src and "zip_with" not in src

    plan = _plan(spark, "knn_per_label")
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    # no HOF fold anywhere in the physical plan (`aggregate(zip_with(...)`
    # renders inside the projection when present)
    assert "zip_with" not in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_wide_exchange(spark):
    """pack_sequences must be the two-pass prefix sum: one range exchange
    (the deterministic corpus shuffle), then partition-local work — never a
    single-partition global window (SinglePartition exchange)."""
    import re

    df = registry.QUERIES["pack_sequences"].fn(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan
    # no window operator anywhere (the prefix sum is mapInPandas)
    assert "Window" not in plan, plan


def test_chunk_dedup_is_jvm_chunking_one_window_exchange(spark):
    """Sub-document chunking must stay a JVM higher-order expression (no
    Python workers) and the only wide exchange is the keep-first window on
    the chunk key (+ the per-doc rollup riding hash partitioning)."""
    df = registry.QUERIES["chunk_dedup"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the keep-first rule


def test_repetition_signals_all_jvm_two_aggregates(spark):
    """Gopher repetition must be pure JVM (explode + hash aggregates): no
    Python workers, no joins — two partial+final aggregate chains."""
    plan = _plan(spark, "repetition_signals")
    assert "Python" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4, plan[:2000]  # 2x (partial+final)


def test_unigram_logprob_broadcasts_vocab(spark):
    """The corpus-LM vocab (and its 1-row total) must broadcast back onto
    the token stream — no sort-merge join of the exploded corpus."""
    plan = _plan(spark, "unigram_logprob")
    assert "Python" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_dsir_importance_broadcasts_weight_table(spark):
    """DSIR's per-feature weight table joins the feature stream by
    broadcast; the corpus-sized side is never shuffled for the join."""
    plan = _plan(spark, "dsir_importance")
    assert plan.count("BroadcastHashJoin") >= 1, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cross_cluster_pairs(spark):
    """SemDeDup's pair generation must ride the cluster-keyed block-pair
    GEMM (applyInPandas pack + mapInPandas score) — no cartesian product,
    and the block-pair join keys include the cluster column."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the pack stage
    # the pair-keys self-join carries the cluster equality
    assert "cluster" in plan


def test_dup_span_coverage_keyed_joins_only(spark):
    """Duplicated-span coverage must never generate a doc-pair join: spans
    are JVM expressions, every join is keyed (span text or doc_id)."""
    plan = _plan(spark, "dup_span_coverage")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_exact_sketch_twins_keyed_joins_only(spark):
    """The SQL-replayable MinHash/SimHash twins must keep the banded
    equi-join shape: no cartesian product; hashing is md5/conv/bit
    arithmetic in JVM expressions. SimHash stays fully JVM; the MinHash
    twin's only Python stage is the single vectorized slot-match kernel
    (pinned in test_minhash_exact_band_join_is_id_only)."""
    for name in ("minhash_lsh_exact", "simhash_exact"):
        plan = _plan(spark, name)
        if name == "simhash_exact":
            assert "Python" not in plan, name
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, name


def test_repetition_signals_single_scan(spark):
    """The fused tagged-gram explode must read the corpus ONCE (the
    per-k unionAll shape scans it three times)."""
    plan = _plan(spark, "repetition_signals")
    assert plan.count("FileScan parquet") == 1, plan[:1500]


def test_bm25_filters_postings_before_exchange(spark):
    """BM25's explode keeps only query-term postings: the IN filter must sit
    BELOW the tf aggregate's exchange (corpus never shuffles), idf/corpus
    stats must come back as broadcasts, and the final ranking must be a
    TakeOrderedAndProject."""
    plan = _plan(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    # The posting filter must be the DIRECT parent of the explode (tree
    # prints parents first): the token stream is filtered to query-term
    # postings before any aggregate/exchange sees it.
    lines = plan.splitlines()
    filt_rows = [i for i, l in enumerate(lines) if "Filter t#" in l and " IN (scan,join,window)" in l]
    assert filt_rows, plan[:2000]
    for i in filt_rows:
        assert "Generate explode" in lines[i + 1], lines[i : i + 2]


def test_hll_twin_is_two_hash_aggregates_no_python(spark):
    """The HLL twin must plan like the built-in sketch: hash aggregates over
    (event_type, register) then event_type — all JVM, no Python stage."""
    plan = _plan(spark, "hll_distinct_exact")
    assert "Python" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 levels
    assert "Exchange hashpartitioning(event_type" in plan


def test_pq_adc_topk_is_one_scan_no_shuffle(spark):
    """PQ encode+score is one mapInPandas scan; the only wide operator is
    the TakeOrderedAndProject that merges per-partition top-k."""
    plan = _plan(spark, "pq_adc_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("MapInPandas") == 1


def test_histogram_sketch_aggregates_before_window(spark):
    """The histogram sketch must be a partial+final hash aggregate into 64
    bucket rows (map-side combine — the mergeable-sketch contract); the
    cumulative window then runs on the tiny aggregated side only."""
    plan = _plan(spark, "histogram_quantiles")
    assert plan.count("HashAggregate") >= 2
    assert "Python" not in plan
    # bucket arithmetic is a JVM expression at the scan side
    assert "FLOOR" in plan.upper()


def test_full_outer_join_is_shuffle_merge(spark):
    """Full outer cannot broadcast either side: the plan must be a
    SortMergeJoin FullOuter over user_id-keyed aggregates."""
    plan = _plan(spark, "user_funnel_full_outer")
    assert "FullOuter" in plan, plan[:1500]
    assert "SortMergeJoin" in plan


def test_gapfill_grid_is_generated_not_scanned(spark):
    """The minute grid comes from sequence+explode over a 1-row bound
    aggregate — generated, not a second corpus scan — and joins back to
    the rollup as an equi-join."""
    plan = _plan(spark, "events_minutely_gapfill")
    assert "Generate explode(sequence" in plan
    assert "Python" not in plan


def test_minhash_hot_bucket_cap_is_broadcast_anti_join(spark):
    """The hot-bucket cap must not shuffle+sort every band row (the r3
    window-count shape): over-cap keys come from a map-side-combined
    groupBy and are removed via a broadcast LEFT ANTI join, so the band
    data path has no Window operator and no added sort/exchange."""
    plan = _plan(spark, "minhash_lsh_pairs")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]


def test_mixture_plan_joins_are_broadcast(spark):
    """The mixture planner's per-source plan and the corpus-totals scalars
    must reach the corpus scan as broadcasts — never a sort-merge join on
    the document stream."""
    plan = _plan(spark, "mixture_plan")
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan  # pure JVM expressions throughout


def test_minhash_exact_band_join_is_id_only(spark):
    """r5 (VERDICT r4 ask #2): the exact twin's candidate self-join must
    carry (doc_id, source, band key) only — signatures re-attach via two
    doc_id equi-joins AFTER pair dedup — and pairs score through exactly
    ONE vectorized Arrow stage, never an interpreted per-pair zip_with
    fold and never a cloned UDF evaluation."""
    plan = _plan(spark, "minhash_lsh_exact")
    assert "zip_with" not in plan, plan[:3000]
    # exactly one scoring stage (the signature UDF also shows as
    # ArrowEvalPython, once per print of the persisted-relation subtree,
    # so count the scoring kernel by name)
    assert plan.count("slot_match") == 1, plan[:3000]
    # the projection feeding the pair-dedup aggregate is id-only: no
    # inline 32-slot signature payload rides the band-join exchange
    proj = next(l for l in plan.splitlines() if "AS doc_a" in l)
    assert "sig" not in proj, proj


def test_weighted_reservoir_sample_is_take_ordered(spark):
    """A-ES top-k must be a per-partition heap + driver merge — never a
    global sort-shuffle of the corpus (the 100 TB contract in its docstring)."""
    plan = _plan(spark, "weighted_reservoir_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, plan[:2000]
    assert "Python" not in plan


def test_token_bigram_pmi_broadcasts_marginals(spark):
    """The vocab-sized marginal tables re-join the pair table by broadcast;
    the only shuffle is the (x, y) pair-count aggregation."""
    df = registry.QUERIES["token_bigram_pmi"].fn(spark, SF_DIR)
    df.collect()  # AQE finalizes join strategies on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_zipf_fit_window_is_post_aggregate(spark):
    """The single-partition row_number sort runs on the vocabulary-sized
    frequency table — a HashAggregate must sit below the Window/Sort."""
    plan = _plan(spark, "zipf_fit")
    lines = plan.splitlines()
    win = next(i for i, l in enumerate(lines) if "Window" in l)
    assert any("HashAggregate" in l for l in lines[win:]), plan[:2000]
    assert "Python" not in plan


def test_substring_dedup_is_md5_keyed_pure_jvm(spark):
    """r6: the substring deduper's exchanges key on md5(gram) — constant
    32-char keys, never the K-token text — and the whole operator is JVM
    higher-order expressions: no Python stage, no pairwise join."""
    df = registry.QUERIES["substring_dedup"].fn(spark, SF_DIR)
    df.collect()  # AQE finalizes join strategies on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(gk" in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_corpus_prep_minhash_edge_is_banded_id_only(spark):
    """r6 (VERDICT r5 ask #3): the composed pipeline's near-dup edge tier
    is the banded MinHash candidate join — no interpreted per-pair
    zip_with fold, no cartesian expansion anywhere in the composition."""
    df = registry.QUERIES["corpus_prep_pipeline_minhash"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "zip_with" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_wordpiece_encode_segments_distributed_and_broadcasts(spark):
    """r6: MaxMatch segmentation is ONE distributed Arrow stage over the
    distinct-word table (never a driver collect of the words, never
    per-corpus-row Python), and the per-word counts broadcast back onto
    the exploded word stream."""
    df = registry.QUERIES["wordpiece_encode"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the single segmentation stage prints once per reference to the
    # persisted-words subtree (broadcast build + probe), like the minhash
    # slot_match kernel — assert presence, and that no OTHER Python stage
    # (per-corpus-row UDF) appears
    assert "MapInPandas" in plan, plan[:3000]
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tokenize_pack_pipeline_single_range_exchange(spark):
    """r6: the composed train→encode→pack lifecycle adds NO new shuffle
    shape — the packer contributes exactly ONE range exchange (the
    two-pass prefix sum), and the encode side stays broadcast."""
    import re

    df = registry.QUERIES["tokenize_pack_pipeline"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly two DISTINCT range exchanges: the packer's prefix-sum
    # repartition (shuffle_key, doc_id) and the final presentation orderBy
    # (doc_id) — the encode side must NOT contribute a third (a
    # full-corpus sort destroyed by the very next repartition; caught here
    # and removed via _bpe_doc_counts). The persisted packer subtree
    # prints its exchange once per reference, so count distinct KEY SETS,
    # not occurrences.
    keys = {
        re.sub(r"#\d+", "", m)
        for m in re.findall(r"rangepartitioning\(([^)]*)\)", plan)
    }
    assert len(keys) == 2, sorted(keys)
    assert "CartesianProduct" not in plan


def test_bigram_logprob_broadcasts_lm_tables(spark):
    """r6: the conditioning marginal and |V| re-attach by broadcast; the
    trained bigram table is persisted (one evaluation feeds both its
    marginal and the scoring join)."""
    df = registry.QUERIES["bigram_logprob"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert (
        plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    ), plan[:3000]
    assert "InMemoryTableScan" in plan  # the persisted LM table
    assert "CartesianProduct" not in plan


def test_events_cms_streamed_postproc_is_broadcast(spark):
    """r6: the finished 256-cell sketch table and the 4-probe lookup table
    join by broadcast — the batch post-processing never shuffles."""
    df = registry.QUERIES["events_cms_streamed"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_encoded_words_join_broadcast_guard(spark, monkeypatch):
    """Both tiers of the tokenizer encode-vocab join guard (VERDICT r7
    ask #2, implemented r8): a vocab-sized encoded-word table joins back
    onto the corpus word stream as an EXPLICIT broadcast; past
    ENCODE_BROADCAST_MAX_WORDS the hint is dropped and the join shuffles
    on the word key instead (auto-broadcast is disabled here so the plan
    can only show a broadcast if the helper forced one)."""
    from flink_mm_spark.operators import tokenizer as tk

    dw = spark.createDataFrame([(1, "a"), (2, "b"), (2, "a")], "doc_id long, w string")
    enc = spark.createDataFrame([("a", 1), ("b", 2)], "w string, n_sub int")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p1 = tk._encoded_words_join(dw, enc)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p1, p1[:2000]
        monkeypatch.setattr(tk, "ENCODE_BROADCAST_MAX_WORDS", 0)
        p2 = tk._encoded_words_join(dw, enc)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p2, p2[:2000]
        assert ("SortMergeJoin" in p2) or ("ShuffledHashJoin" in p2), p2[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_unigram_encode_segments_distributed(spark):
    """unigram_encode's Viterbi runs as ONE Arrow-batched mapInPandas
    stage over the distinct-word table (VERDICT r6 ask #2 / r7 ask #4:
    this replaced a words.collect() + per-word driver loop), and the
    per-word piece counts re-attach to the corpus word stream by
    broadcast. No row-at-a-time Python anywhere."""
    plan = _plan(spark, "unigram_encode")
    # NOTE: count >= 1, not == 1 — the segmentation sits inside a cached
    # InMemoryRelation whose plan text AQE renders twice (Initial + Final)
    assert plan.count("MapInPandas") >= 1, plan[:3000]
    # the driver-loop regression signature: a collected-then-parallelized
    # enc table plans as LocalTableScan with no Arrow stage at all
    assert "LocalTableScan" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan  # the persisted word table feeds seg


def test_cross_source_overlap_broadcasts_totals(spark):
    """cross_source_overlap (r8): the per-source gram totals (|sources|
    rows) re-attach by EXPLICIT broadcast; the only big join is the
    gram-keyed equi-self-join over the persisted md5-folded gram table
    (no doc-by-doc comparison anywhere in the plan)."""
    plan = _plan(spark, "cross_source_overlap")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "InMemoryTableScan" in plan  # the (source, gram-hash) persist
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_keep_best_skips_pair_sort(spark):
    """dedup_keep_best (r8) consumes the exact-twin pair pipeline UNSORTED
    (sort=False): the only range exchange in the plan is the final
    presentation sort on doc_id — a doc_a/doc_b range partitioning would
    mean the wasted pre-join pair sort crept back in. The pair list and
    quality table are persisted (2+ downstream joins each)."""
    plan = _plan(spark, "dedup_keep_best")
    assert "rangepartitioning(doc_a" not in plan, plan[:3000]
    assert "rangepartitioning(doc_id" in plan, plan[:3000]
    assert "InMemoryTableScan" in plan  # q + pq module-cache persists


def test_unigram_viterbi_encode_segments_distributed(spark):
    """unigram_viterbi_encode (r8): same deploy shape as the other three
    encodes — the integer-weight Viterbi runs as ONE Arrow-batched
    mapInPandas stage over the distinct-word table (weights in the
    closure, only the O(vocab) seed/char rows ever reach the driver) and
    the per-word (n_pieces, score) rows re-attach to the corpus word
    stream via the guarded vocab broadcast."""
    plan = _plan(spark, "unigram_viterbi_encode")
    assert plan.count("MapInPandas") >= 1, plan[:3000]
    # driver-loop regression signature: a collected-then-parallelized enc
    # table would plan as LocalTableScan with no Arrow stage
    assert "LocalTableScan" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan  # the persisted word table feeds seg


def test_mixture_pack_is_broadcast_replicate_plus_range_exchange(spark):
    """mixture_pack_pipeline (r8): the plan re-attaches by BROADCAST
    (|sources| rows), replication is a JVM sequence/explode (no Python
    before the packer), and the packer contributes the same single range
    exchange as pack_sequences — never a SinglePartition global window."""
    df = registry.QUERIES["mixture_pack_pipeline"].fn(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    # replication is explode(sequence(...)): a Generate node, JVM-side
    assert "Generate explode" in plan, plan[:3000]


def test_shard_manifest_is_one_hash_aggregate_over_packed(spark):
    """shard_manifest (r8): shard rollup adds hash aggregates keyed on the
    integer-division shard id over the packed stream — no extra sort, no
    Python beyond the packer's one Arrow stage, manifests are O(shards)."""
    df = registry.QUERIES["shard_manifest"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan, plan[:3000]
    assert plan.count("MapInPandas") >= 1, plan[:3000]  # the packer's assign
    assert "Window" not in plan, plan[:3000]


def test_shard_write_roundtrip_verify_side_scans_only_shard_files(spark):
    """shard_write_roundtrip (r9): the VERIFY side must be one parquet scan
    of the written shard files plus one shard-keyed hash aggregate — never
    a re-derivation of the mixture stream. The builder performs the write
    eagerly, so the returned plan IS the verify plan: a regression that
    rebuilt the manifest from the live packed stream would show the
    mixture machinery (joins, a range exchange, Arrow packer stage)."""
    plan = _plan(spark, "shard_write_roundtrip")
    assert "FileScan parquet" in plan, plan[:3000]
    assert "HashAggregate" in plan
    # no mixture machinery on the verify path
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan  # the packer never re-runs
    assert "rangepartitioning(shuffle" not in plan
    # exactly one exchange family: the partial->final shard_id aggregate
    # (plus the presentation sort)
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]


def test_bpe_bytes_encode_broadcasts_and_stays_jvm(spark):
    """bpe_bytes_encode (r9): same deploy shape as the char tier — the
    DISTINCT holdout word table encodes through chained JVM replaces (no
    Python anywhere: hex/encode/replace are codegen expressions) and
    rejoins the exploded part-word stream via the guarded vocab
    broadcast."""
    plan = _plan(spark, "bpe_bytes_encode")
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "SortMergeJoin" not in plan


def test_shard_sizing_knob_bounds_file_count(spark, tmp_path):
    """The r9 scale finding, pinned: shard-FILE count is governed by
    MIX_SEQS_PER_SHARD at RUNTIME (the scale-up harness and any
    production deployment size shards to a byte budget by scaling it —
    at the fixed grading-scale 8 the count grows linearly with the corpus
    and the write becomes a small-files metadata storm, measured 185 s vs
    10 s at 300k docs in SCALE.md r9). A regression that froze the knob
    into the plan at import time would silently bring the storm back."""
    import os

    from flink_mm_spark.operators import llm_prep
    from flink_mm_spark.operators.llm_prep import _mixture_packed, _with_shard_id

    sf = SF_DIR
    saved = llm_prep.MIX_SEQS_PER_SHARD
    try:
        counts = {}
        for sps in (2, 64):
            llm_prep.MIX_SEQS_PER_SHARD = sps
            dst = str(tmp_path / f"shards_{sps}")
            _with_shard_id(_mixture_packed(spark, sf)).write.mode(
                "overwrite"
            ).partitionBy("shard_id").parquet(dst)
            counts[sps] = sum(
                1 for e in os.listdir(dst) if e.startswith("shard_id=")
            )
    finally:
        llm_prep.MIX_SEQS_PER_SHARD = saved
    # 32x the knob => ~1/32 the shard dirs (ceil effects aside)
    assert counts[64] < counts[2] / 8, counts
    assert counts[64] >= 1


def test_shard_append_streamed_verify_side_scans_only_shard_files(spark):
    """shard_append_streamed (r10): the returned plan is the VERIFY side
    over the appended shard files — one parquet scan + one shard-keyed
    hash aggregate, never a re-derivation of the mixture stream (the
    shard_write_roundtrip pin applied to the incremental writer). The
    appends themselves happen eagerly inside foreachBatch; a regression
    that rebuilt the manifest from the live packed stream would show the
    mixture machinery here."""
    plan = _plan(spark, "shard_append_streamed")
    assert "FileScan parquet" in plan, plan[:3000]
    assert "HashAggregate" in plan
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan  # the packer never re-runs
    assert "rangepartitioning(shuffle" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:3000]


def test_shard_append_batches_add_no_exchange(spark, tmp_path):
    """The per-micro-batch append plan must be scan → shard-keyed
    exchange → write (r13): the ONE permitted exchange carries only the
    arriving micro-batch's rows hashed on shard_id so the per-shard
    files are created across cores instead of serially in the single
    task a one-file batch arrives as; nothing corpus-shaped re-shuffles
    per batch (the shard_append_streamed scale claim — the exchange is
    batch-sized by construction, the WRITE itself still adds files via
    partitionBy). Pinned on a replica of one micro-batch: the same
    slice file the stream would deliver, written through the same
    partitioned writer; the job must split into exactly TWO stages (the
    one exchange) — a second shuffle anywhere in the write path would
    show as a third stage."""
    from pyspark.sql import functions as F

    from flink_mm_spark.operators.llm_prep import (
        _mixture_packed,
        _with_shard_id,
        idempotent_shard_append,
    )

    src = str(tmp_path / "slices")
    _with_shard_id(_mixture_packed(spark, SF_DIR)).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    files = sorted(
        f for f in __import__("os").listdir(src) if f.endswith(".parquet")
    )
    batch_df = spark.read.parquet(f"{src}/{files[0]}")
    # pin the WRITE itself, not the scan (review r10: the scan's plan can
    # never contain an Exchange, so asserting on it was vacuous): run the
    # append in its own job group and require every job it spawned to be
    # SINGLE-STAGE — a shuffle introduced anywhere in the write path
    # (planned-write repartition, sort-exchange on shard_id) would split
    # a job into 2+ stages. Pins the SHIPPED writer (the r11
    # batchId-deterministic idempotent append), not a replica.
    sc = spark.sparkContext
    sc.setJobGroup("shard_append_pin", "per-batch append must not shuffle")
    try:
        idempotent_shard_append(batch_df, 0, str(tmp_path / "out"))
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    jids = tracker.getJobIdsForGroup("shard_append_pin")
    assert jids, "the append spawned no traceable job"
    stage_lists = [list(tracker.getJobInfo(j).stageIds) for j in jids]
    # ONE exchange exactly: under AQE the shard_id shuffle materializes as
    # its own 1-stage job, then the write job reads it (its stage list
    # shows the reused exchange stage + the write stage). A SECOND
    # shuffle anywhere in the write path would surface as a third job or
    # a 3-stage job.
    assert len(jids) <= 2, stage_lists
    assert all(len(s) <= 2 for s in stage_lists), stage_lists
    # ...and the exchange must EXIST (ADVICE r13 #3: the bounds above also
    # pass for the old single-task writer): a no-shuffle plan is a single
    # 1-stage job, so require ≥2 stages in total, and pin the exchange key
    # on the writer's own input plan — exactly one shard_id
    # hashpartitioning, nothing else repartitioning the batch.
    assert sum(len(s) for s in stage_lists) >= 2, stage_lists
    from flink_mm_spark.operators.llm_prep import _shard_append_df

    wplan = (
        _shard_append_df(batch_df)._jdf.queryExecution().executedPlan().toString()
    )
    assert wplan.count("hashpartitioning(shard_id") == 1, wplan[:3000]
    assert "roundrobin" not in wplan.lower(), wplan[:3000]


def test_lang_id_ngram_broadcasts_profiles_and_stays_jvm(spark):
    """lang_id_ngram (r10): profile training is one (lang, gram)-keyed
    hash aggregate; scoring joins the held-out gram stream against
    BROADCAST profile/marginal tables (vocabulary-sized — the
    unigram_logprob regime); the argmin is one per-doc Window. No Python
    anywhere — everything is codegen expressions."""
    plan_df = registry.QUERIES["lang_id_ngram"].fn(spark, SF_DIR)
    plan_df.collect()
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "Window" in plan  # the ROW_NUMBER argmin


def test_embedding_covariance_one_keyed_aggregate(spark):
    """embedding_covariance (r14): on in-bound data the exactness tier is
    ONE Arrow partial-sum kernel stage (≤ d(d+1)/2 + d tiny rows per
    partition) into ONE (i, j)-keyed aggregate plus broadcast mean/count
    re-attach — no per-term explode (the r13 shape generated 4.16M
    decimal rows at sf0.1), no sort-merge join, nothing row-count-keyed
    shuffling. The posexplode generators must be GONE from this plan —
    they are the fallback for out-of-bound magnitudes/NULL cells only
    (pinned in tests/test_similarity.py::test_cov_guard_routes_paths)."""
    plan = _plan(spark, "embedding_covariance")
    assert "HashAggregate" in plan, plan[:3000]
    assert "MapInPandas" in plan, plan[:3000]
    assert "Generate posexplode" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_pca_fixed_project_one_arrow_stage_no_shuffle(spark):
    """pca_fixed_project (r11): one pruned parquet scan -> one Arrow
    projection stage -> the grading sort. No hash exchange anywhere (the
    kernel is embarrassingly parallel); the scan reads only the two
    columns the entry needs. AQE renders cached/final plans twice, so
    counts assert >= 1 plus the absence of regression signatures."""
    df = registry.QUERIES["pca_fixed_project"].fn(spark, SF_DIR)
    df.collect()  # AQE hides the final plan until execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") >= 1, plan[:3000]
    assert "Exchange hashpartitioning" not in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    read_cols = scan.split("[", 1)[1].split("]", 1)[0].split(",")
    assert len(read_cols) <= 2, scan  # vec_id + embedding only


def test_dedup_keep_best_streamed_report_stays_jvm(spark):
    """dedup_keep_best_streamed (r11): the returned plan is the REPORT
    assembly — the documents quality projection (JVM exprs) joined with
    the pair-list-sized degree/loser reductions over the drained sink.
    The DECISIONS happened inside the stream; nothing here may re-derive
    signatures (no Arrow stage) or sort-merge anything (the pair-side
    tables are broadcast-sized)."""
    df = registry.QUERIES["dedup_keep_best_streamed"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan[:3000]  # signatures never re-run
    assert "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]


def test_embedding_covariance_streamed_assembly_over_checkpoint(spark):
    """embedding_covariance_streamed (r11): the returned plan is the
    assembly over the checkpointed triangle-accumulator table — broadcast
    re-attach joins only, no file scan (the corpus was consumed by the
    stream), no Python, no shuffle. The accumulator itself must hold
    exactly d(d+1)/2 + d + 1 rows (upper-triangle products + sums +
    count; r13 triangle optimization), the O(d²)-state claim as a
    number."""
    from flink_mm_spark.operators.similarity import EMB_DIM

    df = registry.QUERIES["embedding_covariance_streamed"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, plan[:3000]
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "FileScan" not in plan  # assembly reads the drained state only
    from flink_mm_spark.streaming.runner import _SINKS

    assert _SINKS.get("embedding_covariance_streamed"), "sink table name not cached"
    n_rows = spark.table(_SINKS["embedding_covariance_streamed"]).count()
    # r13: the accumulator holds the UPPER TRIANGLE only (mirror cells
    # are bit-equal by decimal commutativity, re-expanded after drain)
    assert n_rows == EMB_DIM * (EMB_DIM + 1) // 2 + EMB_DIM + 1


def test_corpus_to_shards_verify_side_is_scan_and_aggregate(spark):
    """corpus_to_shards_streamed (r11): the returned plan is the manifest
    recompute over the read-back shard files — one parquet scan + one
    shard-keyed aggregate; neither the signature Arrow stage nor the
    decision store may leak into the verify side (they ran eagerly inside
    the two streaming passes)."""
    df = registry.QUERIES["corpus_to_shards_streamed"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan[:3000]
    assert "HashAggregate" in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_corpus_to_shards_strict_verify_side_is_scan_and_aggregate(spark):
    """corpus_to_shards_strict (r12): the strict gate shares the sibling's
    body, so its verify side must carry the same contract — one parquet
    scan of the read-back + one shard-keyed aggregate, no Python stage and
    no join leaking in from the streaming passes."""
    df = registry.QUERIES["corpus_to_shards_strict"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan[:3000]
    assert "HashAggregate" in plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pq_topk_streamed_readback_has_no_python_stage(spark):
    """pq_topk_streamed (r12): the returned plan is the drained spool
    read-back (scan + sort) — encoding and scoring ran inside the stream.
    The ranked per-batch files carry rnk already, so the read-back must
    not re-rank (no Window) and must not touch Python."""
    df = registry.QUERIES["pq_topk_streamed"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan[:3000]
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan


def test_ivf_pq_compacted_readback_has_no_python_stage(spark):
    """ivf_pq_index_compacted (r13): the returned plan is the at-rest
    code-table read-back (scan + sort) — the state drain and the
    exactly-once write ran eagerly inside the builder. Encoding must not
    re-run (no Python stage) and the rows carry pq_code already (no
    Window, no join)."""
    df = registry.QUERIES["ivf_pq_index_compacted"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan[:3000]
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
