"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"median_of": N, "queries": {name: sec}, "load": [start_1min, end_1min],
"sf": ...} — compact separators, per-value adaptive rounding, kept under
the driver's 2000-char tail-capture cap (see the emit() note at the
bottom). Mirrors SURVEY §7.1 M6 /
BASELINE.md "operative baseline": the k-means loop (10 iters, d=2, k=100 on
sf-derived points — the reference's benchmarked workload,
kmeans/KMeansBlock.java), GEMM, and the relational/LLM-pipeline suite.

Every recorded number is the MEDIAN of ``BENCH_REPS`` same-boot runs
(VERDICT r8 ask #5): single samples on this shared box swing 2-4x with
neighbor load and first-call AQE/worker overheads (the r5-r8
"drift" investigations all traced to this), so one-sample suite totals
mostly measured the neighbor. Medians make BENCH_r{N} self-interpreting;
BASELINE.md compares medians from r9 on. Override with
SPARK_GRAFT_BENCH_REPS=1 for a quick smoke pass.

DataFrame results are forced with the noop sink (full execution, no
collect-to-driver cost in the measurement).
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import functions as F

from flink_mm_spark import registry
from flink_mm_spark.session import get_spark
from flink_mm_spark.sources.tables import table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def timed_median(fn) -> float:
    """Median wall of BENCH_REPS same-boot runs of ``fn`` (see module doc)."""
    import statistics

    runs = []
    for _ in range(BENCH_REPS):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3)

# Registry queries that represent each operator family at benchmark scale.
HEADLINE = [
    "pricing_summary",          # scan + hash agg
    "shipping_priority",        # 3-way join + agg + top-k
    "local_supplier_volume",    # 6-way star join
    "top_customers_per_nation", # window
    "events_hourly",            # time windows
    "dedup_exact",              # hash dedup
    "jaccard_token_pairs",      # inverted-index similarity join (benched twin:
                                # the 31-token-vocab corpus makes the counting
                                # join optimal; see jaccard_prefix_filtered doc)
    "minhash_lsh_pairs",        # MinHash-LSH
    "embedding_near_dup",       # exact cosine near-dup pairs
    "embedding_near_dup_lsh",   # banded-LSH candidates + exact verify (scale tier)
    "cosine_topk",              # embedding search
    "matmul_cells",             # relational matmul
    "gemm_broadcast_cells",     # pandas-UDF GEMM
    "mds_stress",               # distributed stress kernel
    "user_sessions_batch",      # sessionization (windows + running sum)
    "media_decode_features",    # multimodal mapInPandas decode
    "pii_scrub",                # regex redaction chain (codegen scan)
    "benchmark_contamination",  # eval-shingle broadcast decontamination
    "pack_sequences",           # two-pass distributed prefix-sum packing
    "mixture_pack_pipeline",    # r8: mixture APPLY -> epoch replicate -> pack
    "shard_write_roundtrip",    # r9: shard files written + read back + manifest
                                # recomputed (supersedes shard_manifest's rollup)
    "repetition_signals",       # r3 curation: explode + double hash agg (pure JVM)
    "semantic_dedup",           # r3 curation: assign + cluster-keyed block-pair GEMM
    "bm25_topk",                # r3: posting-filtered BM25 retrieval ranking
    "hll_distinct_exact",       # r3: portable HLL sketch (2-level hash agg)
    "pq_adc_topk",              # r3: PQ encode + ADC scan (one mapInPandas pass)
    "minhash_lsh_exact",        # r4: exactly-graded MinHash twin (md5 hash family,
                                # banded self-join SQL-replayed) — wall-clock band
                                # for the exact-twin tier (VERDICT r3 ask #8)
    "chunk_dedup",              # r4: C4-style sub-document chunk dedup (JVM
                                # chunking, chunk-hash keyed exchange)
    "bpe_encode",               # r5: tokenizer lifecycle (train via the two-tier
                                # trainer + broadcast-encode) — band tracks the
                                # reworked training path
    "bpe_bytes_encode",         # r9: byte-level tier (hex-pair symbols, held-out
                                # apply to part names, UNK-free by construction)
    "weighted_reservoir_sample",  # r5: A-ES weighted top-K (TakeOrderedAndProject)
    "dup_cluster_sizes",        # r5: dedup-cluster histogram (two keyed shuffles)
    "token_bigram_pmi",         # r5: collocation PMI (pair shuffle + broadcast marginals)
    "zipf_fit",                 # r5: frequency-spectrum power-law fit
    "substring_dedup",          # r6: cross-document repeated-span removal
                                # (chunk-hash anchors → span growing → strip)
    "corpus_prep_pipeline_minhash",  # r6: composed pipeline, banded MinHash
                                # edge tier (the 100 TB edge source)
    "wordpiece_merges",         # r6: likelihood-scored tokenizer trainer
                                # (word-count shuffle + driver-local merges)
    "events_cms_streamed",      # r6: count-min cells as streaming state
                                # (sum-merge complement of the HLL stream)
    "minhash_dedup_streamed",   # r9: incremental band-store dedup (stateful
                                # probe-then-add, 4 micro-batch arrivals)
    "minhash_dedup_streamed_capped",  # r10: the production-bounded tier
                                # (prefix cap + TTL, parquet spool sink)
    "corpus_ingest_bounded_streamed",  # r10: watermark-bounded ingest gate
                                # (dropDuplicatesWithinWatermark state)
    "shard_append_streamed",    # r10: incremental foreachBatch shard append
                                # + read-back manifest verify
    "lang_id_ngram",            # r10: trained char-trigram language ID
                                # (profile aggregate + broadcast scoring)
    "embedding_covariance",     # r10: exact covariance (d²-keyed decimal
                                # aggregate; the PCA exactness twin)
    "embedding_pca_project",    # r10: partial-Gram basis + Arrow GEMM
                                # projection (production covariance tier)
    "dedup_keep_best_streamed", # r11: online keep/drop decisions on the
                                # streamed band store (decision tier)
    "embedding_covariance_streamed",  # r11: incremental covariance (one
                                # complete-mode decimal accumulator)
    "pca_fixed_project",        # r11: fixed-basis projection kernel
                                # (exactly-graded Arrow GEMM path)
    "corpus_to_shards_streamed",  # r11: composed pipeline — online
                                # admission -> exactly-once shards -> manifest
    "corpus_to_shards_strict",  # r12: same chain under the strict
                                # incumbent-wins gate (zero near-dups ship)
    "pq_topk_streamed",         # r12: streamed retrieval — query arrivals
                                # probe the static PQ code table per batch
    "pq_encode_streamed",       # r12: incremental index build — corpus
                                # arrivals encoded + exactly-once appended
    "ivf_pq_topk_streamed",     # r12: online IVF-PQ — growing cell-sharded
                                # index state, interleaved query waves
    "ivf_pq_index_compacted",   # r13: online state -> at-rest code table
                                # flush (statestore reader + exactly-once
                                # write; reuses the prior entry's ckpt, so
                                # this times the DRAIN itself)
    "ivf_pq_topk_streamed_deletes",  # r13: erasure against the online
                                # index (delete wave between query waves)
    "wordpiece_encode_holdout", # r8: held-out encode (train on documents,
    #   apply to part names — the nonzero-UNK deploy path)
    "wordpiece_encode",         # r6: MaxMatch inference (train + segment
                                # distinct words + broadcast rollup)
    "tokenize_pack_pipeline",   # r6: composed train -> encode -> pack
                                # (real-subword-count sequence packing)
    "bigram_logprob",           # r6: add-one bigram-LM perplexity filter
                                # (pair shuffle + broadcast marginals)
    "unigram_viterbi_encode",   # r8: integer-weight Viterbi decoder
                                # (bounded substring agg + Arrow segment pass)
    "dedup_keep_best",          # r8: pairwise near-dup pruning over the
                                # exact-twin band join (keep best per pair)
    "cross_source_overlap",     # r8: source-pair 5-gram contamination
                                # matrix (md5-folded gram keys)
    "dedup_components_exact",   # r8: star-algorithm components, exactly
                                # graded vs a recursive-CTE closure
    "ngram_novelty",            # r8: corpus-unique gram fraction per doc
                                # (two gram-keyed linear exchanges)
]


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm_up(spark, sf_dir: str) -> None:
    """Untimed warm-up before any measured call."""
    # warm the JVM/session on a cheap query so the first timing isn't JIT,
    # and touch the big fact table so footer/stat reads are out of the way
    force(registry.QUERIES["top_orders_by_price"].fn(spark, sf_dir))
    table(spark, sf_dir, "lineitem").count()

    # warm the Python UDF workers (one per core): the first pandas-UDF stage
    # otherwise pays ~32 interpreter+numpy spawns inside whichever query it
    # lands in. Steady-state throughput is what BASELINE's numbers measure.
    def _noop(it):
        for b in it:
            yield b

    ncpu = spark.sparkContext.defaultParallelism
    force(spark.range(0, ncpu, 1, ncpu).mapInPandas(_noop, "id long"))


def bench_kmeans(spark, sf_dir: str) -> None:
    """The reference's benchmarked workload: k-means, d=2, k=100, 10 iters
    (kmeans/KMeansBlock.java; BASELINE.md normalizes per point-centroid)."""
    from flink_mm_spark.algos.kmeans import kmeans

    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.array(F.col("l_quantity"), F.col("l_extendedprice") / 1000.0).alias("features")
    )
    k = 100
    init_rows = (
        li.orderBy("l_orderkey", "l_linenumber")
        .limit(k)
        .select("l_quantity", (F.col("l_extendedprice") / 1000.0).alias("p"))
        .collect()
    )
    init = np.array([[r["l_quantity"], r["p"]] for r in init_rows])
    kmeans(pts, init, n_iters=10)


def bench_kmeans_k1000(spark, sf_dir: str) -> None:
    """k=1000 variant — the reference's benchmarked config (its 'correct'
    runs are all k>=1000, BASELINE.md) where the per-pass cost is
    compute-bound rather than scheduling-bound."""
    from flink_mm_spark.algos.kmeans import kmeans

    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.array(F.col("l_quantity"), F.col("l_extendedprice") / 1000.0).alias("features")
    )
    init = np.array([[float(i % 50), float(i // 50)] for i in range(1000)])
    kmeans(pts, init, n_iters=10)


def bench_damds(spark, sf_dir: str, n: int = 500) -> None:
    """The reference's flagship workload: DA-MDS anneal over an n×n quantized
    distance matrix (config.properties shape scaled up: dim 3, 8 CG iters,
    4 temp loops). Distances derive from sf embeddings so input is real,
    and the distance blocks are built DISTRIBUTED from the points DataFrame
    (the production path — the timed figure includes construction)."""
    from flink_mm_spark.algos.damds import damds, damds_blocks_from_points
    from flink_mm_spark.sources.tables import table

    pts = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n)
        .select(
            F.col("vec_id").alias("point_id"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
    )
    # block sizing: ~31 rows/block at N=500. The anneal pays one barrier of
    # min(n_blocks, cores) tasks per kernel pass (place_blocks; 18 jobs per
    # run, construction included): 32 one-row-heavy tasks measured
    # 14.4-16.8 s vs 12.7 s at 16 — schedule cost, not compute.
    # At cluster N the same rule (rows/block >> 1, blocks ≈ a few per core)
    # holds; block count is a constructor knob, not a semantic change.
    blocks = damds_blocks_from_points(spark, pts, n_points=n, n_blocks=16)
    damds(
        blocks, n, dim=3, max_temp_loops=4, max_stress_loops=2, cg_iters=8,
        uniform_weights=True,  # from-points blocks: closed-form CG multiply
    )


def bench_incremental_mds(spark, sf_dir: str) -> float:
    """Steady-state incremental-MDS block maintenance (VERDICT r2 ask #4):
    the embeddings corpus (2000 points at sf0.1) absorbs in one batch (the
    O(N²) rebuild), then 3 batches of 100 points append. The timed figure
    is the APPENDS
    only — the O(N·b) path: b new stripes + b columns on every existing
    block, never an O(N²) recompute. Appended points are pairwise midpoints
    of base points, so the global max distance (the quantization scale)
    provably cannot grow — the run asserts the append path actually ran."""
    from flink_mm_spark.algos.damds import IncrementalDistanceBlocks

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    n_base = e.count()  # 2000 at sf0.1, 500 at smaller SFs
    base = e.select(F.col("vec_id").alias("point_id"), "vec")
    inc = IncrementalDistanceBlocks(n_blocks_hint=32)
    inc.append(base, n_base)
    a = e.filter(F.col("vec_id") < 300).select(F.col("vec_id").alias("ia"), F.col("vec").alias("va"))
    b = e.filter(F.col("vec_id") < 301).select(F.col("vec_id").alias("ib"), F.col("vec").alias("vb"))
    mids = (
        a.join(b, F.col("ib") == F.col("ia") + 1)
        .select("ia", F.zip_with("va", "vb", lambda x, y: (x + y) / 2.0).alias("vec"))
    )
    t0 = time.perf_counter()
    for k in range(3):
        batch = mids.filter((F.col("ia") >= k * 100) & (F.col("ia") < (k + 1) * 100)).select(
            (F.col("ia") + n_base).alias("point_id"), "vec"
        )
        inc.append(batch, 100)
        assert inc.last_mode == "append", inc.last_mode
    dt = time.perf_counter() - t0
    from flink_mm_spark.session import release

    release(inc.blocks)
    return dt


def bench_streaming(spark, sf_dir: str) -> None:
    """Structured Streaming throughput: tumbling watermarked aggregate over
    the whole events table as one availableNow run (file source → windowed
    agg → noop sink)."""
    import shutil
    import tempfile

    from flink_mm_spark.streaming.events import events_stream, tumbling_aggregate

    ckpt = tempfile.mkdtemp(prefix="fms_bench_ckpt_")
    try:
        stream = events_stream(spark, sf_dir, glob="events.parquet")
        q = (
            tumbling_aggregate(stream)
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()  # never rmtree a live query's checkpoint
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


@contextlib.contextmanager
def shuffle_fact_join(spark, sf_dir: str):
    """With broadcast joins off, yield orders and lineitem cut to the fact
    join's columns and their plain-parquet join (sum of l_quantity per
    order): the fact-fact exchange a bucketed layout removes."""
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        lineitem = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        yield orders, lineitem, (
            orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity"))
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)


def bench_bucketed_join(spark, sf_dir: str, timings: dict) -> None:
    """Co-located (bucketed) fact join vs the same join over plain parquet.

    Both tables hash-bucketed on the join key at write time -> the join
    plans ZERO Exchanges; the plain-parquet twin pays the full shuffle.
    The write itself is untimed (a layout cost amortized over every query
    that reuses it). At 100 TB this is the single biggest join lever.
    """
    from flink_mm_spark.sources.bucketing import colocated_join, write_bucketed

    with shuffle_fact_join(spark, sf_dir) as (orders, lineitem, plain_join):
        try:
            write_bucketed(orders, "bench_b_orders", "o_orderkey", n_buckets=32)
            write_bucketed(lineitem, "bench_b_lineitem", "l_orderkey", n_buckets=32)

            timings["bucketed_fact_join"] = timed_median(
                lambda: force(
                    colocated_join(
                        spark, "bench_b_orders", "bench_b_lineitem", "o_orderkey", "l_orderkey"
                    )
                    .groupBy("o_orderkey")
                    .agg(F.sum("l_quantity"))
                )
            )
            timings["shuffle_fact_join"] = timed_median(lambda: force(plain_join))
        finally:
            spark.sql("DROP TABLE IF EXISTS bench_b_orders")
            spark.sql("DROP TABLE IF EXISTS bench_b_lineitem")


def main() -> None:
    registry.load_all()
    spark = get_spark("flink-mm-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # stamp the boot's load so a sample taken under neighbor load is
    # SELF-DESCRIBING (VERDICT r10 #3: the shipped BENCH_r10 was recorded
    # on a loaded boot and its two >2× rows could only be adjudicated via
    # BASELINE.md prose) — record 1/5/15-min load averages at start + end
    load_start = os.getloadavg()

    timings: dict[str, float] = {}
    warm_up(spark, SF_DIR)

    for name in HEADLINE:
        timings[name] = timed_median(
            lambda name=name: force(registry.QUERIES[name].fn(spark, SF_DIR))
        )

    timings["kmeans_d2_k100_i10"] = timed_median(lambda: bench_kmeans(spark, SF_DIR))
    timings["kmeans_d2_k1000_i10"] = timed_median(
        lambda: bench_kmeans_k1000(spark, SF_DIR)
    )
    timings["damds_n500_d3"] = timed_median(lambda: bench_damds(spark, SF_DIR))
    timings["streaming_tumbling_availablenow"] = timed_median(
        lambda: bench_streaming(spark, SF_DIR)
    )

    # incremental MDS times its own append phase (the build is setup);
    # median the returned append walls
    import statistics

    timings["incremental_mds_append_n2000_b100x3"] = round(
        statistics.median(bench_incremental_mds(spark, SF_DIR) for _ in range(BENCH_REPS)),
        3,
    )

    bench_bucketed_join(spark, SF_DIR, timings)

    # Reduce and AllReduce latency (collectives/Reduce.java, AllReduce.java;
    # size=1000, itr=10 from Program.java:13-26) of the engine's own
    # primitives over one instance RDD. Each round is 1-2 driver-coordinated
    # jobs, so the entries record median×10 of per-round walls: one
    # scheduler stall under box load would otherwise multiply into the
    # whole entry (VERDICT r2 ask #2), and the median keeps the entry's
    # meaning (estimated 10-round total).
    from flink_mm_spark.operators.collectives import allreduce, instances, reduce_vector

    with instances(spark) as inst:
        allreduce(inst)  # warms both: an AllReduce round starts with a Reduce
        for key, fn in (
            ("collectives_reduce_i10", reduce_vector),
            ("collectives_allreduce_i10", allreduce),
        ):
            rounds = []
            for _ in range(10):
                t0 = time.perf_counter()
                fn(inst)
                rounds.append(time.perf_counter() - t0)
            timings[key] = round(statistics.median(rounds) * 10, 3)

    total = round(sum(timings.values()), 2)
    m = __import__("re").search(r"sf([0-9.]+)/?$", SF_DIR)
    sf = m.group(1) if m else SF_DIR
    load_end = os.getloadavg()

    # The driver's capture keeps only the LAST 2000 characters of stdout
    # (BENCH_r12's head lost its first 6 entries), so the WHOLE line must
    # fit under that cap. Three levers (VERDICT r12 #5): compact
    # separators, adaptive per-value rounding (<10 s → 2 dp, <100 s →
    # 1 dp, else 0 dp: every value ≤4 chars), and scalar 1-min load
    # stamps ("load":[start,end], still AFTER "queries" per r11 #2). If
    # future entries ever push past the cap anyway, degrade to 1 dp
    # across the board rather than ship a truncated head.
    def emit(dp_small: int) -> str:
        def fmt(v: float):
            r = round(v, dp_small if v < 10 else (1 if v < 100 else 0))
            # whole values emit as ints ("3" not "3.0") — same JSON number,
            # ~2 chars back per entry toward the capture cap
            return int(r) if r == int(r) else r

        return json.dumps(
            {
                "metric": "suite",
                "value": total,
                "unit": "sec",
                "median_of": BENCH_REPS,
                # no "ncpu": the driver's wrapper records "cpus" itself
                "queries": {k: fmt(v) for k, v in timings.items()},
                "load": [round(load_start[0], 1), round(load_end[0], 1)],
                "sf": float(sf) if isinstance(sf, str) and sf.replace(".", "").isdigit() else sf,
            },
            separators=(",", ":"),
        )

    # degrade precision stepwise until the line fits under the driver's
    # 2000-char tail capture (VERDICT r13 #7: BENCH_r12's head truncated;
    # r13 shipped at 1953/2000). ENTRY KEYS dominate the length (~1850
    # chars of the 1953 are names+syntax), so precision only buys ~100
    # chars — degrade exactly when needed (1990 bound, not earlier: an
    # r14 1900-margin attempt degraded a fitting 2-dp line all the way to
    # integers), and assert loudly rather than ever printing a
    # truncatable line. If the assert ever fires, trim HEADLINE entries
    # or shorten keys — precision has no more room to give.
    line = emit(2)
    for dp in (1, 0):
        if len(line) <= 1990:
            break
        line = emit(dp)
    assert len(line) <= 1995, (
        f"bench emit line is {len(line)} chars even at minimum precision; "
        "the driver tail-captures 2000 — trim entries or shorten keys"
    )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
