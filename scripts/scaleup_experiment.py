"""Scale-up experiment: do the linear-family document operators actually
scale linearly in corpus size?

The testdata documents table is fixed-size (~6k docs at sf0.1), so this
harness synthesizes log-uniform ("Zipf-ish") corpora at 10× steps —
3k / 30k / 300k docs × ~40 tokens over a 500k vocabulary (large enough
that 3-gram shingles are near-unique per doc, as on real text — a
too-small vocab makes shingle document frequency huge and drives
minhash candidate volume quadratic regardless of implementation; that
pathological regime is measured separately in SCALE.md), written as
``documents.parquet`` under a temp dir so the REGISTERED queries run
against them unchanged (the dir stands in for an sf dir) — and records
wall-clock per operator per size. A linear operator should show ~10×
time per 10× data (modulo fixed session overhead amortizing away, so
ratios typically come in UNDER the data factor); anything super-linear
here would be a scale bug the fixed-size testdata can't reveal.

Operators measured (the scan-shaped / banded linear family):
- dedup_exact            (hash groupBy on md5)
- minhash_lsh_pairs      (shingle → signature → banded self-join)
- repetition_signals     (explode + two doc_id-keyed aggregates)
- bm25_topk              (posting-filtered inverted-index aggregation)

The known NON-linear shapes are excluded on purpose: naive
jaccard_token_pairs is the measured hot-key quadratic (382M candidate
pairs at 10k Zipf docs — scripts/skew_experiment.py), and the exact
embedding near-dup is inherently O(n²) compute (its LSH tier is the
scale path).

Usage: python scripts/scaleup_experiment.py [--sizes 3000,30000,300000]
Prints one JSON line per (operator, size) and a markdown table on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from flink_mm_spark import registry
from flink_mm_spark.session import get_spark

registry.load_all()

VOCAB = 500_000
TOKENS_PER_DOC = 40
OPERATORS = [
    "dedup_exact",
    "minhash_lsh_pairs",
    "repetition_signals",
    "bm25_topk",
    # r5 additions (VERDICT r4 ask #5). dedup_components is NOT here: its
    # edge set comes from the NAIVE jaccard_token_pairs, and this corpus
    # gives every doc the three BM25 probe tokens ("scan join window") —
    # three universal postings make the naive self-join quadratic
    # (~1e10 candidates at 300k docs), the documented pathological regime.
    # The dedup_components scale claim is ROUND growth, measured directly
    # on adversarial chain graphs by cc_rounds_experiment below.
    "pack_sequences",
    "semantic_dedup",
    # r6 additions (VERDICT r5 ask #4). This corpus is the growing-vocabulary
    # case the fixed 31-token testdata cannot exercise: realized distinct
    # tokens grow with corpus size (log-uniform draws over a 500k-rank
    # space), so token_bigram_pmi's pair-key cardinality and bpe_encode's
    # distinct-word table grow with the data rather than saturating at
    # |31|² / 31. mixture_plan double-scans the corpus (per-source totals,
    # then the plan rejoin) — its growth checks that both passes stay
    # scan-shaped.
    "token_bigram_pmi",
    "bpe_encode",
    "mixture_plan",
    # r6: the substring deduper. The boilerplate population (below) gives it
    # a real duplicated-span workload that GROWS with the corpus: every 7th
    # doc carries the same 14-token tail, so one gram group's occurrence
    # count is n/7 — the hot-gram shape a shared license header / nav bar
    # produces at 100 TB. The gram-key aggregate must absorb that skew via
    # partial aggregation (count per gram), never a pairwise expansion.
    "substring_dedup",
    # r6 batch 2: the composed pipeline on its PRODUCTION edge tier (the
    # banded MinHash candidates — the naive-edge twin is the documented
    # quadratic on shared-token corpora and is excluded like
    # jaccard_token_pairs), and the WordPiece trainer (word-count shuffle +
    # driver-local merges; growth tracks the distinct-word collect).
    "corpus_prep_pipeline_minhash",
    "wordpiece_merges",
    # r8: pairwise pruning over the exact-twin band join (pair-list-linear
    # on this near-unique-shingle corpus) and the source-pair 5-gram
    # matrix (gram-keyed, |sources| fixed at 8 here so the self-join emits
    # a bounded constant per gram; growth tracks the distinct-gram table).
    "dedup_keep_best",
    "cross_source_overlap",
    # r9: the shard round-trip (write+read of real shard files — growth
    # tracks the packed stream and the file count), byte-level BPE (the
    # TRAINING corpus grows; the held-out part-name table is fixed — a
    # fixed part.parquet is copied into the synth dir — so growth isolates
    # the word-count shuffle + hex-vocab collect), and the streamed
    # band-store dedup (group count grows linearly on this near-unique-
    # shingle corpus: mostly singleton buckets, so the measured constant is
    # per-group Python/state overhead — the honest local cost of the
    # applyInPandasWithState store; run it on a reduced ladder, it is the
    # slowest entry by constant factor).
    "shard_write_roundtrip",
    "bpe_bytes_encode",
    "minhash_dedup_streamed",
    # r10: the capped/TTL tier — on this near-unique-shingle corpus buckets
    # are singletons so capped ≈ exact; the ladder measures the tier's
    # OVERHEAD constants (timer batches, spool) staying flat while growth
    # stays linear (cap-binding behavior is pinned by the synthetic
    # hot-bucket replay test, not this ladder)
    "minhash_dedup_streamed_capped",
]
EMB_DIM = 64

# 14 tokens >= SUBSTR_DEDUP_K + 4: every interior K-window of the tail is
# duplicated across the n/7 docs that carry it, so spans both nominate and
# grow. Outside t-rank space so it collides with nothing organic.
BOILERPLATE = " ".join(f"bp{i}" for i in range(14))


def synth_documents(spark, n_docs: int, out_dir: str) -> None:
    """Deterministic log-uniform corpus, generated distributed and written
    as {out_dir}/documents.parquet (the schema the table() reader expects).
    Token ranks are a pure function of (doc_id, position) — no RNG state —
    so any partitioning produces the identical corpus."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            k = ids[:, None] * TOKENS_PER_DOC + np.arange(TOKENS_PER_DOC)[None, :]
            u = ((k * 2654435761) % (1 << 32)) / float(1 << 32)
            # inverse-CDF of a log-uniform rank distribution over VOCAB
            ranks = np.exp(u * np.log(VOCAB)).astype(np.int64).clip(1, VOCAB)
            # the BM25 probe terms appear at stable positions so the probe
            # postings are non-empty at every size
            texts = [
                "scan join window "
                + " ".join(f"t{r}" for r in row)
                + (" " + BOILERPLATE if i % 7 == 0 else "")
                for i, row in zip(ids, ranks)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    # testdata-shaped source ids: mixture_plan parses the
                    # numeric suffix of 'src<NN>' for its weight derivation
                    "source": np.char.add("src", (ids % 8).astype(str)),
                    "lang": "en",
                    "text": texts,
                }
            )

    (
        spark.range(n_docs, numPartitions=32)
        .mapInPandas(gen, "doc_id long, source string, lang string, text string")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )


def synth_embeddings(spark, n_vecs: int, out_dir: str) -> None:
    """Deterministic random embeddings (near-orthogonal, like the
    testdata): a pure hash of (vec_id, dim) — no RNG state."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            k = ids[:, None] * EMB_DIM + np.arange(EMB_DIM)[None, :]
            u = ((k * 2654435761 + 97) % (1 << 32)) / float(1 << 32)
            emb = (u * 2.0 - 1.0).astype(np.float32)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": [row for row in emb],
                    "label": (ids % 10).astype(np.int32),
                }
            )

    (
        spark.range(n_vecs, numPartitions=32)
        .mapInPandas(gen, "vec_id long, embedding array<float>, label int")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )


def cc_rounds_experiment(spark, sizes=(10_000, 100_000, 1_000_000)) -> None:
    """Round growth of large-star/small-star connected components on
    CHAIN graphs — the adversarial shape where min-label propagation
    needs diameter rounds. Validates the O(log n) claim with measured
    rounds at 10× node steps."""
    from pyspark.sql import functions as F

    from flink_mm_spark.operators.dedup import connected_components

    for n in sizes:
        edges = spark.range(n - 1, numPartitions=32).select(
            F.col("id").alias("u"), (F.col("id") + 1).alias("v")
        )
        docs = spark.range(n, numPartitions=32).select(F.col("id").alias("doc_id"))
        t0 = time.perf_counter()
        labels, rounds = connected_components(edges, docs)
        ok = labels.filter(F.col("label") != 0).count() == 0  # one chain → all 0
        dt = round(time.perf_counter() - t0, 2)
        print(
            json.dumps(
                {"op": "cc_chain_rounds", "n_nodes": n, "rounds": rounds,
                 "sec": dt, "all_one_component": ok}
            ),
            flush=True,
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="3000,30000,300000")
    ap.add_argument("--skip-cc", action="store_true")
    ap.add_argument(
        "--ops",
        default=None,
        help="comma-separated subset of OPERATORS (default: all)",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]
    ops = OPERATORS if args.ops is None else args.ops.split(",")
    unknown = [o for o in ops if o not in OPERATORS]
    if unknown:
        raise SystemExit(f"not in OPERATORS: {unknown}")

    spark = get_spark("flink-mm-scaleup")
    spark.sparkContext.setLogLevel("ERROR")
    # warm python workers so spawn cost doesn't attach to the first cell
    spark.range(64, numPartitions=32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    results: dict[tuple[str, int], float] = {}
    for n in sizes:
        d = tempfile.mkdtemp(prefix=f"scaleup_{n}_")
        try:
            synth_documents(spark, n, d)
            synth_embeddings(spark, n, d)
            # fixed held-out table for the encode ops (bpe_bytes_encode):
            # the holdout must NOT grow with the corpus — growth should
            # isolate training. Path routed through the env like bench.py's
            # SF_DIR so the harness stays portable (review r9).
            shutil.copy(
                os.environ.get(
                    "SPARK_GRAFT_HOLDOUT_PARQUET",
                    "/root/testdata/sf0.001/part.parquet",
                ),
                f"{d}/part.parquet",
            )
            # SemDeDup's production configuration scales k with corpus size
            # (constant expected cluster population → bounded within-cluster
            # quadratic work); with the registry's fixed demo k the 300k run
            # would measure the corpus property (n/k)² rather than the plan
            from flink_mm_spark.operators import curation, llm_prep

            saved_k = curation.SEMDEDUP_K
            curation.SEMDEDUP_K = max(8, n // 2000)
            # shard sizing is likewise a production knob: with the grading
            # scale's 8 seqs/shard, shard COUNT grows linearly with the
            # corpus and the round-trip's cost becomes a small-files
            # metadata storm (measured: 185 s at 300k docs vs 15 s at 30k).
            # Production sizes shards to a fixed byte budget, so the knob
            # scales with the corpus and file count stays bounded — that is
            # the configuration whose growth this ladder measures.
            saved_sps = llm_prep.MIX_SEQS_PER_SHARD
            llm_prep.MIX_SEQS_PER_SHARD = max(8, n // 800)
            try:
                for op in ops:
                    t0 = time.perf_counter()
                    registry.QUERIES[op].fn(spark, d).write.mode("overwrite").format(
                        "noop"
                    ).save()
                    dt = round(time.perf_counter() - t0, 2)
                    results[(op, n)] = dt
                    print(json.dumps({"op": op, "n_docs": n, "sec": dt}), flush=True)
            finally:
                curation.SEMDEDUP_K = saved_k
                llm_prep.MIX_SEQS_PER_SHARD = saved_sps
        finally:
            shutil.rmtree(d, ignore_errors=True)
        # r6: drop persisted tables between sizes — module-cache tables from
        # the previous size otherwise occupy the block manager and distort
        # the largest size's reading (observed: in-session last-step growth
        # 2-6x above the fresh-session 2x-ladder truth for substring_dedup
        # and corpus_prep_pipeline_minhash; fresh sessions are the operative
        # evidence, this just narrows the gap)
        spark.catalog.clearCache()

    hdr = "| operator | " + " | ".join(f"{n:,} docs" for n in sizes) + " | growth (per 10x) |"
    print("\n" + hdr, file=sys.stderr)
    print("|---" * (len(sizes) + 2) + "|", file=sys.stderr)
    for op in ops:
        times = [results[(op, n)] for n in sizes]
        ratios = [
            f"{times[i + 1] / times[i]:.1f}x" for i in range(len(sizes) - 1)
        ]
        print(
            f"| {op} | " + " | ".join(f"{t}s" for t in times) + " | "
            + ", ".join(ratios) + " |",
            file=sys.stderr,
        )
    if not args.skip_cc:
        cc_rounds_experiment(spark)
    spark.stop()


if __name__ == "__main__":
    main()
