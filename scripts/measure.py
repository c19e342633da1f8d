"""Measure registry entries: walls, query plans, or shuffle bytes.

    python scripts/measure.py time [<sf_dir> [<sf_dir>]] <name> ...
    python scripts/measure.py plans <out_dir> <tag> <name> ...
    python scripts/measure.py shuffle [<name> ...]

Every mode loads the registry, rejects unknown names before the session
starts, then runs bench.py's warm-up.

- ``time``: bench.py's median of $SPARK_GRAFT_BENCH_REPS runs per entry,
  each forced with the noop sink, at $SPARK_GRAFT_SF_DIR (bench.py's
  default) or at the sf dirs given (the arguments holding a ``/``). One sf
  dir prints ``{name: {median, runs}}`` per entry and a closing summary
  line. Two sf dirs (the sf0.01/sf0.1 growth ladder) print one line per
  entry with both medians and ``growth_10x``, the second median over the
  first. The names ``kmeans_d2_k100_i10`` and ``kmeans_d2_k1000_i10`` run
  bench.py's k-means, and ``damds_n500_d3`` its DA-MDS anneal.
- ``plans``: ``explain("formatted")`` and the AQE-final executed plan (after
  one execution; AQE hides the final plan until then) at sf0.001, written to
  ``<out_dir>/<name>_<tag>.txt``.
- ``shuffle``: the bytes each ``AUDITED`` entry (default: all of them) and
  the broadcast-free fact-join baseline write to shuffles at
  $SPARK_GRAFT_SF_DIR, and the Spark jobs and tasks each runs. Each runs
  once, forced with the noop sink, under its own job group; the counts come
  from Spark's event log, summed per group by
  ``perfbench.eventlog.attribute``. Bytes and jobs are a function of the
  plan, not of machine load. Prints one JSON line per row and a markdown
  table on stderr.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from flink_mm_spark import registry
from flink_mm_spark.session import get_spark
from perfbench.eventlog import Span, Usage, attribute, read_events

# bench.py's iterative workloads, timed by the names bench.py gives them
BENCH_LOOPS = {
    "kmeans_d2_k100_i10": bench.bench_kmeans,
    "kmeans_d2_k1000_i10": bench.bench_kmeans_k1000,
    "damds_n500_d3": bench.bench_damds,
}
PLAN_SF_DIR = str(Path(bench.SF_DIR).with_name("sf0.001"))

# Pairs the audit exists to compare: bucketed_fact_join vs the
# fact_join_shuffle_baseline row (the at-rest bucketed layout removes the
# fact-fact exchange); embedding_near_dup vs its LSH tier (id+bucket rows,
# not vectors); jaccard_token_pairs vs jaccard_prefix_filtered.
AUDITED = [
    # relational core
    "pricing_summary",
    "local_supplier_volume",
    "bucketed_fact_join",
    # dedup family
    "dedup_exact",
    "jaccard_token_pairs",
    "jaccard_prefix_filtered",
    "minhash_lsh_pairs",
    "embedding_near_dup",
    "embedding_near_dup_lsh",
    "dedup_components",
    # curation / prep
    "repetition_signals",
    "unigram_logprob",
    "pack_sequences",
    "mixture_pack_pipeline",  # broadcast plan + explode + ONE range exchange
    "shard_manifest",  # same + the shard-id hash aggregate
    "shard_write_roundtrip",  # + partitionBy file write, scan-only verify
    "benchmark_contamination",
    # text / retrieval
    "bm25_topk",
    # sketches / ANN
    "hll_distinct_exact",
    "pq_adc_topk",
    "ann_lsh_topk",
    # exact twins and pipelines
    "minhash_lsh_exact",
    "bpe_encode",
    "bpe_bytes_encode",  # byte-symbol train + held-out broadcast encode
    "curation_funnel",
    "corpus_prep_pipeline",
    # corpus analytics
    "weighted_reservoir_sample",  # expect ~0: TakeOrderedAndProject, no exchange
    "dup_cluster_sizes",
    "token_bigram_pmi",
    "zipf_fit",
    "substring_dedup",  # anchor-keyed exchanges
    "corpus_prep_pipeline_minhash",  # banded MinHash-LSH edge tier
    "corpus_prep_pipeline_keepbest",  # keep-best tier: no star rounds
    "wordpiece_merges",  # expect ~bpe_encode's: one word-count exchange
    "events_cms_streamed",  # expect ~0: 256 sketch cells of state, 4 probes
    "wordpiece_encode",  # two word-count-shaped exchanges + broadcast join
    "wordpiece_encode_holdout",  # same shape + the part-name word explode
    "tokenize_pack_pipeline",  # bpe_encode's exchanges + ONE range exchange
    "bigram_logprob",  # pair-key shuffle + gram-keyed scoring join
    "unigram_viterbi_encode",  # word-count + bounded substring exchanges
    "dedup_keep_best",  # pair-list-linear pruning joins over the exact twin
    "cross_source_overlap",  # 8B md5-folded gram keys, sources^2-bounded join
    "dedup_components_exact",  # star rounds: shrinking id-pair exchanges
    "ngram_novelty",  # two gram-keyed linear exchanges + rejoin
    # bounded streamed tiers
    "minhash_dedup_streamed_capped",  # band rows into capped state + spool
    "corpus_ingest_bounded_streamed",  # watermarked fp-dedup state + rollup
    "shard_append_streamed",  # per-batch scan->write appends + manifest scan
    "lang_id_ngram",  # profile aggregate + broadcast scoring + doc window
    "embedding_covariance",  # ONE d²-keyed decimal aggregate, O(parts×d²)
    "dedup_keep_best_streamed",  # band+attrs into state, pair-linear report
    "embedding_covariance_streamed",  # per-batch term exchange into d² state
    "pca_fixed_project",  # expect ~0: scan -> Arrow stage, no exchange
    "corpus_to_shards_streamed",  # decision-store exchange + anti-join + manifest
    "corpus_to_shards_strict",  # same chain, drop set = all pairing arrivals
    "pq_topk_streamed",  # encode exchange-free; per-batch local-topk + qid window
    "pq_encode_streamed",  # expect ~0: per-batch scan -> Arrow encode -> write
    "ivf_pq_topk_streamed",  # cell-keyed exchange: 8B codes/vector + 1KB LUT/probe
    "ivf_pq_index_compacted",  # statestore scan -> write; ~0 beyond read-back sort
    "ivf_pq_topk_streamed_capped",  # same exchange as the exact twin; state bounded
    "ivf_pq_topk_streamed_deletes",  # delete = one exchange row, like an add
]


def start(mode, names, sf_dir, extra_conf=None):
    """The one set-up path: registry, name check, session, warm-up."""
    registry.load_all()
    known = {
        "time": set(registry.QUERIES) | set(BENCH_LOOPS),
        "plans": set(registry.QUERIES),
        "shuffle": set(AUDITED) & set(registry.QUERIES),
    }[mode]
    unknown = [n for n in names if n not in known]
    if unknown:
        raise KeyError(f"unknown to measure.py {mode}: {unknown}")
    spark = get_spark("measure", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, sf_dir)
    return spark


def entry_call(spark, name, sf_dir):
    if name in BENCH_LOOPS:
        return lambda: BENCH_LOOPS[name](spark, sf_dir)
    return lambda: bench.force(registry.QUERIES[name].fn(spark, sf_dir))


def time_entries(spark, sf_dirs, names):
    """Median and runs per entry and sf dir; prints and returns them."""
    out = {}
    for name in names:
        load0 = round(os.getloadavg()[0], 1)
        rec = {}
        for sf_dir in sf_dirs:
            spark.sparkContext.setJobDescription(f"time {name} {sf_dir}")
            call, runs = entry_call(spark, name, sf_dir), []

            def once():
                t0 = time.perf_counter()
                call()
                runs.append(round(time.perf_counter() - t0, 3))

            median = bench.timed_median(once)
            rec[Path(sf_dir).name] = {"median": median, "runs": runs}
        if len(sf_dirs) == 1:
            out[name] = rec.popitem()[1]
            print(json.dumps({name: out[name]}), flush=True)
        else:
            a, b = (r["median"] for r in rec.values())
            out[name] = {"entry": name, "load0": load0, **rec, "growth_10x": round(b / a, 2) if a else None}
            print(json.dumps(out[name]), flush=True)
    if len(sf_dirs) == 1:
        summary = {"sf_dir": sf_dirs[0], "reps": bench.BENCH_REPS, "load": list(os.getloadavg())}
        print(json.dumps({**summary, "entries": out}))
    return out


def capture_plans(spark, sf_dir, out_dir, tag, names):
    """Write each entry's formatted and AQE-final plans; return the paths."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name in names:
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        df = registry.QUERIES[name].fn(spark, sf_dir)
        formatted = df._jdf.queryExecution().explainString(mode)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        text = (
            f"== {name} ({tag}, {Path(sf_dir).name}) ==\n\n"
            "---- explain(formatted) ----\n" + formatted +
            "\n---- AQE-final executedPlan (after collect) ----\n" + final
        )
        paths.append(os.path.join(out_dir, f"{name}_{tag}.txt"))
        with open(paths[-1], "w") as f:
            f.write(re.sub(r"file:[^,\]\s]+", "file:<path>", text))
        print(f"wrote {paths[-1]}")
    return paths


def shuffle_audit(sf_dir, names):
    """One execution per entry, one job group each; bytes from the event log."""
    spans = []

    def run(label, fn):
        spans.append(Span(f"measure-{len(spans)}", label, time.time(), 0.0))
        spark.sparkContext.setJobGroup(spans[-1].sid, label)
        fn()
        spans[-1].end = time.time()

    def baseline():
        with bench.shuffle_fact_join(spark, sf_dir) as (_, _, plain_join):
            bench.force(plain_join)

    names = names or AUDITED
    with tempfile.TemporaryDirectory(prefix="measure_eventlog_") as log_dir:
        spark = start("shuffle", names, sf_dir, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(log_dir).as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        for name in [n for n in AUDITED if n in names]:
            run(name, entry_call(spark, name, sf_dir))
        run("fact_join_shuffle_baseline", baseline)
        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes the log
        with open(os.path.join(log_dir, app_id)) as f:
            usage = attribute(read_events(f), spans)
    rows = []
    for s in spans:
        u = usage.get(s.sid, Usage())
        rows.append({
            "query": s.name,
            "shuffle_mb": round(u.shuffle_write_b / 1e6, 2),
            "jobs": u.jobs,
            "tasks": u.tasks,
        })
        print(json.dumps(rows[-1]), flush=True)
    print("\n| query | shuffle MB | jobs | tasks |\n|---|---|---|---|", file=sys.stderr)
    for r in rows:
        print(f"| {r['query']} | {r['shuffle_mb']} | {r['jobs']} | {r['tasks']} |", file=sys.stderr)
    return rows


def main(argv):
    mode, args = argv[0] if argv else None, argv[1:]
    if mode == "time":
        sf_dirs = [a for a in args if "/" in a] or [bench.SF_DIR]
        names = [a for a in args if "/" not in a]
        if len(sf_dirs) > 2:
            raise SystemExit(__doc__)
        spark = start(mode, names, sf_dirs[0])
        time_entries(spark, sf_dirs, names)
    elif mode == "plans":
        out_dir, tag, names = args[0], args[1], args[2:]
        spark = start(mode, names, PLAN_SF_DIR)
        capture_plans(spark, PLAN_SF_DIR, out_dir, tag, names)
    elif mode == "shuffle":
        shuffle_audit(bench.SF_DIR, args)
        return
    else:
        raise SystemExit(__doc__)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
