"""Corpus-curation operators: the model-quality filters of an LLM data pipeline.

Round-3 additions beyond the dedup/quality families already graded — the four
published curation stages every large pretraining pipeline runs between raw
scrape and tokenizer:

- ``repetition_signals``  — within-document repetition metrics (Gopher,
  Rae et al. 2021 §A1.1): duplicate-unigram fraction, top-bigram fraction,
  duplicate-trigram fraction.
- ``unigram_logprob``     — corpus-LM cross-entropy per document (the CCNet /
  Wenzek et al. 2019 perplexity-filter shape, with the LM trained on the
  corpus itself in the same plan).
- ``dsir_importance``     — Data Selection via Importance Resampling (Xie et
  al. 2023): per-document log importance weight of a target slice (lang='en')
  against the raw distribution over bigram features.
- ``semantic_dedup``      — SemDeDup (Abbas et al. 2023): cluster embeddings
  to fixed seed centroids, then exact cosine near-dup pairs *within* each
  cluster via the block-pair GEMM (`dedup.block_pair_cosine`).

All counting/aggregation is JVM-side (explode → partial+final hash
aggregate); the only Python is the Arrow-batched numpy GEMM shared with
``embedding_near_dup``. Every operator has an exact DuckDB oracle.

Scale notes per operator live in SCALE.md §curation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_mm_spark.operators.dedup import block_pair_cosine, tokens_expr
from flink_mm_spark.registry import register
from flink_mm_spark.session import keep_latest
from flink_mm_spark.sources.tables import parallelize_scan, table

# SemDeDup seed centroids: the k lowest vec_ids (deterministic, no RNG).
SEMDEDUP_K = 8
SEMDEDUP_THRESHOLD = 0.4  # same near-dup bar as embedding_near_dup


def _ngrams_raw(toks: Column, k: int) -> Column:
    """All k-word shingles WITH multiplicity (array<string>, JVM HOFs).

    Unlike ``dedup.shingles_expr`` this keeps duplicates — repetition
    metrics are about multiplicity. Guarded: <k tokens yields an empty
    array (``sequence(1, 0)`` would count DOWN, so the guard is required).

    r13: ``toks`` must be a MATERIALIZED attribute column, never a
    derived expression — HOFs are interpreted with no CSE, so an
    expression argument is re-evaluated once per shingle by the
    ``slice`` inside the lambda (the ``dedup.shingles_from_tokens``
    O(tokens²) finding; the dsir caller used to pass ``tokens_expr()``
    directly and re-split per bigram)."""
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# Gopher repetition signals
# ---------------------------------------------------------------------------


@register(
    "repetition_signals",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM t
      UNION ALL
      SELECT doc_id, 2, unnest(list_transform(range(1, len(toks)),
                                              i -> toks[i] || ' ' || toks[i+1]))
      FROM t WHERE len(toks) >= 2
      UNION ALL
      SELECT doc_id, 3, unnest(list_transform(range(1, len(toks) - 1),
                                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      FROM t WHERE len(toks) >= 3
    ),
    c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY ALL)
    SELECT doc_id,
           CAST(SUM(CASE WHEN n = 1 THEN cnt ELSE 0 END) AS INTEGER) AS n_tokens,
           ROUND(CAST(SUM(CASE WHEN n = 1 AND cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN n = 1 THEN cnt ELSE 0 END), 6) AS dup_unigram_frac,
           ROUND(CAST(MAX(CASE WHEN n = 2 THEN cnt END) AS DOUBLE)
                 / SUM(CASE WHEN n = 2 THEN cnt ELSE 0 END), 6) AS top_bigram_frac,
           ROUND(CAST(SUM(CASE WHEN n = 3 AND cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN n = 3 THEN cnt ELSE 0 END), 6) AS dup_trigram_frac
    FROM c
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (the Gopher repetition filters).

    Rae et al. 2021 (Gopher) §A1.1 removes documents whose characters are
    dominated by repeated n-grams. Count-based exact analogues over the
    word stream: fraction of unigram occurrences belonging to repeated
    tokens, the most frequent bigram's share of all bigrams, and the share
    of trigram occurrences belonging to repeated trigrams.

    Plan: one explode of (unigrams ∪ bigrams ∪ trigrams) tagged by n —
    all JVM higher-order functions, evaluated once per row — then a
    partial+final hash aggregate on (doc_id, n, gram) and a second on
    doc_id. Shuffle keys carry doc_id, so at 100 TB this is two
    well-partitioned aggregations with map-side combine; no Python, no
    broadcast, no skew (gram keys are salted by doc_id by construction).
    """
    d = parallelize_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = tokens_expr()
    t = d.select("doc_id", toks.alias("toks"))

    # ONE scan + ONE explode: the three gram streams are tagged structs
    # concatenated per row (a unionAll of per-k branches re-reads and
    # re-tokenizes the corpus once per k — measured 3 scans in the plan).
    def tagged(k: int):
        arr = F.col("toks") if k == 1 else _ngrams_raw(F.col("toks"), k)
        return F.transform(
            arr, lambda g: F.struct(F.lit(k).alias("n"), g.alias("gram"))
        )

    grams = t.select(
        "doc_id", F.explode(F.concat(tagged(1), tagged(2), tagged(3))).alias("g")
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    c = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("cnt"))
    n1 = F.sum(F.when(F.col("n") == 1, F.col("cnt")).otherwise(F.lit(0)))
    n2 = F.sum(F.when(F.col("n") == 2, F.col("cnt")).otherwise(F.lit(0)))
    n3 = F.sum(F.when(F.col("n") == 3, F.col("cnt")).otherwise(F.lit(0)))
    return (
        c.groupBy("doc_id")
        .agg(
            n1.cast("int").alias("n_tokens"),
            F.round(
                F.sum(
                    F.when((F.col("n") == 1) & (F.col("cnt") > 1), F.col("cnt")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / n1,
                6,
            ).alias("dup_unigram_frac"),
            F.round(
                F.max(F.when(F.col("n") == 2, F.col("cnt"))).cast("double") / n2, 6
            ).alias("top_bigram_frac"),
            F.round(
                F.sum(
                    F.when((F.col("n") == 3) & (F.col("cnt") > 1), F.col("cnt")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / n3,
                6,
            ).alias("dup_trigram_frac"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus-LM cross-entropy (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------


@register(
    "unigram_logprob",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents
    ),
    v AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v)
    SELECT t.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_tokens,
           ROUND(CAST(SUM(CAST(-ln(CAST(v.cnt AS DOUBLE) / tot.total)
                               AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS xent
    FROM tok t JOIN v USING (tok) CROSS JOIN tot
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained unigram LM.

    The CCNet (Wenzek et al. 2019) quality-filter shape: score each
    document by its average token negative log-likelihood and keep the
    low-perplexity head. Here the LM is the corpus's own unigram
    distribution, trained and applied in one logical plan.

    Plan: explode tokens once; the vocabulary aggregate is a tiny
    partial+final hash aggregate (vocab ≪ corpus) whose result broadcasts
    back onto the token stream (BroadcastHashJoin — at 100 TB a
    multi-million-row vocab still broadcasts at ~100 MB; beyond that
    Catalyst falls back to a sort-merge join on the token key, which is
    exactly the right shuffle). Per-token -ln p is decimal-cast before
    the per-document sum so partition order cannot change the hash
    (CLAUDE.md float rule).
    """
    d = parallelize_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", F.explode(tokens_expr()).alias("tok"))
    v = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = v.agg(F.sum("cnt").cast("bigint").alias("total"))
    scored = tok.join(F.broadcast(v), "tok").join(F.broadcast(tot))
    neglogp = -F.log(F.col("cnt").cast("double") / F.col("total"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(
                F.sum(neglogp.cast("decimal(18,8)")).cast("double") / F.count("*"), 6
            ).alias("xent"),
        )
        .orderBy("doc_id")
    )


@register(
    "bigram_logprob",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    b AS (
      SELECT doc_id, p.x AS x, p.y AS y FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> struct_pack(x := toks[i], y := toks[i+1]))) AS p
        FROM t WHERE len(toks) >= 2
      )
    ),
    c AS (SELECT x, y, COUNT(*) AS c_xy FROM b GROUP BY x, y),
    cx AS (SELECT x, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM c GROUP BY x),
    vv AS (
      SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      FROM (SELECT unnest(toks) AS tok FROM t)
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           ROUND(CAST(SUM(CAST(-ln(CAST(c.c_xy + 1 AS DOUBLE) / (cx.c_x + vv.v))
                               AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*), 6) AS xent
    FROM b JOIN c USING (x, y) JOIN cx USING (x) CROSS JOIN vv
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus-trained BIGRAM LM with
    Laplace (add-one) smoothing — the higher-order companion of
    ``unigram_logprob`` (CCNet filters with a 5-gram KenLM; a bigram LM
    is the smallest model where context enters the score, and the plan
    shape below is the n-gram shape for any order).

    p(y|x) = (c(x,y) + 1) / (c(x,·) + |V|): every quantity is an exact
    integer (the conditioning marginal c(x,·) derives from the bigram
    table itself, so both engines sum the same integers), the single
    float step per bigram is one IEEE divide + ln on bit-identical
    operands, and per-token scores are decimal-cast before the per-doc
    sum (CLAUDE.md float rule) so partition order cannot move the hash.

    Plan: one pair-key map-side-combined shuffle builds c(x,y) (persisted
    — it feeds its own marginal AND the scoring join, the PMI module-cache
    pattern); c(x,·) and |V| are vocabulary-sized broadcasts; the scoring
    join back onto the document bigram stream is gram-keyed (AQE
    broadcasts while the LM is small, sort-merge beyond — the same
    regime switch as ``unigram_logprob``'s vocab join).
    """
    d = parallelize_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select("doc_id", tokens_expr().alias("t"))
    b = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 2),"
                    " i -> struct(t[i] AS x, t[i + 1] AS y))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.x", "p.y")
    )
    c = keep_latest("blp_pairs", b.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy")))
    cx = c.groupBy("x").agg(F.sum("c_xy").cast("bigint").alias("c_x"))
    vv = (
        toks.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").cast("bigint").alias("v"))
    )
    neglogp = -F.log(
        (F.col("c_xy") + 1).cast("double") / (F.col("c_x") + F.col("v"))
    )
    return (
        b.join(c, ["x", "y"])
        .join(F.broadcast(cx), "x")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(
                F.sum(neglogp.cast("decimal(18,8)")).cast("double") / F.count("*"),
                6,
            ).alias("xent"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


@register(
    "dsir_importance",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    ),
    f AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2
    ),
    raw AS (SELECT gram, COUNT(*) AS r_cnt FROM f GROUP BY gram),
    tgt AS (SELECT gram, COUNT(*) AS t_cnt FROM f WHERE lang = 'en' GROUP BY gram),
    w AS (
      SELECT raw.gram,
             ln( (COALESCE(tgt.t_cnt, 0) + 1.0)
                 / ((SELECT CAST(SUM(t_cnt) AS BIGINT) FROM tgt)
                    + (SELECT COUNT(*) FROM raw)) )
             - ln( (raw.r_cnt + 1.0)
                 / ((SELECT CAST(SUM(r_cnt) AS BIGINT) FROM raw)
                    + (SELECT COUNT(*) FROM raw)) ) AS lw
      FROM raw LEFT JOIN tgt USING (gram)
    )
    SELECT f.doc_id,
           ANY_VALUE(f.lang) AS lang,
           CAST(COUNT(*) AS INTEGER) AS n_feats,
           ROUND(CAST(SUM(CAST(w.lw AS DECIMAL(18,8))) AS DOUBLE), 6) AS log_weight
    FROM f JOIN w USING (gram)
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weights: target slice vs raw corpus (bigrams).

    Data Selection via Importance Resampling (Xie et al. 2023) scores each
    raw document by ``log p_target(x) - log p_raw(x)`` under bag-of-ngram
    models and resamples the raw corpus toward the target. Exact-feature
    variant over word bigrams with add-one smoothing; the target slice is
    the ``lang='en'`` partition. (DSIR's hashed-feature variant is the same
    plan with ``xxhash64(gram) % B`` as the feature key — hashing only
    shrinks the weight table, so the exact-feature plan is the harder case
    and the one graded.)

    Plan: one bigram explode feeds BOTH count aggregates (raw and target —
    Spark computes the filtered twin off the same shuffle output); the
    per-feature weight table (vocab-sized) joins back to the feature
    stream by broadcast; per-document sums are decimal-cast. At 100 TB the
    weight table for hashed features is B rows (fits broadcast by
    construction); for exact features Catalyst swaps to a sort-merge join
    on the gram key.
    """
    d = parallelize_scan(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    # stage tokens as a column before the bigram lambda (r13: see
    # _ngrams_raw — an expression argument re-splits once per bigram)
    f = d.select("doc_id", "lang", tokens_expr().alias("_toks")).select(
        "doc_id", "lang", F.explode(_ngrams_raw(F.col("_toks"), 2)).alias("gram")
    )
    # raw and target counts in ONE aggregate (one corpus shuffle, no
    # raw⋈target join): t_cnt is a conditional sum over the same groups
    counts = f.groupBy("gram").agg(
        F.count("*").alias("r_cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_cnt"),
    )
    totals = counts.agg(
        F.sum("t_cnt").cast("bigint").alias("t_tot"),
        F.sum("r_cnt").cast("bigint").alias("r_tot"),
        F.count("*").cast("bigint").alias("vocab"),
    )
    w = counts.join(F.broadcast(totals)).select(
        "gram",
        (
            F.log((F.col("t_cnt") + F.lit(1.0)) / (F.col("t_tot") + F.col("vocab")))
            - F.log((F.col("r_cnt") + F.lit(1.0)) / (F.col("r_tot") + F.col("vocab")))
        ).alias("lw"),
    )
    return (
        f.join(F.broadcast(w), "gram")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.count("*").cast("int").alias("n_feats"),
            F.round(F.sum(F.col("lw").cast("decimal(18,8)")).cast("double"), 6).alias(
                "log_weight"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Duplicated-span coverage (Lee et al. 2022)
# ---------------------------------------------------------------------------

DUP_SPAN_K = 5  # span width in tokens (Lee et al. use 50 on web-scale docs)


@register(
    "dup_span_coverage",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS a
      FROM documents
    ),
    g AS (
      SELECT doc_id, s.s AS s, s.g AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - {DUP_SPAN_K} + 2),
                                     i -> struct_pack(s := i,
                                          g := array_to_string(a[i : i + {DUP_SPAN_K} - 1], ' ')))) AS s
        FROM t WHERE len(a) >= {DUP_SPAN_K}
      )
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1),
    hits AS (SELECT g.doc_id, g.s FROM g JOIN dup USING (gram)),
    covered AS (
      SELECT doc_id, COUNT(DISTINCT p) AS covered_tokens FROM (
        SELECT doc_id, unnest(range(s, s + {DUP_SPAN_K})) AS p FROM hits
      ) GROUP BY doc_id
    ),
    per_doc AS (
      SELECT t.doc_id,
             len(t.a) AS n_tokens,
             GREATEST(len(t.a) - {DUP_SPAN_K} + 1, 0) AS n_grams,
             (SELECT COUNT(*) FROM hits h WHERE h.doc_id = t.doc_id) AS n_dup_grams
      FROM t
    )
    SELECT p.doc_id,
           CAST(p.n_tokens AS INTEGER) AS n_tokens,
           CAST(p.n_grams AS INTEGER) AS n_grams,
           CAST(p.n_dup_grams AS INTEGER) AS n_dup_grams,
           CAST(COALESCE(c.covered_tokens, 0) AS INTEGER) AS covered_tokens,
           ROUND(CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE) / p.n_tokens, 6) AS dup_coverage
    FROM per_doc p LEFT JOIN covered c USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage (Lee et al. 2022).

    "Deduplicating Training Data Makes Language Models Better" measures how
    much of each document is covered by token spans that also occur
    elsewhere in the corpus — the substring-dedup / memorization signal
    that exact-document dedup misses. Exact variant over
    ``DUP_SPAN_K``-token spans: a span is duplicated if it occurs more
    than once corpus-wide; coverage is the fraction of a document's token
    positions lying inside at least one duplicated span.

    Plan: spans are a JVM higher-order expression with their start offset
    (posexplode — no Python); the duplicated-span set is one partial+final
    count on the span key; re-attaching it to the span stream is an
    equi-join on that key (Catalyst/AQE picks broadcast while the dup set
    fits, sort-merge beyond — both correct); covered positions explode
    ``K`` rows per hit and dedup on (doc_id, position) with map-side
    combine. Every exchange is keyed by span text or doc_id — never a
    pairwise doc join, which is how this metric stays feasible where the
    naive "find all duplicated substrings" suffix-array pass would need a
    dedicated external build at 100 TB.
    """
    d = parallelize_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    t = d.select("doc_id", tokens_expr().alias("a"))
    n = F.size("a")
    spans = F.when(
        n >= DUP_SPAN_K,
        F.transform(
            F.sequence(F.lit(1), n - (DUP_SPAN_K - 1)),
            lambda i: F.concat_ws(" ", F.slice("a", i, DUP_SPAN_K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select(
        "doc_id", F.posexplode(spans).alias("pos0", "gram")
    ).select("doc_id", (F.col("pos0") + 1).alias("s"), "gram")
    dup = (
        g.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("gram")
    )
    hits = g.join(dup, "gram").select("doc_id", "s")
    # one aggregation yields BOTH metrics: positions explode per hit while
    # keeping the start offset, then count(distinct p) = covered tokens and
    # count(distinct s) = duplicated spans (starts are unique per doc)
    cov = (
        hits.select(
            "doc_id",
            "s",
            F.explode(F.sequence("s", F.col("s") + (DUP_SPAN_K - 1))).alias("p"),
        )
        .groupBy("doc_id")
        .agg(
            F.count_distinct("p").alias("covered_tokens"),
            F.count_distinct("s").alias("n_dup_grams"),
        )
    )
    per_doc = t.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.greatest(n - (DUP_SPAN_K - 1), F.lit(0)).cast("int").alias("n_grams"),
    )
    return (
        per_doc.join(cov, "doc_id", "left")
        .na.fill({"n_dup_grams": 0, "covered_tokens": 0})
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.col("n_dup_grams").cast("int").alias("n_dup_grams"),
            F.col("covered_tokens").cast("int").alias("covered_tokens"),
            F.round(
                F.col("covered_tokens").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cross-document exact-substring dedup (Lee et al. 2022, ExactSubstr)
# ---------------------------------------------------------------------------

SUBSTR_DEDUP_K = 10  # minimum duplicated-span width in tokens


@register(
    "substring_dedup",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS a
      FROM documents
    ),
    g AS (
      SELECT doc_id, s.s AS s, md5(s.g) AS gk FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - {SUBSTR_DEDUP_K} + 2),
                      i -> struct_pack(s := i,
                           g := array_to_string(a[i : i + {SUBSTR_DEDUP_K} - 1], ' ')))) AS s
        FROM t WHERE len(a) >= {SUBSTR_DEDUP_K}
      )
    ),
    grp AS (
      SELECT gk, COUNT(*) AS cnt, MIN((doc_id, s)) AS canon
      FROM g GROUP BY gk
    ),
    red AS (
      SELECT g.doc_id, g.s FROM g JOIN grp USING (gk)
      WHERE grp.cnt > 1 AND (g.doc_id, g.s) <> grp.canon
    ),
    pos AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(range(s, s + {SUBSTR_DEDUP_K})) AS p FROM red
      )
    ),
    marked AS (
      SELECT doc_id, p,
             CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) = p - 1
                  THEN 0 ELSE 1 END AS st
      FROM pos
    ),
    remagg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS INTEGER) AS removed_tokens,
             CAST(SUM(st) AS INTEGER) AS n_removed_spans
      FROM marked GROUP BY doc_id
    ),
    toku AS (
      SELECT doc_id, u.p AS p, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) + 1),
                      i -> struct_pack(p := i, tok := a[i]))) AS u
        FROM t
      )
    ),
    kt AS (
      SELECT tk.doc_id,
             CAST(COUNT(*) AS INTEGER) AS kept_tokens,
             md5(string_agg(tk.tok, ' ' ORDER BY tk.p)) AS kept_hash
      FROM toku tk
      WHERE NOT EXISTS (SELECT 1 FROM pos
                        WHERE pos.doc_id = tk.doc_id AND pos.p = tk.p)
      GROUP BY tk.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.a) AS INTEGER) AS n_tokens,
           COALESCE(r.removed_tokens, 0) AS removed_tokens,
           COALESCE(kt.kept_tokens, 0) AS kept_tokens,
           COALESCE(r.n_removed_spans, 0) AS n_removed_spans,
           COALESCE(kt.kept_hash, md5('')) AS kept_hash
    FROM t LEFT JOIN remagg r USING (doc_id) LEFT JOIN kt USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring DEDUP — removes, not just measures.

    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") ExactSubstr: any token span of width ≥ ``SUBSTR_DEDUP_K``
    that occurs more than once corpus-wide is removed from every
    occurrence EXCEPT the canonical first (min ``(doc_id, start)``) —
    the keep-one semantics their suffix-array pass implements. This is
    the chunk-anchored approximation of that pass: duplicated K-gram
    occurrences nominate removal anchors; overlapping anchors union into
    maximal removed spans (so a shared run of L ≥ K tokens, whose every
    K-window is duplicated, is stripped whole — the span "grows" by
    anchor overlap without any pairwise doc comparison). Emits per doc
    the removal accounting AND ``kept_hash`` = md5 of the surviving
    token stream, so the output fully determines the deduped corpus.

    Reference parity: the reference has no substring deduper; this
    closes the strongest LLM-dedup modality over the same documents
    table as ``dup_span_coverage`` (which only measures coverage).

    Fidelity contract vs true suffix-array ExactSubstr (r8, VERDICT r6
    ask #5): at the COVERAGE level the K-gram anchoring has ZERO gap —
    a position lies in a duplicated span of length ≥ K iff it lies in a
    duplicated K-window (every window of a duplicated span is itself
    duplicated, and every duplicated K-window is a duplicated span) —
    so removed ∪ canonical-window positions equal the suffix-array
    duplicated coverage exactly. The one semantic divergence is WHICH
    copy survives: Lee et al. keep one occurrence of each maximal span,
    while this operator keeps the per-K-gram canonical min (doc_id,
    start) — for a long span duplicated across documents, different
    windows can elect canonicals in different docs. Pinned empirically
    by tests/test_curation.py::
    test_kgram_anchor_coverage_equals_suffix_array_coverage (span-set
    equality vs an independent SA+LCP implementation on colliding
    corpora) and ::test_substring_dedup_matches_python_reference (the
    operator's full accounting replayed on planted ≥K / <K runs).

    Scale shape (SCALE.md §dedup): spans are JVM higher-order
    expressions carrying their start offset; the ONLY corpus-keyed
    exchanges are (1) the gram-key partial+final aggregate that finds
    duplicated grams and their canonical occurrence, (2) the gram-key
    equi-join re-attaching group stats to occurrences (AQE broadcasts
    while the dup set is small, sort-merge beyond), and (3) a doc_id
    aggregate collecting each doc's removed positions (bounded by doc
    length, NOT corpus size). Never a doc×doc pair join. Both gram
    exchanges carry ``md5(gram)`` — a constant 32 chars instead of the
    K-token text (~2× fewer bytes on real prose; the hash is portable,
    so DuckDB replays the exact same keys and even a collision — one in
    2^128 — would resolve identically in both engines). The island count
    and kept-token filter are in-array lambdas over the per-doc position
    list — no window over corpus rows. The tokenized table feeds both
    the gram pipeline and the final rejoin, so it is persisted for the
    run (module-cache pattern) instead of re-tokenizing the corpus.
    """
    K = SUBSTR_DEDUP_K
    d = parallelize_scan(table(spark, sf_dir, "documents").select("doc_id", "text"))
    t = keep_latest("substr_toks", d.select("doc_id", tokens_expr().alias("a")))
    n = F.size("a")
    spans = F.when(
        n >= K,
        F.transform(
            F.sequence(F.lit(1), n - (K - 1)),
            lambda i: F.concat_ws(" ", F.slice("a", i, K)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = t.select("doc_id", F.posexplode(spans).alias("pos0", "gram")).select(
        "doc_id", (F.col("pos0") + 1).alias("s"), F.md5("gram").alias("gk")
    )
    grp = g.groupBy("gk").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "s")).alias("canon"),
    )
    red = (
        g.join(grp, "gk")
        .filter(
            (F.col("cnt") > 1) & (F.struct("doc_id", "s") != F.col("canon"))
        )
        .select("doc_id", "s")
    )
    # per-doc removed-position list: ONE doc_id aggregate, bounded by doc len
    rem = (
        red.select(
            "doc_id", F.explode(F.sequence("s", F.col("s") + (K - 1))).alias("p")
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p")).alias("rp"))
    )
    joined = t.join(rem, "doc_id", "left").withColumn(
        "rp", F.coalesce("rp", F.array().cast("array<int>"))
    )
    # islands: positions opening a new maximal span (prev position absent);
    # element_at is 1-based so element_at(rp, i) IS the predecessor of the
    # 0-based lambda index i.
    rp = F.col("rp")
    # greatest(i, 1) keeps element_at's 1-based index legal at i == 0 (the
    # i == 0 disjunct already wins there, but `|` does not short-circuit)
    n_spans = F.size(
        F.filter(
            rp,
            lambda x, i: (i == 0)
            | (x - F.element_at(rp, F.greatest(i, F.lit(1))) > 1),
        )
    )
    kept = F.filter(
        "a", lambda x, i: ~F.array_contains(rp, (i + 1).cast("int"))
    )
    return (
        joined.select(
            "doc_id",
            n.cast("int").alias("n_tokens"),
            F.size(rp).cast("int").alias("removed_tokens"),
            F.size(kept).cast("int").alias("kept_tokens"),
            n_spans.cast("int").alias("n_removed_spans"),
            F.md5(F.concat_ws(" ", kept)).alias("kept_hash"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Composed curation funnel
# ---------------------------------------------------------------------------

# Data-informed thresholds (sf0.01 quantiles recorded in the docstring):
# compared on the 6-decimal-ROUNDED metrics, which hash-match across
# engines, so threshold comparisons cannot disagree at float boundaries.
FUNNEL_MAX_DUP_UNIGRAM = 0.9
FUNNEL_MAX_XENT = 3.402
FUNNEL_MIN_LOG_WEIGHT = 0.0


def _curation_funnel_oracle() -> str:
    from flink_mm_spark.registry import QUERIES

    rep = QUERIES["repetition_signals"].oracle
    xent = QUERIES["unigram_logprob"].oracle
    dsir = QUERIES["dsir_importance"].oracle
    return f"""
    WITH rep AS (SELECT doc_id, dup_unigram_frac AS d1 FROM ({rep})),
    xq AS (SELECT doc_id, xent FROM ({xent})),
    wq AS (SELECT doc_id, log_weight AS lw FROM ({dsir})),
    k AS (
      SELECT doc_id,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep
      FROM documents
    ),
    j AS (
      SELECT k.doc_id, k.keep, rep.d1, xq.xent, wq.lw
      FROM k JOIN rep USING (doc_id) JOIN xq USING (doc_id) JOIN wq USING (doc_id)
    )
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'all' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM j
      UNION ALL
      SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT) FROM j WHERE keep
      UNION ALL
      SELECT 2, 'repetition', CAST(COUNT(*) AS BIGINT) FROM j
      WHERE keep AND d1 <= {FUNNEL_MAX_DUP_UNIGRAM}
      UNION ALL
      SELECT 3, 'perplexity', CAST(COUNT(*) AS BIGINT) FROM j
      WHERE keep AND d1 <= {FUNNEL_MAX_DUP_UNIGRAM} AND xent <= {FUNNEL_MAX_XENT}
      UNION ALL
      SELECT 4, 'dsir', CAST(COUNT(*) AS BIGINT) FROM j
      WHERE keep AND d1 <= {FUNNEL_MAX_DUP_UNIGRAM} AND xent <= {FUNNEL_MAX_XENT}
            AND lw > {FUNNEL_MIN_LOG_WEIGHT}
    ) ORDER BY stage_idx
    """


@register("curation_funnel", oracle=_curation_funnel_oracle())
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: survivor counts after each filter stage.

    Composes the graded stages in production order — exact dedup
    (keep-lowest-doc_id), Gopher repetition (`dup_unigram_frac` ≤ 0.9;
    sf0.01 deciles 0.46/0.83/0.95), corpus-LM perplexity
    (`xent` ≤ 3.402; deciles 3.396/3.402/3.410), DSIR importance
    (`log_weight` > 0) — and reports the monotone survivor-count funnel a
    pipeline dashboard shows. All thresholds compare the 6-decimal-rounded
    metrics (which hash-match across engines), so stage membership is
    engine-exact; the oracle embeds the component queries' own SQL as
    CTEs, so the composition can never drift from the graded parts.

    Plan: the three metric subplans run as written (their scale arguments
    apply unchanged); the funnel adds one doc_id equi-join chain and a
    single-row conditional aggregate — at 100 TB the join keys are doc_id
    everywhere and the output is 5 rows.
    """
    rep = repetition_signals(spark, sf_dir).select("doc_id", "dup_unigram_frac")
    xq = unigram_logprob(spark, sf_dir).select("doc_id", "xent")
    wq = dsir_importance(spark, sf_dir).select("doc_id", "log_weight")
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    from pyspark.sql.window import Window

    k = d.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(
                Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
            )
        ).alias("keep"),
    )
    j = k.join(rep, "doc_id").join(xq, "doc_id").join(wq, "doc_id")
    keep = F.col("keep")
    s2 = keep & (F.col("dup_unigram_frac") <= FUNNEL_MAX_DUP_UNIGRAM)
    s3 = s2 & (F.col("xent") <= FUNNEL_MAX_XENT)
    s4 = s3 & (F.col("log_weight") > FUNNEL_MIN_LOG_WEIGHT)
    agg = j.agg(
        F.count("*").alias("n0"),
        F.sum(keep.cast("long")).alias("n1"),
        F.sum(s2.cast("long")).alias("n2"),
        F.sum(s3.cast("long")).alias("n3"),
        F.sum(s4.cast("long")).alias("n4"),
    )
    return agg.select(
        F.expr(
            "stack(5, 0, 'all', n0, 1, 'exact_dedup', n1, 2, 'repetition', n2,"
            " 3, 'perplexity', n3, 4, 'dsir', n4) AS (stage_idx, stage, n_docs)"
        )
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# SemDeDup: cluster, then exact near-dup within cluster
# ---------------------------------------------------------------------------


@register(
    "semantic_dedup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    n AS (
      SELECT vec_id, emb,
             sqrt(list_sum(list_transform(range(1, len(emb) + 1), i -> emb[i] * emb[i]))) AS nrm
      FROM e
    ),
    c AS (SELECT vec_id AS c_id, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < {SEMDEDUP_K}),
    scored AS (
      SELECT n.vec_id, c.c_id,
             ROUND(list_sum(list_transform(range(1, len(n.emb) + 1), i -> n.emb[i] * c.cemb[i]))
                   / (n.nrm * c.cnrm), 6) AS cs
      FROM n CROSS JOIN c
    ),
    assign AS (
      SELECT vec_id, c_id AS cluster FROM (
        SELECT vec_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, c_id ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT aa.cluster AS cluster,
           a.vec_id AS vec_a,
           b.vec_id AS vec_b,
           ROUND(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
                 / (a.nrm * b.nrm), 6) AS cos_sim
    FROM n a
    JOIN assign aa ON a.vec_id = aa.vec_id
    JOIN assign ab ON ab.cluster = aa.cluster AND ab.vec_id > aa.vec_id
    JOIN n b ON b.vec_id = ab.vec_id
    WHERE ROUND(list_sum(list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] * b.emb[i]))
                / (a.nrm * b.nrm), 6) >= {SEMDEDUP_THRESHOLD}
    ORDER BY aa.cluster, vec_a, vec_b
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within-cluster exact cosine near-dup pairs.

    Abbas et al. 2023 (SemDeDup) prune semantic duplicates by clustering
    embeddings (k-means) and removing near-identical pairs *within* each
    cluster — turning the O(n²) all-pairs problem into k independent
    O((n/k)²) problems. Deterministic variant: the ``SEMDEDUP_K`` lowest
    vec_ids serve as fixed centroids (no RNG, so Spark and the oracle
    agree bitwise on membership); assignment is nearest-centroid by
    rounded cosine with lowest-centroid tie-break.

    Plan: centroids are an O(k·d) driver gather (8×64 — the k-means
    driver-state shape) closed over an Arrow-batched numpy assignment
    (one GEMM per batch, no per-row Python); the within-cluster pair scan
    is ``dedup.block_pair_cosine`` keyed by cluster — the same block-pair
    GEMM as ``embedding_near_dup``, so each task holds two blocks and the
    cluster key only *shrinks* block-pair fan-out (pairs across clusters
    are never generated). At 100 TB with real k-means centroids the plan
    is identical: assignment is embarrassingly parallel against a
    broadcast O(k·d) centroid matrix; within-cluster pairing shuffles on
    (cluster, blk) — SemDeDup's entire point is that this is the scalable
    shape of semantic dedup.
    """
    from flink_mm_spark.operators.similarity import embeddings64

    e = embeddings64(spark, sf_dir)
    cent = (
        e.filter(F.col("vec_id") < SEMDEDUP_K).orderBy("vec_id").select("emb").toPandas()
    )
    cm = np.vstack(cent["emb"].to_numpy()).astype(np.float64)
    cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
    return _assign_and_pair(e, cm)


def _assign_and_pair(e: DataFrame, cm: np.ndarray) -> DataFrame:
    """Shared SemDeDup tail: cosine-assign to the (k, d) centroid matrix
    ``cm`` (pre-normalized), then within-cluster block-pair GEMM.

    np.argmax returns the FIRST maximum → lowest centroid id on rounded
    ties, matching the oracle's (cs DESC, c_id ASC) row_number."""

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            cos = np.round(mn @ cm.T, 6)
            cl = np.argmax(cos, axis=1).astype(np.int64)
            yield pd.DataFrame(
                {"cluster": cl, "vec_id": pdf["vec_id"], "emb": pdf["emb"]}
            )

    assigned = e.select("vec_id", "emb").mapInPandas(
        assign, "cluster long, vec_id long, emb array<double>"
    )
    pairs = block_pair_cosine(
        assigned, keyed=[("cluster", "long")], threshold=SEMDEDUP_THRESHOLD
    )
    return pairs.select("cluster", "vec_a", "vec_b", "cos_sim").orderBy(
        "cluster", "vec_a", "vec_b"
    )


@register("semantic_dedup_kmeans", oracle=None)  # trained centroids → rows-only
def semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with TRAINED centroids — the production configuration.

    Identical pipeline to ``semantic_dedup`` but the cluster centers come
    from 5 distributed Lloyd passes (``algos.kmeans`` — the graded
    ``kmeans_full`` kernel) seeded with the ``SEMDEDUP_K`` lowest vec_ids,
    which is exactly how Abbas et al. run it. Deterministic end-to-end
    (seeded init, bit-stable assignment kernel) but float k-means is not
    SQL-replayable, so this entry is rows-only; its semantics are pinned
    by tests instead: pairs ⊆ ``embedding_near_dup`` with equal cosines
    (clustering only removes cross-cluster pairs), and run-to-run
    determinism. The fixed-centroid twin ``semantic_dedup`` grades the
    assignment + within-cluster pairing machinery exactly.

    Scale: training is the k-means plan (zero shuffles per pass, O(k·d)
    driver state); everything after is ``semantic_dedup``'s plan.
    """
    from flink_mm_spark.algos.kmeans import kmeans
    from flink_mm_spark.operators.similarity import embeddings64

    e = embeddings64(spark, sf_dir)
    cent = (
        e.filter(F.col("vec_id") < SEMDEDUP_K).orderBy("vec_id").select("emb").toPandas()
    )
    init = np.vstack(cent["emb"].to_numpy()).astype(np.float64)
    trained = kmeans(e.select(F.col("emb").alias("features")), init, n_iters=5)
    cm = trained / np.linalg.norm(trained, axis=1, keepdims=True)
    return _assign_and_pair(e, cm)


# --- per-document n-gram novelty, r8 ----------------------------------------

NOVELTY_K = 5  # gram order: shared 5-grams mean copying, not chance


def _novelty_oracle() -> str:
    # gram CTE rendered from the shared template next to shingles_expr
    # (ADVICE r8 #3; see gram_hash_cte for the desync hazard it removes)
    from flink_mm_spark.operators.dedup import gram_hash_cte

    return f"""
    WITH {gram_hash_cte("doc_id", NOVELTY_K)},
    dfreq AS MATERIALIZED (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY g
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           ROUND(CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM g JOIN dfreq d USING (g)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """


@register("ngram_novelty", oracle=_novelty_oracle())
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct 5-word
    grams that appear in NO other document — the inverse boilerplate
    signal (license headers, navigation chrome, and template text score
    near 0; original prose scores near 1). The positive-side complement of
    the duplication metrics: `substring_dedup` REMOVES repeated spans,
    `dup_span_coverage` measures them, this ranks what remains by how much
    of it is corpus-unique — a standard curation feature for up-weighting
    original content. Documents with fewer than 5 tokens have no grams and
    emit no row (consistent on both engines).

    Exactness: everything is integer (distinct-gram counts, document
    frequencies, df=1 indicator sums) until one final rounded ratio of
    small integers. Grams fold to 60-bit md5 integers JVM-side, so the
    oracle replays every key bit.

    Scale: two gram-keyed corpus-LINEAR exchanges — the per-doc DISTINCT
    gram table (map-side combined) and the doc-frequency aggregate — plus
    one gram-keyed rejoin; never doc×doc. The hot-gram skew (a boilerplate
    gram appearing in n/7 docs) is absorbed by partial aggregation exactly
    as in `substring_dedup`'s audited shape. The gram table feeds the
    frequency aggregate AND the rejoin, so it persists via the module
    cache."""
    from flink_mm_spark.operators.dedup import shingles_from_tokens, tokens_expr

    d = parallelize_scan(table(spark, sf_dir, "documents"))
    g = keep_latest(
        "novelty_grams",
        d.select("doc_id", tokens_expr().alias("_toks"))
        .select("doc_id", F.explode(shingles_from_tokens("_toks", NOVELTY_K)).alias("gram"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long").alias("g"),
        )
        .distinct(),
    )
    dfreq = g.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return (
        g.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )
