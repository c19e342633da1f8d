"""Pretraining-corpus preparation operators beyond the dedup/quality core.

The four stages every large-scale LLM data pipeline runs that are not yet
covered by ``operators.text`` / ``operators.dedup``:

- **PII scrubbing** (`pii_scrub`): regex redaction of emails / phone
  numbers / IP addresses, counted and length-audited per source.
- **Gopher-style quality flags** (`gopher_quality_flags`): the hard
  document filters of Rae et al. 2021 (word count, mean word length,
  duplicate-bigram ratio, stopword presence) as pass/fail counts.
- **Benchmark contamination** (`benchmark_contamination`): n-gram overlap
  of the training split against a held-out eval split via a broadcast
  shingle join — the decontamination check of GPT-3 appendix C / PaLM.
- **Stratified sampling** (`stratified_sample`): deterministic hash-based
  per-source sampling to target mixture rates — reproducible across
  retries and partitionings because the keep decision is a pure function
  of ``doc_id``, never an RNG draw.

All four are single-pass JVM column expressions (regex / higher-order
array functions) aggregated per source: at 100 TB each is one scan plus
one tiny-key shuffle (≤ |sources| groups), with the contamination join
broadcasting only the eval-side shingle set (benchmarks are KBs against a
corpus of TBs). No Python in any hot path; every output column is an
integer, so the DuckDB oracles match bit-exactly at any parallelism.

The documents corpus is synthetic (~31-token vocabulary, no natural PII),
so ``pii_scrub`` deterministically injects fixture PII derived from
``doc_id`` — IDENTICALLY in the Spark query and the oracle — before
scrubbing; the operator itself is corpus-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_mm_spark.operators.dedup import norm_text, shingles_from_tokens, tokens_expr
from flink_mm_spark.operators.text import STOPWORDS, _sql_list
from flink_mm_spark.registry import register
from flink_mm_spark.session import keep_latest
from flink_mm_spark.sources.tables import parallelize_scan, table
from flink_mm_spark.streaming.runner import run_stream, staged

# Redaction patterns — plain character classes + bounded repetition only,
# so Java regex (Spark) and RE2 (DuckDB) agree on every match.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{4}"
IP_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def _inject_pii() -> Column:
    """Fixture PII keyed on doc_id % 4: none / email / phone+email / IP."""
    did = F.col("doc_id")
    s = did.cast("string")
    return (
        F.when(did % 4 == 1, F.concat(F.col("text"), F.lit(" contact: user"), s, F.lit("@example.com")))
        .when(
            did % 4 == 2,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
                F.lit(" or mail ops"),
                s,
                F.lit("@mail.net"),
            ),
        )
        .when(
            did % 4 == 3,
            F.concat(F.col("text"), F.lit(" from 10."), (did % 256).cast("string"), F.lit(".0."), (did % 40).cast("string")),
        )
        .otherwise(F.col("text"))
    )


_INJECT_SQL = """
    CASE doc_id % 4
      WHEN 1 THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
      WHEN 2 THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' or mail ops' || CAST(doc_id AS VARCHAR) || '@mail.net'
      WHEN 3 THEN text || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 40 AS VARCHAR)
      ELSE text
    END
"""


@register(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT source, {_INJECT_SQL} AS t FROM documents
    ),
    scrubbed AS (
      SELECT source, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'),
                 '{PHONE_RE}', '[PHONE]', 'g'),
               '{IP_RE}', '[IP]', 'g') AS clean
      FROM aug
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(t, '{EMAIL_RE}'))) AS BIGINT) AS n_emails,
           CAST(SUM(len(regexp_extract_all(t, '{PHONE_RE}'))) AS BIGINT) AS n_phones,
           CAST(SUM(len(regexp_extract_all(t, '{IP_RE}'))) AS BIGINT) AS n_ips,
           CAST(SUM(length(t) - length(clean)) AS BIGINT) AS chars_redacted,
           CAST(SUM(CASE WHEN clean = t THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_docs
    FROM scrubbed GROUP BY source ORDER BY source
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit per source: email/phone/IP match counts, total
    characters removed by the three-stage ``regexp_replace`` chain, and how
    many documents were already clean.

    The scrub itself (emails → ``[EMAIL]``, then phones, then IPs — order
    pinned so a later pattern can never match inside an earlier
    placeholder) is a pure codegen expression chain: at 100 TB this is one
    parquet scan with the redacted column materialized on the fly and a
    ≤ |sources|-key aggregate. Counting uses ``regexp_extract_all`` on the
    pre-scrub text so the audit is independent of replacement order.
    """
    d = table(spark, sf_dir, "documents")
    aug = _inject_pii()
    clean = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(aug, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"),
        IP_RE,
        "[IP]",
    )
    n = lambda pat: F.size(F.regexp_extract_all(aug, F.lit(pat), 0))  # noqa: E731
    return (
        d.select(
            "source",
            n(EMAIL_RE).alias("e"),
            n(PHONE_RE).alias("p"),
            n(IP_RE).alias("i"),
            (F.length(aug) - F.length(clean)).alias("dl"),
            (clean == aug).cast("int").alias("is_clean"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("e").cast("bigint").alias("n_emails"),
            F.sum("p").cast("bigint").alias("n_phones"),
            F.sum("i").cast("bigint").alias("n_ips"),
            F.sum("dl").cast("bigint").alias("chars_redacted"),
            F.sum("is_clean").cast("bigint").alias("n_clean_docs"),
        )
        .orderBy("source")
    )


# --- Gopher-style hard quality filters -------------------------------------

# Integer-form thresholds (no float compares anywhere): a doc passes when
#   word count in [20, 1000]
#   mean word length in [2, 10]   ⇔ 2n ≤ (chars - (n-1)) ≤ 10n
#   duplicate-bigram ratio ≤ 0.5  ⇔ 2·distinct_bigrams ≥ bigrams
#   ≥ 2 distinct English stopwords present
_GQ_MIN_WORDS, _GQ_MAX_WORDS = 20, 1000


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             len(toks) AS n,
             length(nt) - (len(toks) - 1) AS letters,
             len(list_distinct(grams)) AS dg,
             len(grams) AS g,
             len(list_intersect(list_distinct(toks), {_sql_list(STOPWORDS["en"])})) AS stops
      FROM (
        SELECT source, nt, toks,
               list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                              i -> toks[i] || ' ' || toks[i + 1]) AS grams
        FROM (
          SELECT source, lower(trim(text)) AS nt,
                 string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents
        )
      )
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n BETWEEN {_GQ_MIN_WORDS} AND {_GQ_MAX_WORDS} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_wordcount,
           CAST(SUM(CASE WHEN letters BETWEEN 2 * n AND 10 * n THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_meanlen,
           CAST(SUM(CASE WHEN 2 * dg >= g THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_repetition,
           CAST(SUM(CASE WHEN stops >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stopwords,
           CAST(SUM(CASE WHEN n BETWEEN {_GQ_MIN_WORDS} AND {_GQ_MAX_WORDS}
                          AND letters BETWEEN 2 * n AND 10 * n
                          AND 2 * dg >= g
                          AND stops >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule hard document filters (Rae et al. 2021 §A1.1), counted
    per source: word-count band, mean-word-length band, duplicate-bigram
    ratio, and stopword presence — plus the conjunction.

    Every rule is evaluated in INTEGER arithmetic (the mean-length and
    repetition bands are cross-multiplied instead of divided), so the
    pass/fail booleans — and therefore the oracle hash — cannot drift with
    float evaluation order. One scan, higher-order array expressions only,
    one ≤ |sources|-key shuffle.
    """
    d = table(spark, sf_dir, "documents")
    # r13: materialize toks/grams as columns first — HOF exprs are
    # interpreted with no CSE, so the old single-projection shape
    # re-split the text once per bigram inside the lambda (O(tokens²)
    # per document) and re-built `grams` twice (dg and g) and `toks`
    # thrice; staged columns evaluate each exactly once
    staged = d.select(
        "source",
        F.length(norm_text()).alias("nt_len"),
        tokens_expr().alias("toks"),
    )
    n = F.size("toks")
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.select(
        "source", "nt_len", "toks", n.alias("n"), grams.alias("grams")
    )
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    per_doc = staged.select(
        "source",
        "n",
        (F.col("nt_len") - (F.col("n") - 1)).alias("letters"),
        F.size(F.array_distinct("grams")).alias("dg"),
        F.size("grams").alias("g"),
        F.size(F.array_intersect(F.array_distinct("toks"), en_stop)).alias("stops"),
    )
    p_wc = F.col("n").between(_GQ_MIN_WORDS, _GQ_MAX_WORDS)
    p_ml = F.col("letters").between(2 * F.col("n"), 10 * F.col("n"))
    p_rep = 2 * F.col("dg") >= F.col("g")
    p_stop = F.col("stops") >= 2
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            cnt(p_wc).alias("n_pass_wordcount"),
            cnt(p_ml).alias("n_pass_meanlen"),
            cnt(p_rep).alias("n_pass_repetition"),
            cnt(p_stop).alias("n_pass_stopwords"),
            cnt(p_wc & p_ml & p_rep & p_stop).alias("n_pass_all"),
        )
        .orderBy("source")
    )


# --- benchmark decontamination ---------------------------------------------

_BC_K = 4  # shingle width; eval split = doc_id % _BC_MOD == 0
_BC_MOD = 23


@register(
    "benchmark_contamination",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, source, unnest(list_distinct(
               list_transform(range(1, greatest(len(toks) - {_BC_K - 1}, 0) + 1),
                              i -> array_to_string(toks[i:i + {_BC_K - 1}], ' ')))) AS gram
      FROM (SELECT doc_id, source,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents)
    ),
    eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % {_BC_MOD} = 0
    ),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS shared
      FROM grams g JOIN eval_grams e USING (gram)
      WHERE g.doc_id % {_BC_MOD} <> 0
      GROUP BY g.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(SUM(CASE WHEN h.shared IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(COALESCE(h.shared, 0)) AS BIGINT) AS shared_grams
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {_BC_MOD} <> 0
    GROUP BY d.source ORDER BY d.source
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-vs-eval n-gram decontamination check (GPT-3 appendix C shape):
    per source, how many training documents share at least one distinct
    4-gram with the held-out eval split (doc_id % 23 == 0), and the total
    count of shared distinct grams.

    Scale shape: the eval side of the join is the DISTINCT shingle set of
    the *benchmark* split — KBs even when the training corpus is 100 TB —
    so it broadcasts, and the train side streams through a
    BroadcastHashJoin with no shuffle of the exploded grams. The only
    wide exchange is the per-doc hit count on ``doc_id``, then the tiny
    per-source rollup. ``parallelize_scan`` spreads the CPU-heavy
    shingling of the byte-small local corpus (no-op on real tables).
    """
    d = parallelize_scan(table(spark, sf_dir, "documents"))
    is_eval = F.col("doc_id") % _BC_MOD == 0
    grams = d.select(
        "doc_id", "source", tokens_expr().alias("_toks")
    ).select(
        "doc_id",
        "source",
        F.explode(shingles_from_tokens("_toks", _BC_K)).alias("gram"),
    )
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    hits = (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    train = d.filter(~is_eval).select("doc_id", "source")
    return (
        train.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.col("shared").isNotNull().cast("int")).cast("bigint").alias("n_contaminated"),
            F.sum(F.coalesce("shared", F.lit(0))).cast("bigint").alias("shared_grams"),
        )
        .orderBy("source")
    )


# --- deterministic stratified sampling -------------------------------------

# Cross-engine-sensitive fragments shared by stratified_sample and
# mixture_plan (r5 review: keep ONE definition per engine side — a tweak to
# the hash, the source-id parse, or the tokenization must not diverge the
# two operators):


def _src_num() -> Column:
    """Numeric id parsed from 'src<NN>' source names."""
    return F.substring("source", 4, 10).cast("int")


def _md5_bucket(mod: int) -> Column:
    """First 32 bits of md5(doc_id) reduced mod ``mod`` — the deterministic
    sampling bucket both engines recompute identically."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % mod
    )


def _ws_token_count() -> Column:
    """Whitespace token count of the trimmed text (the corpus token unit)."""
    return F.size(F.split(F.trim("text"), r"\s+"))


def _bucket_sql(mod: int) -> str:
    return (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
        f" % {mod}"
    )


_SRC_NUM_SQL = "CAST(substr(source, 4) AS INT)"
_NTOK_SQL = "len(string_split_regex(trim(text), '\\s+'))"

# Per-source target rates in basis points, keyed on the numeric source id:
# src{4k} keep all, src{4k+1} half, src{4k+2} quarter, src{4k+3} eighth.
_RATES_BP = {0: 10000, 1: 5000, 2: 2500, 3: 1250}
_RATE_SQL = f"CASE {_SRC_NUM_SQL} % 4 " + " ".join(
    f"WHEN {k} THEN {v}" for k, v in _RATES_BP.items()
) + " END"


@register(
    "stratified_sample",
    oracle=f"""
    WITH s AS (
      SELECT source,
             {_RATE_SQL} AS rate_bp,
             {_bucket_sql(10000)} AS bucket,
             {_NTOK_SQL} AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(MAX(rate_bp) AS BIGINT) AS rate_bp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN bucket < rate_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN bucket < rate_bp THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM s GROUP BY source ORDER BY source
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source downsampling to target mixture rates (the
    domain-mixing step of every pretraining recipe): keep a document iff
    the first 32 bits of ``md5(doc_id)`` land under the source's
    basis-point rate.

    Hash-bucket sampling instead of ``rand()`` because at 100 TB the keep
    decision must be a pure function of the row — reproducible across task
    retries, partitioning changes, and engines (the oracle recomputes the
    identical md5 bucket in SQL). One scan, no shuffle before the
    per-source rollup; on a real pipeline the same predicate pushes into
    the writer to materialize the mixed corpus.
    """
    d = table(spark, sf_dir, "documents")
    src_num = _src_num() % 4
    rate = F.coalesce(
        *[F.when(src_num == k, F.lit(v)) for k, v in _RATES_BP.items()]
    )
    keep = _md5_bucket(10000) < rate
    n_tok = _ws_token_count()
    return (
        d.select("source", rate.alias("rate_bp"), keep.alias("keep"), n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.max("rate_bp").cast("bigint").alias("rate_bp"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0)).cast("bigint").alias("tokens_kept"),
        )
        .orderBy("source")
    )


# --- mixture planning (budget-driven domain weights) ------------------------

# Global token budget as a multiple of the corpus: B = 2·T (upsampling IS the
# interesting regime — The Pile, DoReMi, and Llama-style recipes all repeat
# small high-weight domains for multiple epochs while sampling large ones
# down). Per-source weight w_s = 1 + (numeric source id mod 4) gives the
# corpus a 1:2:3:4 weight spread so both branches (sample-down, multi-epoch
# upsample) are exercised and graded.
MIX_BUDGET_FACTOR = 2
_MIX_W_SQL = f"(1 + {_SRC_NUM_SQL} % 4)"

_MIXTURE_ORACLE = f"""
    WITH d AS (
      SELECT source,
             {_MIX_W_SQL} AS w,
             {_NTOK_SQL} AS n_tok,
             {_bucket_sql(1000000)} AS bucket
      FROM documents
    ),
    s AS (
      SELECT source, MAX(w) AS w,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      FROM d GROUP BY source
    ),
    g AS (
      SELECT source, w, n_docs, total_tokens,
             SUM(total_tokens) OVER () AS corpus_tokens,
             SUM(w) OVER () AS sum_w
      FROM s
    ),
    plan AS (
      SELECT source, w, n_docs, total_tokens,
             ({MIX_BUDGET_FACTOR} * corpus_tokens * w) // sum_w AS target_tokens,
             (({MIX_BUDGET_FACTOR} * corpus_tokens * w) // sum_w)
               // total_tokens AS full_epochs,
             (((({MIX_BUDGET_FACTOR} * corpus_tokens * w) // sum_w)
               % total_tokens) * 1000000) // total_tokens AS sample_ppm
      FROM g
    )
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(p.total_tokens AS BIGINT) AS total_tokens,
           CAST(p.w AS BIGINT) AS weight,
           CAST(p.target_tokens AS BIGINT) AS target_tokens,
           CAST(p.full_epochs AS BIGINT) AS full_epochs,
           CAST(p.sample_ppm AS BIGINT) AS sample_ppm,
           CAST(SUM(CASE WHEN d.bucket < p.sample_ppm THEN 1 ELSE 0 END) AS BIGINT)
             AS sampled_docs,
           CAST(SUM(CASE WHEN d.bucket < p.sample_ppm THEN d.n_tok ELSE 0 END) AS BIGINT)
             AS sampled_tokens,
           CAST(p.full_epochs * p.total_tokens
                + SUM(CASE WHEN d.bucket < p.sample_ppm THEN d.n_tok ELSE 0 END) AS BIGINT)
             AS planned_tokens
    FROM plan p JOIN d ON d.source = p.source
    GROUP BY p.source, p.n_docs, p.total_tokens, p.w, p.target_tokens,
             p.full_epochs, p.sample_ppm
    ORDER BY p.source
"""


def _mixture_inputs(spark: SparkSession, sf_dir: str):
    """Shared by the mixture PLANNER and its APPLY consumers: the per-doc
    (doc_id, source, w, n_tok, bucket) projection and the per-source plan
    (full_epochs + sample_ppm) derived from it. The plan is two
    aggregates over the projection; every consumer re-attaches it by
    broadcast (it is |sources| rows)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (_src_num() % 4 + 1).alias("w"),
        _ws_token_count().alias("n_tok"),
        _md5_bucket(1000000).alias("bucket"),
    )
    s = d.groupBy("source").agg(
        F.max("w").alias("w"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )
    totals = s.agg(
        F.sum("total_tokens").cast("bigint").alias("corpus_tokens"),
        F.sum("w").cast("bigint").alias("sum_w"),
    )
    plan = (
        s.crossJoin(F.broadcast(totals))
        .withColumn(
            "target_tokens",
            F.expr(
                f"({MIX_BUDGET_FACTOR} * corpus_tokens * w) div sum_w"
            ).cast("bigint"),
        )
        .withColumn(
            "full_epochs", F.expr("target_tokens div total_tokens").cast("bigint")
        )
        .withColumn(
            "sample_ppm",
            F.expr(
                "((target_tokens % total_tokens) * 1000000) div total_tokens"
            ).cast("bigint"),
        )
        .select(
            "source", "w", "n_docs", "total_tokens",
            "target_tokens", "full_epochs", "sample_ppm",
        )
    )
    return d, plan


@register("mixture_plan", oracle=_MIXTURE_ORACLE)
def mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-driven domain-mixture PLANNER — the data-mixing stage between
    curation and sequence packing (The Pile / DoReMi / Llama recipes):
    given per-source target weights and a global token budget
    (``MIX_BUDGET_FACTOR``× the corpus), derive each source's sampling
    plan — ``full_epochs`` whole passes plus a deterministic hash-sampled
    fractional epoch at ``sample_ppm`` parts-per-million — and grade the
    realized document/token counts of the fractional epoch EXACTLY.

    Complements ``stratified_sample`` (which applies FIXED rates): here the
    rates are derived FROM the data (per-source token totals vs the weight
    share of the budget), and over-weighted small domains correctly come
    out as multi-epoch repetition rather than a rate clamped at 1 — the
    upsampling semantics pretraining recipes actually use.

    Exactness: every quantity is integer arithmetic (floor divisions in
    both engines) on token counts and a 32-bit md5 bucket, so the driver
    value-hash must match. Scale shape: pass 1 is a column-pruned
    per-source aggregate joined against two broadcast scalars (corpus
    totals); pass 2 re-scans with the per-source plan broadcast — at
    100 TB you persist the 3-column (source, n_tok, bucket) projection (or
    read token counts from ingest metadata) instead of re-tokenizing,
    and the same keep-predicate pushes into the writer that materializes
    the mixed corpus.
    """
    d, plan = _mixture_inputs(spark, sf_dir)
    return (
        d.select("source", "n_tok", "bucket")
        .join(F.broadcast(plan), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("bigint").alias("n_docs"),
            F.max("total_tokens").cast("bigint").alias("total_tokens"),
            F.max("w").cast("bigint").alias("weight"),
            F.max("target_tokens").cast("bigint").alias("target_tokens"),
            F.max("full_epochs").cast("bigint").alias("full_epochs"),
            F.max("sample_ppm").cast("bigint").alias("sample_ppm"),
            F.sum((F.col("bucket") < F.col("sample_ppm")).cast("int"))
            .cast("bigint")
            .alias("sampled_docs"),
            F.sum(
                F.when(F.col("bucket") < F.col("sample_ppm"), F.col("n_tok")).otherwise(0)
            )
            .cast("bigint")
            .alias("sampled_tokens"),
        )
        .withColumn(
            "planned_tokens",
            (F.col("full_epochs") * F.col("total_tokens") + F.col("sampled_tokens"))
            .cast("bigint"),
        )
        .orderBy("source")
    )


# --- weighted reservoir sampling (Efraimidis–Spirakis A-ES) -----------------

# Global top-K draw where doc weight w = 1 + src_num % 4 (the mixture_plan
# weight spread). A-ES: each doc draws u ~ U(0,1) and is ranked by u^(1/w);
# the top K ranks ARE a weighted sample without replacement. Replayed
# exactly: u = (md5_32bits + 0.5) / 2^32, and the monotone ln transform
# ln(u)/w is quantized to integers as q * (12 / w) with q =
# floor(ln(u) * 1e6 + 0.5) — 12/w is exact for w in {1,2,3,4}, so rank_key
# is a BIGINT both engines compute identically (the single ln sits 6+
# decimal digits away from the quantization boundary for md5-random u).
WRS_K = 200
_WRS_MULT_SQL = "CASE w WHEN 1 THEN 12 WHEN 2 THEN 6 WHEN 3 THEN 4 ELSE 3 END"


@register(
    "weighted_reservoir_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             (1 + {_SRC_NUM_SQL} % 4) AS w,
             {_bucket_sql(4294967296)} AS bits
      FROM documents
    ),
    k AS (
      SELECT doc_id, source, w,
             CAST(floor(ln((CAST(bits AS DOUBLE) + CAST(0.5 AS DOUBLE))
                           / CAST(4294967296 AS DOUBLE))
                        * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  AS BIGINT)
             * ({_WRS_MULT_SQL}) AS rank_key
      FROM d
    )
    SELECT doc_id, source, CAST(w AS INTEGER) AS w, rank_key
    FROM k
    ORDER BY rank_key DESC, doc_id
    LIMIT {WRS_K}
    """,
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    draw WRS_K documents with inclusion probability proportional to the
    source weight, deterministically replayable from md5(doc_id).

    Scale: `orderBy(...).limit(k)` compiles to TakeOrderedAndProject — a
    per-partition k-row heap with a driver merge of the partial top-ks. No
    shuffle touches the corpus; the driver holds O(k · partitions) 30-byte
    rows (at extreme partition counts, pre-filter with an approximate kth
    rank_key threshold first). Plan shape pinned in tests/test_plans.py.
    """
    d = table(spark, sf_dir, "documents")
    w = (_src_num() % 4 + 1).cast("int")
    bits = _md5_bucket(4294967296)
    u = (bits.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    q = F.floor(F.log(u) * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    mult = (
        F.when(w == 1, 12).when(w == 2, 6).when(w == 3, 4).otherwise(3)
    ).cast("bigint")
    return (
        d.select(
            "doc_id",
            "source",
            w.alias("w"),
            (q * mult).alias("rank_key"),
        )
        .orderBy(F.col("rank_key").desc(), "doc_id")
        .limit(WRS_K)
    )


# Sequence packing: fixed token budget per training sequence (the
# concatenate-then-chunk step of GPT-style pretraining ingestion).
SEQ_TOKEN_BUDGET = 512


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY shuffle_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM toks
    )
    SELECT doc_id, n_tok,
           CAST(cum_before // {SEQ_TOKEN_BUDGET} AS BIGINT) AS seq_id,
           CAST(cum_before % {SEQ_TOKEN_BUDGET} AS BIGINT) AS seq_off
    FROM ordered ORDER BY doc_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences in a
    deterministic pseudo-shuffled order (concatenate-and-chunk, the
    sequence-assembly step between corpus prep and the trainer's data
    loader).

    Each document is placed at the global token offset given by the prefix
    sum of whitespace token counts over the order ``(md5(doc_id), doc_id)``
    — a reproducible corpus shuffle that needs no RNG state. ``seq_id`` is
    the training sequence the document starts in; ``seq_off`` its offset
    within that sequence (documents straddle budget boundaries exactly as
    the chunking tokenizer would).

    Scale design: a global windowed prefix sum (``SUM OVER (ORDER BY ...)``
    with no PARTITION BY) executes on ONE partition in Spark — the classic
    single-reducer anti-pattern. Instead this runs the textbook two-pass
    distributed prefix sum: (1) range-partition + sort by the shuffle key,
    (2) aggregate per-partition token totals (``|partitions|`` rows to the
    driver), prefix them, and (3) add each partition's base offset to its
    local running sum in one mapInPandas pass. One range shuffle total;
    every other step is partition-local, so the plan survives a corpus of
    any size. The DuckDB oracle states the same computation as the naive
    global window — bit-equal integers prove the two-pass decomposition.
    """
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("int").alias("n_tok"),
    )
    return pack_by_counts(spark, docs)


def pack_by_counts(
    spark: SparkSession, docs: DataFrame, key_cols: list[str] | None = None
) -> DataFrame:
    """The two-pass distributed prefix-sum packer over an arbitrary
    (*key_cols, n_tok) table — the counts source is the caller's choice
    (whitespace tokens for ``pack_sequences``, trained-tokenizer subword
    counts for ``tokenize_pack_pipeline``, the replicated (doc_id, epoch)
    mixture stream for ``mixture_pack_pipeline``). See ``pack_sequences``
    for the scale argument; the shuffle key is derived here
    (md5 of the ':'-joined key tuple — for the default single key this is
    byte-identical to the original md5(doc_id)) so every caller packs in
    the same reproducible pseudo-shuffled order."""
    key_cols = key_cols or ["doc_id"]
    docs = docs.select(
        *key_cols,
        "n_tok",
        F.md5(
            F.concat_ws(":", *[F.col(c).cast("string") for c in key_cols])
        ).alias("shuffle_key"),
    )
    n_parts = spark.sparkContext.defaultParallelism
    # INVARIANT (ADVICE r2): the offset map collected below is keyed by the
    # partition ids of THIS persisted layout. If cached partitions are
    # evicted between the totals collect() and the mapInPandas pass, the
    # recompute re-runs repartitionByRange on the same input with the same
    # (n_parts, keys) — deterministic range boundaries and sort → identical
    # pid assignment, so the map stays valid. Deterministic input is the
    # load-bearing assumption: a non-deterministic upstream (e.g. a sample)
    # would need a checkpoint here instead of a persist.
    parts = keep_latest(
        "pack_parts",
        docs.repartitionByRange(n_parts, "shuffle_key", *key_cols)
        .sortWithinPartitions("shuffle_key", *key_cols)
        .select(F.spark_partition_id().alias("pid"), *key_cols, "n_tok"),
    )

    totals = {
        r["pid"]: r["tot"]
        for r in parts.groupBy("pid").agg(F.sum("n_tok").alias("tot")).collect()
    }
    base, offsets = 0, {}
    for pid in sorted(totals):
        offsets[pid] = base
        base += int(totals[pid])

    def assign(batches):
        import pandas as pd

        running = 0
        for pdf in batches:
            if not len(pdf):
                continue
            start = offsets[int(pdf["pid"].iloc[0])] + running
            n = pdf["n_tok"].to_numpy().astype("int64")
            cum_before = start + n.cumsum() - n
            running += int(n.sum())
            out = {c: pdf[c] for c in key_cols}
            out["n_tok"] = pdf["n_tok"]
            out["seq_id"] = cum_before // SEQ_TOKEN_BUDGET
            out["seq_off"] = cum_before % SEQ_TOKEN_BUDGET
            yield pd.DataFrame(out)

    schema = (
        ", ".join(f"{c} long" for c in key_cols)
        + ", n_tok int, seq_id long, seq_off long"
    )
    return parts.mapInPandas(assign, schema).orderBy(*key_cols)


# --- mixture APPLY: materialize the planned stream and pack/shard it --------

# Shards are fixed runs of consecutive training sequences — the unit a data
# loader reads and checkpoints by. 8 × 512-token sequences per shard keeps
# the local testdata at a meaningful shard count; production uses the same
# arithmetic at ~100k-sequence shards.
MIX_SEQS_PER_SHARD = 8

# The oracle prefix reuses _MIXTURE_ORACLE's d/s/g/plan CTE chain verbatim,
# with doc_id added to the per-doc projection (first SELECT only).
_MIXPACK_PREFIX = (
    _MIXTURE_ORACLE.split("SELECT p.source")[0].replace(
        "SELECT source,", "SELECT doc_id, source,", 1
    )
    + f"""
    , copies AS (
      -- CAST: plan's floor divisions ride on SUM()=HUGEINT upstream, and
      -- DuckDB range() only binds BIGINT (the SUM(int)->HUGEINT gotcha)
      SELECT d.doc_id, d.n_tok,
             CAST(p.full_epochs
               + (CASE WHEN d.bucket < p.sample_ppm THEN 1 ELSE 0 END)
               AS BIGINT) AS n_copies
      FROM d JOIN plan p USING (source)
    ),
    rep AS (
      SELECT doc_id, n_tok, CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
      FROM copies WHERE n_copies > 0
    ),
    keyed AS (
      SELECT doc_id, epoch, n_tok,
             md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR))
               AS shuffle_key
      FROM rep
    ),
    ordered AS (
      SELECT doc_id, epoch, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY shuffle_key, doc_id, epoch
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM keyed
    )
    """
)

_MIXPACK_ORACLE = (
    _MIXPACK_PREFIX
    + f"""
    SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, CAST(n_tok AS INTEGER) AS n_tok,
           CAST(cum_before // {SEQ_TOKEN_BUDGET} AS BIGINT) AS seq_id,
           CAST(cum_before % {SEQ_TOKEN_BUDGET} AS BIGINT) AS seq_off
    FROM ordered ORDER BY doc_id, epoch
    """
)


def _mixture_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized mixture stream, packed: every document appears
    ``full_epochs`` times plus once more iff its md5 bucket lands under
    the source's ``sample_ppm``; the (doc_id, epoch) copies then run
    through the shared two-pass prefix-sum packer keyed on the copy
    tuple. UNSORTED — ``mixture_pack_pipeline`` adds the presentation
    sort; ``shard_manifest`` aggregates instead."""
    d, plan = _mixture_inputs(spark, sf_dir)
    rep = (
        d.select("doc_id", "source", "n_tok", "bucket")
        .join(
            F.broadcast(plan.select("source", "full_epochs", "sample_ppm")),
            "source",
        )
        .withColumn(
            "n_copies",
            (
                F.col("full_epochs")
                + (F.col("bucket") < F.col("sample_ppm")).cast("bigint")
            ).cast("bigint"),
        )
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "n_tok",
            F.explode(F.expr("sequence(0L, n_copies - 1)")).alias("epoch"),
        )
    )
    return pack_by_counts(
        spark,
        rep.select("doc_id", "epoch", "n_tok"),
        key_cols=["doc_id", "epoch"],
    )


@register("mixture_pack_pipeline", oracle=_MIXPACK_ORACLE)
def mixture_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture APPLY → sequence packing: materialize the domain-mixture
    plan (every document repeated ``full_epochs`` times, plus the
    deterministic hash-sampled fractional-epoch copy) and pack the
    replicated stream into fixed-token-budget training sequences — the
    composed step a pretraining pipeline runs between ``mixture_plan``
    and the data loader. ``mixture_plan`` grades the PLAN's arithmetic;
    this grades the materialized stream row-for-row: each (doc_id,
    epoch) copy's sequence id and offset under the reproducible
    pseudo-shuffled order md5(doc_id:epoch).

    Scale shape: the replication is a broadcast join (|sources| plan
    rows) + one JVM ``sequence``/``explode`` — no shuffle added to the
    plan side; the packer contributes its single range exchange (over
    budget-factor × corpus rows now, same shape). Epoch copies of a
    document land at unrelated shuffle positions (the hash key includes
    the epoch), which is exactly the decorrelation repeated-epoch
    training wants.

    Upsampling semantics follow the repeated-epoch recipes (The Pile,
    Llama): repeats are whole extra passes, graded exactly; the
    fractional pass reuses ``stratified_sample``'s md5-bucket rule.
    """
    return _mixture_packed(spark, sf_dir).orderBy("doc_id", "epoch")


_SHARD_ORACLE = (
    _MIXPACK_PREFIX
    + f"""
    SELECT CAST(cum_before // {SEQ_TOKEN_BUDGET} // {MIX_SEQS_PER_SHARD} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_slices,
           CAST(COUNT(DISTINCT cum_before // {SEQ_TOKEN_BUDGET}) AS BIGINT) AS n_seqs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(bit_xor(CAST('0x' || substr(md5(
                 CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) || ':'
                 || CAST(cum_before // {SEQ_TOKEN_BUDGET} AS VARCHAR) || ':'
                 || CAST(cum_before % {SEQ_TOKEN_BUDGET} AS VARCHAR)), 1, 15)
               AS BIGINT)) AS BIGINT) AS fingerprint
    FROM ordered
    GROUP BY 1 ORDER BY shard_id
    """
)


@register("shard_manifest", oracle=_SHARD_ORACLE)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard planning over the packed mixture stream: group consecutive
    training sequences into fixed-size shards (``MIX_SEQS_PER_SHARD``)
    and emit each shard's manifest — slice count, distinct sequences
    STARTING in the shard, token mass of those slices, and an
    order-insensitive 60-bit content fingerprint (``bit_xor`` of the
    md5 of each slice's (doc_id, epoch, seq_id, seq_off) tuple). The
    manifest is what a data-loader layer checks before and after
    materializing shard files: counts say a shard is complete,
    the fingerprint says it is the RIGHT content, and xor makes the
    check order-independent (shard writers emit slices in task order).

    Token accounting note: a slice that straddles a shard's last
    sequence boundary is counted in the shard its sequence STARTS in —
    the same convention ``pack_sequences`` uses for documents straddling
    sequence boundaries.

    Scale shape: reuses the packed stream's single range exchange, then
    one hash aggregate keyed on shard_id (integer division of seq_id) —
    manifests are O(shards) rows; nothing corpus-sized reaches the
    driver. Exactness: every column is integer arithmetic or a 60-bit
    xor of md5 prefixes both engines compute byte-identically.
    """
    return _shard_rollup(_with_shard_id(_mixture_packed(spark, sf_dir)))


def _with_shard_id(packed: DataFrame) -> DataFrame:
    return packed.withColumn(
        "shard_id", F.expr(f"seq_id div {MIX_SEQS_PER_SHARD}").cast("bigint")
    )


def _shard_rollup(slices: DataFrame) -> DataFrame:
    """Manifest aggregate over a (doc_id, epoch, seq_id, seq_off, n_tok,
    shard_id) slice stream — shared by ``shard_manifest`` (over the live
    packed stream) and ``shard_write_roundtrip`` (over slices READ BACK
    from shard files), so the planned and verified manifests cannot drift.
    The fingerprint is recomputed from the slice COLUMNS each time — the
    round-trip verifies written content, never a stored hash."""
    slice_h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("epoch").cast("string"),
                    F.col("seq_id").cast("string"),
                    F.col("seq_off").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        slices.withColumn("slice_h", slice_h)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_slices"),
            F.countDistinct("seq_id").cast("bigint").alias("n_seqs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.expr("bit_xor(slice_h)").cast("bigint").alias("fingerprint"),
        )
        .orderBy("shard_id")
    )


@register("shard_write_roundtrip", oracle=_SHARD_ORACLE)
def shard_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard WRITE → READ-BACK → VERIFY: the pipeline's true last mile,
    graded (VERDICT r8 ask #2). The packed mixture stream is materialized
    to real per-shard parquet files (``partitionBy(shard_id)`` through
    Spark's file-sink commit protocol — per-task temp files atomically
    promoted on job commit, the same temp-then-commit contract as the
    binmatrix sink at sources/datasource.py:228-330), read back from disk,
    and the manifest — counts, token mass, and the xor-of-md5 content
    fingerprint — is RECOMPUTED from the read-back slices and graded
    against the same oracle that grades the planned manifest
    (``shard_manifest``). A lost, duplicated, or corrupted slice anywhere
    in the write/read cycle breaks the value hash. Reference analogue:
    mm/MatrixMultiply.java:88-103's write-then-compare oracle pattern.

    Scale shape: the write reuses the packed stream's single range
    exchange — tasks are range-partitioned in pack order, shard_id is a
    monotone function of that order, so each task writes slices for a
    CONTIGUOUS shard range and ``partitionBy`` adds files (≤ shards +
    tasks), not an exchange. The verify side is one parquet scan of the
    shard files plus one shard-keyed hash aggregate — it never re-derives
    the mixture stream (plan-pinned in tests/test_plans.py). The
    destination is a per-invocation scratch dir (concurrent bench/driver/
    pytest sessions must not race one path)."""
    from flink_mm_spark.session import scratch_dir

    dst = scratch_dir("shard_rt_")
    _with_shard_id(_mixture_packed(spark, sf_dir)).write.mode("overwrite").partitionBy(
        "shard_id"
    ).parquet(dst)
    back = spark.read.parquet(dst).withColumn(
        # partition-directory discovery infers int32; the manifest contract
        # (and the oracle's CAST) is bigint
        "shard_id",
        F.col("shard_id").cast("bigint"),
    )
    return _shard_rollup(back)


def idempotent_shard_append(df: DataFrame, batch_id: int, dst: str) -> None:
    """EXACTLY-ONCE micro-batch shard append (VERDICT r10 #1).

    ``foreachBatch`` is at-least-once: after a failure between the append
    and the checkpoint commit, Structured Streaming REPLAYS the batch —
    with a plain ``mode("append")`` writer the replayed slices land twice
    (the duplication the xor manifest detects but cannot prevent,
    tests/test_streaming.py::test_shard_manifest_catches_duplicated_append).
    The fix is a batchId-DETERMINISTIC subpath with overwrite semantics:
    batch ``b`` always writes ``dst/ingest=b/shard_id=*/...``, so a replay
    REPLACES its own previous (possibly partial) output instead of
    appending alongside it — the committed directory tree is a pure
    function of the replayed offsets, whatever crashed in between. The
    overwrite itself rides the file-sink commit protocol (per-task temp
    files promoted on job commit — the temp-then-commit contract of the
    binmatrix sink, sources/datasource.py:228-330); crash debris under the
    batch dir is ``_``-prefixed and invisible to the read-back, and the
    next replay clears it. Proven by a kill-mid-append two-life restart
    test (tests/test_streaming.py::test_shard_append_restart_exactly_once):
    life 1 appends batch 1 then dies BEFORE the commit; life 2 replays it
    and the final manifest value-hash-equals the one-shot batch write —
    zero duplicate slices.

    r13 optimization (guide §2.5/§6): a one-file micro-batch is a single
    task, so the ``partitionBy`` write created every shard's file
    SERIALLY through the commit protocol (132 shard dirs per batch at
    sf0.1 — measured 9.6-10.6 s for the 4-batch stream). Hash-exchanging
    the batch on shard_id first spreads the dirs across the cores —
    each shard still lands wholly in one task, so the committed tree
    (one file per (ingest, shard)) is byte-layout-identical and the
    exactly-once overwrite contract is untouched; the exchange moves
    only the micro-batch's rows. Measured 5.0-8.9 s; the manifest
    rollup of both layouts compares equal (xor fingerprints are
    order-insensitive by design)."""
    _shard_append_df(df).write.mode("overwrite").partitionBy(
        "shard_id"
    ).parquet(f"{dst}/ingest={batch_id}")


def _shard_append_df(df: DataFrame) -> DataFrame:
    """The writer's input layout, exposed for the plan pin: exactly one
    shard_id hash exchange ahead of the partitioned write (ADVICE r13 #3 —
    the job/stage-count test alone also passed with the exchange removed,
    so the r13 parallelization is additionally pinned on this plan)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p, "shard_id")


def read_back_shards(spark: SparkSession, dst: str) -> DataFrame:
    """Read every committed batch's shards under an idempotent-append
    destination. Partition discovery surfaces the ``ingest`` batch key and
    the ``shard_id``; the manifest contract is shard-keyed bigint, so the
    batch key drops and shard_id casts up (directory discovery infers
    int32)."""
    return (
        spark.read.parquet(dst)
        .drop("ingest")
        .withColumn("shard_id", F.col("shard_id").cast("bigint"))
    )


@register("shard_append_streamed", oracle=_SHARD_ORACLE)
def shard_append_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL shard append — the streamed last mile (VERDICT r9 #5),
    composing the r9 families end-to-end: packed training slices ARRIVE
    over time (4 staged arrival files, one per micro-batch) and a
    ``foreachBatch`` writer appends each micro-batch's slices as new
    shard-partitioned parquet; the manifest — counts, token mass,
    xor-of-md5 content fingerprint — is then RECOMPUTED by
    ``_shard_rollup`` over the read-back of everything appended and graded
    against the same oracle as the one-shot batch write. A slice lost,
    duplicated, or corrupted by ANY append anywhere in the stream breaks
    the value hash; xor makes the fingerprint indifferent to which batch
    (or task) wrote each slice.

    EXACTLY-ONCE (r11, VERDICT r10 #1): the writer is
    ``idempotent_shard_append`` — each micro-batch owns a
    batchId-deterministic ``ingest=<b>`` subdirectory written with
    overwrite semantics, so a batch replayed after a mid-append failure
    replaces its own output instead of duplicating it; the kill-mid-append
    restart test pins zero duplicate slices across a forced replay.

    Scale shape: per micro-batch the plan is ONE file scan of the
    arriving slices, ONE batch-sized exchange hashing the rows on
    shard_id (r13: parallelizes per-shard file creation — see
    ``idempotent_shard_append``), and the partitioned write —
    ``partitionBy`` adds files, and the packer does NOT re-run (the
    stream stages its output once; plan-pinned in tests/test_plans.py). A shard
    whose slices arrive across batches accumulates one directory per
    (batch, shard) — append is directory-level, so no batch touches
    another batch's data. The verify side is the roundtrip entry's: one
    scan + one shard-keyed aggregate. Reference analogue:
    mm/MatrixMultiply.java:88-103 (write-then-compare oracle pattern)."""
    from flink_mm_spark.session import scratch_dir

    # the packed slice stream as 4 arrival files (the rollup is order- and
    # split-independent)
    src = staged(
        sf_dir,
        "sas_src_",
        lambda d: _with_shard_id(_mixture_packed(spark, sf_dir)).repartition(4).write.mode(
            "overwrite"
        ).parquet(d),
    )
    slice_schema = spark.read.parquet(src).schema
    dst = scratch_dir("sas_dst_")  # fresh per invocation: appends accumulate
    stream = (
        spark.readStream.schema(slice_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    run_stream(
        stream,
        "sas",
        foreach=lambda df, bid: idempotent_shard_append(df, bid, dst),
        state_parts=None,
    )
    return _shard_rollup(read_back_shards(spark, dst))


# --- cross-source n-gram overlap matrix, r8 --------------------------------

_XSO_K = 5  # word-gram order: long enough that shared grams mean duplication


def _xso_oracle() -> str:
    # gram CTE rendered from the shared template next to shingles_expr
    # (ADVICE r8 #3: this body was duplicated verbatim from
    # curation._novelty_oracle, recreating the desync hazard between copies)
    from flink_mm_spark.operators.dedup import gram_hash_cte

    return f"""
    WITH {gram_hash_cte("source", _XSO_K)},
    tot AS MATERIALIZED (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY source
    ),
    sh AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_grams
      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_grams,
           ta.n AS grams_a, tb.n AS grams_b,
           ROUND(CAST(shared_grams AS DOUBLE) / (ta.n + tb.n - shared_grams), 6)
             AS jaccard
    FROM sh
    JOIN tot ta ON sh.source_a = ta.source
    JOIN tot tb ON sh.source_b = tb.source
    ORDER BY source_a, source_b
    """


@register("cross_source_overlap", oracle=_xso_oracle())
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source contamination matrix: for every OVERLAPPING pair of
    corpus sources (pairs sharing zero grams emit no row — absence means
    zero overlap, the consistent convention on both engines), the number
    of shared distinct 5-word grams and the gram-set Jaccard — the leakage diagnostic run BETWEEN training
    subsets (`benchmark_contamination` is the train-vs-eval half of the
    same check; this is its source×source generalization, the matrix a
    mixture planner consults before weighting sources that heavily
    overlap).

    Scale: gram-keyed and corpus-LINEAR, never doc×doc or source-set
    materialization — grams fold to 60-bit md5 integers JVM-side (the
    `substring_dedup` portability trick, so the oracle replays every key
    bit and shuffled bytes are fixed 8 B/key), the distinct (source, gram)
    table is one map-side-combined aggregate, and the gram equi-self-join
    emits at most |sources|² rows per gram (sources ≪ corpus; 20 here).
    Per-source totals re-attach by broadcast (|sources| rows). The gram
    table feeds the totals aggregate AND the self-join, so it persists via
    the module cache."""
    d = parallelize_scan(table(spark, sf_dir, "documents"))
    g = keep_latest(
        "xso_grams",
        d.select("source", tokens_expr().alias("_toks"))
        .select("source", F.explode(shingles_from_tokens("_toks", _XSO_K)).alias("gram"))
        .select(
            "source",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long").alias("g"),
        )
        .distinct(),
    )
    tot = g.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    sh = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    return (
        sh.join(
            F.broadcast(tot.select(F.col("source").alias("source_a"), F.col("n").alias("grams_a"))),
            "source_a",
        )
        .join(
            F.broadcast(tot.select(F.col("source").alias("source_b"), F.col("n").alias("grams_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.round(
                F.col("shared_grams").cast("double")
                / (F.col("grams_a") + F.col("grams_b") - F.col("shared_grams")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
