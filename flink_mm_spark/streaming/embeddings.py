"""Streamed embedding statistics — the incremental covariance twin.

VERDICT r10 #4: the r10 covariance/PCA pair was batch-only, leaving the
embedding family as the one major family with no streamed tier. The exact
tier's arithmetic was DESIGNED to make this closable: every statistic is a
sum of per-row decimal(28,14) terms, and decimal addition is exact and
associative — so accumulating the same terms across micro-batches in a
complete-mode stateful aggregation produces bit-identical totals whatever
the batch split, and the SAME SQL oracle grades the streamed result.

The stream folds all three statistics (pair products, per-dimension sums,
the row count) into ONE keyed aggregation by tagging each term with an
(i, j) key: products at (i, j) with i,j ≥ 0, sums at (i, -1), the count at
(-1, -1) — one stateful operator holding d(d+1)/2 + d + 1 decimal
accumulators (the upper triangle; the mirror cells are bit-equal by
decimal commutativity and are re-expanded after the drain — r13),
O(d²) state forever, never O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_mm_spark.operators.similarity import COV_ORACLE, cov_assemble
from flink_mm_spark.registry import register
from flink_mm_spark.session import keep_latest
from flink_mm_spark.sources.tables import table
from flink_mm_spark.streaming.runner import run_stream, staged

EMB_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

def covariance_terms(stream: DataFrame) -> DataFrame:
    """Per-row decimal term stream: each embedding row explodes into its
    d(d+1)/2 UPPER-TRIANGLE pair-product terms keyed (i, j) with j >= i
    (r13 optimization: x_i*x_j == x_j*x_i is the same IEEE double and the
    same decimal(28,14) cast, so the i < j cells MIRROR from the
    accumulated triangle after the drain — bit-equal by decimal
    commutativity, and the per-batch explode volume and the state row
    count both halve), its d sum terms keyed (i, -1), and one count term
    keyed (-1, -1) — identical decimal(28,14) casts to the batch tier, so
    the accumulated totals are bit-equal by decimal associativity. One
    interpreted transform per row (the CLAUDE.md HOF rule: fine once per
    row), exploded JVM-side."""
    terms = F.expr(
        "concat("
        "  flatten(transform(emb, (x, i) -> "
        "    transform(slice(emb, i + 1, size(emb) - i), (y, dj) -> "
        "    struct(i AS i, i + dj AS j, CAST(x * y AS decimal(28,14)) AS p)))),"
        "  transform(emb, (x, i) -> "
        "    struct(i AS i, -1 AS j, CAST(x AS decimal(28,14)) AS p)),"
        "  array(struct(-1 AS i, -1 AS j, CAST(1 AS decimal(28,14)) AS p))"
        ")"
    )
    return (
        stream.filter(F.col("embedding").isNotNull())
        .select(F.col("embedding").cast("array<double>").alias("emb"))
        .select(F.explode(terms).alias("s"))
        .select("s.i", "s.j", "s.p")
    )


@register("embedding_covariance_streamed", oracle=COV_ORACLE)
def embedding_covariance_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL covariance over arriving embeddings, graded by the SAME
    exact oracle as the batch tier (VERDICT r10 #4): embeddings stream in
    over 4 micro-batches and ONE complete-mode stateful aggregation
    accumulates every (i, j)-keyed decimal term — pair products, dimension
    sums, and the row count ride the same operator under sentinel keys, so
    a single stream maintains all three statistics Spark would otherwise
    forbid as multiple streaming aggregations. Decimal addition is exact
    and associative, so the totals — and therefore the assembled, rounded
    covariance — are bit-identical to the batch tier under ANY arrival
    batching; the final ``cov_assemble`` joins run in batch over the
    drained d²-row sink table.

    Scale shape: per micro-batch the plan is the batch tier's term explode
    plus one (i, j)-keyed map-side-combined exchange into streaming state
    of d(d+1)/2 + d + 1 decimal accumulators — state is O(d²) FOREVER (8 KB
    here), never O(rows); the complete-mode sink rewrites d² rows per
    batch, not the corpus. This is the audit tier streamed; the
    production path at 100 TB remains the partial-Gram PCA twin, certified
    against this entry on samples (the exact/throughput split of
    ``embedding_covariance``)."""
    # 4-file arrival split; every consumer is batch-split independent
    # (decimal sums)
    src = staged(
        sf_dir,
        "emb_src_",
        lambda d: table(spark, sf_dir, "embeddings").repartition(4).write.mode(
            "overwrite"
        ).parquet(d),
    )
    stream = (
        spark.readStream.schema(EMB_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    # fan the one-file micro-batch out to the cores before the term
    # explode (streaming/documents.spread_batches rationale, r13): the
    # d(d+1)/2-term explode + partial aggregate otherwise run single-core
    # per batch; decimal sums are associative, so this is value-identical
    from flink_mm_spark.streaming.documents import spread_batches

    acc = (
        covariance_terms(spread_batches(stream, src))
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sp"))
    )
    name = run_stream(acc, "embedding_covariance_streamed", mode="complete")
    # localCheckpoint: the assembly joins three branches of this table and
    # Spark cannot re-instance MemoryPlan attributes for self-joins
    # (INTERNAL_ERROR "conflicting references", observed r11); checkpointing
    # rewrites the d(d+1)/2 + d + 1 rows as a LogicalRDD, which can. The
    # returned plan reads it, so it is held until the next call.
    t = keep_latest("cov_stream_terms", spark.table(name).localCheckpoint(eager=True))
    prods_ut = t.filter((F.col("i") >= 0) & (F.col("j") >= 0)).select(
        "i", "j", F.col("sp").alias("sxy")
    )
    # mirror the accumulated upper triangle into the i > j cells — the
    # same decimal (see covariance_terms), so the assembled matrix is
    # bit-identical to the full-d² accumulator it replaces
    prods = prods_ut.unionByName(
        prods_ut.filter("i < j").select(
            F.col("j").alias("i"), F.col("i").alias("j"), "sxy"
        )
    )
    sums = t.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        "i", F.col("sp").alias("sx")
    )
    n = t.filter(F.col("i") == -1).select(F.col("sp").cast("bigint").alias("c"))
    return cov_assemble(prods, sums, n)
