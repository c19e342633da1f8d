"""Structured Streaming surface over the events table (SURVEY §2.8).

The reference declares flink-streaming but never uses it (pom.xml:81-84 —
every job is batch); per the north star this engine exposes the events
table through Structured Streaming with watermarks, tumbling/sliding/
session windows, stateful dedup, and foreachBatch-driven iterative
refinement (the streaming analogue of the reference's outer driver loop
I3). Every aggregation here is also valid in batch mode — tests compare
streaming availableNow output against the identical batch plan.

At scale: the same code reads a file/Kafka source; state is bounded by the
watermark (late events beyond it are dropped), and the shuffle per
micro-batch is keyed on (window, event_type)/(user) exactly like the batch
aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The events parquet stores TIMESTAMP(MICROS) without tz, which a declared
# stream schema must read as TIMESTAMP_NTZ; the scan then casts to TIMESTAMP
# under a UTC session timezone (exact, epoch-preserving — see sources/tables.py
# for the two testdata generations).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    glob: str = "*.parquet",
) -> DataFrame:
    """File-source stream of events parquet files under ``path``.

    Pass ``glob="events.parquet"`` when ``path`` is a multi-table directory
    (like an sf dir) — otherwise every table's parquet is ingested and only
    filtered out as schema-mismatch nulls downstream.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.option("pathGlobFilter", glob).parquet(path)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_aggregate(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window count+sum per event_type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-cast sum: identical result for any micro-batch split
            # vs the batch plan (see relational.dsum / CLAUDE.md)
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_aggregate(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window average value per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "avg_value", "n")
    )


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based), count+duration per session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Exactly-once events by event_id within the watermark horizon.

    State is bounded: an id older than the watermark can be evicted because
    any duplicate arriving later would be dropped as late anyway.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum, max) via
    ``applyInPandasWithState`` (SURVEY §2.9 — the Spark analogue of a Flink
    keyed RichFunction with managed state).

    State is one fixed-size tuple per user (no per-event retention), so
    state-store size is O(distinct users) regardless of stream length; each
    micro-batch emits the refreshed row per user seen in that batch
    (output mode: update).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, s, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                s += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, s, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "max_value": [mx]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


class IncrementalKMeans:
    """foreachBatch-driven incremental k-means over a value stream.

    The streaming analogue of the reference's outer driver loop (SURVEY I3):
    state (centroids + counts) lives on the driver and every micro-batch
    refines it — a mini-batch Lloyd update. Deterministic given batch order.
    """

    def __init__(self, init_centroids: np.ndarray):
        self.centroids = np.asarray(init_centroids, dtype=np.float64).copy()
        self.counts = np.zeros(len(self.centroids), dtype=np.int64)
        self.batches = 0

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        # Assignment and per-centroid partials run DISTRIBUTED: nearest
        # centroid is a JVM array expression (argmin over |value - c_j|,
        # first-occurrence tie-break like np.argmin), the per-cluster
        # (sum, count) is a k-row aggregate — the driver sees O(k), never
        # the micro-batch itself. Decimal-cast sums keep the update
        # deterministic under any partitioning (the dsum pattern).
        # NULL values would fold NaN into a centroid permanently — drop them.
        vals = batch_df.select("value").where(F.col("value").isNotNull())
        dists = F.array(
            *[F.abs(F.col("value") - F.lit(float(cj))) for cj in self.centroids[:, 0]]
        )
        partials = (
            vals.select("value", (F.array_position(dists, F.array_min(dists)) - 1).alias("j"))
            .groupBy("j")
            .agg(
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double").alias("s"),
                F.count(F.lit(1)).alias("m"),
            )
            .collect()
        )
        if not partials:
            return
        for r in partials:
            j, s, m = int(r["j"]), float(r["s"]), int(r["m"])
            tot = self.counts[j] + m
            self.centroids[j] = (self.centroids[j] * self.counts[j] + s) / tot
            self.counts[j] = tot
        self.batches += 1

    def sink(self) -> Callable[[DataFrame, int], None]:
        return self.update


EMBEDDINGS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def embeddings_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of embeddings parquet."""
    reader = spark.readStream.schema(EMBEDDINGS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.option("pathGlobFilter", "*.parquet").parquet(path)


class IncrementalMDS:
    """foreachBatch-driven incremental DA-MDS over an embedding stream.

    The streaming analogue of the reference's outer driver loop (SURVEY I3)
    for the MDS workload: each micro-batch appends its vectors to the
    DISTRIBUTED incremental distance state
    (``damds.IncrementalDistanceBlocks`` — quantized blocks in a
    checkpointed DataFrame), and the embedding refines with a short anneal
    **warm-started from the previous embedding** — new points start random,
    old points keep their positions, so per-batch work is a refinement, not
    a re-solve. Driver state is O(N·d): the embedding and the state's
    corpus, never the O(N²) matrix.

    Steady-state per-batch distance work is O(N·b) — only the new rows'
    stripes and the b appended columns are computed; the O(N²) cells are
    recomputed ONLY when the quantization scale grows (new global max
    distance), which stabilizes after the first batches (VERDICT r2 ask
    #4; the per-path costs are pinned in tests/test_damds.py and benched
    as ``incremental_mds_append``).

    New rows get contiguous ids ``n .. n+b-1`` (append order, vec_id-sorted
    within the batch) via the same two-pass prefix count that
    ``pack_sequences`` uses — a per-batch global row_number window would
    serialize the batch through one partition. Old checkpoint generations
    are freed eagerly (``session.release``).
    """

    def __init__(self, dim: int = 2, stress_loops: int = 2, n_blocks: int = 8):
        self.dim = dim
        self.stress_loops = stress_loops
        self.n_blocks = n_blocks
        self.inc = None  # IncrementalDistanceBlocks, created on first batch
        self.n = 0
        self.points: np.ndarray | None = None
        self.stress_history: list[float] = []
        self.batches = 0

    def _assign_ids(self, batch_vecs: DataFrame) -> tuple[DataFrame, int, DataFrame]:
        """(vec_id, vec) → ((point_id, vec), batch size, persisted parts)
        with ids self.n .. self.n+b-1 in vec_id order: two-pass distributed
        prefix count (range partition → per-partition counts →
        partition-local offset add). Caller releases ``parts`` after
        materializing the result."""
        import pandas as pd

        spark = batch_vecs.sparkSession
        n_parts = spark.sparkContext.defaultParallelism
        parts = (
            batch_vecs.repartitionByRange(n_parts, "vec_id")
            .sortWithinPartitions("vec_id")
            .select(F.spark_partition_id().alias("pid"), "vec_id", "vec")
            .persist()
        )
        counts = {
            r["pid"]: r["c"]
            for r in parts.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        base, offsets = self.n, {}
        for pid in sorted(counts):
            offsets[pid] = base
            base += int(counts[pid])

        def assign(batches):
            running = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                start = offsets[int(pdf["pid"].iloc[0])] + running
                running += len(pdf)
                yield pd.DataFrame(
                    {
                        "point_id": np.arange(start, start + len(pdf), dtype=np.int64),
                        "vec": pdf["vec"],
                    }
                )

        out = parts.mapInPandas(assign, "point_id long, vec array<double>")
        # materialized by the caller's localCheckpoint before parts is released
        return out, base - self.n, parts

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from flink_mm_spark.algos.damds import IncrementalDistanceBlocks, damds
        from flink_mm_spark.session import release

        new_vecs = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        )
        ids, b, parts = self._assign_ids(new_vecs)
        try:
            if b == 0:
                return
            if self.inc is None:
                self.inc = IncrementalDistanceBlocks(n_blocks_hint=self.n_blocks)
            self.inc.append(ids, b)  # eager: gathers the new rows, checkpoints the blocks
        finally:
            release(parts)
        self.n += b

        res = damds(
            self.inc.blocks,
            self.n,
            dim=self.dim,
            max_temp_loops=1,
            max_stress_loops=self.stress_loops,
            x0=self.points,
            uniform_weights=True,  # from-points blocks: closed-form CG multiply
        )
        self.points = res.points
        self.stress_history.append(res.stress)
        self.batches += 1

    def sink(self) -> Callable[[DataFrame, int], None]:
        return self.update


def followup_join_stream(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "5 minutes"
) -> DataFrame:
    """Watermarked stream-stream interval join: each click joined to same-
    user purchases within the preceding ``horizon``.

    Both sides carry watermarks so the join state is bounded: a buffered
    purchase can be evicted once the click-side watermark passes its ts +
    horizon (Structured Streaming derives the eviction bound from the
    interval condition). The batch twin is the
    ``event_followups_range_join``/``asof_click_purchase`` family.
    """
    c = clicks.withWatermark("ts", horizon).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.withWatermark("ts", horizon).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") <= F.col("c_ts"))
        & (F.col("p_ts") >= F.col("c_ts") - F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("c_user", "click_id", "purchase_id", "c_ts", "p_ts")


# --- §2.8 graded as a REAL streaming execution ----------------------------

from flink_mm_spark.operators.relational import _HLL_ORACLE  # noqa: E402
from flink_mm_spark.registry import register  # noqa: E402
from flink_mm_spark.streaming.runner import (  # noqa: E402
    STREAM_STATE_PARTS_SMALL,
    run_stream,
    staged,
)


@register(
    "events_hourly_streamed",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly aggregation executed as an ACTUAL Structured
    Streaming query (not the batch twin): file-source stream → window agg
    → availableNow trigger → in-memory sink, returned as a DataFrame and
    graded against the same batch oracle as ``events_hourly``.

    Complete output mode with no watermark makes the result independent of
    how the file source splits micro-batches, and the decimal-cast sum
    makes it independent of row order within them — so the streaming
    execution must agree with DuckDB bit-for-bit. (At 100 TB the same plan
    runs append-mode with a watermark into a partitioned parquet sink —
    graded complete-mode here because an unbounded memory sink only holds
    hours×types rows.)
    """
    stream = events_stream(spark, sf_dir, glob="events.parquet")
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    name = run_stream(agg, "events_hourly_streamed", mode="complete")
    return spark.table(name).orderBy("window_start", "event_type")


@register(
    "user_sessions_streamed",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(value AS DECIMAL(18,6)) AS dv
      FROM events
    ),
    seq AS (
      SELECT user_id, us, dv,
             CASE WHEN us - lag(us) OVER w >= 30 * 60 * 1000000 OR
                       lag(us) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess AS (
      SELECT user_id, us, dv,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    )
    SELECT CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) + 30 * 60 * 1000000 AS BIGINT) AS end_us,
           user_id,
           COUNT(*) AS n_events,
           CAST(SUM(dv) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, start_us
    """,
)
def user_sessions_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user SESSION windows (30-min gap) executed as an ACTUAL
    Structured Streaming query — the stateful merging-window operator, not
    the batch gaps-and-islands twin (``user_sessions_batch``, now the
    deferred sibling): file-source stream → ``session_window`` aggregate →
    availableNow → memory sink, graded bit-for-bit against a batch oracle.

    The oracle replays Spark's session semantics relationally: a session
    BREAKS when the inter-event gap is ≥ the 30-min gap (the session
    window [ts, ts+gap) is half-open — note the strict ``>`` of the batch
    twin's oracle vs ``>=`` here), and session_end = last event + gap.
    Complete output mode + no watermark makes the result independent of
    micro-batch splits (state merges sessions across batches); session
    math compares on epoch-microsecond integers and the decimal-cast sum
    is partition-order-proof. (At 100 TB the same plan runs append-mode
    with a watermark — state per user is bounded by the gap horizon; the
    memory sink only holds the finished session rows here.)
    """
    stream = events_stream(spark, sf_dir, glob="events.parquet")
    agg = (
        stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )
    name = run_stream(agg, "user_sessions_streamed", mode="complete")
    return spark.table(name).orderBy("user_id", "start_us")


@register(
    "events_enriched_streamed",
    oracle="""
    SELECT n.n_name AS nation,
           e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_enriched_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–STATIC dimension enrichment executed as a real Structured
    Streaming query: the events stream joins the static customer→nation
    dimension chain per micro-batch (broadcast hash join — Spark plans
    the static side once and reuses it every trigger), then aggregates
    spend per (nation, event_type) in complete mode.

    The one §2.8 join shape the stream-stream interval join doesn't cover:
    enrichment against a slowly-changing dimension, the standard first
    stage of any production event pipeline. Complete output mode + the
    decimal-cast sum make the result independent of micro-batch splits and
    row order, so the STREAMED execution grades bit-for-bit against the
    batch SQL oracle. At 100 TB the dims broadcast (they are MBs against
    TBs of events) and the only wide exchange is the final (nation, type)
    aggregate — the same plan AQE picks for the batch twin.
    """
    from flink_mm_spark.sources.tables import table as _table

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    cust = _table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = (
        stream.join(F.broadcast(cust), stream.user_id == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )
    name = run_stream(enriched, "events_enriched_streamed", mode="complete")
    return spark.table(name).orderBy("nation", "event_type")


@register(
    "events_dedup_streamed",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` executed as a REAL streaming query
    UNDER REAL DUPLICATE PRESSURE: the events file feeds TWO file-source
    streams whose union delivers every event_id twice; the dedup operator
    must emit each exactly once for the downstream rollup to match the
    single-copy batch oracle.

    Why this grades exactly: event_ids are unique per copy, so whichever
    duplicate arrives first (micro-batch order is not deterministic across
    two sources) the KEPT row is byte-identical; the rollup is then
    independent of arrival order, and the decimal-cast sum of partition
    order. State is bounded by the watermark horizon — an id older than
    the watermark can be evicted because any duplicate arriving later
    would be dropped as late anyway; at 100 TB this is the
    exactly-once-by-key ingestion stage, with state O(ids per horizon)
    not O(corpus).

    The watermark delay is computed to EXCEED the corpus's full ts span
    (ADVICE r3): with a fixed 24h delay, exactness silently depended on
    both copies of an event_id landing in the same micro-batch — if the
    input were multi-file or rate-limited (maxFilesPerTrigger), an id
    older than max(ts)−24h at a batch boundary could be evicted before
    its twin arrived and double-count. Sizing the delay past the span
    makes eviction provably impossible before the stream drains, under
    ANY batching. In production the delay is the duplicate-arrival
    horizon (a stream's span is unbounded); here the span IS the horizon
    because the second copy can trail by the whole corpus.
    """
    from flink_mm_spark.sources.tables import table

    span = (
        table(spark, sf_dir, "events")
        .agg(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("span_us")
        )
        .collect()[0]["span_us"]
    )
    horizon_s = int(span or 0) // 1_000_000 + 3600  # full span + 1h slack
    s1 = events_stream(spark, sf_dir, glob="events.parquet")
    s2 = events_stream(spark, sf_dir, glob="events.parquet")
    deduped = (
        s1.unionByName(s2)
        .withWatermark("ts", f"{horizon_s} seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    name = run_stream(agg, "events_dedup_streamed", mode="complete")
    return spark.table(name).orderBy("event_type")


@register(
    "click_purchase_streamed",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ),
    c AS (SELECT user_id, event_id AS click_id, us AS c_us FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id AS purchase_id, us AS p_us FROM e WHERE event_type = 'purchase')
    SELECT c.user_id, c.click_id, p.purchase_id,
           CAST(c.c_us - p.p_us AS BIGINT) AS gap_us
    FROM c JOIN p
      ON p.user_id = c.user_id
     AND p.p_us <= c.c_us
     AND p.p_us >= c.c_us - 5 * 60 * 1000000
    ORDER BY 1, 2, 3
    """,
)
def click_purchase_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join executed as a real streaming
    query (``followup_join_stream``): clicks and purchases arrive as two
    independent file-source streams; each click joins same-user purchases
    within the preceding 5 minutes; the full joined pair list lands in the
    sink and grades row-for-row against the batch range-join oracle.

    Inner stream-stream joins emit matches eagerly, and the single-file
    sources deliver each side in one micro-batch, so no row can be
    watermark-late — the streamed pair set equals the batch join exactly.
    At scale the watermarks bound both buffers (a purchase is evictable
    once the click watermark passes its ts + horizon); the equi-key
    (user_id) is the shuffle key and skewed users split under AQE exactly
    as in the batch twin (``event_followups_range_join``).
    """
    clicks = events_stream(spark, sf_dir, glob="events.parquet").filter(
        F.col("event_type") == "click"
    )
    purchases = events_stream(spark, sf_dir, glob="events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    joined = followup_join_stream(clicks, purchases, horizon="5 minutes").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("c_ts") - F.unix_micros("p_ts")).cast("long").alias("gap_us"),
    )
    name = run_stream(joined, "click_purchase_streamed")
    return spark.table(name).orderBy("user_id", "click_id", "purchase_id")


@register(
    "events_sliding_streamed",
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS window_start, value
      FROM events, (SELECT unnest(range(0, 2)) AS k)
    )
    SELECT epoch_us(window_start) AS start_us,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM w GROUP BY 1 ORDER BY 1
    """,
)
def events_sliding_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING (2h window / 1h slide) aggregation as a real Structured
    Streaming execution — completes the streamed-window grading set
    (tumbling = ``events_hourly_streamed``, session =
    ``user_sessions_streamed``).

    Each event lands in exactly two epoch-aligned windows; the oracle
    replays that as an explicit 2-row expansion (window_start ∈
    {floor_hour(ts), floor_hour(ts) − 1h}). Complete output mode + the
    decimal-cast sum make the streamed state independent of micro-batch
    splits and row order, and windows compare as epoch-microsecond
    integers.
    """
    stream = events_stream(spark, sf_dir, glob="events.parquet")
    agg = (
        stream.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.unix_micros(F.col("w.start")).alias("start_us"), "n", "sum_value")
    )
    name = run_stream(agg, "events_sliding_streamed", mode="complete")
    return spark.table(name).orderBy("start_us")


@register(
    "user_stats_streamed",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micros,
           MAX(value) AS max_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def user_stats_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL operator (``applyInPandasWithState``, SURVEY
    §2.9 — Flink keyed RichFunction parity) graded as a real streamed run
    with MULTI-BATCH state evolution: the events table is split 8 ways and
    streamed 2 files per trigger, so per-user state accumulates across ~4
    micro-batches; update-mode emissions land in a memory sink and the
    FINAL state per user (its emission with the largest n_events —
    monotone, so deterministic under any batch split) must equal the batch
    aggregate.

    Exactness contract: the state accumulates value as integer micro-units
    (floor(v·1e6 + 0.5) per event — identical IEEE ops in the UDF and the
    oracle, then pure int64 adds in any order); max is order-free on
    doubles. State is one fixed tuple per user — O(users) state store at
    any stream length.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.window import Window

    from flink_mm_spark.sources.tables import table as _table

    src_dir = staged(
        sf_dir,
        "uss_src_",
        lambda d: _table(spark, sf_dir, "events").repartition(8).write.mode("overwrite").parquet(d),
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_micros", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.LongType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, s, mx = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in pdfs:
            if len(pdf):
                v = pdf["value"].to_numpy(dtype=np.float64)
                n += len(v)
                s += int(np.floor(v * 1e6 + 0.5).astype(np.int64).sum())
                mx = max(mx, float(v.max()))
        state.update((n, s, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_micros": [s], "max_value": [mx]}
        )

    stream = events_stream(spark, src_dir, max_files_per_trigger=2)
    stats = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    name = run_stream(stats, "user_stats_streamed", mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_micros", "max_value")
        .orderBy("user_id")
    )


def hll_register_stream(stream: DataFrame) -> DataFrame:
    """(event_type, idx) → max(v) HLL register aggregate over an event
    stream — the whole streaming state is keys × HLL_M register rows, and
    max-merge makes the result independent of micro-batch splits, so a
    checkpoint-recovered run is bit-identical to an unbroken one
    (tests/test_streaming.py::test_hll_restart_recovery)."""
    from flink_mm_spark.operators.relational import HLL_M, HLL_P, _HLL_LOW

    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = stream.select(F.col("event_type"), h.alias("h")).select(
        "event_type",
        F.col("h").bitwiseAND(F.lit(HLL_M - 1)).alias("idx"),
        F.shiftright("h", HLL_P).alias("w"),
    )
    v = F.when(F.col("w") == 0, F.lit(_HLL_LOW)).otherwise(
        F.col("w").bitwiseAND(-F.col("w"))
    )
    return (
        base.select("event_type", "idx", v.alias("v"))
        .groupBy("event_type", "idx")
        .agg(F.max("v").alias("maxv"))
    )


@register("events_hll_streamed", oracle=_HLL_ORACLE)
def events_hll_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user sketch maintained as STREAMING STATE: the
    register table (event_type, idx) -> max(v) is a streaming max-aggregate,
    so the query's entire state is keys x m = 32 rows per event type — the
    mergeable-sketch answer to counting distincts over an unbounded stream
    (a `dropDuplicates` approach would hold every user id ever seen; HLL
    state is O(m) regardless of cardinality, and max-merge is
    order/batch-split insensitive, so the streamed registers are
    bit-identical to the batch twin ``hll_distinct_exact`` and replay in
    DuckDB through the same oracle).

    The register stream runs complete-mode into a memory sink (m·types
    rows); the estimator rollup and the exact-count comparison column are
    batch post-processing on the finished register table.
    """
    from flink_mm_spark.operators.relational import (
        HLL_M,
        _HLL_ALPHA,
        _HLL_EMPTY,
        _HLL_LOW,
        _HLL_NUM,
    )
    from flink_mm_spark.sources.tables import table

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    regs = hll_register_stream(stream)
    # sketch state is O(registers/cells) — known-small key space
    name = run_stream(
        regs, "events_hll_streamed", mode="complete", state_parts=STREAM_STATE_PARTS_SMALL
    )
    agg = (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("registers_used"),
            F.sum(F.expr(f"{_HLL_LOW} DIV maxv")).alias("hp"),
        )
    )
    harm = F.col("hp") + (F.lit(HLL_M) - F.col("registers_used")) * F.lit(_HLL_EMPTY)
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            F.col("registers_used").cast("long").alias("registers_used"),
            harm.cast("long").alias("harmonic_scaled"),
            F.round(
                F.lit(_HLL_ALPHA) * F.lit(_HLL_NUM) / harm.cast("double"), 4
            ).alias("est_users"),
            "exact_users",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Count-min sketch as streaming state (the ADDITIVE-merge complement of the
# HLL register stream above)
# ---------------------------------------------------------------------------

CMS_PROBE_USERS = [1, 2, 3, 5]  # point-queried user ids (exist at every sf)

_CMS_COL = (
    "CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST({u} AS VARCHAR)), 1, 15))"
    " AS BIGINT) & {mask}"
)


def _cms_oracle() -> str:
    from flink_mm_spark.operators.relational import CM_D, CM_W

    col_ev = _CMS_COL.format(u="user_id", mask=CM_W - 1)
    col_pr = _CMS_COL.format(u="u", mask=CM_W - 1)
    ids = ", ".join(str(u) for u in CMS_PROBE_USERS)
    return f"""
    WITH rows_ AS (SELECT unnest(range(0, {CM_D})) AS r),
    cells AS (
      SELECT r, {col_ev} AS col, COUNT(*) AS cnt
      FROM events, rows_ GROUP BY 1, 2
    ),
    probes AS (SELECT unnest([{ids}]) AS u),
    lookups AS (SELECT probes.u, rows_.r, {col_pr} AS col FROM probes, rows_),
    est AS (
      SELECT l.u, CAST(MIN(c.cnt) AS BIGINT) AS est_events
      FROM lookups l JOIN cells c ON c.r = l.r AND c.col = l.col
      GROUP BY 1
    ),
    exact AS (
      SELECT user_id AS u, COUNT(*) AS exact_events FROM events
      WHERE user_id IN ({ids}) GROUP BY 1
    )
    SELECT CAST(est.u AS BIGINT) AS user_id, est.est_events, exact.exact_events
    FROM est JOIN exact ON exact.u = est.u
    ORDER BY user_id
    """


def cms_cell_stream(stream: DataFrame) -> DataFrame:
    """(r, col) → count(*) count-min cells over an event stream — the whole
    streaming state is CM_D × CM_W counter rows regardless of stream
    cardinality, and the merge is ADDITION (each event increments exactly
    one cell per hash row), so the finished cell table is independent of
    micro-batch splits and a checkpoint-recovered run is bit-identical to
    an unbroken one (tests/test_streaming.py::test_cms_restart_recovery).
    The sketch-as-state pair: HLL's max-merge registers
    (``hll_register_stream``) for distinct counting, count-min's sum-merge
    cells for frequency estimation."""
    from flink_mm_spark.operators.relational import CM_D, CM_W

    base = stream.select(
        F.col("user_id").cast("string").alias("u"),
        F.explode(F.array(*[F.lit(i) for i in range(CM_D)])).alias("r"),
    )
    col = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("r").cast("string"), F.col("u"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .bitwiseAND(F.lit(CM_W - 1))
    )
    return (
        base.select("r", col.alias("col"))
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register("events_cms_streamed", oracle=_cms_oracle())
def events_cms_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained as STREAMING STATE: per-user event
    frequencies over the events stream estimated from a CM_D × CM_W
    counter matrix that IS the streaming aggregate, point-queried for
    fixed probe users next to their exact counts.

    The frequency-estimation half of the sketch-as-state story
    (``events_hll_streamed`` is the distinct-count half): streaming
    ``dropDuplicates``-free heavy-hitter monitoring whose state is 256
    counter rows FOREVER — a per-user count would grow with distinct
    users, and a watermark would evict rather than approximate. Because
    cell merge is addition — commutative, associative, each event
    incrementing exactly one cell per row — the finished cell table is
    bit-identical under any micro-batch split, so this REAL streamed run
    grades against the same batch-replay oracle DuckDB computes (shared
    portable md5 hash family with ``count_min_exact``,
    `operators/relational.py:1413`), and checkpoint recovery is exact
    (tests/test_streaming.py::test_cms_restart_recovery).

    At 100 TB/day the same plan runs update-mode into a compacted state
    store with the probe lookup as a dashboard query; the memory sink
    here holds ≤ CM_D·CM_W rows. Estimates upper-bound truth
    (est ≥ exact — collisions only ever add).
    """
    from flink_mm_spark.operators.relational import CM_D, CM_W
    from flink_mm_spark.sources.tables import table

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    cells = cms_cell_stream(stream)
    # sketch state is O(registers/cells) — known-small key space
    name = run_stream(
        cells, "events_cms_streamed", mode="complete", state_parts=STREAM_STATE_PARTS_SMALL
    )
    rows = spark.range(CM_D).select(F.col("id").cast("int").alias("r"))
    probes = spark.createDataFrame(
        [(u,) for u in CMS_PROBE_USERS], "user_id bigint"
    )
    col = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("r").cast("string"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .bitwiseAND(F.lit(CM_W - 1))
    )
    lookups = probes.crossJoin(F.broadcast(rows)).select(
        "user_id", "r", col.alias("col")
    )
    est = (
        lookups.join(F.broadcast(spark.table(name)), ["r", "col"])
        .groupBy("user_id")
        .agg(F.min("cnt").cast("long").alias("est_events"))
    )
    exact = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isin(CMS_PROBE_USERS))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_events"))
    )
    return est.join(exact, "user_id").orderBy("user_id")
