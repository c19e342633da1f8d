"""Parquet table sources for the driver-generated test schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.

Scans are plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and partition-split sizing for free; at 100 TB these would be
directories of many files and nothing here changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always be broadcast when joined against
# a fact table. At 100 TB, region/nation stay tiny and customer/supplier/part
# grow but remain << lineitem/orders; Spark's auto-broadcast threshold plus
# AQE handles the cutover, and we add explicit hints where it always holds.
DIM_TABLES = {"region", "nation"}

# Timestamp columns are normalized to TIMESTAMP (instant) whatever physical
# form the parquet uses. Two generations of driver testdata exist:
#   - TIMESTAMP(NANOS): Spark can't read it natively; under
#     spark.sql.legacy.parquet.nanosAsLong it arrives as BIGINT nanoseconds
#     and is converted with an integer div (a double division would lose
#     precision at epoch-nanos magnitudes).
#   - TIMESTAMP(MICROS) without tz: arrives as TIMESTAMP_NTZ, which many
#     instant functions (unix_micros, to_utc_timestamp) reject; with the
#     session timezone pinned to UTC the cast to TIMESTAMP is exact and
#     epoch-preserving, matching DuckDB's epoch_us on the same file.
TS_COLUMNS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in TS_COLUMNS.get(name, []):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Raise the partition count of a small-bytes scan feeding CPU-heavy work.

    Parquet split sizing is byte-based (maxPartitionBytes), so a 600 KB
    compressed text table arrives as ONE split even though shingling it
    costs minutes of CPU — the classic small-input/expensive-map shape. A
    cheap repartition spreads it across the cluster. No-ops whenever the
    scan already has enough splits (any real 100 TB table will).

    K-means' loop blocks take the same floor: a handful of fat splits
    would serialize the per-pass kernel (3 partitions on a 32-core box =
    10% utilization). One partition per core keeps the compute-bound
    regime (large k·d) at full utilization; the overhead-bound small-k
    case loses only a few percent vs fewer partitions.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
