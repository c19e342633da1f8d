"""Parquet table sources for the driver-generated test schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an sf dir.

Scans are plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and partition-split sizing for free; at 100 TB these would be
directories of many files and nothing here changes.

Each scan is resolved once per session and file stamp: ``spark.read.parquet``
runs a one-task schema-inference Spark job (~95 ms hot on local[4]), and a
query that reads three tables paid three of them on every call. ``table``
memoizes the DataFrame it returns, timestamp normalization included, in
``_SCAN_CACHE``, keyed by the session (the ``SparkSession`` object and its
application id), the absolute path and the path's file stamp. A rewrite of
the file (or of a directory's entries) changes the stamp and the next call
re-resolves it; a call from another session drops every entry of the old
one, so a stopped session's plans are never reused and only the live
session's are held. The memo holds unpersisted plans only: no blocks and no
broadcasts. Paths off the local file system carry no stamp and are resolved
on every call.
"""

from __future__ import annotations

import os
import stat

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


# (session, its application id) -> {absolute path: (file stamp, DataFrame)}
_SCAN_CACHE: dict[tuple[SparkSession, str], dict[str, tuple[tuple, DataFrame]]] = {}


def _file_stamp(path: str) -> tuple | None:
    """What rewriting ``path`` changes: (mtime_ns, size, inode) of a file,
    the sorted (name, mtime_ns, size) of a directory's entries; None off
    the local file system."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size, st.st_ino)
        with os.scandir(path) as entries:
            stats = [(e.name, e.stat()) for e in entries]
        return tuple(sorted((n, s.st_mtime_ns, s.st_size) for n, s in stats))
    except OSError:
        return None


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    stamp = _file_stamp(path)
    if stamp is None:
        return _normalized(spark.read.parquet(path), name)
    owner = (spark, spark.sparkContext.applicationId)
    if owner not in _SCAN_CACHE:  # another session: drop the old one's plans
        _SCAN_CACHE.clear()
    held = _SCAN_CACHE.setdefault(owner, {})
    key = os.path.abspath(path)
    if key not in held or held[key][0] != stamp:
        held[key] = (stamp, _normalized(spark.read.parquet(path), name))
    return held[key][1]


def _normalized(df: DataFrame, name: str) -> DataFrame:
    """``df`` with table ``name``'s timestamp columns as TIMESTAMP."""
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
