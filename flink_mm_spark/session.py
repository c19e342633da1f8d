"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the driver harness (local[32], 128 GiB) but expressed so
the same code runs unchanged on a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — the knob that makes one logical plan survive a
  100x scale-up.
- Arrow on for all pandas-UDF exchange (the linalg kernels are
  Arrow-batched; row-at-a-time Python UDFs are never used).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Stream checkpoints (WAL, offset and commit logs, state-store deltas and
  snapshots) written through Spark's ``FileSystemBasedCheckpointFileManager``
  instead of the default FileContext-based manager. The default renames
  every checkpoint file with ``AbstractFileSystem.rename``, which on the
  local FS reaches ``RawLocalFileSystem.getFileLinkStatus`` →
  ``FileUtil.readLink`` and forks a ``readlink`` process per rename: one
  4-batch, 8-partition stateful aggregation (local[4]) forked it 632
  times (0 under this manager), and its state-store commit time summed
  685-1244 → 73-359 ms per batch. The files written are the same:
  Spark 4.1's ``ChecksumCheckpointFileManager`` still wraps this manager,
  so checkpoint checksums are written and verified as before, and a
  checkpoint written under the default manager resumes under this one.
  Rename safety is unchanged: the FileContext path also checks the
  destination and then renames (no atomic no-overwrite rename on the
  local FS either way), and HDFS's ``FileSystem.rename`` refuses an
  existing destination. Left standing: ``RawLocalFileSystem.setPermission``
  still forks ``chmod`` (175 in that stream; no native Hadoop library).
  Rejected: turning off ``spark.sql.streaming.checkpoint.fileChecksum.enabled``
  (drops corruption detection) and the RocksDB state provider (its
  commits summed 336-923 ms a batch in the same stream, vs 73-198 ms for
  the default provider under this manager).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_TMP_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """Per-invocation temp dir under ONE process-lifetime root that is
    removed at interpreter exit (ADVICE r4: per-invocation ``mkdtemp``
    sink destinations / stream checkpoints accumulated in /tmp across
    repeated bench/driver/pytest runs — lazy plans re-read the dir at
    collect time, so in-builder cleanup is impossible; process-exit
    cleanup is the correct lifetime)."""
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="flink_mm_spark_scratch_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_TMP_ROOT)


CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# State-store partitions for the engine's stateful streams. A stateful
# streaming stage loads/commits a state store for EVERY shuffle partition
# EVERY micro-batch — even empty ones — so partitions beyond what the
# stream can use are pure constant overhead. Two r13 measurements set the
# policy:
# - partitions ≫ CORES is always waste: the plain local[8] grading
#   session inherited 32-partition streams and paid 4-8× (band store
#   62.8→8.0 s, ingest gate 31.8→9.9 s once cores-matched);
# - partitions ≪ cores hurts streams with REAL per-key work: the band
#   stores at sf0.1 on local[32] lost 1.5-2× when forced to 8 (thousands
#   of live buckets want the parallelism), while small-key streams
#   (16-cell ANN index, sketch cells, the ingest gates) measured FASTER
#   at 8 even with 32 cores.
# Default therefore: min(cores, 32) — cores-matched; streams with a
# known-small key space pass an explicit ``n``. Per-STREAM (pinned into
# the checkpoint at stream start), not session state; a cluster
# deployment sizes it to keys × executors instead. The r13 per-partition
# costs behind this policy were taken under the FileContext checkpoint
# manager, whose `readlink` fork per rename inflated every store commit
# (module docstring): re-measure before re-sizing.
STREAM_STATE_PARTS_SMALL = 8  # explicit n for known-small key spaces


def stream_state_parts(spark: SparkSession, n: int | None = None):
    """Context manager: run a stream (start → awaitTermination) under
    ``n`` shuffle partitions (default: cores-matched, capped at 32),
    restoring the session conf afterwards. foreachBatch inner jobs
    launched while the stream runs inherit the same setting — intended:
    per-batch jobs in these streams are state-/batch-sized, not
    corpus-sized. ``SPARK_GRAFT_STATE_PARTS`` overrides the default."""
    import contextlib

    @contextlib.contextmanager
    def _ctx():
        parts = (
            n
            or int(os.environ.get("SPARK_GRAFT_STATE_PARTS", "0"))
            or min(spark.sparkContext.defaultParallelism, 32)
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _ctx()


def get_spark(
    app_name: str = "flink-mm-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark's own worker daemon minus its per-task zip-archive
        # re-read (~200 ms a Python task on CPython < 3.12; pydaemon.py)
        .config("spark.python.daemon.module", "flink_mm_spark.pydaemon")
        # checkpoint renames without a forked `readlink` each (module docstring)
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    The driver harness passes us its own SparkSession; only runtime-mutable
    confs may be set here (anything requiring JVM restart is left alone).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # skew-join splitting must ride along wherever AQE does: the naive
    # Jaccard posting self-join (and any hot-key equi-join) relies on it
    # at scale (scripts/skew_experiment.py measures the effect)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # the binmatrix connector implements pushFilters; Spark refuses to plan
    # a pushdown-capable Python data source while this is false
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # a runtime SQL conf, read at each stream start (module docstring)
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
    return spark
