"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the driver harness (local[32], 128 GiB) but expressed so
the same code runs unchanged on a multi-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — the knob that makes one logical plan survive a
  100x scale-up.
- Arrow on for all pandas-UDF exchange (the linalg kernels are
  Arrow-batched; row-at-a-time Python UDFs are never used).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Driver memory sized to the machine (``default_driver_memory``) unless
  ``SPARK_GRAFT_DRIVER_MEM`` sets it.
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

Beside the factory sit the driver-side lifetime helpers. One rule places
every piece of driver-side state:

- a SQL kernel's state (centroids, codebooks, LUTs, B) rides in the
  kernel's closure; PySpark pickles it with the UDF and, above
  ``spark.broadcast.UDFCompressionThreshold``, broadcasts the command
  itself with the lifetime of the plan that runs it;
- an RDD pass's state goes through ``linalg.block_matrix.ship``, freed
  when the pass's job ends;
- a frame that the returned plan reads is held by ``keep_latest`` (the
  one live generation under a key, released on the next call);
- a frame used only inside the call is freed in ``finally`` by
  ``release``, which frees persisted frames and local checkpoints alike.

``scratch_dir`` gives temp dirs removed at interpreter exit. Streams are
started only through ``streaming/runner.py``, which owns sinks,
checkpoints, state partitions and drains.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

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


def _checkpoint_rdd(df: DataFrame):
    """The checkpointed RDD a ``localCheckpoint``'ed frame scans, or None
    when ``df`` is not such a frame (its analyzed plan is then not a
    LogicalRDD over a checkpointed RDD)."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return plan.rdd()
    return None


def release(*dfs: DataFrame | None) -> None:
    """Free each frame's blocks now: a persisted frame through
    ``unpersist``; a local checkpoint, which is not in the CacheManager
    (its ``unpersist()`` is a no-op, so its blocks would linger until the
    ContextCleaner collects the Dataset), through the checkpointed RDD its
    plan scans. ``None`` is skipped, so a ``finally`` can release what a
    failed step never built."""
    for df in dfs:
        if df is not None:
            rdd = _checkpoint_rdd(df)
            (df if rdd is None else rdd).unpersist(False)


_KEPT: dict[str, tuple[DataFrame, ...]] = {}


def keep_latest(key: str, *dfs: DataFrame):
    """Hold ``dfs`` as the one live generation under ``key``, releasing
    the previous generation first. For a frame that the builder's returned
    plan reads (a DataFrame consumed by 2+ downstream branches, which Spark
    re-executes per consumer otherwise): that plan executes after the
    builder returns, so the builder cannot free it; the next call does,
    which bounds the leak to one generation per key. A local checkpoint is
    held as it is; any other frame is persisted.

    Release comes BEFORE persist: a repeat call with the same ``sf_dir``
    builds a plan equal to the cached one, so Spark's CacheManager treats
    the new ``persist()`` as a no-op ("already cached"), and unpersisting
    the old handle afterwards would uncache the new one with it. Returns
    the held DataFrame, or the tuple of them."""
    release(*_KEPT.pop(key, ()))
    _KEPT[key] = tuple(df.persist() if _checkpoint_rdd(df) is None else df for df in dfs)
    return _KEPT[key][0] if len(dfs) == 1 else _KEPT[key]


CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_memory() -> str:
    """A third of this machine's memory in whole GiB, 1g to 16g: the JVM
    heap is not pressed to collect below its cap, so it grows toward it,
    and the cap must leave room for the Python workers and the OS beside
    it (16g on the 128 GiB harness; 5g on a 15.7 GiB box)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, total // (3 << 30)))}g"


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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
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
