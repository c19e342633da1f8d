"""Stream checkpoints: the engine's checkpoint file manager, checksums, resume.

Engine sessions write checkpoints through Spark's FileSystem-based manager
(``session.CHECKPOINT_FILE_MANAGER``). These tests pin that both session
paths select it, that checkpoint checksums stay on under it, and that a
checkpoint written under Spark's default FileContext manager resumes
under it.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_mm_spark.session import CHECKPOINT_FILE_MANAGER, tune_session

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _stage(src: str, files: range) -> None:
    """Write arrival file ``i`` (rows k = j % 5, v = j for j in [10i, 10i+10))
    with mtime order = index order, so a ``maxFilesPerTrigger=1`` stream
    takes one file per batch in index order."""
    os.makedirs(src, exist_ok=True)
    for i in files:
        vals = list(range(10 * i, 10 * i + 10))
        path = os.path.join(src, f"part{i:02d}.parquet")
        pq.write_table(pa.table({"k": [j % 5 for j in vals], "v": vals}), path)
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))


def _run_counts(spark, src: str, ckpt: str, name: str):
    """Drain ``src`` into a complete-mode memory sink (the memory sink's
    recoverable mode) through a stateful per-key aggregation; return the
    batch ids this life ran and the sink's rows."""
    from pyspark.sql import functions as F

    q = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    batch_ids = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    rows = sorted(tuple(r) for r in spark.table(name).collect())
    spark.catalog.dropTempView(name)
    return batch_ids, rows


def test_engine_and_tuned_sessions_use_filesystem_manager(spark, tmp_path):
    assert spark.conf.get(MANAGER_CONF) == CHECKPOINT_FILE_MANAGER
    try:
        spark.conf.unset(MANAGER_CONF)
        assert spark.conf.get(MANAGER_CONF, None) != CHECKPOINT_FILE_MANAGER
        tune_session(spark)
        assert spark.conf.get(MANAGER_CONF) == CHECKPOINT_FILE_MANAGER

        # the conf is read from the session at each stream start, so the
        # runtime setting tune_session makes does select the manager
        spark.conf.set(MANAGER_CONF, "no.such.CheckpointFileManager")
        _stage(str(tmp_path / "src"), range(1))
        with pytest.raises(Exception, match="no.such.CheckpointFileManager"):
            _run_counts(spark, str(tmp_path / "src"), str(tmp_path / "ck"), "ckm_bogus")
    finally:
        spark.conf.set(MANAGER_CONF, CHECKPOINT_FILE_MANAGER)


def test_checkpoint_checksums_stay_on(spark, tmp_path):
    """The manager sits under Spark's checksum manager: every state delta
    gets its checksum file, and the offset and commit logs their Hadoop
    ``.crc`` twins."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _stage(src, range(2))
    batch_ids, rows = _run_counts(spark, src, ckpt, "ckm_checksums")
    assert batch_ids == [0, 1]
    assert len(rows) == 5

    deltas = glob.glob(os.path.join(ckpt, "state", "*", "*", "*.delta"))
    assert deltas
    for d in deltas:
        assert os.path.isfile(d + ".crc"), d
    for log in ("offsets", "commits"):
        for b in ("0", "1"):
            assert os.path.isfile(os.path.join(ckpt, log, b)), (log, b)
            assert os.path.isfile(os.path.join(ckpt, log, f".{b}.crc")), (log, b)


def test_file_context_checkpoint_resumes_under_engine_manager(spark, tmp_path):
    """A checkpoint committed for 2 batches under Spark's default
    FileContext manager (older engine versions, plain sessions) resumes
    under the engine's manager: state carries over and the result equals
    an unbroken run's."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    _stage(src, range(2))
    try:
        spark.conf.set(MANAGER_CONF, FILE_CONTEXT_MANAGER)
        ids1, _ = _run_counts(spark, src, ckpt, "ckm_life1")
    finally:
        spark.conf.set(MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
    assert ids1 == [0, 1]

    _stage(src, range(2, 4))
    ids2, resumed = _run_counts(spark, src, ckpt, "ckm_life2")
    assert ids2 == [2, 3]

    whole_src = str(tmp_path / "whole")
    _stage(whole_src, range(4))
    ids, unbroken = _run_counts(spark, whole_src, str(tmp_path / "ck2"), "ckm_whole")
    assert ids == [0, 1, 2, 3]
    assert resumed == unbroken
    assert unbroken == [
        (k, 8, sum(v for v in range(40) if v % 5 == k)) for k in range(5)
    ]
