"""Table scans are resolved once per session and file stamp
(``sources.tables._SCAN_CACHE``): a repeat build starts no schema-inference
job, a rewritten file is re-read, and a stopped session's scan is never
handed to the next session."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq

from flink_mm_spark import registry
from flink_mm_spark.sources.tables import table
from tests.conftest import SF_DIR, spark_work

ROOT = pathlib.Path(__file__).resolve().parents[1]


def test_second_shipping_priority_build_starts_no_jobs(spark):
    registry.load_all()
    build = registry.QUERIES["shipping_priority"].fn
    build(spark, SF_DIR)
    assert spark_work(spark, lambda: build(spark, SF_DIR)) == (0, 0)


def _write_region(path: pathlib.Path, n: int) -> None:
    pq.write_table(
        pa.table({"r_regionkey": list(range(n)), "r_name": [f"r{i}" for i in range(n)]}), path
    )


def test_rewritten_table_file_is_read_again(spark, tmp_path):
    _write_region(tmp_path / "region.parquet", 3)
    first = table(spark, str(tmp_path), "region")
    assert table(spark, str(tmp_path), "region") is first
    assert first.count() == 3
    _write_region(tmp_path / "region.parquet", 5)  # in place: same path
    assert table(spark, str(tmp_path), "region").count() == 5


def test_rewritten_table_directory_is_read_again(spark, tmp_path):
    d = tmp_path / "region.parquet"
    d.mkdir()
    _write_region(d / "part-0.parquet", 3)
    assert table(spark, str(tmp_path), "region").count() == 3
    _write_region(d / "part-1.parquet", 2)
    assert table(spark, str(tmp_path), "region").count() == 5


def test_stopped_session_scan_is_never_reused(tmp_path):
    """Two sessions in turn in a fresh process: the second gets a scan of
    its own, and only its scans stay held."""
    script = textwrap.dedent(
        f"""
        from flink_mm_spark.session import get_spark
        from flink_mm_spark.sources import tables

        a = get_spark("scan-memo-a")
        first = tables.table(a, {SF_DIR!r}, "nation")
        n = first.count()
        a.stop()
        b = get_spark("scan-memo-b")
        second = tables.table(b, {SF_DIR!r}, "nation")
        assert second is not first
        assert second.sparkSession is b
        assert second.count() == n
        assert list(tables._SCAN_CACHE) == [(b, b.sparkContext.applicationId)]
        b.stop()
        print("reused: no")
        """
    )
    env = dict(os.environ, PYTHONPATH=str(ROOT), SPARK_GRAFT_MASTER="local[1]")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("reused: no")
