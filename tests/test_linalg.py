"""Block-matrix + GEMM kernels vs numpy oracles."""

from __future__ import annotations

import numpy as np
import pytest

from flink_mm_spark.algos import damds as D
from flink_mm_spark.linalg.block_matrix import (
    blocks_from_numpy,
    blocks_to_cells,
    blocks_to_numpy,
    split_rows,
)
from flink_mm_spark.linalg.gemm import gemm_broadcast
from flink_mm_spark.session import release
from flink_mm_spark.sources.binary_matrix import (
    generate_short_blocks,
    read_matrix_blocks,
    write_matrix_file,
)
from tests.conftest import spark_tasks


def test_split_rows_reference_semantics():
    # q rows per block, remainder spread one-each to the first r blocks
    # (mm/MatrixInputFormat.java:32-57)
    assert split_rows(10, 3) == [(0, 0, 4), (1, 4, 3), (2, 7, 3)]
    assert split_rows(6, 3) == [(0, 0, 2), (1, 2, 2), (2, 4, 2)]
    assert split_rows(2, 4) == [(0, 0, 1), (1, 1, 1)]  # empty blocks dropped
    assert [r for _, s, r in split_rows(1000, 7)] == [143, 143, 143, 143, 143, 143, 142]


def test_blocks_roundtrip(spark):
    rng = np.random.RandomState(0)
    a = rng.standard_normal((37, 5))
    blocks = blocks_from_numpy(spark, a, n_blocks=4)
    back = blocks_to_numpy(blocks)
    np.testing.assert_array_equal(a, back)


def test_blocks_to_cells(spark):
    a = np.arange(12, dtype=np.float64).reshape(4, 3)
    cells = blocks_to_cells(blocks_from_numpy(spark, a, n_blocks=2)).collect()
    got = {(r["row_id"], r["col_id"]): r["value"] for r in cells}
    assert len(got) == 12
    for i in range(4):
        for j in range(3):
            assert got[(i, j)] == a[i, j]


@pytest.mark.parametrize("shape", [(16, 8, 4), (33, 7, 9), (5, 64, 3)])
def test_gemm_broadcast_matches_numpy(spark, shape):
    n, k, m = shape
    rng = np.random.RandomState(1)
    a = rng.standard_normal((n, k))
    b = rng.standard_normal((k, m))
    c = blocks_to_numpy(gemm_broadcast(blocks_from_numpy(spark, a, n_blocks=3), b))
    np.testing.assert_allclose(c, a @ b, rtol=1e-12)


def test_gemm_result_stays_distributed(spark):
    """The product is a block DataFrame (no driver materialization)."""
    a = np.ones((10, 4))
    b = np.ones((4, 2))
    c = gemm_broadcast(blocks_from_numpy(spark, a, n_blocks=2), b)
    assert c.filter("matrix_cols = 2").count() == 2  # still 2 block rows


def _points(spark, ids, pts):
    import pandas as pd

    pdf = pd.DataFrame({"point_id": np.asarray(ids, dtype=np.int64), "vec": list(pts)})
    return spark.createDataFrame(pdf, "point_id long, vec array<double>")


def _placed_tables(spark, name, n_blocks, tmp_path):
    """(block table, its block count) from constructor ``name``; the
    incremental state is checked after each of its appends."""
    n = 3 * n_blocks
    rng = np.random.RandomState(1)
    if name == "blocks_from_numpy":
        yield blocks_from_numpy(spark, rng.standard_normal((n, 4)), n_blocks), n_blocks
    elif name == "damds_blocks":
        yield D.damds_blocks(spark, rng.randint(0, 99, (n, n)), n_blocks=n_blocks), n_blocks
    elif name == "read_matrix_blocks":
        path = str(tmp_path / "m.bin")
        write_matrix_file(path, rng.standard_normal((n, 4)))
        yield read_matrix_blocks(spark, path, n, 4, n_blocks=n_blocks), n_blocks
    elif name == "generate_short_blocks":
        yield generate_short_blocks(spark, n, 4, n_blocks=n_blocks), n_blocks
    elif name == "damds_blocks_from_files":
        path = str(tmp_path / "d.bin")
        write_matrix_file(path, rng.randint(0, 99, (n, n)), "int16")
        yield D.damds_blocks_from_files(spark, path, n, n_blocks=n_blocks), n_blocks
    elif name == "damds_blocks_from_points":
        pts = _points(spark, range(n), rng.standard_normal((n, 3)))
        yield D.damds_blocks_from_points(spark, pts, n, n_blocks=n_blocks), n_blocks
    else:  # IncrementalDistanceBlocks.append: a rebuild (2 blocks), then an append (+1)
        pts = rng.standard_normal((48, 3))
        pts[0], pts[1] = 9.0, -9.0  # the max pair comes first: the append keeps the scale
        inc = D.IncrementalDistanceBlocks(n_blocks_hint=2)
        modes = []
        for s, e in [(0, 32), (32, 48)]:
            inc.append(_points(spark, range(s, e), pts[s:e]), e - s)
            modes.append(inc.last_mode)
            yield inc.blocks, inc.n_blk
        assert modes == ["rebuild", "append"]
        release(inc.blocks)


@pytest.mark.parametrize(
    "name",
    [
        "blocks_from_numpy",
        "damds_blocks",
        "read_matrix_blocks",
        "generate_short_blocks",
        "damds_blocks_from_files",
        "damds_blocks_from_points",
        "IncrementalDistanceBlocks.append",
    ],
)
def test_block_tables_sit_in_cores_not_shuffle_partitions(spark, tmp_path, name):
    """A table of n row blocks sits in min(n, defaultParallelism)
    partitions whatever ``spark.sql.shuffle.partitions`` says (a plain
    session's 200 once left 8 blocks in 200 mostly empty partitions), and
    one kernel pass over from-points blocks runs one task per partition."""
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        for table, n_blocks in _placed_tables(spark, name, cores + 2, tmp_path):
            want = min(n_blocks, cores)
            assert table.rdd.getNumPartitions() == want, n_blocks
            if name == "damds_blocks_from_points":
                with D.decoded_blocks(table) as rb:
                    D.matrix_stats(rb)  # materializes the loop's cache
                    assert spark_tasks(spark, lambda: D.matrix_stats(rb)) == want
            if name != "IncrementalDistanceBlocks.append":  # its state frees itself
                table.unpersist()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
