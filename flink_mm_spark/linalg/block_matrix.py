"""Block-partitioned dense matrices as DataFrames.

The reference's MatrixBlock model (mm/MatrixBlock.java:8-19: a horizontal
row-range of a global matrix with block index, start row, shape metadata and
a row-major flat array) maps to one DataFrame row per block:

    blocks(block_id INT, start BIGINT, block_rows INT,
           matrix_rows BIGINT, matrix_cols INT, data ARRAY<DOUBLE>)

Kernels operate per-block inside Arrow-batched pandas UDFs (each batch
reshapes the flat array to (block_rows, matrix_cols) — zero-copy on the
numpy side). A *cell view* (row_id, col_id, value) derived via posexplode
serves relational checks and SQL interop.

Row-aligned splitting (the reference's createInputSplits,
mm/MatrixInputFormat.java:32-57: q = rows/splits with the remainder spread
one row each to the first r blocks) is reproduced in ``split_rows``, and
every block table is placed by one rule, ``place_blocks``: n blocks sit in
min(n, defaultParallelism) partitions as contiguous block_id ranges, never
in ``spark.sql.shuffle.partitions`` of them.

Iterative drivers (k-means, the DA-MDS anneal, the unigram hard EM) and the
Reduce/AllReduce collectives plan their step once, the way the reference's
bulk iterations do: ``array_blocks`` turns a DataFrame into a loop-lifetime
RDD of decoded numpy blocks in one Arrow pass, and every pass is one
``map_blocks`` job over it, with the per-pass driver state (centroids, X, p,
the piece table, the reduced vector) in the kernel's closure or shipped with
``ship``. No pass builds a DataFrame plan or an Arrow gather.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterator
from contextlib import contextmanager

import numpy as np
from pyspark import RDD, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("block_rows", T.IntegerType(), False),
        T.StructField("matrix_rows", T.LongType(), False),
        T.StructField("matrix_cols", T.IntegerType(), False),
        # containsNull: missing cells (negative quantized shorts) are NULL,
        # the §1.3 mapping; Arrow also folds NaN→null on the pandas boundary.
        T.StructField("data", T.ArrayType(T.DoubleType(), True), False),
    ]
)


def split_rows(n_rows: int, n_blocks: int) -> list[tuple[int, int, int]]:
    """Row-aligned block ranges: [(block_id, start, block_rows)].

    q = n_rows // n_blocks rows per block, remainder spread one row each to
    the first (n_rows % n_blocks) blocks — same partitioning the reference
    computes in mm/MatrixInputFormat.java:32-57.
    """
    q, r = divmod(n_rows, n_blocks)
    out = []
    start = 0
    for b in range(n_blocks):
        rows = q + (1 if b < r else 0)
        if rows == 0:
            continue
        out.append((b, start, rows))
        start += rows
    return out


def place_blocks(df: DataFrame, n_blocks: int, key: str | None = "block_id") -> DataFrame:
    """The one block-placement rule: a table of ``n_blocks`` row blocks sits
    in min(n_blocks, defaultParallelism) partitions — capped by cores, never
    taken from ``spark.sql.shuffle.partitions`` — and placing it starts no
    Spark job.

    ``key`` names the column holding each row's block index in
    0..n_blocks-1; rows move in one exchange (``repartitionById``) so that
    partition t holds a contiguous index range, cut as evenly as
    ``split_rows`` cuts rows. ``key=None`` is for a union of tables placed
    this way: their partitions merge without a shuffle (``coalesce``), so no
    exchange ever moves built blocks.
    """
    parts = max(1, min(n_blocks, df.sparkSession.sparkContext.defaultParallelism))
    if key is None:
        return df.coalesce(parts)
    return df.repartitionById(parts, (F.col(key) * parts / n_blocks).cast("int"))


def blocks_from_numpy(spark: SparkSession, arr: np.ndarray, n_blocks: int) -> DataFrame:
    """Partition a driver-side (rows, cols) array into a block DataFrame.

    Ships via a pandas DataFrame so createDataFrame takes the Arrow path
    (one columnar batch) instead of per-row py4j pickling.
    """
    import pandas as pd

    arr = np.asarray(arr, dtype=np.float64)
    n_rows, n_cols = arr.shape
    specs = split_rows(n_rows, n_blocks)
    pdf = pd.DataFrame(
        {
            "block_id": np.array([b for b, _, _ in specs], dtype=np.int32),
            "start": np.array([s for _, s, _ in specs], dtype=np.int64),
            "block_rows": np.array([r for _, _, r in specs], dtype=np.int32),
            "matrix_rows": np.full(len(specs), n_rows, dtype=np.int64),
            "matrix_cols": np.full(len(specs), n_cols, dtype=np.int32),
            "data": [arr[s : s + r].ravel() for _, s, r in specs],
        }
    )
    return place_blocks(spark.createDataFrame(pdf, BLOCK_SCHEMA), len(specs))


def blocks_to_numpy(blocks: DataFrame) -> np.ndarray:
    """Ordered gather: assemble the global matrix on the driver (SURVEY A6).

    The reference sorts collected blocks by index and arraycopies into one
    array at parallelism 1 (damds/CG.java:300-331); here it is an ordered
    collect + vstack. Only valid when the global matrix fits the driver —
    true for every gather site the reference has (C results, N×3 points).
    """
    rows = blocks.select("block_id", "block_rows", "matrix_cols", "data").orderBy("block_id").collect()
    if not rows:
        return np.zeros((0, 0))
    parts = [
        np.asarray(r["data"], dtype=np.float64).reshape(r["block_rows"], r["matrix_cols"])
        for r in rows
    ]
    return np.vstack(parts)


def blocks_to_cells(blocks: DataFrame) -> DataFrame:
    """Cell view (row_id, col_id, value) — relational interop for checks."""
    b = blocks.select(
        "start", "matrix_cols", F.posexplode("data").alias("pos", "value")
    )
    return b.select(
        (F.col("start") + (F.col("pos") / F.col("matrix_cols")).cast("long")).alias("row_id"),
        (F.col("pos") % F.col("matrix_cols")).cast("long").alias("col_id"),
        F.col("value"),
    )


@contextmanager
def array_blocks(df: DataFrame, encode: Callable[[Iterator], Iterator]) -> Iterator[RDD]:
    """A loop-lifetime RDD of decoded numpy blocks, released on exit.

    One Arrow pass (``mapInArrow``) runs ``encode`` over each partition's
    record batches; every record it yields (a tuple of ints and ndarrays)
    travels as one pickled binary cell and comes back decoded through
    ``.rdd.map``, persisted MEMORY_AND_DISK. Nothing runs here: the loop's
    first ``map_blocks`` pass materializes the cache (no separate count job).
    """
    import pyarrow as pa

    def cells(batches):
        for rec in encode(batches):
            yield pa.RecordBatch.from_arrays(
                [pa.array([pickle.dumps(rec, protocol=5)], pa.binary())], ["rec"]
            )

    blocks = (
        df.mapInArrow(cells, "rec binary")
        .rdd.map(lambda row: pickle.loads(row[0]))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        yield blocks
    finally:
        blocks.unpersist()


class _Inline:
    """Driver state small enough to ride in a kernel's pickled closure."""

    def __init__(self, value):
        self.value = value

    def destroy(self) -> None:
        pass


def ship(sc: SparkContext, arr: np.ndarray):
    """Driver state for block kernels, read as ``.value``, freed by ``.destroy()``.

    Below PySpark's own command-broadcast threshold
    (``spark.broadcast.UDFCompressionThreshold``, 1 MiB) the array rides in
    the kernel's closure; above it, one explicit broadcast.
    """
    if arr.nbytes < sc._jvm.PythonUtils.getBroadcastThreshold(sc._jsc):
        return _Inline(arr)
    return sc.broadcast(arr)


def map_blocks(blocks: RDD, fn: Callable, *state, reduce: Callable | None = None):
    """One pass: ``fn(block, *state values)`` over every cached block, one job.

    ndarray ``state`` is shipped for this pass (``ship``) and freed when the
    job ends; already-shipped handles pass through untouched. Returns the
    per-block results in partition order, or their ``treeReduce(reduce)``.
    """
    sc = blocks.context
    shipped = [ship(sc, s) if isinstance(s, np.ndarray) else s for s in state]
    try:
        out = blocks.map(lambda b: fn(b, *(s.value for s in shipped)))
        return out.treeReduce(reduce) if reduce is not None else out.collect()
    finally:
        for s, orig in zip(shipped, state):
            if s is not orig:
                s.destroy()
