"""Distributed GEMM: C = A × B with A row-block-partitioned, B shipped whole.

Reference semantics (mm/MatrixMultiply.java:107-160 + mm/Utils.java:16-35):
each worker multiplies its row block of A by the full (broadcast) B and the
results are gathered ordered by block index. Here: B rides in the pandas
UDF's closure (PySpark broadcasts the pickled UDF itself once it passes
``spark.broadcast.UDFCompressionThreshold``), the per-block product is one
numpy ``@`` inside an Arrow-batched pandas UDF, and C stays distributed as
a block DataFrame (gather to the driver only if the caller asks).

Scale: A can be arbitrarily large (blocks are rows of a DataFrame spread
over executors); the only constraint is B fits in executor memory — the
same constraint the reference has. For B too large to broadcast the cell
view + shuffle join path in ``linalg.queries.matmul_cells`` applies.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def gemm_broadcast(blocks: DataFrame, b_matrix: np.ndarray) -> DataFrame:
    """Multiply a block-partitioned A by a small dense B (driver ndarray)."""
    b_matrix = np.asarray(b_matrix, dtype=np.float64)
    n_out_cols = int(b_matrix.shape[1])

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def gemm_udf(data: pd.Series, block_rows: pd.Series, matrix_cols: pd.Series) -> pd.Series:
        out = []
        for flat, nrows, ncols in zip(data, block_rows, matrix_cols):
            if int(ncols) != b_matrix.shape[0]:
                raise ValueError(
                    f"GEMM shape mismatch: A blocks have {int(ncols)} cols, "
                    f"B has {b_matrix.shape[0]} rows"
                )
            a = np.asarray(flat, dtype=np.float64).reshape(int(nrows), int(ncols))
            out.append((a @ b_matrix).ravel())
        return pd.Series(out)

    return blocks.select(
        "block_id",
        "start",
        "block_rows",
        "matrix_rows",
        F.lit(n_out_cols).cast("int").alias("matrix_cols"),
        gemm_udf("data", "block_rows", "matrix_cols").alias("data"),
    )


def matrix_multiply_file(
    spark,
    a_path: str,
    n_rows: int,
    n_cols: int,
    b_matrix: np.ndarray,
    byteorder: str = "big",
    n_blocks: int = 32,
) -> np.ndarray:
    """End-to-end MatrixMultiply (mm/MatrixMultiply.java:27-160): binary A
    file → row blocks → broadcast-B GEMM → C assembled ordered by block.

    The reference's ``-t`` self-check (local single-threaded product,
    mm/MatrixMultiply.java:88-103,175-181) is tests/test_linalg.py's numpy
    oracle. C returns to the driver because every reference gather does
    (SURVEY A6); keep the result distributed by calling ``gemm_broadcast``
    directly when C is large.
    """
    from flink_mm_spark.linalg.block_matrix import blocks_to_numpy
    from flink_mm_spark.sources.binary_matrix import read_matrix_blocks

    blocks = read_matrix_blocks(spark, a_path, n_rows, n_cols, "float64", byteorder, n_blocks)
    return blocks_to_numpy(gemm_broadcast(blocks, b_matrix))
