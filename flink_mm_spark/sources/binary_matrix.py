"""Binary dense-matrix file sources (reference S1–S3 semantics).

The reference scans headerless binary matrix files — float64 or quantized
int16 cells, big- or little-endian, shape supplied out-of-band — splitting
them into row-aligned blocks (mm/MatrixInputFormat.java:25-62,
mm/DoubleMatrixInputFormat.java:19-50, mm/ShortMatrixInputFormat.java:21-48,
io/SMatrixInputFormat.java:32-81). Negative int16 cells mean *missing* and
decode as NaN; valid shorts dequantize by 1/32767 (damds/DAMDSUtils.java:8-9).

Spark shape: the block manifest (block_id, start, block_rows) is a tiny
DataFrame placed by ``place_blocks``; each task opens the file and reads
ONLY its byte range (offset = start·cols·itemsize) inside ``mapInPandas`` —
the reference's "lazy self-loading row block" (io/RowBlock.java:81-105)
expressed as a per-partition side-file read. No task ever touches another block's bytes,
so the scan scales linearly with executors and never buffers the matrix
whole. A synthetic mode mirrors ShortMatrixInputFormat.generateData
(mm/ShortMatrixInputFormat.java:64-75).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from flink_mm_spark.linalg.block_matrix import BLOCK_SCHEMA, place_blocks, split_rows

INV_SHORT_MAX = 1.0 / 32767.0  # damds/DAMDSUtils.java:8-9


def _np_dtype(cell: str, byteorder: str) -> np.dtype:
    code = {"float64": "f8", "int16": "i2"}[cell]
    return np.dtype(("<" if byteorder == "little" else ">") + code)


def write_matrix_file(path: str, arr: np.ndarray, cell: str = "float64", byteorder: str = "big") -> None:
    """Driver-side binary writer (S12 parity: mm/MatrixFileGenerator.java)."""
    a = np.asarray(arr)
    target = np.float64 if cell == "float64" else np.int16
    a.astype(target).astype(_np_dtype(cell, byteorder)).tofile(path)


def read_matrix_blocks(
    spark: SparkSession,
    path: str,
    n_rows: int,
    n_cols: int,
    cell: str = "float64",
    byteorder: str = "big",
    n_blocks: int = 32,
) -> DataFrame:
    """Headerless binary matrix file → block DataFrame (BLOCK_SCHEMA).

    int16 cells dequantize by 1/32767; negatives decode to NULL (missing),
    matching the skip-negatives convention at damds/Statistics.java:39-42
    (NaN on the numpy side folds to null at the Arrow boundary).
    """
    dt = _np_dtype(cell, byteorder)
    specs = pd.DataFrame(split_rows(n_rows, n_blocks), columns=["block_id", "start", "block_rows"])
    spec_df = place_blocks(spark.createDataFrame(specs), len(specs))

    def load(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, r in pdf.iterrows():
                start, nrows = int(r["start"]), int(r["block_rows"])
                raw = np.fromfile(path, dtype=dt, count=nrows * n_cols, offset=start * n_cols * dt.itemsize)
                if raw.size != nrows * n_cols:
                    raise ValueError(
                        f"{path}: block {int(r['block_id'])} (rows "
                        f"{start}..{start + nrows}) got {raw.size} cells, "
                        f"expected {nrows * n_cols} — truncated or mis-shaped file"
                    )
                if cell == "int16":
                    vals = raw.astype(np.float64)
                    out = np.where(vals < 0, np.nan, vals * INV_SHORT_MAX)
                else:
                    out = raw.astype(np.float64)
                yield pd.DataFrame(
                    {
                        "block_id": [int(r["block_id"])],
                        "start": [start],
                        "block_rows": [nrows],
                        "matrix_rows": [n_rows],
                        "matrix_cols": [n_cols],
                        "data": [out],
                    }
                )

    return spec_df.mapInPandas(load, BLOCK_SCHEMA)


def generate_short_blocks(
    spark: SparkSession, n_rows: int, n_cols: int, n_blocks: int = 32, seed: int = 7
) -> DataFrame:
    """Synthetic int16 matrix blocks without any file (S2 generateData mode),
    dequantized like the file path. Deterministic per (block, seed)."""
    specs = pd.DataFrame(split_rows(n_rows, n_blocks), columns=["block_id", "start", "block_rows"])
    spec_df = place_blocks(spark.createDataFrame(specs), len(specs))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, r in pdf.iterrows():
                rng = np.random.RandomState(seed + int(r["block_id"]))
                raw = rng.randint(0, 32768, size=int(r["block_rows"]) * n_cols).astype(np.int16)
                yield pd.DataFrame(
                    {
                        "block_id": [int(r["block_id"])],
                        "start": [int(r["start"])],
                        "block_rows": [int(r["block_rows"])],
                        "matrix_rows": [n_rows],
                        "matrix_cols": [n_cols],
                        "data": [raw.astype(np.float64) * INV_SHORT_MAX],
                    }
                )

    return spec_df.mapInPandas(gen, BLOCK_SCHEMA)


# --- deterministic formula fixtures (so DuckDB can oracle the scan) --------

FIXTURE_DIR = "/tmp/flink_mm_spark_fixtures"


def formula_f64(n_rows: int, n_cols: int) -> np.ndarray:
    """cell(i,j) = ((i·cols+j) mod 997) / 997 — reproducible in pure SQL."""
    k = np.arange(n_rows * n_cols, dtype=np.int64)
    return ((k % 997) / 997.0).reshape(n_rows, n_cols)


def formula_i16(n_rows: int, n_cols: int) -> np.ndarray:
    """cell(i,j) = ((i·cols+j)·37 mod 40000) − 7233 (some negative=missing)."""
    k = np.arange(n_rows * n_cols, dtype=np.int64)
    return ((k * 37 % 40000) - 7233).reshape(n_rows, n_cols)


def ensure_fixture(n_rows: int, n_cols: int, cell: str, byteorder: str) -> str:
    """Idempotently write the formula matrix as a binary file; return path."""
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    path = f"{FIXTURE_DIR}/m{n_rows}x{n_cols}.{cell}.{byteorder}.bin"
    if not os.path.exists(path):
        arr = formula_f64(n_rows, n_cols) if cell == "float64" else formula_i16(n_rows, n_cols)
        write_matrix_file(path + ".tmp", arr, cell, byteorder)
        os.replace(path + ".tmp", path)
    return path


# --- registry queries: the binary scan path, DuckDB-oracled ----------------

from pyspark.sql import functions as F  # noqa: E402

from flink_mm_spark.registry import register  # noqa: E402

_R, _C = 500, 96

# The one integer rollup oracle shared by EVERY f64-scan grading twin
# (direct scan, connector scan, sink round-trip, stream scan): re-quantize
# cell = ((i*cols+j) % 997)/997 by x997 (exact in float64) and sum per row.
F64_ROLLUP_ORACLE = f"""
    SELECT CAST(k // {_C} AS BIGINT) AS row_id,
           CAST(SUM((k * 1) % 997) AS BIGINT) AS sum_q,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM (SELECT unnest(range(0, {_R} * {_C})) AS k)
    GROUP BY 1 ORDER BY row_id
    """


def rollup_f64_cells(blocks):
    """The matching Spark side of ``F64_ROLLUP_ORACLE`` over a block table."""
    from flink_mm_spark.linalg.block_matrix import blocks_to_cells

    return (
        blocks_to_cells(blocks)
        .groupBy("row_id")
        .agg(
            F.sum(F.round(F.col("value") * 997).cast("long")).alias("sum_q"),
            F.count("*").alias("n_cells"),
        )
        .orderBy("row_id")
    )


@register("binary_f64_scan", oracle=F64_ROLLUP_ORACLE)
def binary_f64_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headerless big-endian float64 matrix scan (S1) → per-row rollup.

    The scanned file is produced by the driver-side generator
    (``ensure_fixture`` → ``write_matrix_file``, SURVEY S12 — the analogue of
    the reference's matrix file generators), so the generator is on the
    graded path: a wrong byte order or layout in EITHER the writer or the
    reader breaks the hash. The file holds cell = ((i·cols+j) mod 997)/997;
    the query re-quantizes (×997, exact in float64) so the oracle is integer
    arithmetic over range() — proving byte offsets, endianness and block
    alignment.
    """
    path = ensure_fixture(_R, _C, "float64", "big")
    blocks = read_matrix_blocks(spark, path, _R, _C, "float64", "big", n_blocks=16)
    return rollup_f64_cells(blocks)


@register(
    "binary_i16_scan",
    oracle=f"""
    SELECT CAST(k // {_C} AS BIGINT) AS row_id,
           CAST(SUM(CASE WHEN s >= 0 THEN s ELSE 0 END) AS BIGINT) AS sum_q,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM (SELECT unnest(range(0, {_R} * {_C})) AS k,
                 unnest(range(0, {_R} * {_C})) * 37 % 40000 - 7233 AS s)
    GROUP BY 1 ORDER BY row_id
    """,
)
def binary_i16_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized little-endian int16 matrix scan (S2/S3) → per-row rollup.

    Negative shorts decode as NULL (missing) and are counted, not summed;
    valid cells dequantize by 1/32767 and are re-quantized (exact) for the
    integer oracle.
    """
    from flink_mm_spark.linalg.block_matrix import blocks_to_cells

    path = ensure_fixture(_R, _C, "int16", "little")
    blocks = read_matrix_blocks(spark, path, _R, _C, "int16", "little", n_blocks=16)
    cells = blocks_to_cells(blocks)
    return (
        cells.groupBy("row_id")
        .agg(
            F.sum(
                F.coalesce(F.round(F.col("value") * 32767), F.lit(0)).cast("long")
            ).alias("sum_q"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).cast("long").alias("n_missing"),
        )
        .orderBy("row_id")
    )


@register(
    "matrix_generators_roundtrip",
    oracle=f"""
    SELECT * FROM (
      SELECT 'f64_little' AS kind,
             CAST(SUM(k % 997) AS BIGINT) AS sum_q,
             CAST(COUNT(*) AS BIGINT) AS n_valid,
             CAST(0 AS BIGINT) AS n_missing
      FROM (SELECT unnest(range(0, {_R} * {_C})) AS k)
      UNION ALL
      SELECT 'i16_big',
             CAST(SUM(CASE WHEN s >= 0 THEN s ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN s >= 0 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT unnest(range(0, {_R} * {_C})) * 37 % 40000 - 7233 AS s)
    ) ORDER BY kind
    """,
)
def matrix_generators_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — the driver-side matrix FILE GENERATORS as their own graded row
    (mm/MatrixFileGenerator.java:55-197, kmeans/utils/KMeansDataGenerator.java:
    67-148 parity): ``write_matrix_file`` produces fresh float64-LITTLE and
    int16-BIG formula files — exactly the dtype×byte-order combos the scan
    entries (S1 f64-big, S2 i16-little, S7 i16-big-paired) do NOT cover —
    and the real block scanner reads them back into whole-matrix integer
    rollups the oracle reconstructs from range() arithmetic. A wrong stride,
    byte order, or truncated tail in the WRITER (not just the reader) breaks
    the hash. Negative int16 cells decode as missing and are counted.
    """
    from flink_mm_spark.linalg.block_matrix import blocks_to_cells

    f64 = ensure_fixture(_R, _C, "float64", "little")
    i16 = ensure_fixture(_R, _C, "int16", "big")
    c64 = blocks_to_cells(read_matrix_blocks(spark, f64, _R, _C, "float64", "little", n_blocks=8))
    ci16 = blocks_to_cells(read_matrix_blocks(spark, i16, _R, _C, "int16", "big", n_blocks=8))
    r64 = c64.agg(
        F.lit("f64_little").alias("kind"),
        F.sum(F.round(F.col("value") * 997).cast("long")).alias("sum_q"),
        F.count("*").alias("n_valid"),
        F.lit(0).cast("long").alias("n_missing"),
    )
    r16 = ci16.agg(
        F.lit("i16_big").alias("kind"),
        F.sum(F.coalesce(F.round(F.col("value") * 32767), F.lit(0)).cast("long")).alias("sum_q"),
        F.sum(F.when(F.col("value").isNotNull(), 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).cast("long").alias("n_missing"),
    )
    return r64.unionByName(r16).orderBy("kind")
