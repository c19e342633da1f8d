"""K-means (Lloyd's) as a driver-coordinated Spark loop.

Reference: kmeans/KMeansBlock.java (the benchmarked variant) — per pass the
current centroids are broadcast, each block flatMaps per-centroid partial
(sum, count) pairs, an explicit combineGroup pre-aggregates, and a final
reduceGroup divides (SURVEY I1/A2/F3). Empty clusters are re-emitted as
zero centroids (kmeans/KMeansOriginal.java:119-142, I4).

Spark shape: the loop is planned once. One Arrow pass decodes the feature
arrays into one (rows, d) float64 block per partition, held as a
loop-lifetime RDD (``linalg.block_matrix.array_blocks``) — the
loop-invariant caching the reference lacks across jobs (SURVEY §4.1). Each
pass is then one ``map_blocks`` job: the (k, d) centroids ride in the
kernel's closure, each block returns its dense (k, d) sums and k counts
(the analogue of the reference's block-local accumulation at
kmeans/KMeansBlock.java:163-202), and the driver adds them up. No pass
builds a DataFrame plan, a broadcast or an Arrow gather.
"""

from __future__ import annotations

from contextlib import AbstractContextManager
from functools import reduce

import numpy as np
import pandas as pd
from pyspark import RDD
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_mm_spark.linalg.block_matrix import array_blocks, map_blocks
from flink_mm_spark.sources.tables import parallelize_scan

# Assignment distances are computed in float32, chunked so the (chunk, k)
# distance matrix stays cache-resident: the argmin pass is memory-bandwidth
# bound, and float32 + chunking measured 3.3x faster than one full float64
# (n, k) materialization (207→63 ms per 19k-row partition at k=1000, d=2).
# Centroid SUMS still accumulate in float64 — only the argmin is float32.
# kmeans_numpy_oracle and assign_clusters use the IDENTICAL kernel (same op
# order → bit-equal assignments), so tests pin the distributed loop exactly.
ASSIGN_CHUNK = 2048


def _argmin_f32(m: np.ndarray, cents32: np.ndarray, c_sq32: np.ndarray) -> np.ndarray:
    """argmin_c ||x−c||² per row; the ||x||² term is dropped (argmin-invariant)."""
    m32 = m.astype(np.float32, copy=False)
    out = np.empty(len(m32), dtype=np.int64)
    for s in range(0, len(m32), ASSIGN_CHUNK):
        mm = m32[s : s + ASSIGN_CHUNK]
        d2 = -2.0 * (mm @ cents32.T)
        d2 += c_sq32
        out[s : s + ASSIGN_CHUNK] = np.argmin(d2, axis=1)
    return out


def _f32(centroids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    cents32 = np.asarray(centroids, dtype=np.float64).astype(np.float32)
    return cents32, (cents32 * cents32).sum(1)[None, :]


def assign_clusters(points: DataFrame, centroids: np.ndarray, features_col: str = "features") -> DataFrame:
    """Nearest-centroid id per point (SURVEY F3 argmin-Euclidean), through
    the loop's own ``_argmin_f32``; the centroids ride in the UDF's closure."""
    cents32, c_sq32 = _f32(centroids)

    @F.pandas_udf("int")
    def assign_udf(feats: pd.Series) -> pd.Series:
        return pd.Series(_argmin_f32(np.vstack(feats.to_numpy()), cents32, c_sq32).astype(np.int32))

    return points.withColumn("cluster", assign_udf(features_col))


def _point_blocks(points: DataFrame, features_col: str, d: int) -> AbstractContextManager[RDD]:
    """The loop-lifetime RDD: one (rows, d) float64 block per partition.

    The features are projected to d scalar columns first, so Arrow hands
    each batch over as contiguous columns instead of per-row arrays.
    """

    def encode(batches):
        parts = [np.column_stack([c.to_numpy(zero_copy_only=False) for c in b.columns]) for b in batches]
        yield np.concatenate(parts) if parts else np.empty((0, d))

    cols = points.select(
        *[F.col(features_col)[i].cast("double").alias(f"f{i}") for i in range(d)]
    )
    return array_blocks(parallelize_scan(cols), encode)


def _partials(m: np.ndarray, cents: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    k, d = cents.shape
    a = _argmin_f32(m, *_f32(cents))
    # bincount beats np.add.at's buffered scatter
    sums = np.column_stack([np.bincount(a, weights=m[:, j], minlength=k) for j in range(d)])
    return sums, np.bincount(a, minlength=k)


def _add(a: tuple, b: tuple) -> tuple:
    return a[0] + b[0], a[1] + b[1]


def kmeans(
    points: DataFrame,
    init_centroids: np.ndarray,
    n_iters: int = 10,
    features_col: str = "features",
    trajectory: bool = False,
) -> np.ndarray | list[tuple[np.ndarray, np.ndarray]]:
    """Full k-means loop; returns final centroids as a (k, d) ndarray.

    With ``trajectory`` returns the per-pass [(centroids, counts), ...]
    instead — same distributed passes, exposing the exact integers each
    pass aggregated so the full loop is oracle-gradeable (``kmeans_full``).
    """
    centroids = np.asarray(init_centroids, dtype=np.float64).copy()
    k, d = centroids.shape
    traj: list[tuple[np.ndarray, np.ndarray]] = []
    with _point_blocks(points, features_col, d) as blocks:
        # Large fan-in: combine in a tree, bounding driver inflow to k·d
        # per level; otherwise the driver adds the per-partition partials.
        large = k * d * blocks.getNumPartitions() > 2_000_000
        for _ in range(n_iters):
            out = map_blocks(blocks, _partials, centroids, reduce=_add if large else None)
            if not large:
                out = reduce(_add, out, (np.zeros((k, d)), np.zeros(k, dtype=np.int64)))
            sums, counts = out
            centroids = np.zeros((k, d))  # vanished clusters stay zero (reference I4)
            nz = counts > 0
            centroids[nz] = sums[nz] / counts[nz, None]
            if trajectory:
                traj.append((centroids.copy(), counts.copy()))
    return traj if trajectory else centroids


def lloyd_step(points: DataFrame, centroids: np.ndarray, features_col: str = "features") -> np.ndarray:
    """One Lloyd pass: returns the new (k, d) centroid array."""
    return kmeans(points, centroids, 1, features_col)


def kmeans_numpy_oracle(data: np.ndarray, init: np.ndarray, n_iters: int) -> np.ndarray:
    """Driver-side oracle implementing identical semantics (tests only):
    the SAME float32 assignment kernel as the distributed loop, float64
    means — bit-equal assignments at any partitioning."""
    cents = np.asarray(init, dtype=np.float64).copy()
    k = cents.shape[0]
    data = np.asarray(data, dtype=np.float64)
    for _ in range(n_iters):
        a = _argmin_f32(data, *_f32(cents))
        new = np.zeros_like(cents)
        for c in range(k):
            mask = a == c
            if mask.any():
                new[c] = data[mask].mean(axis=0)
        cents = new
    return cents
