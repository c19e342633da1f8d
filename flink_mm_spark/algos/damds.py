"""DA-MDS: deterministic-annealing multidimensional scaling (SMACOF).

Reference: the damds package — quantized int16 distance/weight matrices
partitioned into row blocks, per-temperature SMACOF stress majorization
with a conjugate-gradient inner solve (SURVEY §2.6 F2,F6–F10, §3.1).

Spark shape:
- The N×N distance (+ optional weight) matrix arrives as a DataFrame of row
  blocks (block_id, start, block_rows, n_points, dist ARRAY<SHORT>,
  weight ARRAY<SHORT>), built from driver arrays (``damds_blocks``), int16
  side files (``damds_blocks_from_files``) or points (one builder: whole
  corpora through ``damds_blocks_from_points``, growing ones through
  ``IncrementalDistanceBlocks``) and placed by ``place_blocks``. The file
  and points builders run over one placed table of ``split_rows`` specs.
- Every constructor returns a lazy plan that caches nothing (the
  incremental state alone is a checkpoint, since it outlives each anneal).
  ``damds`` decodes the table once into a loop-lifetime RDD of (block_id,
  start, int16 dist, int16 weight | None) numpy blocks (``decoded_blocks``)
  — the one copy of the bytes, as the reference's blocks are (it re-reads
  files every Flink job, SURVEY §4.1).
- The embedding X is (N, 3)-tiny and lives on the driver; each distributed
  kernel is one ``map_blocks`` job with X in its closure, emitting per-block
  partials (stress scalars or block slices of B(Z)X / VX) that the driver
  orders by block_id (SURVEY A6). No pass builds a DataFrame plan.
- The CG loop (damds/CG.java:78-142) runs on the driver: the only
  distributed step per CG iteration is the V×p multiply.

Quantization semantics (damds/DAMDSUtils.java:8-9): value = short/32767;
negative shorts are missing pairs and are skipped everywhere
(damds/Statistics.java:39-42, Stress.java:75-77, BC.java:121-123).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import AbstractContextManager, ExitStack
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_mm_spark.linalg.block_matrix import (
    array_blocks,
    map_blocks,
    place_blocks,
    ship,
    split_rows,
)
from flink_mm_spark.session import release
from flink_mm_spark.sources.binary_matrix import INV_SHORT_MAX  # single source

# Read-time weight transformation hook: (weights, dequantized distances) →
# weights. The Spark analogue of the reference's TransformationFunction
# config (damds/configuration/section/DAMDSSection.java:40-41).
WeightTransform = Callable[[np.ndarray, np.ndarray], np.ndarray]

DAMDS_BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("block_rows", T.IntegerType(), False),
        T.StructField("n_points", T.IntegerType(), False),
        T.StructField("dist", T.ArrayType(T.ShortType(), False), False),
        T.StructField("weight", T.ArrayType(T.ShortType(), False), True),
    ]
)


def damds_blocks(
    spark: SparkSession,
    dist: np.ndarray,
    weights: np.ndarray | None = None,
    n_blocks: int = 16,
) -> DataFrame:
    """Partition quantized int16 distance (+weight) matrices into row blocks.

    Driver-side constructor for matrices that already exist as numpy arrays
    (tests, small benchmarks). The scale constructors — no O(N²) driver
    materialization — are ``damds_blocks_from_files`` (side files, per-task
    offset reads) and ``damds_blocks_from_points`` (distributed pairwise
    kernel over a points DataFrame).
    """
    dist = np.asarray(dist, dtype=np.int16)
    if weights is not None:
        weights = np.asarray(weights, dtype=np.int16)
    n = dist.shape[0]
    rows = []
    for b, start, nrows in split_rows(n, n_blocks):
        w = None if weights is None else weights[start : start + nrows].ravel().tolist()
        rows.append((b, start, nrows, n, dist[start : start + nrows].ravel().tolist(), w))
    return place_blocks(spark.createDataFrame(rows, DAMDS_BLOCK_SCHEMA), len(rows))


def decoded_blocks(blocks: DataFrame) -> AbstractContextManager[RDD]:
    """The kernels' input: ``blocks`` decoded once into a loop-lifetime RDD
    of (block_id, start, int16 dist, int16 weight | None) numpy blocks, each
    (block_rows, n_points); released on exit (``array_blocks``)."""

    def encode(batches):
        for b in batches:
            ids, starts, nrows, npts = (
                b.column(c).to_pylist() for c in ("block_id", "start", "block_rows", "n_points")
            )
            dist, weight = b.column("dist"), b.column("weight")
            for i in range(b.num_rows):
                shape = (nrows[i], npts[i])
                w = weight[i]
                yield (
                    ids[i],
                    starts[i],
                    dist[i].values.to_numpy().reshape(shape),
                    w.values.to_numpy().reshape(shape) if w.is_valid else None,
                )

    return array_blocks(blocks, encode)


def _by_block(blocks: RDD, fn: Callable, *state) -> list:
    """``fn(start, dist, weight, *state)`` on every block in one job, gathered
    in block_id order (SURVEY A6)."""
    out = map_blocks(blocks, lambda b, *s: (b[0], fn(*b[1:], *s)), *state)
    return [v for _, v in sorted(out, key=lambda t: t[0])]


def _diag_mask(start: int, d: np.ndarray) -> np.ndarray:
    """True at the block's cells on the global diagonal."""
    return np.arange(d.shape[1])[None, :] == (start + np.arange(d.shape[0]))[:, None]


def _weights_of(
    dq: np.ndarray, wblock: np.ndarray | None, wt: WeightTransform | None = None
) -> np.ndarray:
    """Dequantized weights; default weight 1 where the distance exists.

    ``wt`` is the read-time weight transformation hook (the reference's
    TransformationFunction config, io/RowBlock.java:27-28,88-96 / SURVEY
    §2.9); it receives (weights, dequantized distances) per block.
    """
    if wblock is None:
        base = (dq >= 0).astype(np.float64)
    else:
        base = np.where(dq >= 0, wblock.astype(np.float64) * INV_SHORT_MAX, 0.0)
    if wt is not None:
        base = np.where(dq >= 0, wt(base, dq.astype(np.float64) * INV_SHORT_MAX), 0.0)
    return base


def sammon_transform(sammon_factor: float, avg_dist: float) -> WeightTransform:
    """Sammon weighting w → w / max(d, sammonFactor·avgDistance)
    (io/RowBlock.java:139-142, SURVEY F11)."""
    floor = sammon_factor * avg_dist

    def wt(w: np.ndarray, d: np.ndarray) -> np.ndarray:
        return w / np.maximum(d, floor)

    return wt


@dataclass
class MatrixStats:
    """DoubleStatistics (damds/Statistics.java) over non-missing cells."""

    count: int
    min: float
    max: float
    positive_min: float
    sum: float
    sum_sq: float


def _stats_block(start: int, d: np.ndarray, _w) -> tuple | None:
    v = (d.astype(np.float64) * INV_SHORT_MAX)[d >= 0]
    if v.size == 0:
        return None
    pos = v[v > 0]
    return (
        int(v.size),
        float(v.min()),
        float(v.max()),
        float(pos.min()) if pos.size else np.inf,
        float(v.sum()),
        float((v * v).sum()),
    )


def matrix_stats(blocks: RDD) -> MatrixStats:
    """Distributed count/min/max/positiveMin/sum/sumSq of dequantized cells."""
    parts = [p for p in _by_block(blocks, _stats_block) if p is not None]
    if not parts:  # every cell missing
        return MatrixStats(0, np.inf, -np.inf, np.inf, 0.0, 0.0)
    cnt, mn, mx, pmin, sm, ssq = zip(*parts)
    return MatrixStats(sum(cnt), min(mn), max(mx), min(pmin), sum(sm), sum(ssq))


def _smacof_block(
    start: int,
    d: np.ndarray,
    wblk: np.ndarray | None,
    xv: np.ndarray,
    diff: float,
    wt: WeightTransform | None,
    want_stress: bool,
    want_bz: bool,
) -> tuple[float | None, np.ndarray | None]:
    """One block's stress partial and/or its (block_rows, dim) slice of B(Z)·Z,
    both from the same (block_rows × N) distance pass."""
    dq = d.astype(np.float64) * INV_SHORT_MAX
    w = _weights_of(d, wblk, wt)
    xb = xv[start : start + d.shape[0]]
    dist_x = np.sqrt(
        np.maximum(
            (xb * xb).sum(1)[:, None] - 2.0 * (xb @ xv.T) + (xv * xv).sum(1)[None, :],
            0.0,
        )
    )
    sp = bz = None
    if want_stress:  # Stress.java:45-93 semantics
        heated = np.where(dq >= diff, dq - diff, 0.0)
        tmp = heated - dist_x
        sp = float((w * tmp * tmp * (d >= 0)).sum())
    if want_bz:  # BC.java:86-134 semantics
        ok = (dist_x >= 1e-10) & (dq > diff) & (d >= 0)
        with np.errstate(divide="ignore", invalid="ignore"):
            b = np.where(ok, -w * (dq - diff) / np.where(ok, dist_x, 1.0), 0.0)
        b = np.where(_diag_mask(start, d), 0.0, b)
        diag = -b.sum(axis=1)
        bz = b @ xv + diag[:, None] * xb
    return sp, bz


def _smacof(blocks: RDD, x: np.ndarray, t_cur: float, wt, want_stress: bool, want_bz: bool) -> list:
    dim = x.shape[1]
    diff = float(np.sqrt(2.0 * dim) * t_cur) if t_cur > 1e-10 else 0.0
    kernel = partial(_smacof_block, diff=diff, wt=wt, want_stress=want_stress, want_bz=want_bz)
    return _by_block(blocks, kernel, np.asarray(x, dtype=np.float64))


def stress(blocks: RDD, x: np.ndarray, t_cur: float, inv_sum_dsq: float, wt=None) -> float:
    """Stress σ(X) (damds/Stress.java:45-93, SURVEY F7).

    tmpD = (δ ≥ diff ? δ − diff : 0) − d_ij(X); σ = Σ w·tmpD² × invΣδ²;
    diff = √(2·dim)·tCur when tCur > 1e-10.
    """
    return float(sum(sp for sp, _ in _smacof(blocks, x, t_cur, wt, True, False))) * inv_sum_dsq


def stress_bofz(
    blocks: RDD, x: np.ndarray, t_cur: float, inv_sum_dsq: float, wt=None
) -> tuple[float, np.ndarray]:
    """Fused σ(X) + B(Z)·Z in ONE distributed job (one barrier, one pass).

    The SMACOF loop evaluates stress(X_i) at the end of iteration i and
    BofZ(X_i) at the start of iteration i+1 — same X, same t, same blocks,
    and both kernels are dominated by the identical (block_rows × N)
    distance computation. Fusing halves that work and removes one
    synchronization barrier per iteration (at 1000 executors, barriers are
    the anneal's critical path). Results are bitwise equal to running
    ``stress`` then ``bofz_bc``: all three run ``_smacof_block`` and sum in
    block_id order, so the numpy test oracles are unchanged.
    """
    parts = _smacof(blocks, x, t_cur, wt, True, True)
    return float(sum(sp for sp, _ in parts)) * inv_sum_dsq, np.vstack([bz for _, bz in parts])


def _v_block(start: int, d: np.ndarray, wblk, wt) -> np.ndarray:
    w = _weights_of(d, wblk, wt)
    return 1.0 + np.where(_diag_mask(start, d), 0.0, w).sum(axis=1)


def v_array(blocks: RDD, wt=None) -> np.ndarray:
    """v_i = 1 + Σ_{j≠i, δ_ij≥0, w_ij≠0} w_ij (damds/VArray.java:49-67, F8)."""
    return np.concatenate(_by_block(blocks, partial(_v_block, wt=wt)))


def bofz_bc(blocks: RDD, x: np.ndarray, t_cur: float, wt=None) -> np.ndarray:
    """BC = B(Z)·Z for the SMACOF update (damds/BC.java:86-134, F6).

    Off-diag B_ij = −w_ij·(δ_ij − diff)/d_ij(Z) when d_ij ≥ 1e-10 and
    diff < δ_ij, else 0; diagonal B_ii = −Σ_{j≠i} B_ij. Each block emits
    its (block_rows, dim) slice of B·Z; gathered ordered by block.
    """
    return np.vstack([bz for _, bz in _smacof(blocks, x, t_cur, wt, False, True)])


def _vp_block(start: int, d: np.ndarray, wblk, pv: np.ndarray, vv: np.ndarray, wt) -> np.ndarray:
    w = np.where(_diag_mask(start, d), 0.0, _weights_of(d, wblk, wt))
    nrows = d.shape[0]
    return vv[start : start + nrows, None] * pv[start : start + nrows] - w @ pv


def v_multiply(blocks: RDD, v, p: np.ndarray, wt=None) -> np.ndarray:
    """V·p where V = diag(v) with off-diag −w_ij (SURVEY F2).

    The reference computes this via MatrixUtils.matrixMultiplyWithThreadOffset
    (damds/CG.java:411-421); here each block does
    out = v_block·p_block − W_nodiag_block @ p in numpy and the slices are
    gathered ordered.

    ``v`` may be a numpy array or a handle from ``block_matrix.ship``: v is
    invariant across the whole anneal (it depends only on the weights), so
    ``damds`` ships it ONCE and every CG iteration reuses it — only the
    O(N·dim) search direction ``p`` ships per iteration.
    """
    return np.vstack(
        _by_block(blocks, partial(_vp_block, wt=wt), np.asarray(p, dtype=np.float64), v)
    )


def v_multiply_uniform(n_points: int, p: np.ndarray) -> np.ndarray:
    """Closed-form V×p for the UNIFORM-weight case (w ≡ 1, every pair
    observed — the ``damds_blocks_from_points`` / streaming shape).

    With uniform weights the SMACOF V matrix is fully structured:
    v_ii = 1 + (N−1) = N (``v_array``'s +1 regularization included),
    v_ij = −1, so (V·p)_i = (N+1)·p_i − Σ_j p_j — exact math, not an
    approximation. Detecting this case turns the distributed multiply
    inside every CG iteration (one cluster barrier + an O(N²)-weight
    block pass in the general case) into O(N·dim) driver arithmetic:
    **zero distributed jobs for the entire CG solve**. The weighted /
    Sammon paths (side-file fixtures, ``damds_embed``) are untouched —
    they still need the real V and take ``v_multiply``.
    """
    p = np.asarray(p, dtype=np.float64)
    return (n_points + 1.0) * p - p.sum(axis=0, keepdims=True)


def cg_solve(
    blocks: RDD,
    v,  # np.ndarray or a block_matrix.ship handle (see v_multiply)
    bc_target: np.ndarray,
    x0: np.ndarray,
    cg_iters: int = 20,
    cg_threshold: float = 1e-5,
    wt: WeightTransform | None = None,
    uniform_n: int | None = None,
) -> tuple[np.ndarray, int]:
    """Conjugate gradient for V·X = BC (damds/CG.java:78-142, F9/I2).

    X, r, p are (N, dim)-tiny driver arrays; the distributed step per
    iteration is the single V×p multiply — or, when ``uniform_n`` marks
    the uniform-weight case, the ``v_multiply_uniform`` closed form with
    no distributed work at all. Returns (X, iterations used).
    """

    def mult(vec: np.ndarray) -> np.ndarray:
        if uniform_n is not None:
            return v_multiply_uniform(uniform_n, vec)
        return v_multiply(blocks, v, vec, wt)

    x = np.asarray(x0, dtype=np.float64).copy()
    r = bc_target - mult(x)
    p = r.copy()
    r_tr = float((r * r).sum())
    test_end = r_tr * cg_threshold
    it = 0
    while it < cg_iters and r_tr > test_end:
        ap = mult(p)
        alpha = r_tr / float((p * ap).sum())
        x += alpha * p
        r -= alpha * ap
        r_tr_new = float((r * r).sum())
        beta = r_tr_new / r_tr
        r_tr = r_tr_new
        p = r + beta * p
        it += 1
    return x, it


@dataclass
class DamdsResult:
    points: np.ndarray
    stress: float
    temp_loops: int
    stress_iters: int


def damds(
    blocks: DataFrame,
    n_points: int,
    dim: int = 3,
    alpha: float = 0.95,
    t_min_factor: float = 0.5,
    max_temp_loops: int = 4,
    max_stress_loops: int = 20,
    stress_threshold: float = 1e-4,
    cg_iters: int = 8,
    cg_threshold: float = 1e-5,
    seed: int = 42,
    sammon_factor: float | None = None,
    x0: np.ndarray | None = None,
    uniform_weights: bool = False,
) -> DamdsResult:
    """Full deterministic-annealing SMACOF driver loop (SURVEY I3/F10).

    Temperature schedule: tMax = max/√(2·dim), tCur = α·tMax, cooled by α
    per temp loop, floored to 0 below tMin = tMinFactor·positiveMin/√(2·dim)
    (damds/DAMDS.java:121-152, 234-238). Inner loop iterates SMACOF updates
    (BC then CG) until relative stress change < threshold.

    ``blocks`` is decoded once into the anneal's RDD (``decoded_blocks``),
    the one cache of the int16 bytes: the constructors return lazy plans.
    ``matrix_stats`` is the pass that materializes the RDD; it and any
    shipped v are released when the anneal returns or raises.
    """
    with ExitStack() as release:
        rb = release.enter_context(decoded_blocks(blocks))
        stats = matrix_stats(rb)
        rng = np.random.RandomState(seed)
        x = rng.uniform(-0.5, 0.5, size=(n_points, dim))
        if x0 is not None:
            # warm start (incremental/streaming refinement): carry over known
            # rows, keep random init for rows beyond x0
            k = min(len(x0), n_points)
            x[:k] = np.asarray(x0, dtype=np.float64)[:k, :dim]
        if n_points < 2 or stats.sum_sq <= 0.0 or not np.isfinite(stats.positive_min):
            # degenerate matrix (single point / all-identical vectors): nothing
            # to embed — reachable from IncrementalMDS's first tiny micro-batch
            return DamdsResult(points=x, stress=0.0, temp_loops=0, stress_iters=0)
        wt = (
            sammon_transform(sammon_factor, stats.sum / stats.count)
            if sammon_factor is not None
            else None
        )
        inv_sum_dsq = 1.0 / stats.sum_sq
        sqrt2d = float(np.sqrt(2.0 * dim))
        t_max = stats.max / sqrt2d
        t_min = t_min_factor * stats.positive_min / sqrt2d
        t_cur = alpha * t_max

        # Uniform-weight blocks (from_points / streaming): V is fully
        # structured, so the CG multiply collapses to v_multiply_uniform —
        # skip building AND shipping v entirely (zero CG barriers).
        if uniform_weights and sammon_factor is None:
            uniform_n: int | None = n_points
            v_h = None
        else:
            uniform_n = None
            # v never changes across the anneal — shipped once for every CG
            # iteration of every stress loop
            v_h = ship(rb.context, v_array(rb, wt))
            release.callback(v_h.destroy)

        total_stress_iters = 0
        temp_loops = 0
        # Fused kernel: the initial stress evaluation shares its distance pass
        # with the first iteration's BofZ (same X, same t); within a temp loop
        # each end-of-iteration stress is fused with the NEXT iteration's BofZ.
        # One barrier per SMACOF iteration instead of two, and the dominant
        # O(rows·N) distance computation runs once instead of twice — float
        # semantics identical to the unfused kernels (see stress_bofz).
        sig, pending_bc = stress_bofz(rb, x, t_cur, inv_sum_dsq, wt)
        while True:
            for _ in range(max_stress_loops):
                bc = pending_bc if pending_bc is not None else bofz_bc(rb, x, t_cur, wt)
                pending_bc = None
                x, _ = cg_solve(rb, v_h, bc, x, cg_iters, cg_threshold, wt, uniform_n=uniform_n)
                new_sig, pending_bc = stress_bofz(rb, x, t_cur, inv_sum_dsq, wt)
                total_stress_iters += 1
                if sig > 0 and abs(sig - new_sig) / max(new_sig, 1e-30) < stress_threshold:
                    sig = new_sig
                    break
                sig = new_sig
            temp_loops += 1
            if t_cur == 0.0 or temp_loops >= max_temp_loops:
                break
            t_cur *= alpha
            if t_cur < t_min:
                t_cur = 0.0
            pending_bc = None  # t changed → the speculative BofZ is stale
    return DamdsResult(points=x, stress=sig, temp_loops=temp_loops, stress_iters=total_stress_iters)


def _quantize(d: np.ndarray, scale: float) -> np.ndarray:
    """d/scale·32767 rounded to int16 (damds/DAMDSUtils.java:8-9); a zero
    scale (every distance 0) keeps the zeros."""
    return np.round(d / scale * 32767.0).astype(np.int16) if scale > 0 else d.astype(np.int16)


def quantize_distances(dist: np.ndarray) -> tuple[np.ndarray, float]:
    """Normalize to [0,1] by max and quantize to int16 (F12 encode).

    Returns (int16 matrix, scale) with scale = original max.
    """
    mx = float(dist.max())
    return _quantize(dist, mx), mx


def _block_row(block_id, start, nrows, n_points, dist, weight=None) -> pd.DataFrame:
    """One DAMDS_BLOCK_SCHEMA row."""
    return pd.DataFrame(
        {
            "block_id": [block_id],
            "start": [start],
            "block_rows": [nrows],
            "n_points": [n_points],
            "dist": [dist.ravel()],
            "weight": [weight],
        }
    )


def _placed_specs(spark: SparkSession, specs: list[tuple[int, int, int]]) -> DataFrame:
    """The (block_id, start, block_rows) row-block ``specs`` as a table
    placed by ``place_blocks`` — every file and points builder's input and
    its one exchange. The ids may start past 0 (an append's fresh blocks):
    placement keys on the spec's position ``i``."""
    cols = ["i", "block_id", "start", "block_rows"]
    pdf = pd.DataFrame([(i, *spec) for i, spec in enumerate(specs)], columns=cols)
    return place_blocks(spark.createDataFrame(pdf), len(specs), key="i")


def damds_blocks_from_files(
    spark: SparkSession,
    dist_path: str,
    n_points: int,
    weight_path: str | None = None,
    byteorder: str = "big",
    n_blocks: int = 32,
) -> DataFrame:
    """Build the damds block table straight from headerless int16 files —
    the 100 TB construction path (no driver materialization).

    Each task reads ONLY its row-range's bytes from the distance file and,
    when given, the matching range of the weight file — the shuffle-free
    distance/weight pairing the reference does by re-reading side files per
    block (damds/Distances.java:71-106, SURVEY S8/J3). The driver holds
    just the block manifest. The table is a lazy plan: ``damds`` reads the
    files once into its decoded blocks.
    """
    import os

    from flink_mm_spark.sources.binary_matrix import _np_dtype

    dt = _np_dtype("int16", byteorder)
    expect = n_points * n_points * dt.itemsize
    for pth in [dist_path] + ([weight_path] if weight_path else []):
        actual = os.path.getsize(pth)
        if actual < expect:
            raise ValueError(f"{pth}: {actual} bytes < expected {expect}")

    def load(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                start, nrows = int(r.start), int(r.block_rows)
                count = nrows * n_points
                offset = start * n_points * dt.itemsize
                d = np.fromfile(dist_path, dtype=dt, count=count, offset=offset).astype(np.int16)
                w = (
                    np.fromfile(weight_path, dtype=dt, count=count, offset=offset).astype(np.int16)
                    if weight_path is not None
                    else None
                )
                yield _block_row(int(r.block_id), start, nrows, n_points, d, w)

    specs = _placed_specs(spark, split_rows(n_points, n_blocks))
    return specs.mapInPandas(load, DAMDS_BLOCK_SCHEMA)


# --- the points → distance-block builder ------------------------------------
# One set of kernels serves both ``damds_blocks_from_points`` (a whole corpus)
# and ``IncrementalDistanceBlocks`` (a corpus growing by micro-batches):
# gather the O(N·d) points to the driver (they ride in the kernels' closures,
# so block b's rows are pv[start:start+rows]), then per row block of a placed
# spec table one GEMM stripe (block_rows × N) born in its final home — a max
# pass for the quantization scale and a second pass that re-runs the GEMM and
# quantizes. Recomputing the GEMM is deliberate: at d ≤ a few hundred it is
# far cheaper than persisting N²×8 float bytes.


def _gather_points(
    points: DataFrame, start: int, n_rows: int, n_blocks: int, first_blk: int = 0
) -> np.ndarray:
    """(point_id, vec) rows with ids start..start+n_rows-1 → the (n_rows, d)
    matrix in id order on the driver. Any other id set fails, naming the
    first of the ``split_rows`` blocks (numbered from ``first_blk``) whose
    ids are wrong."""
    pdf = points.select("point_id", "vec").toPandas()
    order = np.argsort(pdf["point_id"].to_numpy())
    rel = pdf["point_id"].to_numpy()[order] - start
    for b, s, nr in split_rows(n_rows, n_blocks):
        got = rel[s:] if s + nr == n_rows else rel[s : s + nr]  # the last block owns extras
        if not np.array_equal(got, np.arange(s, s + nr)):
            raise ValueError(
                f"point ids of block {first_blk + b} are not {start + s}..{start + s + nr - 1}"
            )
    return np.vstack(pdf["vec"].to_numpy()[order]).astype(np.float64)


def _stripes(batches: Iterator[pd.DataFrame], pv: np.ndarray):
    """(block_id, start, block_rows, float distance stripe) per spec row:
    the block's rows of ``pv`` against all of ``pv`` in one GEMM."""
    sq = (pv * pv).sum(1)
    for pdf in batches:
        for row in pdf.itertuples(index=False):
            start, nrows = int(row.start), int(row.block_rows)
            ra = pv[start : start + nrows]
            d2 = sq[start : start + nrows][:, None] - 2.0 * (ra @ pv.T) + sq[None, :]
            yield int(row.block_id), start, nrows, np.sqrt(np.maximum(d2, 0.0))


def _stripe_max(specs: DataFrame, pv: np.ndarray) -> float:
    """The largest distance in the stripes of the placed ``specs`` against
    the gathered points ``pv`` (one job)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for *_, d in _stripes(batches, pv):
            yield pd.DataFrame({"cmax": [float(d.max()) if d.size else 0.0]})

    return specs.mapInPandas(kernel, "cmax double").agg(F.max("cmax")).collect()[0][0] or 0.0


def _quantized_blocks(specs: DataFrame, pv: np.ndarray, scale: float, n_points: int) -> DataFrame:
    """The stripes of the placed ``specs`` against ``pv`` quantized at
    ``scale`` into DAMDS_BLOCK_SCHEMA rows, one per spec, in place (narrow)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for blk, start, nrows, d in _stripes(batches, pv):
            yield _block_row(blk, start, nrows, n_points, _quantize(d, scale))

    return specs.mapInPandas(kernel, DAMDS_BLOCK_SCHEMA)


def damds_blocks_from_points(
    spark: SparkSession,
    points: DataFrame,
    n_points: int,
    id_col: str = "point_id",
    vec_col: str = "vec",
    n_blocks: int = 16,
) -> DataFrame:
    """Build the quantized distance-block table from a points DataFrame via a
    DISTRIBUTED pairwise kernel — the O(N²) matrix never exists on the driver
    (contrast ``damds_blocks``).

    The builder's kernels above with the scale set to the global max
    (damds/DAMDSUtils.java:8-9 semantics, ``quantize_distances``): one
    gather of the points, one max pass over the placed spec table (its one
    exchange), and a lazy quantize pass that ``damds`` runs once into its
    decoded blocks. Driver memory: the N×d matrix, which rides in the
    kernels' closures, and one scalar. ``points[id_col]`` must be exactly
    0..n_points-1 (row index); other ids fail the build.
    """
    pts = points.select(F.col(id_col).alias("point_id"), F.col(vec_col).alias("vec"))
    pv = _gather_points(pts, 0, n_points, n_blocks)
    specs = _placed_specs(spark, split_rows(n_points, n_blocks))
    return _quantized_blocks(specs, pv, _stripe_max(specs, pv), n_points)


class IncrementalDistanceBlocks:
    """Distributed incremental N×N quantized distance matrix (streaming MDS).

    Built from the same kernels as ``damds_blocks_from_points``, but
    instead of rebuilding all O(N²) cells per micro-batch, ``append``
    extends the existing state with the b new points' stripes only —
    steady-state distance work is O(N·b):

    - every EXISTING row block gains b new columns via a narrow
      ``mapInPandas`` over the checkpointed blocks (the block's own row
      vectors come from the driver's points, which the append ships in its
      kernels' closures anyway, so no join and no shuffle ever touches the
      O(N²) arrays);
    - the new rows become fresh row blocks (ids append after all previous
      rows, so block_id order stays start order — the invariant every
      ordered gather relies on), quantized by the shared kernel.

    Quantization-scale changes (cells store d/max·32767): the new cells'
    max is measured first; if it exceeds the current scale every stored
    cell is stale, so the state REBUILDS over every block's spec — bitwise
    identical to a from-scratch construction because scale = global max
    either way. On real corpora the max stabilizes after the first batches,
    so steady state takes the O(N·b) append path (``last_mode`` exposes
    which path ran; the equality-vs-from-scratch property is pinned in
    tests/test_damds.py).

    State: ``points``, the (N, d) corpus on the driver, each block's
    (block_id, start, block_rows) spec, and ``blocks``, localCheckpoint'ed
    per batch to truncate lineage and outlive each anneal. An append
    gathers only its b new rows; it releases the previous generation of
    ``blocks`` (``session.release``) once the new one is materialized, and
    one whose points fail the build leaves the state as it was. The owner
    frees the last generation with ``release(inc.blocks)``. The trade: the
    driver holds N·d·8 bytes between appends (never the O(N²) matrix); its
    peak is the same N·d matrix, which the kernels carry in their closures.
    """

    def __init__(self, n_blocks_hint: int = 8):
        self.n_blocks_hint = n_blocks_hint
        self.points: np.ndarray | None = None
        self.specs: list[tuple[int, int, int]] = []
        self.blocks: DataFrame | None = None
        self.scale = 0.0
        self.n = 0
        self.last_mode: str | None = None

    @property
    def n_blk(self) -> int:
        return len(self.specs)

    def append(self, ids_df: DataFrame, b: int) -> None:
        """Absorb b new points (point_id = n .. n+b-1) into the state."""
        spark = ids_df.sparkSession
        n_old, n_new = self.n, self.n + b
        n_sub = max(1, min(self.n_blocks_hint, b // 16))
        new_pts = _gather_points(ids_df, n_old, b, n_sub, self.n_blk)
        pv = new_pts if self.points is None else np.vstack([self.points, new_pts])
        new_specs = [(self.n_blk + i, n_old + s, nr) for i, s, nr in split_rows(b, n_sub)]
        specs = self.specs + new_specs
        fresh = _placed_specs(spark, new_specs)
        # the new rows' stripes contain every new cell (new×all; old×new is
        # its transpose), so their max decides whether the scale grows
        scale = max(self.scale, _stripe_max(fresh, pv))

        # scale == 0 (all-identical corpus so far) also rebuilds: the append
        # quantizer divides by scale, and the degenerate state is all-zero
        # cells anyway
        if self.blocks is None or scale > self.scale or scale <= 0.0:
            blocks = _quantized_blocks(_placed_specs(spark, specs), pv, scale, n_new)
            mode = "rebuild"
        else:

            def extend(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                newv = pv[n_old:]
                new_sq = (newv * newv).sum(1)
                sq = (pv * pv).sum(1)  # once per task, not per block row
                for pdf in batches:
                    for row in pdf.itertuples(index=False):
                        start, nrows = int(row.start), int(row.block_rows)
                        ra = pv[start : start + nrows]
                        d2 = (
                            sq[start : start + nrows][:, None]
                            - 2.0 * (ra @ newv.T)
                            + new_sq[None, :]
                        )
                        q_app = _quantize(np.sqrt(np.maximum(d2, 0.0)), scale)
                        old = np.asarray(row.dist, dtype=np.int16).reshape(nrows, n_old)
                        yield _block_row(
                            int(row.block_id), start, nrows, n_new, np.hstack([old, q_app])
                        )

            fresh_blocks = _quantized_blocks(fresh, pv, scale, n_new)
            blocks = self.blocks.mapInPandas(extend, DAMDS_BLOCK_SCHEMA).unionByName(fresh_blocks)
            mode = "append"

        # a union holds the partitions of all its pieces; place_blocks merges
        # them back to the rule's count without a shuffle
        blocks_ck = place_blocks(blocks, len(specs), key=None).localCheckpoint(eager=True)
        release(self.blocks)  # the previous generation
        self.blocks = blocks_ck
        self.points = pv
        self.specs = specs
        self.scale = scale
        self.n = n_new
        self.last_mode = mode
