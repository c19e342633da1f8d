"""DA-MDS kernels (stress/BofZ/V-array/CG) vs local numpy mirrors.

The mirrors re-derive the SMACOF math independently (dense numpy over the
dequantized matrices) — if a distributed kernel disagrees, the block
partitioning or missing-value handling is wrong.
"""

from __future__ import annotations

import numpy as np
import pytest

from flink_mm_spark.algos import damds as D
from flink_mm_spark.session import release
from tests.conftest import persisted_rdds, spark_work

N = 60
DIM = 3


@pytest.fixture(scope="module")
def problem():
    rng = np.random.RandomState(3)
    pts = rng.standard_normal((N, 5))
    dist = np.sqrt(((pts[:, None, :] - pts[None, :, :]) ** 2).sum(-1))
    q, _ = D.quantize_distances(dist)
    # knock out ~5% of off-diagonal pairs as missing (negative shorts),
    # symmetric, mirroring the reference's negative-short convention
    mask = rng.random((N, N)) < 0.05
    mask = np.triu(mask, 1)
    mask = mask | mask.T
    q = q.copy()
    q[mask] = -1
    # weights: quantized 1.0 where present, 0 where missing
    w = np.where(q >= 0, 32767, 0).astype(np.int16)
    x = rng.uniform(-0.5, 0.5, (N, DIM))
    return q, w, x


@pytest.fixture(scope="module")
def blocks_df(spark, problem):
    q, w, _ = problem
    return D.damds_blocks(spark, q, w, n_blocks=5)


@pytest.fixture(scope="module")
def blocks(blocks_df):
    """The kernels' input: the block DataFrame decoded into numpy blocks."""
    with D.decoded_blocks(blocks_df) as rdd:
        yield rdd


def _dq(q):
    return q.astype(np.float64) * D.INV_SHORT_MAX


def _wm(q, w):
    return np.where(q >= 0, w.astype(np.float64) * D.INV_SHORT_MAX, 0.0)


def test_matrix_stats(blocks, problem):
    q, _, _ = problem
    v = _dq(q)[q >= 0]
    s = D.matrix_stats(blocks)
    assert s.count == v.size
    assert s.min == v.min()
    assert s.max == v.max()
    assert s.positive_min == v[v > 0].min()
    np.testing.assert_allclose(s.sum, v.sum(), rtol=1e-12)
    np.testing.assert_allclose(s.sum_sq, (v * v).sum(), rtol=1e-12)


def test_v_array(blocks, problem):
    q, w, _ = problem
    wm = _wm(q, w)
    np.fill_diagonal(wm, 0.0)
    expect = 1.0 + wm.sum(axis=1)
    np.testing.assert_allclose(D.v_array(blocks), expect, rtol=1e-12)


def _numpy_stress(q, w, x, t_cur):
    dq, wm = _dq(q), _wm(q, w)
    diff = np.sqrt(2.0 * DIM) * t_cur if t_cur > 1e-10 else 0.0
    dx = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    heated = np.where(dq >= diff, dq - diff, 0.0)
    tmp = heated - dx
    return (wm * tmp * tmp * (q >= 0)).sum()


@pytest.mark.parametrize("t_cur", [0.0, 0.05])
def test_stress(blocks, problem, t_cur):
    q, w, x = problem
    sumsq = (_dq(q)[q >= 0] ** 2).sum()
    got = D.stress(blocks, x, t_cur, 1.0 / sumsq)
    want = _numpy_stress(q, w, x, t_cur) / sumsq
    np.testing.assert_allclose(got, want, rtol=1e-9)


def _numpy_bofz_bc(q, w, x, t_cur):
    dq, wm = _dq(q), _wm(q, w)
    diff = np.sqrt(2.0 * DIM) * t_cur if t_cur > 1e-10 else 0.0
    dx = np.sqrt(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    ok = (dx >= 1e-10) & (dq > diff) & (q >= 0)
    b = np.where(ok, -wm * (dq - diff) / np.where(ok, dx, 1.0), 0.0)
    np.fill_diagonal(b, 0.0)
    np.fill_diagonal(b, -b.sum(axis=1))
    return b @ x


@pytest.mark.parametrize("t_cur", [0.0, 0.05])
def test_bofz_bc(blocks, problem, t_cur):
    q, w, x = problem
    got = D.bofz_bc(blocks, x, t_cur)
    want = _numpy_bofz_bc(q, w, x, t_cur)
    np.testing.assert_allclose(got, want, rtol=1e-9)


@pytest.mark.parametrize("t_cur", [0.0, 0.05])
def test_stress_bofz_fusion_bitwise_equals_unfused(blocks, problem, t_cur):
    """The fused kernel must reproduce stress + bofz_bc EXACTLY (the anneal
    loop relies on the fusion being a pure barrier optimization)."""
    q, w, x = problem
    sumsq = (_dq(q)[q >= 0] ** 2).sum()
    sig, bc = D.stress_bofz(blocks, x, t_cur, 1.0 / sumsq)
    np.testing.assert_array_equal(bc, D.bofz_bc(blocks, x, t_cur))
    # both sum the identical per-block partials in block_id order
    assert sig == D.stress(blocks, x, t_cur, 1.0 / sumsq)


def _numpy_v(q, w):
    wm = _wm(q, w)
    np.fill_diagonal(wm, 0.0)
    v_mat = -wm
    np.fill_diagonal(v_mat, 1.0 + wm.sum(axis=1))
    return v_mat


def test_v_multiply(blocks, problem):
    q, w, x = problem
    v = D.v_array(blocks)
    got = D.v_multiply(blocks, v, x)
    want = _numpy_v(q, w) @ x
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_cg_solves_system(blocks, problem):
    q, w, x = problem
    v = D.v_array(blocks)
    target = _numpy_bofz_bc(q, w, x, 0.05)
    # V = I + Laplacian of a near-complete graph -> condition ~ N, so CG
    # needs O(sqrt(N) * digits) iterations; 100 is ample for N=60
    sol, iters = D.cg_solve(blocks, v, target, x, cg_iters=100, cg_threshold=1e-16)
    v_mat = _numpy_v(q, w)
    np.testing.assert_allclose(v_mat @ sol, target, rtol=1e-4, atol=1e-6)
    assert 0 < iters <= 100


@pytest.mark.slow
def test_damds_full_deterministic_and_converges(spark, problem):
    q, w, _ = problem
    blocks = D.damds_blocks(spark, q, w, n_blocks=5)
    r1 = D.damds(blocks, N, max_temp_loops=2, max_stress_loops=3, cg_iters=6)
    r2 = D.damds(blocks, N, max_temp_loops=2, max_stress_loops=3, cg_iters=6)
    np.testing.assert_array_equal(r1.points, r2.points)  # deterministic
    # stress at the solution is far below the random-layout stress
    with D.decoded_blocks(blocks) as rb:
        stats = D.matrix_stats(rb)
        rng_stress = D.stress(rb, np.random.RandomState(0).uniform(-0.5, 0.5, (N, DIM)),
                              0.0, 1.0 / stats.sum_sq)
    assert r1.stress < rng_stress * 0.8


def test_sammon_weight_transform(spark, problem, blocks, blocks_df):
    """Sammon weighting (F11, io/RowBlock.java:139-142) applied as the
    read-time weight transform changes v_array exactly like the dense
    numpy mirror w / max(d, factor*avg)."""
    q, w, _ = problem
    dq = q.astype(np.float64) * D.INV_SHORT_MAX
    wq = np.where(q >= 0, w.astype(np.float64) * D.INV_SHORT_MAX, 0.0)
    present = q >= 0
    avg = dq[present].sum() / present.sum()
    factor = 0.3
    wt = D.sammon_transform(factor, avg)

    got = D.v_array(blocks, wt)
    w_sam = np.where(present, wq / np.maximum(dq, factor * avg), 0.0)
    np.fill_diagonal(w_sam, 0.0)
    want = 1.0 + w_sam.sum(axis=1)
    np.testing.assert_allclose(got, want, rtol=1e-10)
    # and the full anneal accepts the hook end-to-end
    res = D.damds(blocks_df, len(q), dim=DIM, max_temp_loops=1, max_stress_loops=1, sammon_factor=factor)
    assert np.isfinite(res.stress)


def test_blocks_from_files_match_driver_blocks(spark, problem, blocks, tmp_path):
    """File-loaded blocks (per-task offset reads of dist+weight int16 files)
    produce identical kernels to driver-built blocks."""
    from flink_mm_spark.sources.binary_matrix import write_matrix_file

    q, w, x = problem
    dp, wp = str(tmp_path / "dist.bin"), str(tmp_path / "w.bin")
    write_matrix_file(dp, q, "int16", "big")
    write_matrix_file(wp, w, "int16", "big")
    fb = D.damds_blocks_from_files(spark, dp, len(q), wp, n_blocks=7)
    with D.decoded_blocks(fb) as fbr:
        np.testing.assert_allclose(D.v_array(fbr), D.v_array(blocks), rtol=1e-12)
        s1 = D.stress(fbr, x, 0.05, 1.0)
    s2 = D.stress(blocks, x, 0.05, 1.0)
    assert s1 == pytest.approx(s2, rel=1e-12)


def test_blocks_from_points_distributed_construction(spark):
    """damds_blocks_from_points must reproduce the quantized matrix exactly
    (GEMM distance formula + distributed max as the quantization scale)
    without any O(N²) driver array, across uneven block splits."""
    import pandas as pd

    rng = np.random.RandomState(11)
    n = 37  # deliberately not divisible by n_blocks
    pts = rng.standard_normal((n, 5))
    pdf = pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "vec": list(pts)})
    pts_df = spark.createDataFrame(pdf, "point_id long, vec array<double>")
    fb = D.damds_blocks_from_points(spark, pts_df, n_points=n, n_blocks=5)
    rows = fb.select("block_id", "start", "block_rows", "n_points", "dist").collect()
    assert sorted(r["block_id"] for r in rows) == [0, 1, 2, 3, 4]
    got = np.vstack(
        [
            np.asarray(r["dist"], dtype=np.int16).reshape(r["block_rows"], n)
            for r in sorted(rows, key=lambda r: r["block_id"])
        ]
    )
    # numpy mirror with the SAME contraction (GEMM form), then quantize
    d2 = (pts * pts).sum(1)[:, None] - 2.0 * (pts @ pts.T) + (pts * pts).sum(1)[None, :]
    dist = np.sqrt(np.maximum(d2, 0.0))
    want, _ = D.quantize_distances(dist)
    np.testing.assert_array_equal(got, want)
    # and the anneal runs end-to-end on these blocks
    res = D.damds(fb, n, dim=2, max_temp_loops=1, max_stress_loops=1)
    assert np.isfinite(res.stress)


@pytest.mark.parametrize("path", ["damds_blocks_from_points", "IncrementalDistanceBlocks.append"])
def test_blocks_from_points_rejects_ids_that_are_not_row_indices(spark, path):
    """Point ids must be exactly the row indices: a missing id with a
    duplicate in its place fails the build instead of shifting rows, and
    the failed build leaves the persisted RDDs and the CacheManager as it
    found them (an append over existing state also keeps that state)."""
    import pandas as pd

    def points(ids):
        pdf = pd.DataFrame({"point_id": np.asarray(ids, dtype=np.int64), "vec": list(np.eye(6))})
        return spark.createDataFrame(pdf, "point_id long, vec array<double>")

    bad = [0, 1, 2, 3, 4, 4]  # 5 missing, 4 twice
    inc = None
    if path == "damds_blocks_from_points":
        match = "point ids of block 1 are not 3..5"

        def build():
            D.damds_blocks_from_points(spark, points(bad), n_points=6, n_blocks=2)
    else:
        inc = D.IncrementalDistanceBlocks(n_blocks_hint=2)
        inc.append(points(range(6)), 6)  # state of one block; the bad batch is block 1
        match = "point ids of block 1 are not 6..11"

        def build():
            inc.append(points([6 + i for i in bad]), 6)

    cache = spark._jsparkSession.sharedState().cacheManager()
    start = (persisted_rdds(spark), cache.numCachedEntries())
    try:
        with pytest.raises(Exception, match=match):
            build()
        assert (persisted_rdds(spark), cache.numCachedEntries()) == start
        assert inc is None or (inc.n, inc.n_blk) == (6, 1)
    finally:
        if inc is not None:
            release(inc.blocks)


@pytest.mark.parametrize(
    "name", ["damds_blocks", "damds_blocks_from_files", "damds_blocks_from_points"]
)
def test_constructors_cache_nothing(spark, tmp_path, name):
    """A constructor returns a lazy plan: the anneal's decode
    (``decoded_blocks``) is the one cache of the int16 bytes, so building a
    table leaves the persisted RDDs and the CacheManager as it found them."""
    import pandas as pd

    from flink_mm_spark.sources.binary_matrix import write_matrix_file

    n = 12
    rng = np.random.RandomState(2)
    cache = spark._jsparkSession.sharedState().cacheManager()
    start = (persisted_rdds(spark), cache.numCachedEntries())
    if name == "damds_blocks":
        D.damds_blocks(spark, rng.randint(0, 99, (n, n)), n_blocks=3)
    elif name == "damds_blocks_from_files":
        path = str(tmp_path / "d.bin")
        write_matrix_file(path, rng.randint(0, 99, (n, n)), "int16")
        D.damds_blocks_from_files(spark, path, n, n_blocks=3)
    else:
        pdf = pd.DataFrame({"point_id": np.arange(n), "vec": list(rng.standard_normal((n, 3)))})
        pts = spark.createDataFrame(pdf, "point_id long, vec array<double>")
        D.damds_blocks_from_points(spark, pts, n, n_blocks=3)
    assert (persisted_rdds(spark), cache.numCachedEntries()) == start


def test_degenerate_single_point(spark):
    """A 1x1 (or all-identical) distance matrix must return a finite
    embedding, not ZeroDivisionError (IncrementalMDS first micro-batch)."""
    blocks = D.damds_blocks(spark, np.zeros((1, 1), dtype=np.int16), n_blocks=1)
    res = D.damds(blocks, 1, dim=2)
    assert res.points.shape == (1, 2) and np.isfinite(res.points).all()
    assert res.stress == 0.0 and res.stress_iters == 0


def test_config_properties_parity(spark, problem, blocks_df, tmp_path):
    """A reference-format config.properties drives the anneal unchanged
    (damds/configuration/section/DAMDSSection.java key set)."""
    from flink_mm_spark.algos.damds_config import (
        damds_from_config,
        damds_kwargs,
        load_properties,
    )

    q, _, _ = problem
    cfg_path = tmp_path / "config.properties"
    cfg_path.write_text(
        "# reference-style config\n"
        f"NumberDataPoints={len(q)}\n"
        "TargetDimension=3\n"
        "CGIterations=8\n"
        "Threshold = 0.0001\n"
        "IsSammon = false\n"
        "Alpha = .5\n"
        "TminFactor = 0.5\n"
        "CGErrorThreshold = 0.0001\n"
        "MaxStressLoops = 2\n"
        "MaxTempLoops = 4\n"
        "OutputFolder=damds_out\n"  # layout keys accepted and ignored
        'OutFile="final.txt"\n'
    )
    cfg = load_properties(str(cfg_path))
    kw = damds_kwargs(cfg)
    assert kw == {
        "dim": 3,
        "alpha": 0.5,
        "t_min_factor": 0.5,
        "max_temp_loops": 4,
        "max_stress_loops": 2,
        "stress_threshold": 0.0001,
        "cg_iters": 8,
        "cg_threshold": 0.0001,
    }
    res = damds_from_config(blocks_df, cfg)
    assert res.points.shape == (len(q), 3)
    assert np.isfinite(res.stress)


# --- incremental distance blocks (streaming-MDS state, r3) -----------------


def _assemble(blocks_df, n):
    """Reassemble the full N×N int16 matrix from row blocks (layout-free)."""
    m = np.zeros((n, n), dtype=np.int16)
    seen = 0
    for r in blocks_df.collect():
        s, nr = r["start"], r["block_rows"]
        assert r["n_points"] == n
        m[s : s + nr] = np.asarray(r["dist"], dtype=np.int16).reshape(nr, n)
        seen += nr
    assert seen == n
    return m


def test_incremental_blocks_bitwise_match_from_scratch(spark):
    """Three appends (rebuild, append, append) produce the EXACT block state
    a from-scratch damds_blocks_from_points build computes on the full
    corpus — the quantization scale equals the global max either way, and
    the appended cells run the identical stripe arithmetic."""
    import pandas as pd

    rng = np.random.RandomState(5)
    n = 60
    pts = rng.standard_normal((n, 4))
    pts[0, :] = 8.0
    pts[1, :] = -8.0  # the global max pair lands in batch 1 → appends later
    inc = D.IncrementalDistanceBlocks(n_blocks_hint=4)
    modes = []
    for s, e in [(0, 24), (24, 40), (40, 60)]:
        ids = spark.createDataFrame(
            pd.DataFrame({"point_id": np.arange(s, e, dtype=np.int64), "vec": list(pts[s:e])}),
            "point_id long, vec array<double>",
        )
        inc.append(ids, e - s)
        modes.append(inc.last_mode)
    assert modes == ["rebuild", "append", "append"]
    assert inc.n == n

    full = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "vec": list(pts)}),
        "point_id long, vec array<double>",
    )
    ref = D.damds_blocks_from_points(spark, full, n_points=n, n_blocks=4)
    assert np.array_equal(_assemble(inc.blocks, n), _assemble(ref, n))
    # a batch that GROWS the max must force the exact rebuild path
    far = np.full((1, 4), 20.0)
    ids = spark.createDataFrame(
        pd.DataFrame({"point_id": [n], "vec": list(far)}), "point_id long, vec array<double>"
    )
    inc.append(ids, 1)
    assert inc.last_mode == "rebuild"
    full2 = spark.createDataFrame(
        pd.DataFrame(
            {"point_id": np.arange(n + 1, dtype=np.int64), "vec": list(np.vstack([pts, far]))}
        ),
        "point_id long, vec array<double>",
    )
    ref2 = D.damds_blocks_from_points(spark, full2, n_points=n + 1, n_blocks=4)
    assert np.array_equal(_assemble(inc.blocks, n + 1), _assemble(ref2, n + 1))


def test_incremental_blocks_free_old_generations(spark):
    """Each append frees the previous generation's checkpoint RDDs (plain
    unpersist is a no-op for checkpoints — ADVICE r2); storage must not
    accumulate one O(N²) copy per micro-batch."""
    import pandas as pd

    rng = np.random.RandomState(9)
    pts = rng.standard_normal((48, 3))
    pts[0, :] = 9.0
    pts[1, :] = -9.0
    inc = D.IncrementalDistanceBlocks(n_blocks_hint=2)

    def rdd_id(df):
        return df._jdf.queryExecution().analyzed().rdd().id()

    prev_ids = set()
    for s, e in [(0, 16), (16, 32), (32, 48)]:
        ids = spark.createDataFrame(
            pd.DataFrame({"point_id": np.arange(s, e, dtype=np.int64), "vec": list(pts[s:e])}),
            "point_id long, vec array<double>",
        )
        inc.append(ids, e - s)
        live = {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
        assert not (prev_ids & live), "old checkpoint generation still cached"
        prev_ids = {rdd_id(inc.blocks)}
        assert prev_ids <= live  # the current generation IS materialized


def test_v_multiply_uniform_matches_distributed(spark):
    """The closed-form uniform V×p (r3: zero CG barriers on from-points
    blocks) must agree with the distributed v_multiply on the same
    uniform-weight block table — same math, different summation order."""
    import pandas as pd

    rng = np.random.RandomState(7)
    n = 23
    pts = rng.standard_normal((n, 4))
    pdf = pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "vec": list(pts)})
    pts_df = spark.createDataFrame(pdf, "point_id long, vec array<double>")
    fb = D.damds_blocks_from_points(spark, pts_df, n_points=n, n_blocks=3)
    with D.decoded_blocks(fb) as fbr:
        v = D.v_array(fbr)
        np.testing.assert_allclose(v, np.full(n, float(n)), rtol=0, atol=0)
        p = rng.standard_normal((n, 2))
        got = D.v_multiply_uniform(n, p)
        want = D.v_multiply(fbr, v, p)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)
    # the full anneal on the uniform fast path agrees with the
    # distributed-multiply anneal to float-reordering precision
    r_fast = D.damds(fb, n, dim=2, max_temp_loops=1, max_stress_loops=2,
                     uniform_weights=True)
    r_dist = D.damds(fb, n, dim=2, max_temp_loops=1, max_stress_loops=2)
    np.testing.assert_allclose(r_fast.stress, r_dist.stress, rtol=1e-8)
    np.testing.assert_allclose(r_fast.points, r_dist.points, atol=1e-6)


def test_temperature_loop_plans_once(spark):
    """One more temperature loop of the uniform anneal is one BofZ pass and
    one fused stress pass over the loop-lifetime blocks: two jobs, no SQL
    execution."""
    import pandas as pd

    rng = np.random.RandomState(4)
    n = 30
    pdf = pd.DataFrame({"point_id": np.arange(n, dtype=np.int64), "vec": list(rng.standard_normal((n, 5)))})
    fb = D.damds_blocks_from_points(spark, spark.createDataFrame(pdf, "point_id long, vec array<double>"), n_points=n, n_blocks=3)
    res = {}

    def run(loops):
        res[loops] = D.damds(fb, n, max_temp_loops=loops, max_stress_loops=1, uniform_weights=True)

    jobs2, sql2 = spark_work(spark, lambda: run(2))
    jobs3, sql3 = spark_work(spark, lambda: run(3))
    assert (res[2].temp_loops, res[3].temp_loops) == (2, 3)
    assert (jobs3 - jobs2, sql3 - sql2) == (2, 0)


def test_anneal_blocks_released_on_return_and_raise(spark, blocks_df):
    start = persisted_rdds(spark)
    D.damds(blocks_df, N, dim=DIM, max_temp_loops=1, max_stress_loops=1)
    assert persisted_rdds(spark) == start
    with pytest.raises(ValueError):  # an x0 of the wrong dimension
        D.damds(blocks_df, N, dim=DIM, max_temp_loops=1, x0=np.zeros((N, DIM - 1)))
    assert persisted_rdds(spark) == start
