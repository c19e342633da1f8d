"""Distributed k-means vs the numpy oracle (identical semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from flink_mm_spark.algos.kmeans import (
    _argmin_f32,
    assign_clusters,
    kmeans,
    kmeans_numpy_oracle,
    lloyd_step,
)
from tests.conftest import SF_DIR, persisted_rdds, spark_work


def _points_df(spark, data):
    return spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(data)], "id long, features array<double>"
    )


def test_kmeans_matches_numpy_oracle(spark):
    rng = np.random.RandomState(5)
    data = np.vstack(
        [rng.standard_normal((80, 4)) + c * 5.0 for c in range(3)]
    )
    init = data[:3].copy()
    got = kmeans(_points_df(spark, data), init, n_iters=6)
    want = kmeans_numpy_oracle(data, init, n_iters=6)
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_assign_clusters(spark):
    rng = np.random.RandomState(6)
    data = rng.standard_normal((50, 3))
    cents = data[:4].copy()
    rows = assign_clusters(_points_df(spark, data), cents).orderBy("id").collect()
    d2 = ((data[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    want = np.argmin(d2, axis=1)
    got = np.array([r["cluster"] for r in rows])
    np.testing.assert_array_equal(got, want)
    # the loop's own assignment kernel: no second argmin to disagree at ties
    cents32 = cents.astype(np.float32)
    np.testing.assert_array_equal(got, _argmin_f32(data, cents32, (cents32 * cents32).sum(1)[None, :]))


def test_passes_plan_once(spark):
    """Each Lloyd pass is one RDD job over the loop-lifetime blocks: three
    more passes add exactly three jobs and no SQL execution."""
    rng = np.random.RandomState(8)
    data = rng.standard_normal((200, 2))
    df = _points_df(spark, data)
    jobs2, sql2 = spark_work(spark, lambda: kmeans(df, data[:4], n_iters=2))
    jobs5, sql5 = spark_work(spark, lambda: kmeans(df, data[:4], n_iters=5))
    assert (jobs5 - jobs2, sql5 - sql2) == (3, 0)


def test_loop_blocks_released_on_return_and_raise(spark):
    rng = np.random.RandomState(9)
    data = rng.standard_normal((100, 2))
    df = _points_df(spark, data)
    start = persisted_rdds(spark)
    kmeans(df, data[:3], n_iters=2)
    lloyd_step(df, data[:3])
    assert persisted_rdds(spark) == start
    for call in (lambda c: kmeans(df, c, n_iters=2), lambda c: lloyd_step(df, c)):
        with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
            call(np.zeros((3, 3)))  # 3-d centroids for 2-d points fail the first pass
        assert persisted_rdds(spark) == start


def test_empty_cluster_stays_zero(spark):
    """Reference I4: a cluster that captures no points re-emits as zeros
    (kmeans/KMeansOriginal.java:119-142)."""
    data = np.array([[0.0, 0.0], [1.0, 1.0], [0.5, 0.5]])
    init = np.array([[0.5, 0.5], [100.0, 100.0]])  # second centroid captures nothing
    got = kmeans(_points_df(spark, data), init, n_iters=1)
    np.testing.assert_allclose(got[0], data.mean(axis=0))
    np.testing.assert_array_equal(got[1], [0.0, 0.0])


def test_kmeans_from_text_files_end_to_end(spark, tmp_path):
    """The reference's full KMeansBlock program shape (kmeans/KMeansBlock.
    java:16-116): text points file + text centroids file → parse → iterate
    → final centroids, vs the numpy oracle on the same inputs."""
    import numpy as np

    from flink_mm_spark.algos.kmeans import kmeans, kmeans_numpy_oracle
    from flink_mm_spark.sources.text_points import read_centroids_text, read_points_text

    rng = np.random.RandomState(17)
    pts = np.vstack(
        [rng.standard_normal((80, 2)) + c for c in ([0, 0], [8, 8], [-8, 6])]
    )
    init = pts[::60][:4]
    ppath, cpath = tmp_path / "pts.txt", tmp_path / "cents.txt"
    ppath.write_text("\n".join(" ".join(repr(v) for v in r) for r in pts) + "\n")
    cpath.write_text(
        "\n".join(f"{i + 1} " + " ".join(repr(v) for v in r) for i, r in enumerate(init)) + "\n"
    )

    points_df = read_points_text(spark, str(ppath), 2)
    cents = read_centroids_text(spark, str(cpath), 2).orderBy("id").collect()
    init_arr = np.array([r["features"] for r in cents])

    got = kmeans(points_df, init_arr, n_iters=5)
    want = kmeans_numpy_oracle(pts, init_arr, n_iters=5)
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_kmeans_higher_dims(spark):
    """d=8 (the reference generator supports 2-100d): distributed loop
    matches the numpy oracle."""
    import numpy as np

    from flink_mm_spark.algos.kmeans import kmeans, kmeans_numpy_oracle

    rng = np.random.RandomState(23)
    pts = np.vstack([rng.standard_normal((60, 8)) + c for c in (0.0, 6.0, -6.0)])
    init = pts[::50][:3]
    df = spark.createDataFrame([(row.tolist(),) for row in pts], "features array<double>")
    got = kmeans(df, init, n_iters=4)
    want = kmeans_numpy_oracle(pts, init, n_iters=4)
    np.testing.assert_allclose(got, want, rtol=1e-9)


@pytest.mark.parametrize(
    "sf_dir",
    [
        SF_DIR,
        pytest.param("/root/testdata/sf0.01", marks=pytest.mark.medium),
    ],
)
def test_kmeans_full_argmin_margins_safe(sf_dir):
    """Canary for the oracle-graded kmeans_full: its exactness rests on the
    float32 assignment kernel agreeing with the oracle's float64 argmin,
    which holds while the min nonzero per-pass margin (second-best d² −
    best d²) stays ≫ the kernel's worst-case float32 rounding (~2e-4 at
    these magnitudes). If a testdata regeneration ever shrinks the margin,
    THIS fails loudly instead of the driver grade flaking. Exact ties
    (margin 0) are fine — integer pass-1 centroids tie identically in both
    engines and break to the lowest cluster id."""
    import duckdb

    from flink_mm_spark.algos.queries import _KF_INIT, _KF_PASSES
    from flink_mm_spark.algos.kmeans import _argmin_f32

    data = (
        duckdb.sql(
            f"SELECT CAST(user_id % 13 AS DOUBLE) x0, CAST(event_id % 17 AS DOUBLE) x1 "
            f"FROM read_parquet('{sf_dir}/events.parquet')"
        )
        .df()
        .to_numpy(dtype=np.float64)
    )
    cents = np.array(_KF_INIT)
    for p in range(_KF_PASSES):
        d2 = ((data[:, None, :] - cents[None, :, :]) ** 2).sum(2)
        srt = np.sort(d2, axis=1)
        margins = srt[:, 1] - srt[:, 0]
        nonzero = margins[margins > 0]
        assert nonzero.min() > 2e-3, (p, float(nonzero.min()))
        cents32 = cents.astype(np.float32)
        a = _argmin_f32(data, cents32, (cents32 * cents32).sum(1)[None, :])
        new = np.zeros_like(cents)
        for c in range(len(cents)):
            m = a == c
            if m.any():
                new[c] = data[m].mean(axis=0)
        cents = new
