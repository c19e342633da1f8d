"""The benchmark's workloads: which engine calls a pass makes, and how each
call's output is checked.

Every op is split into ``build`` (the driver-side builder call) and
``execute`` (the forced execution), and ``outcome`` reduces the output to
what the check needs. Checks run after the measurement, outside every timed
span: registry entries against their DuckDB oracle by the order-insensitive
value hash of ``scripts/driver_sim.py``, k-means against
``kmeans_numpy_oracle``, and DA-MDS by finite output and a stress below
that of its start.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow.parquet as pq

KMEANS_K = 100
KMEANS_ITERS = 10
KMEANS_RTOL = 1e-9  # float64 means summed in another order than the oracle's
MDS_POOL = 2000
MDS_N = 500
MDS_DIM = 3
MDS_STRESS_RTOL = 1e-6  # reported stress vs its numpy recomputation


class CheckFailed(Exception):
    pass


@dataclass
class Ctx:
    """What the ops of one run share: session, input dir and seeded inputs."""

    spark: Any
    sf_dir: str
    rng: np.random.Generator
    cache: dict[str, Any] = field(default_factory=dict)


@dataclass
class Op:
    name: str
    layer: str  # engine package of the called function
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any], Any]
    outcome: Callable[[Any], Any]
    check: Callable[[Ctx, Any], None]
    tables: tuple[str, ...] = ()  # engine tables the op reads


# --- registry entries -------------------------------------------------------


def driver_sim():
    """``scripts/driver_sim.py``, whose ``value_hash`` and ``norm_rows`` are
    the oracle comparison rules of the repository's verification."""
    import importlib.util
    import sys

    if "driver_sim" not in sys.modules:
        path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "driver_sim.py")
        spec = importlib.util.spec_from_file_location("driver_sim", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules["driver_sim"] = mod
    return sys.modules["driver_sim"]


def _summary(cols, rows) -> tuple[list[str], int, str]:
    ds = driver_sim()
    return sorted(cols), len(rows), ds.value_hash(cols, ds.norm_rows(rows))


def _oracle(ctx: Ctx, name: str) -> tuple[list[str], int, str]:
    key = f"oracle:{name}"
    if key not in ctx.cache:
        import duckdb

        from flink_mm_spark import registry
        from flink_mm_spark.sources.tables import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.sf_dir}/{t}.parquet'")
            cur = con.execute(registry.QUERIES[name].oracle)
            ctx.cache[key] = _summary([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
    return ctx.cache[key]


def registry_op(name: str, tables: tuple[str, ...]) -> Op:
    from flink_mm_spark import registry

    spec = registry.QUERIES[name]
    if spec.oracle is None:
        raise ValueError(f"{name} has no oracle; every benchmarked entry must be checked")

    def check(ctx: Ctx, got) -> None:
        want = _oracle(ctx, name)
        if got != want:
            raise CheckFailed(f"{name}: got cols/rows/hash {got}, oracle {want}")

    return Op(
        name=name,
        layer=spec.fn.__module__.split(".")[1],
        build=lambda ctx: spec.fn(ctx.spark, ctx.sf_dir),
        execute=lambda ctx, df: (df.columns, [tuple(r) for r in df.collect()]),
        outcome=lambda out: _summary(*out),
        check=check,
        tables=tables,
    )


# --- iterative algorithms -----------------------------------------------------


def _kmeans_points(ctx: Ctx) -> np.ndarray:
    """The lineitem-derived (quantity, price/1000) points bench.py clusters."""
    if "km_data" not in ctx.cache:
        t = pq.read_table(f"{ctx.sf_dir}/lineitem.parquet", columns=["l_quantity", "l_extendedprice"])
        data = np.column_stack(
            [t["l_quantity"].to_numpy(), t["l_extendedprice"].to_numpy() / 1000.0]
        )
        ctx.cache["km_data"] = data
        ctx.cache["km_init"] = data[ctx.rng.choice(len(data), KMEANS_K, replace=False)]
    return ctx.cache["km_data"]


def kmeans_op() -> Op:
    def build(ctx: Ctx):
        from pyspark.sql import functions as F

        from flink_mm_spark.sources.tables import table

        _kmeans_points(ctx)
        li = table(ctx.spark, ctx.sf_dir, "lineitem")
        return li.select(
            F.array(F.col("l_quantity"), F.col("l_extendedprice") / 1000.0).alias("features")
        )

    def execute(ctx: Ctx, pts):
        from flink_mm_spark.algos.kmeans import kmeans

        return kmeans(pts, ctx.cache["km_init"], n_iters=KMEANS_ITERS)

    def check(ctx: Ctx, cents: np.ndarray) -> None:
        from flink_mm_spark.algos.kmeans import kmeans_numpy_oracle

        if "km_oracle" not in ctx.cache:
            ctx.cache["km_oracle"] = kmeans_numpy_oracle(
                _kmeans_points(ctx), ctx.cache["km_init"], KMEANS_ITERS
            )
        want = ctx.cache["km_oracle"]
        if cents.shape != want.shape or not np.allclose(cents, want, rtol=KMEANS_RTOL, atol=0.0):
            err = np.max(np.abs(cents - want)) if cents.shape == want.shape else cents.shape
            raise CheckFailed(f"kmeans: centroids differ from the numpy oracle (max |diff| {err})")

    return Op("kmeans", "algos", build, execute, np.asarray, check, ("lineitem",))


def mds_points_file(sf_dir: str) -> str:
    return os.path.join(sf_dir, "mds_points.parquet")


def write_mds_points(sf_dir: str, rng: np.random.Generator) -> np.ndarray:
    """Pick the seeded 500-point DA-MDS subset of a 2000-embedding pool and
    write it as (point_id, vec); returns the chosen vectors."""
    import pyarrow as pa

    from perfbench.datagen import unit_vectors

    pool = unit_vectors(rng, MDS_POOL)
    vecs = pool[np.sort(rng.choice(MDS_POOL, MDS_N, replace=False))].astype(np.float64)
    pq.write_table(
        pa.table(
            {
                "point_id": np.arange(MDS_N, dtype=np.int64),
                "vec": pa.array(list(vecs), pa.list_(pa.float64())),
            }
        ),
        mds_points_file(sf_dir),
    )
    return vecs


def annealed_stress(dq: np.ndarray, x: np.ndarray, t_cur: float) -> float:
    """The engine's DA stress (damds/Stress.java semantics) in numpy:
    Σ (max(δ − √(2·dim)·t, 0) − |x_i − x_j|)² / Σ δ² over the full matrix."""
    diff = np.sqrt(2.0 * x.shape[1]) * t_cur if t_cur > 1e-10 else 0.0
    ex = np.sqrt(np.maximum(((x[:, None, :] - x[None, :, :]) ** 2).sum(-1), 0.0))
    tmp = np.where(dq >= diff, dq - diff, 0.0) - ex
    return float((tmp * tmp).sum() / (dq * dq).sum())


def final_temperature(dq: np.ndarray, dim: int, temp_loops: int, alpha: float = 0.95) -> float:
    """The temperature ``damds`` ends on after ``temp_loops`` loops."""
    sqrt2d = np.sqrt(2.0 * dim)
    t_min = 0.5 * dq[dq > 0].min() / sqrt2d
    t = alpha * dq.max() / sqrt2d
    for _ in range(temp_loops - 1):
        t *= alpha
        if t < t_min:
            return 0.0
    return t


def damds_op() -> Op:
    def build(ctx: Ctx):
        from flink_mm_spark.algos.damds import damds_blocks_from_points

        pts = ctx.spark.read.parquet(mds_points_file(ctx.sf_dir))
        return damds_blocks_from_points(ctx.spark, pts, n_points=MDS_N, n_blocks=16)

    def execute(ctx: Ctx, blocks):
        from flink_mm_spark.algos.damds import damds

        try:
            return damds(
                blocks, MDS_N, dim=MDS_DIM, max_temp_loops=4, max_stress_loops=1,
                cg_iters=8, uniform_weights=True, x0=ctx.cache["mds_x0"],
            )
        finally:
            blocks.unpersist()

    def check(ctx: Ctx, res) -> None:
        pts = np.asarray(res.points)
        if pts.shape != (MDS_N, MDS_DIM) or not np.isfinite(pts).all() or not np.isfinite(res.stress):
            raise CheckFailed(f"damds: non-finite or misshapen output {pts.shape}, stress {res.stress}")
        vecs = ctx.cache["mds_vecs"]
        d = np.sqrt(np.maximum(((vecs[:, None, :] - vecs[None, :, :]) ** 2).sum(-1), 0.0))
        dq = np.round(d / d.max() * 32767.0) / 32767.0  # the engine's int16 quantization
        t = final_temperature(dq, MDS_DIM, res.temp_loops)
        start = annealed_stress(dq, ctx.cache["mds_x0"], t)
        end = annealed_stress(dq, pts, t)
        if not (end < start and abs(end - res.stress) <= MDS_STRESS_RTOL * end):
            raise CheckFailed(
                f"damds: stress at t={t}: start {start}, end {end}, reported {res.stress}"
            )

    return Op("damds", "algos", build, execute, lambda r: r, check)


# --- workloads ----------------------------------------------------------------

# Two workloads of three to six ops, one timed pass each: a run (JVM start,
# the warm call of every op, one pass, checks) takes about a minute on 4
# cores, and comparing two commits takes about fifty runs within the hour.
WHY = {
    "batch_mix": (
        "k-means, DA-MDS and one-shot relational, matrix-statistics and PQ entries: "
        "driver-loop jobs, scans, joins, aggregates, Arrow kernels"
    ),
    "stream_ingest": (
        "PQ, count-min and covariance streams drained from staged arrivals: "
        "the stream lifecycle and its state stores"
    ),
}


def workload(name: str) -> list[Op]:
    if name == "batch_mix":
        return [
            kmeans_op(),
            damds_op(),
            registry_op("pricing_summary", ("lineitem",)),
            registry_op("shipping_priority", ("customer", "orders", "lineitem")),
            registry_op("short_matrix_stats", ("lineitem",)),
            registry_op("pq_adc_topk", ("embeddings",)),
        ]
    if name == "stream_ingest":
        return [
            registry_op("ivf_pq_topk_streamed", ("embeddings",)),
            registry_op("events_cms_streamed", ("events",)),
            registry_op("embedding_covariance_streamed", ("embeddings",)),
        ]
    raise KeyError(name)


def prepare(name: str, ctx: Ctx) -> None:
    """Seeded inputs a workload needs beyond the tables."""
    if name == "batch_mix":
        ctx.cache["mds_vecs"] = write_mds_points(ctx.sf_dir, ctx.rng)
        ctx.cache["mds_x0"] = ctx.rng.uniform(-0.5, 0.5, size=(MDS_N, MDS_DIM))
        _kmeans_points(ctx)
