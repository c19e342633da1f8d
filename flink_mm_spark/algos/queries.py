"""Registry queries exercising the iterative algorithms against testdata.

SQL-checkable pieces (one Lloyd assignment step, the centroid-update
aggregation, MDS stress for a fixed layout) get DuckDB oracles; the full
iterative loops (k-means, DA-MDS) are registered rows-only and verified
against numpy oracles in tests/.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_mm_spark.algos import damds as damds_mod
from flink_mm_spark.algos.kmeans import kmeans
from flink_mm_spark.registry import register
from flink_mm_spark.sources.tables import table

K = 8

_SF_N = 256  # points → 256×256 int16 dist + weight side files
_SF_BLOCKS = 16  # 16 rows per block; block_id = k // (16·256)

# Shared CTE: embeddings as float64 points, first K vectors as centroids,
# squared euclidean distance rounded to 6 decimals for a cross-engine-stable
# argmin (both engines compute the same double up to last-ulp; rounding
# removes the wobble before comparison).
_ASSIGN_CTE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    c AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < {K}),
    scored AS (
      SELECT e.vec_id, c.cid,
             ROUND(list_sum(list_transform(range(1, len(e.emb) + 1),
                    i -> (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i]))), 6) AS d2
      FROM e, c
    ),
    assigned AS (
      SELECT vec_id, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM scored
    )
"""


def _assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of the _ASSIGN_CTE: nearest of the first K embeddings."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    c = (
        e.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("cemb"))
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with("emb", "cemb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, x: s + x,
        ),
        6,
    )
    from pyspark.sql.window import Window

    scored = e.crossJoin(F.broadcast(c)).select("vec_id", "cid", d2.alias("d2"))
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)


@register(
    "kmeans_assign",
    oracle=_ASSIGN_CTE
    + """
    SELECT cid AS cluster_id, COUNT(*) AS n_points
    FROM assigned WHERE rn = 1
    GROUP BY cid ORDER BY cid
    """,
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step (SURVEY F3 argmin-Euclidean) as SQL-checkable
    cluster counts; centroids = first K embedding vectors."""
    return (
        _assigned(spark, sf_dir)
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("cluster_id")
    )


@register(
    "kmeans_centroid_update",
    oracle=_ASSIGN_CTE
    + """
    , upd AS (
      SELECT a.cid, i - 1 AS dim, e.emb[i] AS v
      FROM assigned a JOIN e ON a.vec_id = e.vec_id,
           (SELECT unnest(range(1, 5)) AS i) idx
      WHERE a.rn = 1
    )
    SELECT cid AS cluster_id, dim,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS mean_v,
           COUNT(*) AS n
    FROM upd GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def kmeans_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid-update aggregation (SURVEY A1/A2: per-cluster mean) as a
    relational query over the first 4 dims — decimal-exact means."""
    assigned = _assigned(spark, sf_dir).select("vec_id", "cid")
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    ).filter(F.col("dim") < 4)
    return (
        assigned.join(e, "vec_id")
        .groupBy(F.col("cid").alias("cluster_id"), "dim")
        .agg(
            # rounded: decimal casts of float32-origin doubles can land on
            # half-up-vs-half-even ties at scale 12 (seen at sf0.1)
            F.round(
                F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("cluster_id", "dim")
    )


# --- kmeans_full: the full iterative loop, graded EXACTLY -----------------
#
# Integer features ((user_id%13, event_id%17) over events) make every pass
# exact: sums are integers < 2^53, means one exactly-rounded division, and
# the float32 assignment kernel's argmin agrees with the oracle's float64
# argmin because the minimum inter-centroid margin each pass (measured
# 0.0077 at sf0.001, 0.032 at sf0.01, 0.23 at sf0.1) is ≥38× the kernel's
# worst-case float32 rounding (~2e-4 at these magnitudes); exact ties only
# occur on pass 1's integer centroids, where both engines see the same
# exact value and break to the lowest cluster id. The graded output is the
# per-pass (sum, count) trajectory — pure integers, no float compare at all.
# Init = 4 nearly-collinear centroids so the trajectory genuinely moves:
# counts shift every pass at every SF (e.g. sf0.01: cluster 2 grows
# 512 → 2419 → 3108).

_KF_K = 4
_KF_PASSES = 3
_KF_INIT = [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0)]


def _kf_pass_cte(prev: str, tag: int) -> str:
    return f"""
    a{tag} AS (
      SELECT p.rid, p.x0, p.x1, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY p.rid
               ORDER BY (p.x0 - c.c0)*(p.x0 - c.c0) + (p.x1 - c.c1)*(p.x1 - c.c1), c.cid
             ) AS rn
      FROM p, {prev} c
    ),
    m{tag} AS (
      SELECT cid, SUM(CAST(x0 AS BIGINT)) AS s0, SUM(CAST(x1 AS BIGINT)) AS s1,
             COUNT(*) AS n
      FROM a{tag} WHERE rn = 1 GROUP BY cid
    ),
    c{tag} AS (
      SELECT i.cid,
             COALESCE(CAST(m{tag}.s0 AS DOUBLE) / m{tag}.n, 0.0) AS c0,
             COALESCE(CAST(m{tag}.s1 AS DOUBLE) / m{tag}.n, 0.0) AS c1
      FROM c0 i LEFT JOIN m{tag} USING (cid)
    )"""


def _kf_emit(tag: int) -> str:
    return f"""
      SELECT {tag} AS pass_id, i.cid AS cluster_id, d.dim,
             COALESCE(CASE WHEN d.dim = 0 THEN m{tag}.s0 ELSE m{tag}.s1 END, 0) AS sum_q,
             COALESCE(m{tag}.n, 0) AS n
      FROM c0 i CROSS JOIN (SELECT unnest(range(0, 2)) AS dim) d
      LEFT JOIN m{tag} ON i.cid = m{tag}.cid"""


_KF_ORACLE = (
    """
    WITH p AS MATERIALIZED (
      SELECT event_id AS rid,
             CAST(user_id % 13 AS DOUBLE) AS x0,
             CAST(event_id % 17 AS DOUBLE) AS x1
      FROM events
    ),
    c0(cid, c0, c1) AS (VALUES """
    + ", ".join(f"({i}, {c0}, {c1})" for i, (c0, c1) in enumerate(_KF_INIT))
    + "),"
    + ",".join(_kf_pass_cte(f"c{t - 1}", t) for t in range(1, _KF_PASSES + 1))
    + """
    SELECT CAST(pass_id AS INTEGER) AS pass_id, CAST(cluster_id AS INTEGER) AS cluster_id,
           CAST(dim AS INTEGER) AS dim, CAST(sum_q AS BIGINT) AS sum_q, CAST(n AS BIGINT) AS n
    FROM ("""
    + " UNION ALL ".join(_kf_emit(t) for t in range(1, _KF_PASSES + 1))
    + ") ORDER BY pass_id, cluster_id, dim"
)


@register("kmeans_full", oracle=_KF_ORACLE)
def kmeans_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed k-means (SURVEY I1/A2/F3: kmeans/KMeansBlock.java:
    16-116), 3 Lloyd passes over integer event features, graded EXACTLY:
    the oracle replays the entire trajectory pass by pass and compares the
    per-pass per-cluster integer (sum, count) — the complete state of each
    iteration, not just the final centroids. See the module comment above
    ``_KF_ORACLE`` for the exactness argument. The embeddings-space demo
    (k=8, 5 passes, float features) is ``kmeans_full_demo``."""
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.array(
            (F.col("user_id") % 13).cast("double"),
            (F.col("event_id") % 17).cast("double"),
        ).alias("features"),
    )
    init = np.array(_KF_INIT)
    traj = kmeans(ev, init, n_iters=_KF_PASSES, trajectory=True)
    rows = []
    for p, (cents, counts) in enumerate(traj, start=1):
        for c in range(_KF_K):
            for d in range(2):
                # mean×count rounds back to the exact integer sum (sums are
                # < 2^53; one exactly-rounded division then multiply)
                sq = int(np.rint(cents[c, d] * counts[c])) if counts[c] else 0
                rows.append((p, c, d, sq, int(counts[c])))
    return spark.createDataFrame(
        rows, "pass_id int, cluster_id int, dim int, sum_q bigint, n bigint"
    )


@register("kmeans_full_demo", oracle=None)  # float-space demo → rows-only
def kmeans_full_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space k-means demo, 5 Lloyd passes, k=8, init = first 8
    vectors. The oracle-graded loop is ``kmeans_full``; this float-features
    twin is verified against a numpy oracle in tests/test_kmeans.py."""
    e = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("features"), "vec_id"
    )
    init = np.array(
        [r["features"] for r in e.filter(F.col("vec_id") < K).orderBy("vec_id").collect()]
    )
    final = kmeans(e, init, n_iters=5)
    rows = [
        (int(c), int(d), float(np.round(final[c, d], 6)))
        for c in range(final.shape[0])
        for d in range(final.shape[1])
    ]
    return spark.createDataFrame(rows, "cluster_id int, dim int, value double")


@register(
    "mds_stress",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings WHERE vec_id < 100
    ),
    terms AS (
      SELECT a.vec_id AS i, b.vec_id AS j, idx.k,
             CAST((a.emb[idx.k] - b.emb[idx.k]) * (a.emb[idx.k] - b.emb[idx.k])
                  AS DECIMAL(28,12)) AS t
      FROM e a JOIN e b ON a.vec_id < b.vec_id,
           (SELECT unnest(range(1, 65)) AS k) idx
    ),
    pairs AS (
      SELECT i, j,
             CAST(SUM(t) AS DOUBLE) AS dsq_hi,
             CAST(SUM(CASE WHEN k <= 3 THEN t END) AS DOUBLE) AS dsq_lo
      FROM terms GROUP BY i, j
    )
    SELECT CAST(SUM(CAST((dsq_hi - dsq_lo) * (dsq_hi - dsq_lo) AS DECIMAL(30,8))) AS DOUBLE)
             / CAST(SUM(CAST(dsq_hi * dsq_hi AS DECIMAL(30,8))) AS DOUBLE) AS stress
    FROM pairs
    """,
)
def mds_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared-distance MDS stress (SSTRESS) for a fixed layout, relationally.

    Target dissimilarities δ² = squared 64-d euclidean distance; candidate
    layout = first 3 coordinates. σ = Σ(δ²−d²)²/Σ(δ²)² with unit weights —
    the blockwise stress pass of damds/Stress.java:45-93 expressed as a
    pair self-join. Every sum (the per-dimension distance contraction AND
    the pair aggregation) runs through exact decimals, so the result is
    bit-identical to the oracle at any parallelism — sqrt-based stress is
    not exactly aggregatable, which is why the SQL-checked variant uses the
    squared form (the √ kernel is verified against numpy in tests).
    """
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100).select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("k0", "v")
    )
    a = e.select(F.col("vec_id").alias("i"), F.col("k0").alias("ka"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("j"), F.col("k0").alias("kb"), F.col("v").alias("vb"))
    term = ((F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))).cast("decimal(28,12)")
    pairs = (
        a.join(b, (F.col("ka") == F.col("kb")) & (F.col("i") < F.col("j")))
        .select("i", "j", F.col("ka").alias("k"), term.alias("t"))
        .groupBy("i", "j")
        .agg(
            F.sum("t").cast("double").alias("dsq_hi"),
            F.sum(F.when(F.col("k") <= 2, F.col("t"))).cast("double").alias("dsq_lo"),
        )
    )
    num = F.sum(((F.col("dsq_hi") - F.col("dsq_lo")) * (F.col("dsq_hi") - F.col("dsq_lo"))).cast("decimal(30,8)")).cast("double")
    den = F.sum((F.col("dsq_hi") * F.col("dsq_hi")).cast("decimal(30,8)")).cast("double")
    return pairs.agg((num / den).alias("stress"))


# --- damds_embed: the full anneal lifecycle, graded EXACTLY ---------------
#
# Config {max_temp_loops=1, max_stress_loops=1, cg_iters=2, cg_threshold=0}
# pins the anneal to a finite, SQL-replayable op sequence: distributed
# stats → t schedule → B(Z)·Z at the integer start layout → two CG
# iterations of V·X = BC → final stress σ(X₁). Every stage runs through the
# REAL distributed kernels (stress_bofz fusion, the anneal-lifetime v,
# cg_solve) — the same code path the long anneal takes, with the
# loop depth chosen so the oracle can unroll it. Weights use a second,
# all-POSITIVE side file ((k·13 % 30000)+1) so V is diagonally dominant →
# CG is well-conditioned; the start layout x₀_i = (i%16, i%3−1, i%7−3) has
# integer coordinates (all 256 points distinct), so every pairwise distance
# is the sqrt of an exact integer — per-cell bitwise equal in both engines.
# Measured cross-engine wobble (numpy replica vs DuckDB): max |Δx| ≈ 5e-14,
# |Δσ|/σ ≈ 2e-15 — rounding x and σ at 6 decimals leaves >6 orders of
# margin. MATERIALIZED CTEs keep the oracle ~1 s (inlining recomputes the
# 65k-cell CTEs and costs ~27 s).

_AN_ORACLE = f"""
WITH cells AS MATERIALIZED (
  SELECT k // {_SF_N} AS i, k % {_SF_N} AS j,
         (k * 37) % 40000 - 7233 AS s,
         (k * 13) % 30000 + 1 AS wq
  FROM (SELECT unnest(range(0, {_SF_N * _SF_N})) AS k)
),
x0 AS MATERIALIZED (
  SELECT i, i % 16 AS p0, (i % 3) - 1 AS p1, (i % 7) - 3 AS p2
  FROM (SELECT unnest(range(0, {_SF_N})) AS i)
),
consts AS (
  SELECT MAX(CASE WHEN s >= 0 THEN s * (1.0/32767.0) END) / sqrt(2.0*3) AS t_max,
         SUM(CASE WHEN s >= 0 THEN (s*(1.0/32767.0))*(s*(1.0/32767.0)) END) AS sum_sq
  FROM cells
),
cst AS (
  SELECT sqrt(2.0*3) * (0.95 * t_max) AS diff, 1.0 / sum_sq AS inv_sum_dsq
  FROM consts
),
wcell AS MATERIALIZED (
  SELECT c.i, c.j, c.s,
         CASE WHEN c.s >= 0 THEN c.wq * (1.0/32767.0) ELSE 0.0 END AS w,
         c.s * (1.0/32767.0) AS dq
  FROM cells c
),
d0 AS MATERIALIZED (
  SELECT a.i, b.i AS j,
         sqrt(CAST((a.p0-b.p0)*(a.p0-b.p0) + (a.p1-b.p1)*(a.p1-b.p1)
                   + (a.p2-b.p2)*(a.p2-b.p2) AS DOUBLE)) AS dist
  FROM x0 a, x0 b
),
bmat AS MATERIALIZED (
  SELECT w.i, w.j,
         CASE WHEN d0.dist >= 1e-10 AND w.dq > cst.diff AND w.s >= 0 AND w.i <> w.j
              THEN -w.w * (w.dq - cst.diff) / d0.dist ELSE 0.0 END AS b
  FROM wcell w JOIN d0 ON w.i = d0.i AND w.j = d0.j, cst
),
bc0 AS MATERIALIZED (
  SELECT b.i, d.d,
         SUM(b.b * (CASE d.d WHEN 0 THEN xj.p0 WHEN 1 THEN xj.p1 ELSE xj.p2 END))
         + (-SUM(b.b)) * (CASE d.d WHEN 0 THEN xi.p0 WHEN 1 THEN xi.p1 ELSE xi.p2 END) AS bc
  FROM bmat b JOIN x0 xj ON b.j = xj.i JOIN x0 xi ON b.i = xi.i,
       (SELECT unnest(range(0, 3)) AS d) d
  GROUP BY b.i, d.d, xi.p0, xi.p1, xi.p2
),
varr AS MATERIALIZED (
  SELECT i, 1.0 + SUM(CASE WHEN i <> j THEN w ELSE 0.0 END) AS v
  FROM wcell GROUP BY i
),
xf AS MATERIALIZED (
  SELECT i, d, CAST(CASE d WHEN 0 THEN p0 WHEN 1 THEN p1 ELSE p2 END AS DOUBLE) AS x
  FROM x0, (SELECT unnest(range(0, 3)) AS d) dd
),
vx0 AS MATERIALIZED (
  SELECT xi.i, xi.d,
         varr.v * xi.x - SUM(CASE WHEN w.i <> w.j THEN w.w * xj.x ELSE 0.0 END) AS vx
  FROM xf xi JOIN varr ON xi.i = varr.i
       JOIN wcell w ON w.i = xi.i JOIN xf xj ON xj.i = w.j AND xj.d = xi.d
  GROUP BY xi.i, xi.d, varr.v, xi.x
),
r0 AS MATERIALIZED (
  SELECT bc0.i, bc0.d, bc0.bc - vx0.vx AS r
  FROM bc0 JOIN vx0 ON bc0.i = vx0.i AND bc0.d = vx0.d
),
s0 AS (SELECT SUM(r * r) AS rtr0 FROM r0),
ap0 AS MATERIALIZED (
  SELECT pi.i, pi.d,
         varr.v * pi.r - SUM(CASE WHEN w.i <> w.j THEN w.w * pj.r ELSE 0.0 END) AS ap
  FROM r0 pi JOIN varr ON pi.i = varr.i
       JOIN wcell w ON w.i = pi.i JOIN r0 pj ON pj.i = w.j AND pj.d = pi.d
  GROUP BY pi.i, pi.d, varr.v, pi.r
),
sa0 AS (SELECT (SELECT rtr0 FROM s0) / SUM(p.r * ap0.ap) AS alpha0
        FROM r0 p JOIN ap0 ON p.i = ap0.i AND p.d = ap0.d),
x1 AS MATERIALIZED (
  SELECT xf.i, xf.d, xf.x + (SELECT alpha0 FROM sa0) * r0.r AS x
  FROM xf JOIN r0 ON xf.i = r0.i AND xf.d = r0.d
),
r1 AS MATERIALIZED (
  SELECT r0.i, r0.d, r0.r - (SELECT alpha0 FROM sa0) * ap0.ap AS r
  FROM r0 JOIN ap0 ON r0.i = ap0.i AND r0.d = ap0.d
),
s1 AS (SELECT SUM(r * r) AS rtr1 FROM r1),
p1 AS MATERIALIZED (
  SELECT r1.i, r1.d, r1.r + (SELECT rtr1 FROM s1) / (SELECT rtr0 FROM s0) * r0.r AS p
  FROM r1 JOIN r0 ON r1.i = r0.i AND r1.d = r0.d
),
ap1 AS MATERIALIZED (
  SELECT pi.i, pi.d,
         varr.v * pi.p - SUM(CASE WHEN w.i <> w.j THEN w.w * pj.p ELSE 0.0 END) AS ap
  FROM p1 pi JOIN varr ON pi.i = varr.i
       JOIN wcell w ON w.i = pi.i JOIN p1 pj ON pj.i = w.j AND pj.d = pi.d
  GROUP BY pi.i, pi.d, varr.v, pi.p
),
sa1 AS (SELECT (SELECT rtr1 FROM s1) / SUM(p1.p * ap1.ap) AS alpha1
        FROM p1 JOIN ap1 ON p1.i = ap1.i AND p1.d = ap1.d),
x2 AS MATERIALIZED (
  SELECT x1.i, x1.d, x1.x + (SELECT alpha1 FROM sa1) * p1.p AS x
  FROM x1 JOIN p1 ON x1.i = p1.i AND x1.d = p1.d
),
d2 AS MATERIALIZED (
  SELECT xa.i, xb.i AS j, sqrt(greatest(SUM((xa.x - xb.x) * (xa.x - xb.x)), 0.0)) AS dist
  FROM x2 xa JOIN x2 xb ON xa.d = xb.d
  GROUP BY xa.i, xb.i
),
sig AS (
  SELECT SUM(w.w * ((CASE WHEN w.dq >= cst.diff THEN w.dq - cst.diff ELSE 0.0 END) - d2.dist)
                 * ((CASE WHEN w.dq >= cst.diff THEN w.dq - cst.diff ELSE 0.0 END) - d2.dist)
             ) * (SELECT inv_sum_dsq FROM cst) AS sig
  FROM wcell w JOIN d2 ON w.i = d2.i AND w.j = d2.j, cst
  WHERE w.s >= 0
)
SELECT CAST(x2.i AS INTEGER) AS point_id, CAST(x2.d AS INTEGER) AS dim,
       ROUND(x2.x, 6) AS x,
       (SELECT ROUND(sig, 6) FROM sig) AS stress,
       1 AS temp_loops, 1 AS stress_iters
FROM x2 ORDER BY point_id, dim
"""


def _ensure_anneal_fixture() -> tuple[str, str]:
    """The sidefile dist fixture paired with an all-POSITIVE weight file
    wpos(k) = (k·13 mod 30000) + 1 — V diagonally dominant → CG well-posed."""
    import os

    from flink_mm_spark.sources.binary_matrix import FIXTURE_DIR, write_matrix_file

    dist_path, _ = _ensure_sidefile_fixture()
    k = np.arange(_SF_N * _SF_N, dtype=np.int64)
    path = f"{FIXTURE_DIR}/damds_wpos_{_SF_N}.i16.big.bin"
    if not os.path.exists(path):
        write_matrix_file(path + ".tmp", ((k * 13) % 30000 + 1).reshape(_SF_N, _SF_N), "int16", "big")
        os.replace(path + ".tmp", path)
    return dist_path, path


@register("damds_embed", oracle=_AN_ORACLE)
def damds_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE DA-MDS anneal (SURVEY §3.1 lifecycle / I3,
    damds/DAMDS.java:27-253) through the real driver loop — distributed
    stats, temperature schedule, fused stress+BofZ, anneal-lifetime v,
    CG inner solve — graded EXACTLY against an oracle that
    unrolls the same op sequence (see ``_AN_ORACLE`` comment for the
    determinism argument). The embeddings-space long anneal is
    ``damds_embed_demo``."""
    dist_path, wpos_path = _ensure_anneal_fixture()
    blocks = damds_mod.damds_blocks_from_files(
        spark, dist_path, _SF_N, weight_path=wpos_path, n_blocks=_SF_BLOCKS
    )
    i = np.arange(_SF_N)
    x0 = np.column_stack([i % 16, (i % 3) - 1, (i % 7) - 3]).astype(np.float64)
    res = damds_mod.damds(
        blocks,
        n_points=_SF_N,
        dim=3,
        max_temp_loops=1,
        max_stress_loops=1,
        cg_iters=2,
        cg_threshold=0.0,
        x0=x0,
    )
    # determinism guard: both engines must take exactly this loop shape
    assert res.temp_loops == 1 and res.stress_iters == 1
    rows = [
        (
            int(pi),
            int(d),
            float(np.round(res.points[pi, d], 6)),
            float(np.round(res.stress, 6)),
            res.temp_loops,
            res.stress_iters,
        )
        for pi in range(_SF_N)
        for d in range(3)
    ]
    return spark.createDataFrame(
        rows,
        "point_id int, dim int, x double, stress double, temp_loops int, stress_iters int",
    )


@register("damds_embed_demo", oracle=None)  # long anneal → rows-only
def damds_embed_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long DA-MDS anneal embedding the first 120 embedding vectors into 3-D
    (the oracle-graded lifecycle is ``damds_embed``). Deterministic (seeded
    init, fixed iteration caps); kernels verified against numpy oracles in
    tests/test_damds.py. The N×N distance matrix is built DISTRIBUTED from
    the points DataFrame (``damds_blocks_from_points`` — pairwise GEMM
    cells, distributed quantization scale); the driver only ever holds the
    (N, 3) embedding."""
    n = 120
    pts_df = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n)
        .select(
            F.col("vec_id").alias("point_id"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
    )
    blocks = damds_mod.damds_blocks_from_points(spark, pts_df, n_points=n, n_blocks=8)
    res = damds_mod.damds(
        blocks, n_points=n, max_temp_loops=2, max_stress_loops=4, cg_iters=8,
        uniform_weights=True,
    )
    out = [
        (int(i), float(np.round(res.points[i, 0], 5)), float(np.round(res.points[i, 1], 5)),
         float(np.round(res.points[i, 2], 5)))
        for i in range(n)
    ]
    return spark.createDataFrame(out, "point_id int, x double, y double, z double")


# --- S7/S8: lazy side-file row-block source, driver-graded ----------------

def _ensure_sidefile_fixture() -> tuple[str, str]:
    """Deterministic dist+weight int16 side files (big-endian, headerless):
    dist(k) = (k·37 mod 40000) − 7233, weight(k) = (k·13 mod 30000) − 9000
    (negatives = missing pairs, damds/Statistics.java:39-42 convention)."""
    import os

    from flink_mm_spark.sources.binary_matrix import FIXTURE_DIR, write_matrix_file

    os.makedirs(FIXTURE_DIR, exist_ok=True)
    k = np.arange(_SF_N * _SF_N, dtype=np.int64)
    out = []
    for tag, vals in [
        ("dist", (k * 37 % 40000) - 7233),
        ("weight", (k * 13 % 30000) - 9000),
    ]:
        path = f"{FIXTURE_DIR}/damds_{tag}_{_SF_N}.i16.big.bin"
        if not os.path.exists(path):
            write_matrix_file(path + ".tmp", vals.reshape(_SF_N, _SF_N), "int16", "big")
            os.replace(path + ".tmp", path)
        out.append(path)
    return out[0], out[1]


@register(
    "damds_sidefile_scan",
    oracle=f"""
    WITH cells AS (
      SELECT k, (k * 37) % 40000 - 7233 AS s, (k * 13) % 30000 - 9000 AS w
      FROM (SELECT unnest(range(0, {_SF_N * _SF_N})) AS k)
    )
    SELECT CAST(k // {(_SF_N // _SF_BLOCKS) * _SF_N} AS BIGINT) AS block_id,
           CAST(SUM(CASE WHEN s >= 0 THEN s ELSE 0 END) AS BIGINT) AS dist_sum_q,
           CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS dist_missing,
           CAST(SUM(CASE WHEN w >= 0 THEN w ELSE 0 END) AS BIGINT) AS weight_sum_q,
           CAST(SUM(CASE WHEN w < 0 THEN 1 ELSE 0 END) AS BIGINT) AS weight_missing
    FROM cells GROUP BY 1 ORDER BY block_id
    """,
)
def damds_sidefile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy row-block side-file pairing (S7/S8: damds/Distances.java:71-106,
    io/RowBlock.java:81-105) → per-block integer rollup.

    Each task offset-reads ONLY its row range from the distance file and the
    matching range of the weight side file (`damds_blocks_from_files`) — the
    shuffle-free dist/weight pairing. The rollup sums raw valid shorts and
    counts negatives (missing) per block, so the oracle reconstructs it from
    range() arithmetic: a wrong offset, byte order, or block boundary — or a
    mispaired weight range — changes the result.
    """
    import pandas as pd

    dist_path, weight_path = _ensure_sidefile_fixture()
    blocks = damds_mod.damds_blocks_from_files(
        spark, dist_path, _SF_N, weight_path=weight_path, n_blocks=_SF_BLOCKS
    )

    def rollup(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                d = np.asarray(row.dist, dtype=np.int64)
                w = np.asarray(row.weight, dtype=np.int64)
                yield pd.DataFrame(
                    {
                        "block_id": [int(row.block_id)],
                        "dist_sum_q": [int(d[d >= 0].sum())],
                        "dist_missing": [int((d < 0).sum())],
                        "weight_sum_q": [int(w[w >= 0].sum())],
                        "weight_missing": [int((w < 0).sum())],
                    }
                )

    return blocks.mapInPandas(
        rollup,
        "block_id long, dist_sum_q long, dist_missing long, "
        "weight_sum_q long, weight_missing long",
    ).orderBy("block_id")


# --- DA-MDS kernel families graded exactly (F2/F6/F8/F9/F10/F11, I4) ------
#
# Strategy (same as damds_sidefile_scan): run the REAL distributed kernels
# over the deterministic int16 side-file fixture, then compare on values the
# oracle can reconstruct exactly. Quantities that are rational with
# denominator 32767 are scaled back up (×32767, ×1 per factor) and rounded
# to integers — the float64 kernel error is ~1e-8, so the rounding is exact
# and the oracle is pure integer arithmetic over range(). Quantities with
# genuinely irrational terms (Sammon division, BofZ, CG) round at a decimal
# where the cross-engine sum-order wobble (~1e-10) is 5+ orders below the
# boundary. Prototyped bit-exact before registration.

_CELLS_CTE = f"""
    WITH cells AS (
      SELECT k // {_SF_N} AS i, k % {_SF_N} AS j,
             (k * 37) % 40000 - 7233 AS s,
             (k * 13) % 30000 - 9000 AS wq
      FROM (SELECT unnest(range(0, {_SF_N * _SF_N})) AS k)
    )
"""


@contextmanager
def _fixture_blocks(spark: SparkSession, with_weights: bool = True) -> Iterator[RDD]:
    """The side-file fixture as the kernels' decoded block RDD, released on
    exit."""
    dist_path, weight_path = _ensure_sidefile_fixture()
    df = damds_mod.damds_blocks_from_files(
        spark,
        dist_path,
        _SF_N,
        weight_path=weight_path if with_weights else None,
        n_blocks=_SF_BLOCKS,
    )
    with damds_mod.decoded_blocks(df) as blocks:
        yield blocks


def _p_vectors() -> np.ndarray:
    """Deterministic integer test vectors p_i = ((i%5)-2, (i%3)-1, (i%7)-3)."""
    i = np.arange(_SF_N)
    return np.column_stack([(i % 5) - 2, (i % 3) - 1, (i % 7) - 3]).astype(np.float64)


@register(
    "damds_varray_vp",
    oracle=_CELLS_CTE
    + """
    , pv AS (
      SELECT i, (i % 5) - 2 AS p0, (i % 3) - 1 AS p1, (i % 7) - 3 AS p2
      FROM (SELECT unnest(range(0, 256)) AS i)
    ),
    agg AS (
      SELECT c.i,
             SUM(CASE WHEN c.s >= 0 AND c.i <> c.j THEN c.wq ELSE 0 END) AS swq,
             SUM(CASE WHEN c.s >= 0 AND c.i <> c.j THEN c.wq * (pi.p0 - pj.p0) ELSE 0 END) AS n0,
             SUM(CASE WHEN c.s >= 0 AND c.i <> c.j THEN c.wq * (pi.p1 - pj.p1) ELSE 0 END) AS n1,
             SUM(CASE WHEN c.s >= 0 AND c.i <> c.j THEN c.wq * (pi.p2 - pj.p2) ELSE 0 END) AS n2,
             SUM(CASE WHEN c.s >= 0 AND c.i <> c.j
                 THEN (c.wq * (1.0/32767.0)) / GREATEST(c.s * (1.0/32767.0), 0.25)
                 ELSE 0.0 END) AS sv
      FROM cells c JOIN pv pi ON c.i = pi.i JOIN pv pj ON c.j = pj.i
      GROUP BY c.i
    )
    SELECT CAST(a.i AS INTEGER) AS point_id,
           CAST(32767 + a.swq AS BIGINT) AS v_q,
           ROUND(1.0 + a.sv, 6) AS v_sammon,
           CAST(32767 * pi.p0 + a.n0 AS BIGINT) AS vp_q0,
           CAST(32767 * pi.p1 + a.n1 AS BIGINT) AS vp_q1,
           CAST(32767 * pi.p2 + a.n2 AS BIGINT) AS vp_q2
    FROM agg a JOIN pv pi ON a.i = pi.i ORDER BY point_id
    """,
)
def damds_varray_vp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-array, Sammon-weighted V-array, and the V×p multiply through the real
    distributed kernels (SURVEY F8 damds/VArray.java:49-67, F11
    io/RowBlock.java:139-142, F2 damds/CG.java:411-421), graded exactly.

    v_i = 1 + Σw_ij and (V·p)_i with integer p are rational with denominator
    32767: the kernel outputs ×32767 round to the oracle's pure-integer
    range() arithmetic (float64 error ~1e-8 ≪ 0.5). The Sammon variant
    (floor = 0.25) divides per cell — identical IEEE ops per cell in both
    engines, summed order-insensitively to 6 decimals.
    """
    with _fixture_blocks(spark) as blocks:
        p = _p_vectors()
        v = damds_mod.v_array(blocks)
        v_sam = damds_mod.v_array(blocks, wt=damds_mod.sammon_transform(1.0, 0.25))
        vp = damds_mod.v_multiply(blocks, v, p)
    vq = np.rint(v * 32767.0).astype(np.int64)
    vpq = np.rint(vp * 32767.0).astype(np.int64)
    rows = [
        (
            int(i),
            int(vq[i]),
            float(np.round(v_sam[i], 6)),
            int(vpq[i, 0]),
            int(vpq[i, 1]),
            int(vpq[i, 2]),
        )
        for i in range(_SF_N)
    ]
    return spark.createDataFrame(
        rows,
        "point_id int, v_q bigint, v_sammon double, "
        "vp_q0 bigint, vp_q1 bigint, vp_q2 bigint",
    )


@register(
    "damds_bofz_bc",
    oracle=_CELLS_CTE
    + """
    , b AS (
      SELECT i, j,
             CASE WHEN s > 0 AND i <> j
                  THEN (-(wq * (1.0/32767.0)) * (s * (1.0/32767.0))) / abs(i - j)
                  ELSE 0.0 END AS bij
      FROM cells
    )
    SELECT CAST(i AS INTEGER) AS point_id,
           ROUND(SUM(bij * j) - SUM(bij) * i, 4) AS bz
    FROM b GROUP BY i ORDER BY point_id
    """,
)
def damds_bofz_bc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B(Z)·Z through the real distributed kernel (SURVEY F6,
    damds/BC.java:86-134), graded exactly against per-cell-identical SQL.

    Layout Z = the 1-D integer grid x_i = i, t_cur = 0: every pairwise
    distance |i−j| is an exact float64 integer, so each B_ij =
    −w_ij·δ_ij/|i−j| is the same IEEE double in both engines (identical op
    order); only the row-sum order differs, absorbed by rounding to 4
    decimals (~6 orders of margin). Exercises the full off-diag + diagonal
    (−Σ B_ij) assembly path."""
    with _fixture_blocks(spark) as blocks:
        x = np.arange(_SF_N, dtype=np.float64).reshape(-1, 1)
        bz = damds_mod.bofz_bc(blocks, x, t_cur=0.0).ravel()
    rows = [(int(i), float(np.round(bz[i], 4))) for i in range(_SF_N)]
    return spark.createDataFrame(rows, "point_id int, bz double")


@register(
    "damds_temp_schedule",
    oracle=_CELLS_CTE.replace("WITH cells", "WITH RECURSIVE cells")
    + """
    , consts AS (
      SELECT MAX(s * (1.0/32767.0)) / sqrt(2.0 * 3) AS t_max,
             0.5 * MIN(CASE WHEN s > 0 THEN s * (1.0/32767.0) END) / sqrt(2.0 * 3) AS t_min
      FROM cells
    ),
    sched AS (
      SELECT 1 AS loop_idx, 0.8 * t_max AS t_cur, t_min FROM consts
      UNION ALL
      SELECT loop_idx + 1,
             CASE WHEN t_cur * 0.8 < t_min THEN 0.0 ELSE t_cur * 0.8 END, t_min
      FROM sched WHERE t_cur > 0.0 AND loop_idx < 100
    )
    SELECT loop_idx, t_cur FROM sched ORDER BY loop_idx
    """,
)
def damds_temp_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic-annealing temperature schedule (SURVEY F10,
    damds/DAMDS.java:121-152,234-238) driven by the REAL distributed
    matrix_stats kernel, graded bitwise — no rounding at all.

    t_max = max/√(2d), t_min = 0.5·positiveMin/√(2d), t ← α·t per loop,
    floored to 0 below t_min (α = 0.8, d = 3, cap 100). Every quantity is a
    chain of exactly-rounded IEEE ops on exactly-representable stats (max
    and positiveMin of dequantized shorts involve no summation), and the
    oracle's recursive CTE replays the same multiply chain — so the doubles
    hash-match bit for bit. Also exercises the I2 termination shape (the
    loop's floor-and-stop criterion)."""
    with _fixture_blocks(spark, with_weights=False) as blocks:
        stats = damds_mod.matrix_stats(blocks)
    sqrt2d = float(np.sqrt(2.0 * 3))
    t_max = stats.max / sqrt2d
    t_min = 0.5 * stats.positive_min / sqrt2d
    rows = []
    t = 0.8 * t_max
    li = 1
    while True:
        rows.append((li, float(t)))
        if t == 0.0 or li >= 100:
            break
        li += 1
        t = t * 0.8
        if t < t_min:
            t = 0.0
    return spark.createDataFrame(rows, "loop_idx int, t_cur double")


@register(
    "damds_cg_step",
    oracle=_CELLS_CTE
    + """
    , w AS (SELECT i, j, CASE WHEN s >= 0 AND i <> j THEN ABS(wq) ELSE 0 END AS wq FROM cells),
    t AS (
      SELECT i, d, (i * (d + 2)) % 9 - 4 AS t
      FROM (SELECT unnest(range(0, 256)) AS i), (SELECT unnest(range(0, 3)) AS d)
    ),
    ap0 AS (
      SELECT w.i, ti.d, ti.t + CAST(SUM(w.wq * (ti.t - tj.t)) AS DOUBLE) / 32767.0 AS ap
      FROM w JOIN t ti ON w.i = ti.i JOIN t tj ON w.j = tj.i AND tj.d = ti.d
      GROUP BY w.i, ti.d, ti.t
    ),
    s0 AS (
      SELECT CAST(SUM(t.t * t.t) AS DOUBLE) AS rtr0, SUM(t.t * ap0.ap) AS pap0
      FROM t JOIN ap0 ON t.i = ap0.i AND t.d = ap0.d
    ),
    r1 AS (
      SELECT t.i, t.d,
             (SELECT rtr0 / pap0 FROM s0) * t.t AS x1,
             t.t - (SELECT rtr0 / pap0 FROM s0) * ap0.ap AS r
      FROM t JOIN ap0 ON t.i = ap0.i AND t.d = ap0.d
    ),
    s1 AS (SELECT SUM(r * r) AS rtr1 FROM r1),
    p1 AS (
      SELECT r1.i, r1.d, r1.x1,
             r1.r + (SELECT rtr1 FROM s1) / (SELECT rtr0 FROM s0) * t.t AS p
      FROM r1 JOIN t ON r1.i = t.i AND r1.d = t.d
    ),
    ap1 AS (
      SELECT w.i, pi.d, pi.p + CAST(SUM(w.wq * (pi.p - pj.p)) AS DOUBLE) / 32767.0 AS ap
      FROM w JOIN p1 pi ON w.i = pi.i JOIN p1 pj ON w.j = pj.i AND pj.d = pi.d
      GROUP BY w.i, pi.d, pi.p
    ),
    s2 AS (
      SELECT SUM(p1.p * ap1.ap) AS pap1
      FROM p1 JOIN ap1 ON p1.i = ap1.i AND p1.d = ap1.d
    ),
    s3 AS (
      SELECT SUM(
               (r1.r - (SELECT rtr1 FROM s1) / (SELECT pap1 FROM s2) * ap1.ap)
               * (r1.r - (SELECT rtr1 FROM s1) / (SELECT pap1 FROM s2) * ap1.ap)
             ) AS rtr2
      FROM r1 JOIN ap1 ON r1.i = ap1.i AND r1.d = ap1.d
    )
    SELECT CAST(p1.i AS INTEGER) AS point_id, CAST(p1.d AS INTEGER) AS dim,
           ROUND(p1.x1 + (SELECT rtr1 FROM s1) / (SELECT pap1 FROM s2) * p1.p, 6) AS x,
           (SELECT CAST(rtr0 AS BIGINT) FROM s0) AS rtr0_q,
           (SELECT ROUND(rtr2, 4) FROM s3) AS rtr2,
           (SELECT rtr2 <= rtr0 * 0.9 FROM s3, s0) AS stop_loose,
           (SELECT rtr2 <= rtr0 * 0.01 FROM s3, s0) AS stop_tight
    FROM p1 ORDER BY point_id, dim
    """,
)
def damds_cg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two conjugate-gradient iterations of V·X = BC through the real
    distributed solve, plus the termination criterion's quantities (SURVEY
    F9 + I2, damds/CG.java:78-142), graded to 6 decimals.

    Weights pass through the |w| read-time transformation hook (the
    TransformationFunction seam, io/RowBlock.java:27-28) so V is
    diagonally dominant → positive definite; targets are integer vectors
    and x₀ = 0, so r₀ = BC exactly and the oracle replays α/β/x algebra
    from exact rational matvecs (Σwq·Δp as integers / 32767). cg_threshold=0
    pins exactly two iterations in both engines. The only distributed step
    per iteration is the V×p multiply — the same shape the full anneal uses.

    The I2 columns grade the stop rule ``rtr ≤ rtr₀·threshold``
    (damds.py cg_solve / damds/CG.java:97): rtr0_q is the exact integer
    Σ‖r₀‖², rtr2 the post-iteration residual, and stop_loose/stop_tight the
    criterion at thresholds 0.9 / 0.01 — chosen 40× either side of the
    measured ratio ≈ 0.49 so float wobble can never flip them.
    """
    wt = lambda w, d: np.abs(w)  # noqa: E731 — the reference's wt hook seam
    with _fixture_blocks(spark) as blocks:
        v = damds_mod.v_array(blocks, wt=wt)
        i = np.arange(_SF_N)
        dvals = np.arange(3)
        bc = ((i[:, None] * (dvals[None, :] + 2)) % 9 - 4).astype(np.float64)
        x, iters = damds_mod.cg_solve(
            blocks, v, bc, np.zeros((_SF_N, 3)), cg_iters=2, cg_threshold=0.0, wt=wt
        )
        assert iters == 2  # determinism guard: both engines must do 2 steps
        # True residual r = BC − V·x (exact-arithmetic equal to CG's
        # incremental r, which the oracle replays): one more distributed
        # V×p — the same quantity cg_solve's while-condition tests.
        r_true = bc - damds_mod.v_multiply(blocks, v, x, wt=wt)
    rtr0_q = int(np.rint((bc * bc).sum()))
    rtr2 = float((r_true * r_true).sum())
    stop_loose = bool(rtr2 <= rtr0_q * 0.9)
    stop_tight = bool(rtr2 <= rtr0_q * 0.01)
    rows = [
        (
            int(pi),
            int(d),
            float(np.round(x[pi, d], 6)),
            rtr0_q,
            float(np.round(rtr2, 4)),
            stop_loose,
            stop_tight,
        )
        for pi in range(_SF_N)
        for d in range(3)
    ]
    return spark.createDataFrame(
        rows,
        "point_id int, dim int, x double, rtr0_q bigint, rtr2 double, "
        "stop_loose boolean, stop_tight boolean",
    )


@register(
    "kmeans_empty_repair",
    oracle="""
    WITH p AS (
      SELECT event_id, CAST(user_id % 7 AS DOUBLE) AS x0, CAST(user_id % 11 AS DOUBLE) AS x1
      FROM events
    ),
    c(cid, c0, c1) AS (VALUES (0, 0.0, 0.0), (1, 6.0, 10.0), (2, 1000.0, 1000.0)),
    scored AS (
      SELECT p.event_id, c.cid, p.x0, p.x1,
             ROW_NUMBER() OVER (
               PARTITION BY p.event_id
               ORDER BY (p.x0 - c.c0)*(p.x0 - c.c0) + (p.x1 - c.c1)*(p.x1 - c.c1), c.cid
             ) AS rn
      FROM p, c
    ),
    m AS (
      SELECT cid,
             CAST(SUM(CAST(x0 AS BIGINT)) AS DOUBLE) / COUNT(*) AS m0,
             CAST(SUM(CAST(x1 AS BIGINT)) AS DOUBLE) / COUNT(*) AS m1
      FROM scored WHERE rn = 1 GROUP BY cid
    )
    SELECT CAST(c.cid AS INTEGER) AS cluster_id, CAST(d.dim AS INTEGER) AS dim,
           COALESCE(CASE WHEN d.dim = 0 THEN m.m0 ELSE m.m1 END, 0.0) AS centroid
    FROM c CROSS JOIN (SELECT unnest(range(0, 2)) AS dim) d
    LEFT JOIN m ON c.cid = m.cid
    ORDER BY cluster_id, dim
    """,
)
def kmeans_empty_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd pass with a deliberately-starved centroid, graded bitwise:
    the empty cluster is re-emitted as the zero centroid (SURVEY I4,
    kmeans/KMeansOriginal.java:119-142).

    Points are small integers ((user_id%7, user_id%11) over events), so the
    float32 assignment kernel's dropped-||x||² argmin is EXACT integer
    arithmetic (< 2²⁴) and ties break to the lowest index in both engines;
    centroid means are one exactly-rounded division of exact integer sums.
    Centroid 2 = (1000, 1000) attracts nothing → the kernel's zero-repair
    path is what produces its rows."""
    from flink_mm_spark.algos.kmeans import lloyd_step

    ev = table(spark, sf_dir, "events").select(
        F.array(
            (F.col("user_id") % 7).cast("double"),
            (F.col("user_id") % 11).cast("double"),
        ).alias("features")
    )
    init = np.array([[0.0, 0.0], [6.0, 10.0], [1000.0, 1000.0]])
    new = lloyd_step(ev, init)
    rows = [
        (int(c), int(d), float(new[c, d]))
        for c in range(init.shape[0])
        for d in range(init.shape[1])
    ]
    return spark.createDataFrame(rows, "cluster_id int, dim int, centroid double")
