"""Collective communication patterns on the loop runtime (SURVEY A7).

The reference ships Reduce and AllReduce micro-benchmarks
(collectives/Reduce.java:47-66, collectives/AllReduce.java:43-79: every
parallel instance contributes a size-1000 vector of ones; Reduce combines
them; AllReduce redistributes the combined vector to every instance). Here
they run on the runtime every driver loop uses (``linalg.block_matrix``):
the ``N_PART`` logical instances are one loop-lifetime RDD of
(part_id, vector) records (``instances``), and

- Reduce    = a tree reduce over the instance RDD: one ``map_blocks`` job
  whose ``reduce=np.add`` combines the vectors in a ``treeReduce``, the
  combine tree the reference hand-codes.
- AllReduce = that reduce plus the shipped vector: one more ``map_blocks``
  pass takes the reduced vector as state (``ship``, the analogue of the
  reference's ``withBroadcastSet``), and every instance proves receipt by
  its checksum.

``bench.py`` times these same primitives; the registered queries pin the
*semantics* with exact oracles — ones-vectors make the combined values
analytically known (total per element = N_PART; per-instance checksum =
VEC_SIZE · N_PART).
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

from flink_mm_spark.linalg.block_matrix import array_blocks, map_blocks, place_blocks
from flink_mm_spark.registry import register

VEC_SIZE = 1000  # Program.java:13-26 (size=1000, itr defaults elsewhere)
N_PART = 32


@contextmanager
def instances(spark: SparkSession) -> Iterator[RDD]:
    """The N_PART parallel instances as a loop-lifetime RDD, released on
    exit: one (part_id, ones-vector) record each (the reference's data
    source), placed in min(N_PART, defaultParallelism) partitions."""

    def encode(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield i, np.ones(VEC_SIZE)

    with array_blocks(place_blocks(spark.range(N_PART), N_PART, key="id"), encode) as inst:
        yield inst


def reduce_vector(inst: RDD) -> np.ndarray:
    """Reduce: the element-wise sum of every instance's vector, one job."""
    return map_blocks(inst, lambda rec: rec[1], reduce=np.add)


def allreduce(inst: RDD) -> list[tuple[int, float]]:
    """AllReduce: the reduced vector shipped back to every instance, which
    returns (part_id, sum of the vector it received); two jobs."""
    return map_blocks(inst, lambda rec, v: (rec[0], float(v.sum())), reduce_vector(inst))


@register(
    "collectives_reduce",
    oracle=f"""
    SELECT CAST(i - 1 AS INT) AS pos, CAST({N_PART} AS DOUBLE) AS total
    FROM (SELECT unnest(range(1, {VEC_SIZE} + 1)) AS i)
    ORDER BY pos
    """,
)
def collectives_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector Reduce: per-instance vectors combined element-wise
    (collectives/Reduce.java:47-66)."""
    with instances(spark) as inst:
        total = reduce_vector(inst)
    rows = [(pos, round(float(x), 6)) for pos, x in enumerate(total)]
    return spark.createDataFrame(rows, "pos INT, total DOUBLE").orderBy("pos")


@register(
    "collectives_allreduce",
    oracle=f"""
    SELECT CAST(i - 1 AS BIGINT) AS part_id,
           CAST({VEC_SIZE} * {N_PART} AS DOUBLE) AS checksum
    FROM (SELECT unnest(range(1, {N_PART} + 1)) AS i)
    ORDER BY part_id
    """,
)
def collectives_allreduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector AllReduce: the reduced vector redistributes to every parallel
    instance, which proves receipt via its checksum
    (collectives/AllReduce.java:43-79)."""
    with instances(spark) as inst:
        sums = allreduce(inst)
    rows = [(i, round(s, 6)) for i, s in sums]
    return spark.createDataFrame(rows, "part_id BIGINT, checksum DOUBLE").orderBy("part_id")
