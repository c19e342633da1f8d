"""The unigram hard EM and the Reduce/AllReduce collectives run on the loop
runtime k-means and DA-MDS use (``linalg.block_matrix``): one decode per
loop, one ``map_blocks`` job per round, no SQL execution per round, and no
loop RDD outliving the entry that made it."""

from __future__ import annotations

import numpy as np

from flink_mm_spark.operators import collectives as C
from flink_mm_spark.operators import tokenizer as tk
from flink_mm_spark.registry import QUERIES
from tests.conftest import SF_DIR, persisted_rdds, spark_tasks, spark_work


def test_em_round_is_one_job(spark, monkeypatch):
    """One more EM round adds one Spark job, no SQL execution and at most
    one task per core, over a word table cached in 200 shuffle partitions
    (how ``unigram_pieces`` holds it in a session left at the default)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    words = tk._unigram_words(spark, SF_DIR).persist()
    try:
        words.count()
        work, tasks = {}, {}
        for iters in (2, 3):
            monkeypatch.setattr(tk, "UNI_EM_ITERS", iters)
            work[iters] = spark_work(spark, lambda: tk.train_unigram(words))
            tasks[iters] = spark_tasks(spark, lambda: tk.train_unigram(words))
    finally:
        words.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert (work[3][0] - work[2][0], work[3][1] - work[2][1]) == (1, 0), work
    assert 0 < tasks[3] - tasks[2] <= spark.sparkContext.defaultParallelism, tasks


def test_collective_rounds(spark):
    """A Reduce round is one job and an AllReduce round two, neither a SQL
    execution; the values are the analytic sums of ones."""
    with C.instances(spark) as inst:
        C.allreduce(inst)  # materializes the instance cache
        assert spark_work(spark, lambda: C.reduce_vector(inst)) == (1, 0)
        assert spark_work(spark, lambda: C.allreduce(inst)) == (2, 0)
        np.testing.assert_array_equal(C.reduce_vector(inst), np.full(C.VEC_SIZE, float(C.N_PART)))
        assert C.allreduce(inst) == [(i, float(C.VEC_SIZE * C.N_PART)) for i in range(C.N_PART)]


def test_loop_rdds_do_not_outlive_their_entry(spark):
    """The collectives and the unigram trainer release their loop RDDs on
    return. ``unigram_encode`` holds its word table under ``keep_latest``,
    so its first call takes that hold and a second call swaps it."""
    for name in ("collectives_reduce", "collectives_allreduce", "unigram_pieces"):
        start = persisted_rdds(spark)
        QUERIES[name].fn(spark, SF_DIR).collect()
        assert persisted_rdds(spark) == start, name
    encode = QUERIES["unigram_encode"].fn
    encode(spark, SF_DIR).collect()
    start = persisted_rdds(spark)
    encode(spark, SF_DIR).collect()
    assert persisted_rdds(spark) == start
