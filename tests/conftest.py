"""Shared fixtures: one SparkSession per test session + the oracle harness.

``assert_matches_oracle`` mirrors the driver's t2 gate: run the Spark query
and the DuckDB oracle on the same parquet tables, compare row count, column
names, and order-insensitive values. Comparison is EXACT by default (the
driver hashes values, so exact equality is what actually gates); queries are
engineered to be bit-stable via decimal-cast sums and explicit rounding.
"""

from __future__ import annotations

import math
import os
import uuid

import duckdb
import pytest

from flink_mm_spark.session import get_spark
from flink_mm_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("flink-mm-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _rows_sorted(rows, cols):
    # sort columns by name (driver semantics), then rows lexicographically
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    proj = [tuple(r[i] for i in order) for r in rows]
    return sorted(proj, key=lambda r: tuple(str(x) for x in r)), [cols[i] for i in order]


def assert_matches_oracle(spark_df, oracle: str, sf_dir: str, rtol: float | None = None):
    """rtol=None → exact float equality (what the driver's value-hash needs)."""
    con = duck_con(sf_dir)
    want = con.execute(oracle)
    want_cols = [d[0] for d in want.description]
    want_rows = want.fetchall()
    got_cols = spark_df.columns
    got_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(got_cols) == sorted(want_cols), f"columns differ: {got_cols} vs {want_cols}"
    assert len(got_rows) == len(want_rows), f"row count {len(got_rows)} vs {len(want_rows)}"

    g, cols = _rows_sorted(got_rows, got_cols)
    w, _ = _rows_sorted(want_rows, want_cols)
    for i, (gr, wr) in enumerate(zip(g, w)):
        for c, (gv, wv) in enumerate(zip(gr, wr)):
            ctx = f"row {i} col {cols[c]}: {gv!r} != {wv!r}\nspark={gr}\nduck ={wr}"
            if isinstance(gv, float) or isinstance(wv, float):
                gvf, wvf = float(gv), float(wv)
                if math.isnan(gvf) and math.isnan(wvf):
                    continue
                if rtol is None:
                    assert gvf == wvf, ctx
                else:
                    assert gvf == pytest.approx(wvf, rel=rtol, abs=1e-12), ctx
            else:
                assert gv == wv, ctx


def spark_work(spark, fn) -> tuple[int, int]:
    """(Spark jobs, SQL executions) that ``fn()`` starts.

    Jobs are counted in a job group of their own, SQL executions by the
    growth of the latest execution id in the SQL status store (which keeps
    only the last ``spark.sql.ui.retainedExecutions``). Both stores are fed
    by listeners, so each read waits for the listener bus to drain. Works
    with the UI off; RDD jobs start no SQL execution.
    """
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    before = last_execution()
    jobs = _group_jobs(sc, fn)
    return len(jobs), last_execution() - before


def spark_tasks(spark, fn) -> int:
    """Tasks run by the Spark jobs that ``fn()`` starts (a skipped stage,
    whose shuffle output already exists, runs none)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    return sum(
        tracker.getStageInfo(s).numCompletedTasks
        for j in _group_jobs(sc, fn)
        for s in tracker.getJobInfo(j).stageIds
    )


def _group_jobs(sc, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts, counted in a job group of
    their own once the listener bus has drained."""
    group = f"spark-work-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
