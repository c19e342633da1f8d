"""Simulate the driver harness: consume __spark_entry__ as a black box.

Creates a plain SparkSession (no engine defaults — like the driver would),
runs entry() at sf0.001, then every queries() entry at sf0.01 side-by-side
with oracle_sql() through DuckDB, comparing row count, column names, and an
order-insensitive value hash (floats repr'd exactly — the strictest
plausible driver compare). Rows-only entries print their hash too, and every
entry its wall and the Spark tasks its jobs ran (jobs started from the
entry's own thread, counted in a job group).
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import sys
import time
import uuid

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
import __spark_entry__ as entrymod

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SF001 = "/root/testdata/sf0.001"
SF01 = os.environ.get("DRIVER_SIM_SF", "/root/testdata/sf0.01")


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(repr(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def norm_rows(rows):
    """Align cross-engine value types before hashing: DuckDB DECIMAL/numpy
    scalars → plain Python floats/ints so repr() compares equal."""
    import decimal

    import numpy as np

    def norm(v):
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, np.generic):
            return v.item()
        return v

    return [tuple(norm(v) for v in r) for r in rows]


def run_counted(sc, fn):
    """(fn(), tasks run by the Spark jobs fn starts in this thread)."""
    group = f"driver-sim-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    return out, sum(st.numCompletedTasks for st in stages if st is not None)


def main():
    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # --- entry() smoke ---
    df = entrymod.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
    assert len(rows) > 0, 'entry() returned no rows'

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # DRIVER_SIM_ONLY=a,b,c — targeted re-verify of named entries after an
    # incremental change (the full run stays the per-round gate). Unknown
    # names are an error, not a silent skip (the shuffle-audit rule).
    only = os.environ.get("DRIVER_SIM_ONLY")
    if only:
        wanted = set(only.split(","))
        unknown = wanted - set(qs)
        if unknown:
            raise KeyError(f"DRIVER_SIM_ONLY names not registered: {sorted(unknown)}")
        qs = {n: f for n, f in qs.items() if n in wanted}
    print(f"{len(qs)} queries, {len(oracles)} with oracle")
    n_match = n_rows_only = n_fail = 0
    for name, fn in sorted(qs.items()):
        t0 = time.time()

        def run():
            sdf = fn(spark, SF01)
            return sdf.columns, [tuple(r) for r in sdf.collect()]

        (scols, srows), tasks = run_counted(spark.sparkContext, run)
        dt = time.time() - t0
        sh = value_hash(scols, norm_rows(srows))
        if name not in oracles:
            print(f"  {name}: rows-only, {len(srows)} rows, hash {sh}, {dt:.1f}s, {tasks} tasks")
            n_rows_only += 1
            continue
        want = con.execute(oracles[name])
        wcols = [d[0] for d in want.description]
        wrows = want.fetchall()
        wh = value_hash(wcols, norm_rows(wrows))
        ok = sorted(scols) == sorted(wcols) and len(srows) == len(wrows) and sh == wh
        status = "MATCH" if ok else "MISMATCH"
        if ok:
            n_match += 1
        else:
            n_fail += 1
        print(f"  {name}: {status} ({len(srows)} rows, hash {sh} vs {wh}, {dt:.1f}s, {tasks} tasks)")
    print(json.dumps({"match": n_match, "rows_only": n_rows_only, "fail": n_fail}))
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
