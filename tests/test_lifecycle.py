"""The engine's lifecycle helpers: ``streaming/runner.py`` starts every
stream, ``session.keep_latest`` holds every intermediate the returned plan
reads, ``session.release`` frees every other one, and ``block_matrix.ship``
is the one explicit broadcast (other kernel state rides in the kernel's
closure). Plus the one measurement path (Spark's event log, never the UI's
status REST API) and the one block-placement rule
(``block_matrix.place_blocks``).

The guards are stdlib-only source scans, so a hand-rolled stream start,
module cache or REST poll fails here before it can drift from the helpers.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "flink_mm_spark"

# the one stream outside the runner: default trigger, polled by row count
STREAM_SCAN_ENTRY = ("sources/datasource.py", "binmatrix_stream_scan")
# _ONL_CKPT_CACHE maps an sf dir to a finished run's checkpoint (a path, not
# a Spark resource) for the compaction entry; _SCAN_CACHE holds the live
# session's resolved (unpersisted) table scans, dropped when another session
# reads; _BROADCAST_THRESHOLD_CACHE holds one int per live SparkContext
ALLOWED_CACHES = {"_ONL_CKPT_CACHE", "_SCAN_CACHE", "_BROADCAST_THRESHOLD_CACHE"}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def test_streams_and_caches_only_through_the_helpers():
    starts, caches = [], []
    for rel, src in _modules():
        tree = ast.parse(src)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                    starts.append((rel, fn.name))
        for stmt in tree.body:
            targets = (
                [t for t in stmt.targets if isinstance(t, ast.Name)]
                if isinstance(stmt, ast.Assign)
                else [stmt.target] if isinstance(stmt, ast.AnnAssign) else []
            )
            for t in targets:
                if re.fullmatch(r"_\w*_CACHE", t.id) and t.id not in ALLOWED_CACHES:
                    caches.append((rel, t.id))
        if ".pop().unpersist()" in src:
            caches.append((rel, ".pop().unpersist() swap"))
    assert {s for s in starts if s[0] != "streaming/runner.py"} == {STREAM_SCAN_ENTRY}, starts
    assert caches == [], caches


def _package_bench_and_scripts():
    yield from _modules()
    for path in [ROOT / "bench.py", *sorted((ROOT / "scripts").rglob("*.py"))]:
        yield path.relative_to(ROOT).as_posix(), path.read_text()


def test_one_explicit_broadcast_and_one_release():
    """Kernel state ships one way: a SQL kernel's in its closure, an RDD
    pass's through ``block_matrix.ship``, the only SparkContext broadcast
    in the package, bench.py and scripts/ (``F.broadcast`` is a join hint).
    Frames are freed one way, ``session.release``; the checkpoint-only
    helper it replaced is gone."""
    found = []
    for rel, src in _package_bench_and_scripts():
        tree = ast.parse(src)
        allowed = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) == ("linalg/block_matrix.py", "ship")
            for node in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "F")
                and id(node) not in allowed
            ):
                found.append((rel, node.lineno))
    assert found == [], found
    this = pathlib.Path(__file__).resolve()
    named = [
        path.relative_to(ROOT).as_posix()
        for path in sorted(ROOT.rglob("*.py"))
        if path != this
        and not path.relative_to(ROOT).parts[0].startswith(".")
        and "free_local_checkpoint" in path.read_text()
    ]
    assert named == [], named


def test_no_ui_or_status_rest_api_outside_perfbench():
    """Measurements read the event log (perfbench/eventlog.py); nothing
    outside perfbench/ turns on the Spark UI or polls its REST API."""
    this = pathlib.Path(__file__).resolve()
    found = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if rel.parts[0] == "perfbench" or rel.parts[0].startswith(".") or path == this:
            continue
        src = path.read_text()
        if "/api/v1" in src:
            found.append((rel.as_posix(), "/api/v1"))
        for node in ast.walk(ast.parse(src)):
            pairs = []
            if isinstance(node, ast.Dict):
                pairs = list(zip(node.keys, node.values))
            elif isinstance(node, ast.Call) and len(node.args) >= 2:
                pairs = [(node.args[0], node.args[1])]
            for k, v in pairs:
                if (
                    isinstance(k, ast.Constant) and k.value == "spark.ui.enabled"
                    and not (isinstance(v, ast.Constant) and str(v.value).lower() == "false")
                ):
                    found.append((rel.as_posix(), f"spark.ui.enabled line {node.lineno}"))
    assert found == [], found


def test_no_session_conf_writes_under_algos():
    """The iterative drivers share the caller's session: none of them may
    set or unset a session conf, which every other query on that session
    would run under meanwhile."""
    found = []
    for path in sorted((PKG / "algos").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                found.append((path.relative_to(PKG).as_posix(), node.lineno))
    assert found == [], found


# the modules that build block tables, and the one function that places them
BLOCK_MODULES = ("algos/damds.py", "linalg/block_matrix.py", "sources/binary_matrix.py")
PLACEMENT_CALLS = {"repartition", "repartitionByRange", "repartitionById", "coalesce"}


def test_block_tables_placed_only_by_place_blocks():
    """Every block table takes its partitioning from ``place_blocks``: a
    repartition or coalesce anywhere else in the block constructors is a
    second placement rule. ``F.coalesce`` is SQL's null coalesce, not a
    placement."""
    found = []
    for rel in BLOCK_MODULES:
        tree = ast.parse((PKG / rel).read_text())
        allowed = {
            id(node)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "place_blocks"
            for node in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in PLACEMENT_CALLS
                and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "F")
                and id(node) not in allowed
            ):
                found.append((rel, node.lineno))
    assert found == [], found


def test_damds_holds_its_bytes_once():
    """The DA-MDS constructors return lazy plans, so the anneal's decode is
    the one cache of the distance bytes: ``algos/damds.py`` persists
    nothing, and its one checkpoint is the incremental state, which outlives
    each anneal."""
    calls = [
        node.func.attr
        for node in ast.walk(ast.parse((PKG / "algos/damds.py").read_text()))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
    ]
    assert (calls.count("persist"), calls.count("localCheckpoint")) == (0, 1)


def test_keep_latest_releases_before_persist(spark):
    """Identical plans: the second generation must stay cached (releasing
    after persisting would uncache it, since Spark's CacheManager treats a
    persist of an already-cached plan as a no-op). Different plans: the
    replacement uncaches the first."""
    from pyspark import StorageLevel

    from flink_mm_spark.session import keep_latest

    none = StorageLevel(False, False, False, False, 1)
    a1 = keep_latest("test_same_plan", spark.range(10).selectExpr("id * 2 AS x"))
    a2 = keep_latest("test_same_plan", spark.range(10).selectExpr("id * 2 AS x"))
    assert a2.storageLevel != none
    assert a2.count() == 10

    b1 = keep_latest("test_new_plan", spark.range(7).selectExpr("id + 1 AS y"))
    assert b1.storageLevel != none
    b2 = keep_latest("test_new_plan", spark.range(5).selectExpr("id + 3 AS y"))
    assert b1.storageLevel == none
    assert b2.storageLevel != none
    for df in (a1, b2):
        df.unpersist()
