"""``scripts/measure.py``: its three modes and its one set-up path."""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]
_spec = importlib.util.spec_from_file_location("measure", ROOT / "scripts" / "measure.py")
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)


@pytest.mark.parametrize(
    "argv",
    [
        ["time", "no_such_entry"],
        ["time", SF_DIR, "pricing_summary", "no_such_entry"],
        ["plans", "unused_dir", "before", "kmeans_d2_k100_i10"],
        ["shuffle", "no_such_entry"],
        ["shuffle", "top_orders_by_price"],  # registered, but not AUDITED
        ["time", "damds_n500_d3", "no_such_entry"],
    ],
)
def test_unknown_name_raises_before_session(monkeypatch, argv):
    def no_session(*a, **k):
        raise AssertionError("a session started before the name check")

    monkeypatch.setattr(measure, "get_spark", no_session)
    with pytest.raises(KeyError):
        measure.main(argv)


def test_bench_loop_names_resolve(monkeypatch):
    """bench.py's k-means and DA-MDS names pass the name check and run
    bench.py's own functions."""

    class SessionStart(Exception):
        pass

    def no_session(*a, **k):
        raise SessionStart

    monkeypatch.setattr(measure, "get_spark", no_session)
    with pytest.raises(SessionStart):
        measure.main(["time", "kmeans_d2_k100_i10", "kmeans_d2_k1000_i10", "damds_n500_d3"])
    assert measure.BENCH_LOOPS["damds_n500_d3"] is measure.bench.bench_damds
    calls = []
    monkeypatch.setitem(measure.BENCH_LOOPS, "damds_n500_d3", lambda *a: calls.append(a))
    measure.entry_call("session", "damds_n500_d3", SF_DIR)()
    assert calls == [("session", SF_DIR)]


def test_time_one_dir_and_ladder(spark, monkeypatch, capsys):
    monkeypatch.setattr(measure.bench, "BENCH_REPS", 1)
    measure.registry.load_all()
    out = measure.time_entries(spark, [SF_DIR], ["pricing_summary"])
    assert set(out["pricing_summary"]) == {"median", "runs"}
    assert len(out["pricing_summary"]["runs"]) == 1
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    assert list(lines[0]) == ["pricing_summary"]
    assert set(lines[-1]) == {"sf_dir", "reps", "load", "entries"}

    sf_big = str(pathlib.Path(SF_DIR).with_name("sf0.01"))
    ladder = measure.time_entries(spark, [SF_DIR, sf_big], ["pricing_summary"])
    rec = ladder["pricing_summary"]
    assert list(rec) == ["entry", "load0", pathlib.Path(SF_DIR).name, "sf0.01", "growth_10x"]
    assert rec["growth_10x"] == round(rec["sf0.01"]["median"] / rec[pathlib.Path(SF_DIR).name]["median"], 2)


def test_plans_writes_both_sections(spark, tmp_path):
    measure.registry.load_all()
    (path,) = measure.capture_plans(spark, SF_DIR, str(tmp_path), "before", ["pricing_summary"])
    assert path == str(tmp_path / "pricing_summary_before.txt")
    text = pathlib.Path(path).read_text()
    assert text.startswith(f"== pricing_summary (before, {pathlib.Path(SF_DIR).name}) ==\n\n")
    assert "---- explain(formatted) ----\n" in text
    assert "\n---- AQE-final executedPlan (after collect) ----\n" in text
    assert "file:/" not in text


def test_shuffle_reads_bytes_from_the_event_log():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, PYTHONPATH=str(ROOT))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [sys.executable, "scripts/measure.py", "shuffle", "pricing_summary"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert [r["query"] for r in rows] == ["pricing_summary", "fact_join_shuffle_baseline"]
    assert all(isinstance(r["shuffle_mb"], float) for r in rows)
    assert all(0 < r["jobs"] <= r["tasks"] for r in rows)
    # the broadcast-free fact join shuffles both tables
    assert rows[1]["shuffle_mb"] > 0
