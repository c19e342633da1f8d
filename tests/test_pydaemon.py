"""The engine's PySpark daemon: zip archives are re-read only when they change."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

from flink_mm_spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _import_from(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )

    importer.invalidate_caches()  # first call: no stamp yet, so it re-reads
    assert reads == [archive]
    importer.invalidate_caches()  # unchanged archive: no re-read
    importer.invalidate_caches()
    assert reads == [archive]
    assert _import_from(importer, "mod_a").VALUE == 1

    _write_zip(archive, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    importer.invalidate_caches()  # rewritten archive: re-read
    assert reads == [archive, archive]
    assert _import_from(importer, "mod_b").VALUE == 2

    os.remove(archive)
    importer.invalidate_caches()  # missing archive: the original path empties it
    assert reads == [archive, archive, archive]
    assert importer.find_spec("mod_a") is None


def test_engine_session_workers_run_engine_daemon(spark):
    """Every engine session's Python workers are forked from
    ``flink_mm_spark.pydaemon``: a task sees the wrapped
    ``zipimporter.invalidate_caches``."""
    import pandas as pd

    def report(batches):
        fn = zipimport.zipimporter.invalidate_caches
        for pdf in batches:
            yield pd.DataFrame({"src": [fn.__code__.co_filename] * len(pdf)})

    got = {
        r["src"]
        for r in spark.range(0, 8, numPartitions=2)
        .mapInPandas(report, "src string")
        .distinct()
        .collect()
    }
    assert {os.path.realpath(s) for s in got} == {os.path.realpath(pydaemon.__file__)}
