"""The Python worker daemon: zip importers re-read their archive directory
only when the archive changed, workers run the wrapped method, and
``addPyFile`` archives still import."""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import pytest

from pangeo_forge_recipes_spark import pyworker_daemon

DAEMON = "pangeo_forge_recipes_spark.pyworker_daemon"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def reads(monkeypatch):
    calls = []
    original = pyworker_daemon._read_directory

    def counting(importer):
        calls.append(importer.archive)
        return original(importer)

    monkeypatch.setattr(pyworker_daemon, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    pyworker_daemon.invalidate_caches(importer)
    assert reads == [path]  # no stamp yet: the first call reads
    for _ in range(3):
        pyworker_daemon.invalidate_caches(importer)
    assert reads == [path]
    assert importer.find_spec("a") is not None


def test_rewritten_archive_is_reread(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    pyworker_daemon.invalidate_caches(importer)
    size = os.stat(path).st_size
    _write_zip(path, {"b": "Y = 'a longer module body than a'\n"})
    assert os.stat(path).st_size != size
    pyworker_daemon.invalidate_caches(importer)
    assert reads == [path, path]
    assert importer.find_spec("b") is not None
    assert importer.find_spec("a") is None


def test_deleted_archive_behaves_like_the_original(tmp_path, reads):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"a": "X = 1\n"})
    wrapped, unwrapped = zipimport.zipimporter(path), zipimport.zipimporter(path)
    pyworker_daemon.invalidate_caches(wrapped)
    os.remove(path)
    pyworker_daemon.invalidate_caches(wrapped)
    assert reads == [path, path]
    assert path not in zipimport._zip_directory_cache
    zipimport.zipimporter.invalidate_caches(unwrapped)
    assert wrapped._files == unwrapped._files == {}
    assert wrapped.find_spec("a") is None
    # recreated at the same path: the dropped stamp forces a fresh read
    _write_zip(path, {"a": "X = 1\n"})
    pyworker_daemon.invalidate_caches(wrapped)
    assert reads == [path, path, path]
    assert wrapped.find_spec("a") is not None


def test_workers_run_the_wrapped_method(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        name = zipimport.zipimporter.invalidate_caches.__module__
        yield pa.RecordBatch.from_pydict({"m": [name]})

    rows = spark.range(8, numPartitions=4).mapInArrow(probe, "m string").collect()
    assert {r.m for r in rows} == {DAEMON}


def test_add_py_file_after_workers_ran(spark, tmp_path):
    def passthrough(batches):
        yield from batches

    assert spark.range(4, numPartitions=2).mapInArrow(passthrough, "id long").count() == 4

    name = f"pfr_added_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(path)

    def use_added(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [value] * b.num_rows})

    rows = spark.range(4, numPartitions=2).mapInArrow(use_added, "v long").collect()
    assert [r.v for r in rows] == [42] * 4
