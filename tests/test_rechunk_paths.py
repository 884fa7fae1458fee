"""Every rechunk path of ``store_to_zarr`` writes the same store, byte for
byte, and the split's Arrow batches stay within what an Arrow ``binary``
column can address."""

from __future__ import annotations

import os
import uuid
from functools import partial

import pytest
from pyspark.errors import PythonException

import pangeo_forge_recipes_spark.transforms as T
from pangeo_forge_recipes_spark import ConcatDim, FilePattern, assert_equal, store_to_zarr
from pangeo_forge_recipes_spark.dsio import write_npz

from .data_generation import make_ds

# ragged file lengths along time: (start, stop) of each source file
TIME_BOUNDS = [(0, 2), (2, 3), (3, 7), (7, 9)]
# misaligned with the files along time, and chunked along lat as well
CHUNKS = {"time": 3, "lat": 6}


def _npz_path(root, time) -> str:
    return f"{root}/f{time}.npz"


@pytest.fixture(scope="module")
def ragged(tmp_path_factory):
    """Two data variables plus coords in npz files of 2, 1, 4 and 2 steps."""
    root = tmp_path_factory.mktemp("ragged")
    ds = make_ds(nt=TIME_BOUNDS[-1][1])
    for i, (a, b) in enumerate(TIME_BOUNDS):
        write_npz(_npz_path(root, i), ds.isel(time=slice(a, b)))
    pattern = FilePattern(
        partial(_npz_path, str(root)),
        ConcatDim("time", keys=list(range(len(TIME_BOUNDS)))),
        file_type="npz",
    )
    return ds, pattern


def _files(store: str) -> dict:
    out = {}
    for dirpath, _, names in os.walk(store):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, store)] = f.read()
    return out


def _run(spark, pattern, root, **kwargs):
    return store_to_zarr(spark, pattern, str(root), "s.zarr", target_chunks=CHUNKS, **kwargs)


@pytest.mark.parametrize("target_shards", [None, {"time": 6, "lat": 12}], ids=["chunks", "shards"])
def test_every_rechunk_mode_writes_the_same_bytes(
    spark, ragged, tmp_path, monkeypatch, target_shards
):
    ds, pattern = ragged
    modes = {
        mode: _run(spark, pattern, tmp_path / mode, target_shards=target_shards, rechunk_shuffle=mode)
        for mode in ("payload", "reference", "spill")
    }
    monkeypatch.setattr(T, "SPILL_INLINE_BYTES", 0)
    modes["spill-all"] = _run(
        spark, pattern, tmp_path / "spill-all", target_shards=target_shards, rechunk_shuffle="spill"
    )

    want = modes["payload"]
    assert want.shuffled
    assert_equal(want.open(), ds)
    want_files = _files(want.path)
    assert any(name.startswith("foo/c/") for name in want_files)
    for mode, got in modes.items():
        assert _files(got.path) == want_files, mode
        assert (got.n_chunks_written, got.bytes_written) == (
            want.n_chunks_written,
            want.bytes_written,
        ), mode
    assert not (tmp_path / "spill-all" / "s.zarr.spill").exists()


def test_split_flushes_batches_below_arrow_binary_max(spark, ragged, tmp_path, monkeypatch):
    """With the buffer limit at a few KB, every source's split emits more
    than one record batch and the store is unchanged."""
    ds, pattern = ragged
    want = _run(spark, pattern, tmp_path / "want", rechunk_shuffle="payload")

    log = tmp_path / "batches"
    log.mkdir()
    frame_batches = T._frame_batches

    def counted(rows, ddl, max_bytes):
        batches = list(frame_batches(rows, ddl, max_bytes))
        assert all(b.column("payload").buffers()[2].size <= max_bytes for b in batches)
        (log / uuid.uuid4().hex).write_text(str(len(batches)))
        return batches

    monkeypatch.setattr(T, "_ARROW_BINARY_MAX", 8 << 10)
    monkeypatch.setattr(T, "_frame_batches", counted)
    got = _run(spark, pattern, tmp_path / "got", rechunk_shuffle="payload")

    counts = [int(p.read_text()) for p in log.iterdir()]
    assert len(counts) == len(TIME_BOUNDS) and min(counts) > 1, counts
    assert _files(got.path) == _files(want.path)
    assert (got.n_chunks_written, got.bytes_written) == (want.n_chunks_written, want.bytes_written)
    assert_equal(got.open(), ds)


def test_split_rejects_a_piece_over_arrow_binary_max(spark, ragged, tmp_path, monkeypatch):
    _, pattern = ragged
    monkeypatch.setattr(T, "_ARROW_BINARY_MAX", 1 << 10)
    with pytest.raises(PythonException, match="lower target_chunks"):
        _run(spark, pattern, tmp_path, rechunk_shuffle="payload")
