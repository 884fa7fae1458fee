"""The benchmark's own checks must catch wrong outputs.

    python3 -m pytest perfbench/test_checks.py -q

A small store is written without Spark, through the same split, combine and
store functions the pipeline uses, then damaged in several ways.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fixtures import Workload, check_store, write_sources  # noqa: E402
from sparkstats import parse_metric  # noqa: E402
from tracing import covered  # noqa: E402

TINY = Workload("tiny", nfiles=4, steps_per_file=2, ny=3, nx=5, time_chunk=4, rechunk_shuffle="payload", why="test")
SEED = 7


def write_store(tmp_path) -> str:
    from pangeo_forge_recipes_spark.aggregation import dataset_to_schema
    from pangeo_forge_recipes_spark.dsio import read_npz, schema_to_zarr, store_dataset_fragment
    from pangeo_forge_recipes_spark.ndset import concat
    from pangeo_forge_recipes_spark.rechunking import combine_fragments, split_fragment
    from pangeo_forge_recipes_spark.types import CombineOp, Dimension, Index, IndexedPosition

    src = tmp_path / "src"
    src.mkdir()
    parts = [read_npz(p) for p in write_sources(TINY, SEED, str(src))]
    schema = dataset_to_schema(concat(parts, "time"))
    schema["chunks"]["time"] = {i: TINY.steps_per_file for i in range(TINY.nfiles)}
    path = str(tmp_path / "out.zarr")
    schema_to_zarr(schema, path, target_chunks=TINY.target_chunks)
    groups = {}
    time_dim = Dimension("time", CombineOp.CONCAT)
    for i, ds in enumerate(parts):
        idx = Index({time_dim: IndexedPosition(i * TINY.steps_per_file, dimsize=TINY.nt)})
        for gk, frag in split_fragment((idx, ds), target_chunks=TINY.target_chunks, schema=schema):
            groups.setdefault(gk, []).append(frag)
    for gk, frags in groups.items():
        store_dataset_fragment(combine_fragments(gk, frags), path)
    return path


@pytest.fixture
def store(tmp_path):
    return write_store(tmp_path)


def test_correct_store_passes(store):
    assert check_store(TINY, SEED, store, *TINY.expected_counts()) == []


def test_corrupted_value_is_caught(store):
    from pangeo_forge_recipes_spark.zarrio import open_group

    arr = open_group(store)["foo"]
    block = arr[0:1, 0:1, 0:1]
    arr[0:1, 0:1, 0:1] = block + 1.0
    errors = check_store(TINY, SEED, store, *TINY.expected_counts())
    assert errors == ["foo differs in time steps 0..1"]


def test_missing_chunk_object_is_caught(store):
    victims = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(store, "bar")) for f in fs if "c" in d.split(os.sep)]
    os.remove(victims[-1])
    assert any(e.startswith("bar differs") for e in check_store(TINY, SEED, store, *TINY.expected_counts()))


def test_wrong_counts_are_caught(store):
    n, nbytes = TINY.expected_counts()
    assert check_store(TINY, SEED, store, n - 1, nbytes)
    assert check_store(TINY, SEED, store, n, nbytes + 8)


def test_other_seed_is_caught(store):
    assert check_store(TINY, SEED + 1, store, *TINY.expected_counts())


def test_wrong_chunk_shape_is_caught(store):
    other = Workload(**{**TINY.__dict__, "time_chunk": 2})
    assert any("chunk shape" in e for e in check_store(other, SEED, store, *TINY.expected_counts()))


def test_parse_metric():
    assert parse_metric("245 ms") == pytest.approx(0.245)
    assert parse_metric("23.5 MiB") == pytest.approx(23.5 * 2**20 / 1e6)
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.7 s (245 ms, 345 ms, 409 ms (stage 50.0: task 85))") == 1.7


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6), (8, 20)], 0, 10) == pytest.approx(6.0)
    assert covered([], 0, 10) == 0.0
