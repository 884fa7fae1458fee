"""The manifest-side JVM expressions of ``transforms`` — the schema group
key, the concat offsets and the prune filter — against the Python
``Index`` code they stand for, and the plan shape they give
``store_to_zarr``: one Python node per stage, no row UDF, no Python RDD."""

from __future__ import annotations

import warnings
from collections import defaultdict
from functools import partial

import pandas as pd
import pytest

import pangeo_forge_recipes_spark.transforms as T
from pangeo_forge_recipes_spark import (
    ConcatDim,
    FilePattern,
    MergeDim,
    assert_equal,
    store_to_zarr,
)
from pangeo_forge_recipes_spark.aggregation import schema_from_json
from pangeo_forge_recipes_spark.dsio import write_npz
from pangeo_forge_recipes_spark.types import (
    CombineOp,
    Index,
    augment_index_with_start_stop,
)

from .data_generation import make_ds

# ragged file lengths along time: (start, stop) of each source file
TIME_BOUNDS = [(0, 2), (2, 3), (3, 6), (6, 8)]


def _python_index_items(index_json: str, schema: dict, append_offset: int) -> str:
    lens = {d: [pm[i] for i in range(len(pm))] for d, pm in schema["chunks"].items()}
    index = Index.from_json(index_json)
    return Index(
        {
            d: augment_index_with_start_stop(p, lens[d.name], append_offset)
            if d.operation == CombineOp.CONCAT
            else p
            for d, p in index.items()
        }
    ).to_json()


def _pattern(*dims) -> FilePattern:
    return FilePattern(lambda **kw: "/".join(f"{k}={v}" for k, v in sorted(kw.items())), *dims)


@pytest.mark.parametrize(
    "dims, chunks, append_offset",
    [
        ([ConcatDim("time", keys=[0, 1, 2, 3])], {"time": {0: 3, 1: 1, 2: 5, 3: 2}}, 7),
        (
            [ConcatDim("time", keys=[0, 1, 2]), ConcatDim("lat", keys=[0, 1])],
            {"time": {0: 2, 1: 4, 2: 1}, "lat": {0: 9, 1: 4}},
            0,
        ),
        (
            [ConcatDim("time", keys=[0, 1, 2, 3]), MergeDim("variable", keys=["foo", "bar"])],
            {"time": {0: 3, 1: 1, 2: 5, 3: 2}},
            7,
        ),
    ],
    ids=["ragged-offset", "two-concat", "concat-merge"],
)
def test_index_items_matches_python(spark, dims, chunks, append_offset):
    pattern = _pattern(*dims)
    schema = {"chunks": chunks}
    manifest = T.manifest_df(spark, pattern)
    want = {
        r["url"]: _python_index_items(r["index"], schema, append_offset)
        for r in manifest.collect()
    }
    got = {
        r["url"]: r["index"]
        for r in T.index_items(manifest, schema, append_offset=append_offset).collect()
    }
    assert got == want
    assert len(got) == len(pattern)


@pytest.mark.parametrize(
    "dims",
    [
        [ConcatDim("time", keys=[0, 1, 2, 3]), MergeDim("variable", keys=["foo", "bar"])],
        [ConcatDim("time", keys=[0, 1, 2]), ConcatDim("lat", keys=[0, 1])],
    ],
    ids=["concat-merge", "two-concat"],
)
def test_schema_group_key_matches_python(spark, dims):
    pattern = _pattern(*dims)
    rows = T.manifest_df(spark, pattern)
    for dim in pattern.combine_dim_keys:
        for r in rows.withColumn("outer", T._index_without(dim)).collect():
            idx = Index.from_json(r["index"])
            assert r["outer"] == Index({k: v for k, v in idx.items() if k != dim}).to_json()


def _npz_path(root, variable, time) -> str:
    return f"{root}/{variable}_{time}.npz"


@pytest.fixture(scope="module")
def concat_merge(tmp_path_factory):
    """Ragged ConcatDim("time") × MergeDim("variable") npz files."""
    root = tmp_path_factory.mktemp("concat_merge")
    ds = make_ds(nt=TIME_BOUNDS[-1][1])
    for v in ("foo", "bar"):
        for i, (a, b) in enumerate(TIME_BOUNDS):
            sub = ds.isel(time=slice(a, b)).drop_vars([dv for dv in ds.data_vars if dv != v])
            write_npz(_npz_path(root, v, i), sub)
    # a module-level format function: the distributed manifest broadcasts
    # the pattern with plain pickle
    pattern = FilePattern(
        partial(_npz_path, str(root)),
        ConcatDim("time", keys=list(range(len(TIME_BOUNDS)))),
        MergeDim("variable", keys=["foo", "bar"]),
        file_type="npz",
    )
    return ds, pattern


def _python_determine_schema(rows, combine_dims) -> dict:
    """The schema reduction with the group key built by ``Index`` in
    Python, level by level, innermost dim first."""
    for dim in reversed(combine_dims):
        groups = defaultdict(list)
        for idx_json, schema_json in rows:
            idx = Index.from_json(idx_json)
            groups[Index({k: v for k, v in idx.items() if k != dim}).to_json()].append(
                (idx_json, schema_json)
            )
        combine = T._combine_level_fn(dim)
        rows = []
        for key, grp in groups.items():
            out = combine((key,), pd.DataFrame(grp, columns=["index", "schema"]))
            rows.append((out["index"][0], out["schema"][0]))
    assert len(rows) == 1
    return schema_from_json(rows[0][1])


def test_determine_schema_matches_python(spark, concat_merge):
    _, pattern = concat_merge
    schemas = T.read_schemas_df(T.manifest_df(spark, pattern), "npz")
    rows = [(r["index"], r["schema"]) for r in schemas.collect()]
    got = T.determine_schema(schemas, pattern.combine_dim_keys)
    assert got == _python_determine_schema(rows, pattern.combine_dim_keys)
    assert got["chunks"]["time"] == {i: b - a for i, (a, b) in enumerate(TIME_BOUNDS)}


def test_prune_manifest_keeps_same_rows(spark, concat_merge):
    _, pattern = concat_merge
    kept = {r["index"] for r in T.prune_manifest(T.manifest_df(spark, pattern), pattern, 2).collect()}
    assert kept == {idx.to_json() for idx in pattern.prune(2)}
    assert len(kept) == 4


def test_distributed_manifest_store_roundtrip(spark, concat_merge, tmp_path, monkeypatch):
    """Above ``_DRIVER_MANIFEST_MAX`` the manifest is unravelled in the
    executors; its index strings feed the same JVM expressions."""
    ds, pattern = concat_merge
    monkeypatch.setattr(T, "_DRIVER_MANIFEST_MAX", 2)
    plan = T.manifest_df(spark, pattern)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "s.zarr", target_chunks={"time": 3},
        rechunk_shuffle="payload",
    )
    assert result.shuffled
    assert_equal(result.open(), ds)


def test_store_to_zarr_prune(spark, concat_merge, tmp_path):
    ds, pattern = concat_merge
    result = store_to_zarr(
        spark, pattern, str(tmp_path / "t"), "s.zarr", target_chunks={"time": 2}, prune=2
    )
    assert_equal(result.open(), ds.isel(time=slice(0, TIME_BOUNDS[1][1])))


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------

_PYTHON_RUN_METRIC = "time to run Python workers"


def _seq(seq) -> list:
    return [seq.apply(k) for k in range(seq.size())]


def _plans_since(spark, seen: set) -> list:
    """``(node names, {python node id: its stage's boundary node id}, plan
    text)`` for every SQL execution not in ``seen``. A stage's boundary is
    the nearest Exchange above a node, or the plan root."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(store.executionsList()):
        if ex.executionId() in seen:
            continue
        graph = store.planGraph(ex.executionId())
        nodes = {n.id(): n for n in _seq(graph.allNodes())}
        parent = {e.fromId(): e.toId() for e in _seq(graph.edges())}
        stage_of = {}
        for nid, node in nodes.items():
            if _PYTHON_RUN_METRIC not in {m.name() for m in _seq(node.metrics())}:
                continue
            up = parent.get(nid)
            while up is not None and nodes[up].name() != "Exchange":
                up = parent.get(up)
            stage_of[nid] = up
        out.append(
            ([n.name() for n in nodes.values()], stage_of, ex.physicalPlanDescription())
        )
    return out


@pytest.mark.parametrize(
    "target_chunks, rechunk_shuffle, prune",
    [
        ({"time": 3}, "payload", None),
        ({"time": 3}, "reference", None),
        ({"time": 3}, "spill", None),
        ({"time": 3}, "payload", 3),
        ({"time": 1}, "payload", None),
    ],
    ids=["payload", "reference", "spill", "payload-prune", "aligned"],
)
def test_one_python_node_per_stage(
    spark, concat_merge, tmp_path, target_chunks, rechunk_shuffle, prune
):
    ds, pattern = concat_merge
    store = spark._jsparkSession.sharedState().statusStore()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    seen = {ex.executionId() for ex in _seq(store.executionsList())}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        result = store_to_zarr(
            spark, pattern, str(tmp_path / "t"), "s.zarr", target_chunks=target_chunks,
            rechunk_shuffle=rechunk_shuffle, prune=prune,
        )
    assert not [str(w.message) for w in caught if issubclass(w.category, UserWarning)]
    assert result.shuffled == (target_chunks["time"] != 1)
    nt = TIME_BOUNDS[prune - 1][1] if prune else TIME_BOUNDS[-1][1]
    assert_equal(result.open(), ds.isel(time=slice(0, nt)))

    plans = _plans_since(spark, seen)
    assert plans
    n_python = 0
    for names, stage_of, _ in plans:
        assert not {"BatchEvalPython", "ArrowEvalPython"} & set(names), names
        assert not any("ExistingRDD" in n for n in names), names  # a Python RDD
        per_stage = defaultdict(int)
        for boundary in stage_of.values():
            per_stage[boundary] += 1
        assert set(per_stage.values()) <= {1}, names
        n_python += len(stage_of)
    # schema: the header scan + one combine per level; data: split and
    # combine+write, or one fused stage on the zero-shuffle path
    assert n_python == 3 + (2 if result.shuffled else 1)
    if rechunk_shuffle == "spill":
        # spill writes through the payload path's Arrow grouped map, and
        # its exchange carries NDS1 frames and scratch pointers only
        (text,) = [text for _, _, text in plans if "group_key#" in text]
        assert "FlatMapGroupsInArrow" in text and "FlatMapGroupsInPandas" not in text
        assert "url#" in text and "meta#" not in text
