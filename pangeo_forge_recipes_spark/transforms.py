"""The Spark pipeline: manifest → open → schema → rechunk → Zarr/kerchunk.

This module is the engine's rendition of reference ``pangeo_forge_recipes/
transforms.py`` (the Beam PTransform library), re-expressed Spark-first:

* the file matrix is a **DataFrame manifest** ``(index, url)`` — built
  distributed for huge patterns (``spark.range`` + unravel);
* the schema reduction is a **two-pass design**: pass 1 reads *metadata
  only* (no array payloads) and reduces tiny schema rows; pass 2 streams
  data. The reference opens lazily once and trusts Beam fusion — at 100 TB
  on Spark that would force caching opened fragments across stages, so the
  metadata pre-pass is the scale-correct equivalent (same semantics:
  the combine kernel errors on any inconsistency either way);
* the rechunk is the engine's **single data shuffle**:
  ``groupBy(group_key).applyInArrow`` (reference flags the same GroupByKey
  as the one perf hazard, ``transforms.py:414``);
* combine + region-write are **fused in the same task** — a combined chunk
  is written where it is assembled and never crosses another exchange
  (Beam gets this via runner fusion; we get it by construction), only tiny
  status rows come back;
* writes are **idempotent aligned region puts** of disjoint keys, safe
  under task retries; speculative execution should stay off for the write
  stage (see reference non-idempotence warning for append,
  ``transforms.py:680-684``);
* Python runs once per stage, for the kernels: the schema group key, the
  concat offsets and the prune filter are JVM expressions over
  :data:`INDEX_TYPE`, since each Python task pays a fixed worker set-up.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import pickle
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Iterator, List, Optional, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregation import (
    XarraySchema,
    combine_xarray_schemas,
    dataset_to_schema,
    determine_target_chunks,
    schema_from_json,
    schema_to_json,
)
from .dsio import (
    _is_first_in_merge_dim,
    consolidate_dimension_coordinates as _consolidate_coords,
    open_zarr_group,
    schema_to_zarr,
    store_dataset_fragment,
    zarr_group_schema,
)
from .ndset import NDDataset, Variable
from .openers import open_url, open_with_ndset, open_with_kerchunk, read_schema
from .patterns import FilePattern, FileType
from .rechunking import combine_fragments, group_key_to_json, split_fragment
from .storage import CacheFSSpecTarget, FSSpecTarget
from .types import CombineOp, Dimension, Index
from .zarrio import consolidate_metadata as _consolidate_metadata

MANIFEST_SCHEMA = "index string, url string"
FRAGMENT_SCHEMA = "index string, payload binary"
SPLIT_SCHEMA = "group_key string, index string, payload binary"
REFS_SCHEMA = "group_key string, index string, url string"
STATUS_SCHEMA = "group_key string, index string, n_vars int, nbytes bigint"

# threshold above which the manifest is generated distributed rather than
# enumerated on the driver
_DRIVER_MANIFEST_MAX = 100_000

#: Spark type of an ``Index.to_json`` string. Fields are in the sorted-key
#: order ``Index.to_json`` writes and ``to_json`` drops a null ``dimsize``,
#: so ``to_json(from_json(index, INDEX_TYPE))`` returns the same bytes.
INDEX_TYPE = (
    "array<struct<dim:string,op:string,"
    "pos:struct<dimsize:bigint,indexed:boolean,value:bigint>>>"
)


def _index_entries() -> Column:
    return F.from_json(F.col("index"), INDEX_TYPE)


def _index_without(dim: Dimension) -> Column:
    """``Index.to_json`` of the ``index`` column with ``dim`` removed."""
    return F.to_json(
        F.filter(
            _index_entries(),
            lambda e: (e["dim"] != dim.name) | (e["op"] != dim.operation.name),
        )
    )


# ---------------------------------------------------------------------------
# manifest (the scan; reference ``patterns.py:214-228`` + beam.Create)
# ---------------------------------------------------------------------------


def manifest_df(spark: SparkSession, pattern: FilePattern) -> DataFrame:
    """DataFrame of ``(index, url)`` rows — the outer product of the
    pattern's combine-dim keys. Small patterns materialize driver-side;
    large ones unravel ``spark.range(N)`` inside executors so a 10^8-file
    pattern never sits in driver memory."""
    n = len(pattern)
    if n <= _DRIVER_MANIFEST_MAX:
        rows = [(idx.to_json(), url) for idx, url in pattern.items()]
        # from pandas, a JVM local relation; a list of rows would be a
        # pickled Python RDD, decoded by Python in every stage that scans it
        rows = pd.DataFrame(rows, columns=["index", "url"])
        return spark.createDataFrame(rows, MANIFEST_SCHEMA)

    bc = spark.sparkContext.broadcast(pattern)

    def unravel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pat: FilePattern = bc.value
        for pdf in batches:
            idxs = [pat.index_for_flat_position(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                {"index": [i.to_json() for i in idxs], "url": [pat[i] for i in idxs]}
            )

    return spark.range(n).mapInPandas(unravel, MANIFEST_SCHEMA)


def prune_manifest(df: DataFrame, pattern: FilePattern, nkeep: int = 2) -> DataFrame:
    """Keep the first ``nkeep`` positions of each concat dim — the
    DataFrame-side equivalent of ``FilePattern.prune`` (reference
    ``patterns.py:235-260``), as a filter on the manifest."""
    return df.filter(
        F.forall(
            _index_entries(),
            lambda e: ~e["dim"].isin(pattern.concat_dims) | (e["pos"]["value"] < nkeep),
        )
    )


# ---------------------------------------------------------------------------
# url opening / caching (reference ``transforms.py:93-175``)
# ---------------------------------------------------------------------------


def open_urls_with_fsspec(
    df: DataFrame,
    cache: Optional[Union[str, CacheFSSpecTarget]] = None,
    secrets: Optional[dict] = None,
    open_kwargs: Optional[dict] = None,
    max_concurrency: Optional[int] = None,
) -> DataFrame:
    """Resolve/cache source urls (reference ``OpenURLWithFSSpec``,
    ``transforms.py:140-175``). ``max_concurrency`` caps simultaneous
    source-server connections by limiting partitions — Spark's rendition of
    ``MapWithConcurrencyLimit`` (``transforms.py:93-136``), with better
    balance than the reference's random-key grouping."""
    if isinstance(cache, str):
        cache = CacheFSSpecTarget.from_url(cache)
    if max_concurrency:
        df = df.repartition(max_concurrency)

    def resolve(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["url"] = [
                open_url(u, cache=cache, secrets=secrets, open_kwargs=open_kwargs)
                for u in pdf["url"]
            ]
            yield pdf

    return df.mapInPandas(resolve, MANIFEST_SCHEMA)


# ---------------------------------------------------------------------------
# open stage (reference ``OpenWithXarray``, ``transforms.py:216-246``)
# ---------------------------------------------------------------------------


def open_with_ndset_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    load: bool = True,
    copy_to_local: bool = False,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Open each manifest row as an NDDataset fragment → ``(index, payload)``
    rows with pickled payloads. ``preprocess`` is the user-UDF surface
    (reference preprocessors, ``docs/composition/transforms.md:47-55``) —
    an arbitrary ``f(Index, NDDataset) -> (Index, NDDataset)``."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def open_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_idx, out_payload = [], []
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                ds = open_with_ndset(
                    url,
                    file_type=ft,
                    load=load,
                    copy_to_local=copy_to_local,
                    xarray_open_kwargs=xarray_open_kwargs,
                )
                index = Index.from_json(idx_json)
                if preprocess is not None:
                    index, ds = preprocess(index, ds)
                out_idx.append(index.to_json())
                out_payload.append(ds.to_bytes())
            yield pd.DataFrame({"index": out_idx, "payload": out_payload})

    return df.mapInPandas(open_batch, FRAGMENT_SCHEMA)


def map_fragments(
    df: DataFrame,
    fn: Callable[[Index, NDDataset], Tuple[Index, NDDataset]],
) -> DataFrame:
    """Lift ``f(Index, NDDataset) -> (Index, NDDataset)`` over a fragment
    DataFrame — the ``@recipe_transform`` preprocessor surface (SURVEY
    §2.10)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            idx_out, payload_out = [], []
            for idx_json, payload in zip(pdf["index"], pdf["payload"]):
                index, ds = fn(Index.from_json(idx_json), NDDataset.from_bytes(payload))
                idx_out.append(index.to_json())
                payload_out.append(ds.to_bytes())
            yield pd.DataFrame({"index": idx_out, "payload": payload_out})

    return df.mapInPandas(run, FRAGMENT_SCHEMA)


# ---------------------------------------------------------------------------
# schema pass (reference ``DetermineSchema``, ``transforms.py:276-301``)
# ---------------------------------------------------------------------------


def read_schemas_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    xarray_open_kwargs: Optional[dict] = None,
) -> DataFrame:
    """Metadata-only per-file schemas: ``(index, schema)`` rows. Reads file
    headers/zarr.json only — array payloads are never touched."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "index": pdf["index"],
                    "schema": [
                        schema_to_json(
                            read_schema(u, ft, xarray_open_kwargs=xarray_open_kwargs)
                        )
                        for u in pdf["url"]
                    ],
                }
            )

    return df.mapInPandas(scan, "index string, schema string")


def schemas_from_fragments(df: DataFrame) -> DataFrame:
    """``DatasetToSchema`` (reference ``transforms.py:270-273``): schema rows
    from already-opened fragments."""

    def conv(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "index": pdf["index"],
                    "schema": [
                        schema_to_json(dataset_to_schema(NDDataset.from_bytes(p)))
                        for p in pdf["payload"]
                    ],
                }
            )

    return df.mapInPandas(conv, "index string, schema string")


def preprocessed_schemas_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
    xarray_open_kwargs: Optional[dict] = None,
) -> DataFrame:
    """Schema pass for preprocessed pipelines: open lazily (where the format
    supports it), apply the user preprocessor, and emit only the KB-scale
    schema JSON — fragment payloads never serialize or cross Arrow.
    Reference order Open | Preprocessor | DetermineSchema
    (``transforms.py:276-301``) without a full-data pass."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_idx, out_schema = [], []
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                # a user preprocessor may touch array DATA (where,
                # coarsen, ...), which the chunk-lazy views (r6:
                # load=False is now REAL for zarr/kerchunk) don't
                # support — open eagerly when one is present
                ds = open_with_ndset(
                    url, file_type=ft, load=preprocess is not None,
                    xarray_open_kwargs=xarray_open_kwargs,
                )
                index = Index.from_json(idx_json)
                if preprocess is not None:
                    index, ds = preprocess(index, ds)
                out_idx.append(index.to_json())
                out_schema.append(schema_to_json(dataset_to_schema(ds)))
            yield pd.DataFrame({"index": out_idx, "schema": out_schema})

    return df.mapInPandas(scan, "index string, schema string")


def _combine_level_fn(dim: Dimension) -> Callable[[tuple, pd.DataFrame], pd.DataFrame]:
    """Combiner for one nesting level: fold a group's schemas along ``dim``,
    injecting the per-position sequence chunks for concat dims exactly as
    the reference's ``CombineXarraySchemas.add_input`` does
    (``combiners.py:36-51``). The group key is the outer index."""
    concat_name = dim.name if dim.operation == CombineOp.CONCAT else None

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc: Optional[XarraySchema] = None
        for idx_json, schema_json in zip(pdf["index"], pdf["schema"]):
            schema = schema_from_json(schema_json)
            if concat_name is not None:
                assert concat_name not in schema["chunks"], (
                    "Concat dim should be unchunked for new input"
                )
                position = Index.from_json(idx_json)[dim].value
                schema["chunks"][concat_name] = {
                    position: schema["dims"][concat_name]
                }
            acc = combine_xarray_schemas(acc, schema, concat_dim=concat_name)
        return pd.DataFrame({"index": [key[0]], "schema": [schema_to_json(acc)]})

    return combine


def determine_schema(
    schemas_df: DataFrame, combine_dims: List[Dimension]
) -> XarraySchema:
    """Multi-dimensional schema reduction → the single global schema
    (reference ``DetermineSchema``, ``transforms.py:276-301``): one
    ``groupBy(outer_index).applyInPandas`` level per combine dim, innermost
    first — the Spark rendition of ``_NestDim`` + ``CombinePerKey``. Schema
    rows are tiny (KBs); these shuffles move metadata, never data."""
    df = schemas_df
    for dim in reversed(combine_dims):
        df = (
            df.withColumn("outer", _index_without(dim))
            .groupBy("outer")
            .applyInPandas(_combine_level_fn(dim), "index string, schema string")
        )
    rows = df.collect()
    if len(rows) != 1:
        raise ValueError(f"schema reduction produced {len(rows)} rows, expected 1")
    return schema_from_json(rows[0]["schema"])


# ---------------------------------------------------------------------------
# IndexItems (reference ``transforms.py:304-328``)
# ---------------------------------------------------------------------------


def index_items(df: DataFrame, schema: XarraySchema, append_offset: int = 0) -> DataFrame:
    """Enrich concat-dim positions with element start offsets + global
    dimsize via prefix sums over the schema's sequence chunks (reference
    ``IndexItems`` + ``augment_index_with_start_stop``,
    ``transforms.py:304-328``, ``patterns.py:66-82``). The prefix sums are
    computed once per dim on the driver and ride the plan as literals —
    the broadcast side input of the reference."""
    starts = {}
    for dim, posmap in schema["chunks"].items():
        lens = [posmap[i] for i in range(len(posmap))]
        starts[dim] = list(itertools.accumulate(lens, initial=append_offset))

    def augment(e: Column) -> Column:
        out = e
        for dim, dim_starts in starts.items():
            # a JSON string literal folds to one array literal; array() over
            # 10^5 lit() children takes a minute to analyze
            table = F.from_json(F.lit(json.dumps(dim_starts[:-1])), "array<bigint>")
            pos = F.struct(
                F.lit(dim_starts[-1]).cast("bigint").alias("dimsize"),
                F.lit(True).alias("indexed"),
                F.element_at(table, (e["pos"]["value"] + 1).cast("int")).alias("value"),
            )
            is_dim = (e["op"] == CombineOp.CONCAT.name) & (e["dim"] == dim)
            out = F.when(is_dim, e.withField("pos", pos)).otherwise(out)
        return out

    return df.withColumn("index", F.to_json(F.transform(_index_entries(), augment)))


# ---------------------------------------------------------------------------
# rechunk (reference ``Rechunk``, ``transforms.py:401-417``)
# ---------------------------------------------------------------------------


def _owns_variable(sub_idx: Index, var_dims) -> bool:
    """A fragment owns a variable iff it sits at the ORIGIN of every
    concat dim the variable does not span — along spanned dims each
    fragment owns its own disjoint region, along unspanned dims only
    the origin fragment ships the (identical) payload. Subsumes the
    reference's first-item rule for dimensionless coords."""
    for d, p in sub_idx.items():
        if (
            d.operation == CombineOp.CONCAT
            and d.name not in var_dims
            and p.value != 0
        ):
            return False
    return True


def _explode_by_variable(sub_idx: Index, sub_ds: NDDataset):
    """Yield (suffix, single-variable dataset) obeying write ownership —
    the shared sharding rule for BOTH write paths, so ``StoreResult`` stats
    mean the same thing (one unit = one chunk × one owned variable, each
    byte counted once) whether or not the rechunk shuffle ran."""
    for name, var in sub_ds.data_vars.items():
        if _owns_variable(sub_idx, var.dims):
            yield f"d:{name}", NDDataset({name: var}, {}, {}, dict(var.sizes))
    if _is_first_in_merge_dim(sub_idx):
        for name, var in sub_ds.coords.items():
            if _owns_variable(sub_idx, var.dims):
                yield f"c:{name}", NDDataset({}, {name: var}, {}, dict(var.sizes))


def split_fragments_df(
    df: DataFrame,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
) -> DataFrame:
    """FlatMap each fragment into per-target-chunk sub-fragments keyed by
    group key (reference ``split_fragment``)."""

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for idx_json, payload in zip(pdf["index"], pdf["payload"]):
                fragment = (Index.from_json(idx_json), NDDataset.from_bytes(payload))
                keys, idxs, payloads = [], [], []
                for gk, (sub_idx, sub_ds) in split_fragment(
                    fragment, target_chunks=target_chunks, schema=schema
                ):
                    keys.append(group_key_to_json(gk))
                    idxs.append(sub_idx.to_json())
                    payloads.append(sub_ds.to_bytes())
                yield pd.DataFrame(
                    {"group_key": keys, "index": idxs, "payload": payloads}
                )

    return df.mapInPandas(split, SPLIT_SCHEMA)


def open_split_fragments_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    load: bool = True,
    copy_to_local: bool = False,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
    by_variable: bool = True,
) -> DataFrame:
    """Fused open → [preprocess] → split in ONE Arrow stage. Functionally
    ``split_fragments_df(open_with_ndset_df(df))``, but the MB-scale
    fragment payload stays inside a single Python worker pass instead of
    round-tripping JVM↔Python between stages — at 100 TB those extra
    crossings are pure wasted bandwidth (Beam gets the same effect from
    runner fusion; here we fuse structurally).

    ``by_variable=True`` additionally shards each sub-fragment per variable
    (key = chunk ⊕ variable): shuffle groups shrink from one-chunk-×-ALL-vars
    to one-chunk-×-one-var, so task memory is bounded by a single variable's
    chunk, parallelism multiplies by the variable count, and coordinate
    payloads — which the whole-fragment layout ships redundantly with every
    fragment — travel only from their designated owner (the write-side
    ownership rules of reference ``writers.py:57-69,110-122`` applied at
    split time).

    r13 (guide §4.2): the stage is ``mapInArrow`` and each output batch's
    payload column is built directly over ONE accumulated data buffer
    (``pa.Array.from_buffers`` with the NDS1 frame parts written straight
    into a bytearray) — the pre-r13 pandas return re-copied every payload
    byte a second time during the pandas→Arrow conversion. Combined with
    the NDS1 frame, each payload byte now crosses the split stage with
    exactly one Python-side copy."""
    import pyarrow as pa

    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def open_split(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        out_schema = pa.schema(
            [
                ("group_key", pa.string()),
                ("index", pa.string()),
                ("payload", pa.binary()),
            ]
        )
        for batch in batches:
            idx_col = batch.column("index")
            url_col = batch.column("url")
            for i in range(batch.num_rows):
                idx_json = idx_col[i].as_py()
                url = url_col[i].as_py()
                ds = open_with_ndset(
                    url,
                    file_type=ft,
                    load=load,
                    copy_to_local=copy_to_local,
                    xarray_open_kwargs=xarray_open_kwargs,
                )
                index = Index.from_json(idx_json)
                if preprocess is not None:
                    index, ds = preprocess(index, ds)
                keys, idxs = [], []
                data = bytearray()
                offsets = [0]

                def emit(key: str, idx_str: str, single: NDDataset) -> None:
                    nonlocal data
                    keys.append(key)
                    idxs.append(idx_str)
                    for part in single.frame_parts():
                        data += part
                    offsets.append(len(data))

                for gk, (sub_idx, sub_ds) in split_fragment(
                    (index, ds), target_chunks=target_chunks, schema=schema
                ):
                    gk_json = group_key_to_json(gk)
                    sub_json = sub_idx.to_json()
                    if by_variable:
                        for suffix, single in _explode_by_variable(sub_idx, sub_ds):
                            emit(f"{gk_json}|{suffix}", sub_json, single)
                    else:
                        emit(gk_json, sub_json, sub_ds)
                payload_arr = pa.Array.from_buffers(
                    pa.binary(),
                    len(keys),
                    [
                        None,
                        pa.py_buffer(np.asarray(offsets, dtype=np.int32)),
                        pa.py_buffer(data),
                    ],
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(keys, pa.string()), pa.array(idxs, pa.string()), payload_arr],
                    schema=out_schema,
                )

    return df.mapInArrow(open_split, SPLIT_SCHEMA)


def open_split_store_df(
    df: DataFrame,
    store_path: str,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
    xarray_open_kwargs: Optional[dict] = None,
) -> DataFrame:
    """Zero-shuffle fast path: open → [preprocess] → split → write, all in
    one map stage. Valid only when every split sub-fragment is a complete
    target chunk (``_chunks_aligned_with_files``) — then the groupBy would
    place exactly one fragment per group and the shuffle would move every
    byte across the cluster for nothing. ``combine_fragments`` still runs
    per sub-fragment to keep the validation identical."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                ds = open_with_ndset(
                    url, file_type=ft, xarray_open_kwargs=xarray_open_kwargs
                )
                index = Index.from_json(idx_json)
                if preprocess is not None:
                    index, ds = preprocess(index, ds)
                keys, idxs, nvars, nbytes = [], [], [], []
                for gk, sub in split_fragment(
                    (index, ds), target_chunks=target_chunks, schema=schema
                ):
                    out_index, out_ds = combine_fragments(gk, [sub])
                    gk_json = group_key_to_json(gk)
                    # same ownership sharding as the shuffled path: unowned
                    # variables (coords repeated in every source file) are
                    # neither re-written nor double-counted, and status rows
                    # mean chunk × owned-variable on both paths
                    for suffix, single in _explode_by_variable(out_index, out_ds):
                        store_dataset_fragment((out_index, single), store_path)
                        keys.append(f"{gk_json}|{suffix}")
                        idxs.append(out_index.to_json())
                        nvars.append(len(single.data_vars))
                        nbytes.append(
                            int(
                                sum(
                                    v.data.nbytes
                                    for v in single.variables.values()
                                )
                            )
                        )
                yield pd.DataFrame(
                    {
                        "group_key": keys,
                        "index": idxs,
                        "n_vars": nvars,
                        "nbytes": nbytes,
                    }
                )

    return df.mapInPandas(run, STATUS_SCHEMA)


def combine_fragments_df(df_split: DataFrame) -> DataFrame:
    """THE shuffle: co-locate all sub-fragments of one target chunk and
    reassemble (reference GroupByKey + ``combine_fragments``,
    ``transforms.py:406-417``). Returns combined ``(index, payload)``
    fragments (used in tests; production uses the fused
    :func:`rechunk_and_store`)."""

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        frags = [
            (Index.from_json(i), NDDataset.from_bytes(p))
            for i, p in zip(pdf["index"], pdf["payload"])
        ]
        index, ds = combine_fragments(None, frags)
        return pd.DataFrame({"index": [index.to_json()], "payload": [ds.to_bytes()]})

    return df_split.groupBy("group_key").applyInPandas(combine, FRAGMENT_SCHEMA)


def rechunk_and_store(
    df_split: DataFrame,
    target_store_path: str,
) -> DataFrame:
    """Fused combine+write: each group assembles its target chunk and writes
    its aligned region in the same task (reference stages
    ``transforms.py:414`` + ``StoreDatasetFragments``; Beam fuses them at
    runtime, we fuse them structurally). Only tiny status rows return.

    The group crosses JVM→Python as ARROW data (``applyInArrow``), not
    pandas: the MB-scale payload cells deserialize straight from the
    Arrow buffers (``BinaryScalar.as_buffer()`` — no per-cell ``bytes``
    materialization and no pandas block consolidation). r13 (guide
    §4.2): with the NDS1 raw frame (``NDDataset.to_bytes``) the
    deserialization is a ZERO-COPY ``np.frombuffer`` view over the Arrow
    buffer — the only combine-side copy left per payload byte is the
    assembly into the target chunk, where pre-r13 the pickle load
    re-allocated every fragment first (one extra full copy of the
    corpus, and the dominant combine cost when host page faults are
    slow)."""
    import pyarrow as pa

    def combine_write(tbl: "pa.Table") -> "pa.Table":
        idx_col = tbl.column("index")
        payload_col = tbl.column("payload")
        frags = []
        for chunk_i, chunk_p in zip(idx_col.chunks, payload_col.chunks):
            for i in range(len(chunk_i)):
                frags.append(
                    (
                        Index.from_json(chunk_i[i].as_py()),
                        NDDataset.from_bytes(chunk_p[i].as_buffer()),
                    )
                )
        index, ds = combine_fragments(None, frags)
        store_dataset_fragment((index, ds), target_store_path)
        nbytes = int(sum(v.data.nbytes for v in ds.variables.values()))
        return pa.table(
            {
                "group_key": [tbl.column("group_key")[0].as_py()],
                "index": [index.to_json()],
                "n_vars": [len(ds.data_vars)],
                "nbytes": [nbytes],
            },
            schema=pa.schema(
                [
                    ("group_key", pa.string()),
                    ("index", pa.string()),
                    ("n_vars", pa.int32()),
                    ("nbytes", pa.int64()),
                ]
            ),
        )

    return df_split.groupBy("group_key").applyInArrow(combine_write, STATUS_SCHEMA)


def open_split_refs_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Reference split: the SAME group keys as
    :func:`open_split_fragments_df`, but each row carries only
    ``(group_key, file_index, url)`` — ~200 bytes — instead of the MB-scale
    fragment payload. Sources are opened ``load=False`` so chunk-lazy
    formats (zarr, kerchunk) pay metadata cost only; eager formats read
    once without shipping. The write side (:func:`rechunk_refs_and_store`)
    re-opens each source and extracts its pieces directly, so the
    exchange moves O(#fragments) metadata instead of O(data) bytes — at
    100 TB that removes the double shuffle-disk write/read of the whole
    corpus and both Python↔JVM payload crossings, trading them for a
    second targeted read of each source file."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def split_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, idxs, urls = [], [], []
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                # a user preprocessor may touch array DATA (where,
                # coarsen, ...), which lazy views don't support — open
                # eagerly when one is present; metadata-only otherwise
                ds = open_with_ndset(
                    url, file_type=ft, load=preprocess is not None,
                    xarray_open_kwargs=xarray_open_kwargs,
                )
                index = Index.from_json(idx_json)
                if preprocess is not None:
                    index, ds = preprocess(index, ds)
                for gk, (sub_idx, sub_ds) in split_fragment(
                    (index, ds), target_chunks=target_chunks, schema=schema
                ):
                    gk_json = group_key_to_json(gk)
                    for suffix, _single in _explode_by_variable(sub_idx, sub_ds):
                        keys.append(f"{gk_json}|{suffix}")
                        idxs.append(idx_json)
                        urls.append(url)
            yield pd.DataFrame({"group_key": keys, "index": idxs, "url": urls})

    return df.mapInPandas(split_keys, REFS_SCHEMA)


# per-worker-process LRU of opened+preprocessed sources for the reference
# write path: groups land on workers in key-hash order, so consecutive
# tasks frequently revisit the same file. Two entries bound memory at two
# source files per worker; Spark Python workers are single-threaded.
_REFS_OPEN_CACHE: "OrderedDict[Tuple[str, str], Tuple[Index, NDDataset]]" = (
    OrderedDict()
)
_REFS_OPEN_CACHE_CAP = 2


def rechunk_refs_and_store(
    df_refs: DataFrame,
    target_store_path: str,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Combine+write for the reference shuffle: each group re-opens its
    source files (process-level LRU), re-runs the deterministic
    :func:`split_fragment`, keeps only its own pieces, then assembles and
    writes exactly like :func:`rechunk_and_store`. Determinism of the
    split (pure function of index ⊕ chunk grid) is what makes shuffling
    references instead of payloads sound."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type
    # distinct token per pipeline run: reused Python workers keep the
    # module-level cache alive across jobs, and (url, idx_json) alone
    # would serve a STALE dataset to a later run with a different
    # preprocessor/reader config or regenerated source files
    run_token = os.urandom(8).hex()

    def open_pieces(url: str, idx_json: str) -> Dict[str, tuple]:
        """Open + preprocess + split + explode ONCE per source file,
        cached as ``{full_group_key: (sub_index, single_var_dataset)}``
        — each group takes its piece by exact key lookup, so there is
        no group-key re-parsing (variable names may contain '|') and
        the per-file split work is O(pieces), not O(groups × pieces)."""
        key = (run_token, url, idx_json)
        hit = _REFS_OPEN_CACHE.get(key)
        if hit is not None:
            _REFS_OPEN_CACHE.move_to_end(key)
            return hit
        # load=False: chunk-lazy formats (zarr, kerchunk) open metadata
        # only and each group's combine materializes a chunk-granular
        # range read of EXACTLY its piece — the whole point of the
        # reference shuffle at 100 TB. Eager formats (npz, netcdf3, ...)
        # ignore the flag and read once per file as before. A user
        # preprocessor may touch array DATA, which lazy views don't
        # support — open eagerly when one is present.
        ds = open_with_ndset(
            url,
            file_type=ft,
            load=preprocess is not None,
            xarray_open_kwargs=xarray_open_kwargs,
        )
        index = Index.from_json(idx_json)
        if preprocess is not None:
            index, ds = preprocess(index, ds)
        pieces: Dict[str, tuple] = {}
        for gk, (sub_idx, sub_ds) in split_fragment(
            (index, ds), target_chunks=target_chunks, schema=schema
        ):
            gk_json = group_key_to_json(gk)
            for suffix, single in _explode_by_variable(sub_idx, sub_ds):
                pieces[f"{gk_json}|{suffix}"] = (sub_idx, single)
        _REFS_OPEN_CACHE[key] = pieces
        while len(_REFS_OPEN_CACHE) > _REFS_OPEN_CACHE_CAP:
            _REFS_OPEN_CACHE.popitem(last=False)
        return pieces

    def combine_write(gk_full: str, rows: List[Tuple[str, str]]) -> dict:
        # the split is deterministic, so every shuffled reference MUST
        # resolve to a piece — a KeyError here means source files changed
        # between the split and write stages
        frags = [open_pieces(url, idx_json)[gk_full] for idx_json, url in rows]
        index, ds = combine_fragments(None, frags)
        store_dataset_fragment((index, ds), target_store_path)
        nbytes = int(sum(v.data.nbytes for v in ds.variables.values()))
        return {
            "group_key": gk_full,
            "index": index.to_json(),
            "n_vars": len(ds.data_vars),
            "nbytes": nbytes,
        }

    # range-partition + in-partition sort instead of a hash groupBy: all
    # suffixes of one chunk — and lexicographically adjacent chunks, which
    # are the ones straddling the same source files — run CONSECUTIVELY on
    # the same worker, so the per-process open cache turns the "one open
    # per group" cost into ~one open per file per partition. Groups stay
    # whole because repartitionByRange keys each group to one partition.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key: Optional[str] = None
        cur_rows: List[Tuple[str, str]] = []
        done: List[dict] = []
        for pdf in batches:
            for gk, idx_json, url in zip(
                pdf["group_key"], pdf["index"], pdf["url"]
            ):
                if gk != cur_key:
                    if cur_key is not None:
                        done.append(combine_write(cur_key, cur_rows))
                    cur_key, cur_rows = gk, []
                cur_rows.append((idx_json, url))
        if cur_key is not None:
            done.append(combine_write(cur_key, cur_rows))
        if done:
            yield pd.DataFrame(done)

    nparts = int(
        df_refs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    part = df_refs.repartitionByRange(nparts, "group_key").sortWithinPartitions(
        "group_key"
    )
    return part.mapInPandas(run, STATUS_SCHEMA)


# ---------------------------------------------------------------------------
# spill shuffle — eager formats made chunk-lazy for the price of one
# scratch write (r9 verdict #5: in payload mode the corpus crosses
# Python→JVM, the shuffle, and JVM→Python — measured on the 800 MB
# fixture the JVM↔Python transport IS the tax (python-side pickling is
# <10% of it). Spill mode decodes each source ONCE, writes each spilled
# piece's raw C-order bytes to a scratch object next to the target,
# shuffles O(#fragments) metadata rows, and write tasks range-read
# exactly their pieces — the reference-mode exchange pattern, available
# to formats that cannot byte-range-serve their own chunks.)
# ---------------------------------------------------------------------------

SPILL_SCHEMA = (
    "group_key string, index string, meta binary, payload binary, "
    "url string, offset bigint, length bigint"
)

#: pieces at or below this many bytes ride the shuffle inline (coords,
#: tiny edge chunks) — a scratch round-trip per 100-byte coordinate
#: would be pure request overhead
SPILL_INLINE_BYTES = 1 << 20


def _spill_meta(single: NDDataset) -> Tuple[dict, "np.ndarray"]:
    """(reconstruction meta, array) for a single-variable dataset — the
    skeleton that rides the metadata shuffle while the array bytes sit
    in scratch."""
    if single.data_vars:
        role, (name, var) = "d", next(iter(single.data_vars.items()))
    else:
        role, (name, var) = "c", next(iter(single.coords.items()))
    data = np.ascontiguousarray(var.data)
    meta = {
        "role": role,
        "name": name,
        "dims": tuple(var.dims),
        "attrs": dict(var.attrs),
        "encoding": dict(var.encoding),
        "dtype": data.dtype.str,
        "shape": data.shape,
        "sizes": dict(var.sizes),
    }
    return meta, data


def _unspill(meta: dict, buf) -> NDDataset:
    """Rebuild the single-variable dataset from its meta + raw bytes
    (zero-copy view over the fetched buffer)."""
    arr = np.frombuffer(buf, dtype=np.dtype(meta["dtype"])).reshape(
        meta["shape"]
    )
    var = Variable(meta["dims"], arr, dict(meta["attrs"]), dict(meta["encoding"]))
    if meta["role"] == "d":
        return NDDataset({meta["name"]: var}, {}, {}, dict(meta["sizes"]))
    return NDDataset({}, {meta["name"]: var}, {}, dict(meta["sizes"]))


def open_split_spill_df(
    df: DataFrame,
    scratch_root: str,
    file_type: Union[str, FileType] = FileType.npz,
    target_chunks: Optional[Dict[str, int]] = None,
    schema: Optional[XarraySchema] = None,
    xarray_open_kwargs: Optional[dict] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
) -> DataFrame:
    """Open → [preprocess] → split → SPILL: each source file decodes
    exactly once; every owned piece's raw bytes append to ONE scratch
    object per source (keyed by the source's index, so task retries
    rewrite the same object — idempotent), and the emitted rows carry
    only ``(group_key, index, meta, scratch_url, offset, length)``.
    Pieces ≤ :data:`SPILL_INLINE_BYTES` ship inline instead."""
    ft = FileType(file_type) if isinstance(file_type, str) else file_type

    def split_spill(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .storage import open_output_stream

        for pdf in batches:
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                ds = open_with_ndset(
                    url, file_type=ft, xarray_open_kwargs=xarray_open_kwargs
                )
                index = Index.from_json(idx_json)
                if preprocess is not None:
                    index, ds = preprocess(index, ds)
                rows = {
                    "group_key": [],
                    "index": [],
                    "meta": [],
                    "payload": [],
                    "url": [],
                    "offset": [],
                    "length": [],
                }
                scratch_url = (
                    scratch_root.rstrip("/")
                    + "/spill-"
                    + hashlib.md5(idx_json.encode()).hexdigest()
                    + ".raw"
                )
                spilled: List[Tuple[bytes]] = []
                pos = 0
                for gk, (sub_idx, sub_ds) in split_fragment(
                    (index, ds), target_chunks=target_chunks, schema=schema
                ):
                    gk_json = group_key_to_json(gk)
                    for suffix, single in _explode_by_variable(sub_idx, sub_ds):
                        rows["group_key"].append(f"{gk_json}|{suffix}")
                        rows["index"].append(sub_idx.to_json())
                        meta, data = _spill_meta(single)
                        raw = data.tobytes()
                        rows["meta"].append(pickle.dumps(meta, protocol=5))
                        if len(raw) <= SPILL_INLINE_BYTES:
                            rows["payload"].append(raw)
                            rows["url"].append("")
                            rows["offset"].append(-1)
                            rows["length"].append(-1)
                        else:
                            spilled.append(raw)
                            rows["payload"].append(b"")
                            rows["url"].append(scratch_url)
                            rows["offset"].append(pos)
                            rows["length"].append(len(raw))
                            pos += len(raw)
                if spilled:
                    with open_output_stream(scratch_url) as f:
                        for raw in spilled:
                            f.write(raw)
                yield pd.DataFrame(rows)

    return df.mapInPandas(split_spill, SPILL_SCHEMA)


def rechunk_spill_and_store(
    df_spill: DataFrame,
    target_store_path: str,
) -> DataFrame:
    """Combine+write for the spill shuffle: each group range-reads its
    pieces from scratch (O(its bytes), raw dtype — zero parse), rebuilds
    the sub-fragments, and assembles/writes exactly like
    :func:`rechunk_and_store`. The corpus never rides the Spark shuffle
    and never crosses Python↔JVM."""

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        from .storage import url_range_get

        frags = []
        for idx_json, meta_b, payload, url, off, length in zip(
            pdf["index"],
            pdf["meta"],
            pdf["payload"],
            pdf["url"],
            pdf["offset"],
            pdf["length"],
        ):
            meta = pickle.loads(meta_b)
            buf = payload if not url else url_range_get(url, int(off), int(length))
            frags.append((Index.from_json(idx_json), _unspill(meta, buf)))
        index, ds = combine_fragments(None, frags)
        store_dataset_fragment((index, ds), target_store_path)
        nbytes = int(sum(v.data.nbytes for v in ds.variables.values()))
        return pd.DataFrame(
            {
                "group_key": [pdf["group_key"].iloc[0]],
                "index": [index.to_json()],
                "n_vars": [len(ds.data_vars)],
                "nbytes": [nbytes],
            }
        )

    return df_spill.groupBy("group_key").applyInPandas(combine, STATUS_SCHEMA)


def _cleanup_scratch(scratch_root: str) -> None:
    """Remove the spill scratch prefix (local dir or object-store
    prefix) — called by the driver once statuses are collected."""
    from .storage import is_object_url

    if is_object_url(scratch_root):
        from .zarrio import _store_for

        _store_for(scratch_root).rm_prefix("")
        return
    import shutil

    shutil.rmtree(scratch_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# StoreToZarr — the master composite (reference ``transforms.py:638-725``)
# ---------------------------------------------------------------------------


@dataclass
class StoreResult:
    """What a pipeline run returns: the store location + the global schema +
    write statistics (the reference returns a singleton store handle via
    ``Sample.FixedSizeGlobally(1)``, ``transforms.py:719-723``)."""

    path: str
    schema: XarraySchema
    n_chunks_written: int
    bytes_written: int
    shuffled: bool = True

    def open(self) -> NDDataset:
        return open_zarr_group(self.path)


def _chunks_aligned_with_files(
    schema: XarraySchema, target_chunks: Dict[str, int], append_offset: int = 0
) -> bool:
    """True when NO target chunk draws data from more than one source file:
    every interior file boundary along every concat dim falls on a target
    chunk boundary. In that case each split sub-fragment already IS a
    complete target chunk and the rechunk shuffle moves bytes for nothing —
    the reference always shuffles (``transforms.py:406-417``); skipping it
    here is the cheap win flagged in SURVEY §4. Appends with a non-aligned
    offset shift every boundary, so they disqualify."""
    effective = determine_target_chunks(schema, target_chunks)
    for dim, posmap in schema["chunks"].items():
        chunk = effective.get(dim)
        if not chunk:
            continue
        if append_offset % chunk != 0:
            return False
        lens = [posmap[i] for i in range(len(posmap))]
        boundary = append_offset
        for n in lens[:-1]:
            boundary += n
            if boundary % chunk != 0:
                return False
    return True


# formats whose load=False open costs metadata only AND whose reads can
# target exact byte ranges — for these the reference-mode second read
# touches O(needed) bytes, so shipping references beats shipping payloads
_CHUNK_LAZY_TYPES = frozenset({FileType.npz, FileType.zarr, FileType.kerchunk})


def _auto_rechunk_shuffle(file_type: FileType, preprocess) -> str:
    """Default shuffle mode when the caller does not pick one: reference
    for chunk-lazy formats without a preprocessor (write tasks
    range-read their pieces straight from the sources), payload
    otherwise. ``"spill"`` is deliberately NOT the eager-format default:
    on local[32]+tmpfs matched alternating A/B reads payload and spill
    within noise of each other (0.7–1.4× across three runs — the extra
    scratch write+read of the corpus roughly cancels the saved
    JVM↔Python transport), so the local default keeps the simpler
    plan. Opt into spill where its structure wins: real clusters whose
    shuffle storage cannot absorb a full corpus write+read, or
    object-store targets where scratch rides the same unbounded
    storage as the output."""
    if preprocess is None and file_type in _CHUNK_LAZY_TYPES:
        return "reference"
    return "payload"


def store_to_zarr(
    spark: SparkSession,
    pattern: FilePattern,
    target_root: Union[str, FSSpecTarget],
    store_name: str,
    target_chunks: Optional[Dict[str, int]] = None,
    attrs: Optional[Dict[str, str]] = None,
    append_dim: Optional[str] = None,
    dynamic_chunking_fn: Optional[Callable[[XarraySchema], Dict[str, int]]] = None,
    cache: Optional[Union[str, CacheFSSpecTarget]] = None,
    secrets: Optional[dict] = None,
    open_kwargs: Optional[dict] = None,
    xarray_open_kwargs: Optional[dict] = None,
    max_concurrency: Optional[int] = None,
    preprocess: Optional[Callable[[Index, NDDataset], Tuple[Index, NDDataset]]] = None,
    consolidate_coords: bool = True,
    consolidated_metadata: bool = True,
    compressor: Optional[str] = None,
    prune: Optional[int] = None,
    target_shards: Optional[Dict[str, int]] = None,
    zarr_format: int = 3,
    rechunk_shuffle: Optional[str] = None,
) -> StoreResult:
    """End-to-end Zarr pipeline (reference ``StoreToZarr``,
    ``transforms.py:638-725``):

    manifest → [cache] → schema pre-pass (metadata only, treeAggregate-style
    reduce) → driver Zarr template init → IndexItems → open (+user
    preprocessor) → split → shuffle-combine-write (fused) → post-passes.

    ``target_shards`` (elements per stored object along the named dims,
    multiples of ``target_chunks``) writes data variables in the zarr v3
    ``sharding_indexed`` layout AND raises the pipeline's write
    granularity to whole shards: fragments are split and shuffled on the
    shard grid, so each task writes complete shard objects — region
    writes stay disjoint per task (the same no-read-modify-write
    invariant as chunk-grain writes, now at prod(shards/chunks) fewer
    object-store requests).

    ``rechunk_shuffle`` picks what THE shuffle moves when source and
    target chunking misalign: ``"payload"`` ships fragment
    bytes through the exchange (one source read; data crosses
    shuffle disk + Python↔JVM twice); ``"reference"`` ships only
    ``(group_key, file_index, url)`` rows and the write tasks re-open
    their source files directly (exchange volume drops from O(data) to
    O(#fragments); sources are read a second time, but only the needed
    pieces for chunk-lazy formats). ``"spill"`` decodes each source
    once, writes every spilled piece's raw bytes to a scratch object
    next to the target, ships metadata rows, and write tasks
    range-read exactly their pieces (one extra transient write+read of
    the corpus on target-adjacent storage; scratch removed when the
    run completes). At 100 TB payload mode is the one that does NOT
    scale: it writes+reads the entire corpus through shuffle storage
    AND crosses it Python↔JVM twice (measured: the transport is the
    whole 2-3× tax; python-side pickling is <10% of it), while
    reference/spill keep the exchange in the megabytes regardless of
    data size. The default (``None``) auto-picks: ``"reference"`` for
    chunk-lazy source formats with no user preprocessor (the second
    read touches only the needed byte ranges), ``"payload"`` otherwise
    — on local[32] matched A/B the scratch round-trip cancels spill's
    transport saving, so spill stays OPT-IN for deployments where
    shuffle-storage volume is the binding constraint (a 100 TB corpus
    through the shuffle service vs one transient object-store copy).
    """
    if target_chunks and dynamic_chunking_fn:
        raise ValueError("Passing both `target_chunks` and `dynamic_chunking_fn` not allowed.")
    if rechunk_shuffle is None:
        rechunk_shuffle = _auto_rechunk_shuffle(pattern.file_type, preprocess)
    if rechunk_shuffle not in ("payload", "reference", "spill"):
        raise ValueError(
            f"rechunk_shuffle must be 'payload', 'reference', or 'spill', "
            f"got {rechunk_shuffle!r}"
        )
    if target_shards:
        for d, s in target_shards.items():
            c = (target_chunks or {}).get(d)
            if c and s % c:
                raise ValueError(
                    f"target_shards[{d!r}]={s} must be a multiple of "
                    f"target_chunks[{d!r}]={c}"
                )
    target = (
        FSSpecTarget.from_url(target_root) if isinstance(target_root, str) else target_root
    )
    store_path = (target / store_name).root_path
    file_type = pattern.file_type

    # fragment rows carry MB-scale binary payloads — keep Arrow batches
    # small for this pipeline so task memory stays bounded. Run on a cloned
    # session (shared SparkContext + table cache, separate SQLConf) so the
    # lowered batch size never leaks to the caller's session — not on an
    # exception mid-pipeline, and not to queries running concurrently under
    # the FAIR scheduler. Builder-time configs are inherited; conf values
    # the caller set at runtime after session creation are not.
    sess = spark.newSession()
    sess.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")

    manifest = manifest_df(sess, pattern)
    if prune:
        manifest = prune_manifest(manifest, pattern, nkeep=prune)
    if cache is not None or secrets or max_concurrency:
        manifest = open_urls_with_fsspec(
            manifest, cache=cache, secrets=secrets,
            open_kwargs=open_kwargs, max_concurrency=max_concurrency,
        )

    # pass 1: global schema. Header-only when no preprocessor; with one,
    # the schema must describe the PREPROCESSED fragments (reference order:
    # Open | Preprocessor | StoreToZarr→DetermineSchema) — opened lazily,
    # schema-only output, so source bytes are not read twice
    if preprocess is None:
        schemas = read_schemas_df(
            manifest, file_type, xarray_open_kwargs=xarray_open_kwargs
        )
    else:
        schemas = preprocessed_schemas_df(
            manifest, file_type, preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
    schema = determine_schema(schemas, pattern.combine_dim_keys)

    if dynamic_chunking_fn:
        target_chunks = dynamic_chunking_fn(schema)
    target_chunks = target_chunks or {}
    # with sharding, the pipeline's split/shuffle/write granularity is the
    # shard grid (tasks own whole shards; inner chunking is intra-object
    # layout applied at encode time)
    write_chunks = (
        {**target_chunks, **target_shards} if target_shards else target_chunks
    )

    # append support: introspect existing store *at run time* (reference
    # does it at plan-construction, transforms.py:679-693; explicitly
    # NOT idempotent)
    append_offset = 0
    if append_dim:
        existing = zarr_group_schema(store_path)
        append_offset = existing["dims"][append_dim]

    # driver-side, metadata-only target init
    schema_to_zarr(
        schema,
        store_path,
        target_chunks=target_chunks,
        attrs=attrs,
        append_dim=append_dim,
        compressor=compressor,
        target_shards=target_shards,
        zarr_format=zarr_format,
    )

    # pass 2: data — open/preprocess/split fused into one Arrow stage so
    # fragment bytes cross JVM↔Python once before the shuffle; when chunks
    # align with file boundaries the shuffle is skipped entirely
    indexed = index_items(manifest, schema, append_offset=append_offset)
    shuffled = not _chunks_aligned_with_files(schema, write_chunks, append_offset)
    if shuffled and rechunk_shuffle == "reference":
        refs = open_split_refs_df(
            indexed,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
        statuses = rechunk_refs_and_store(
            refs,
            store_path,
            file_type=file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
    elif shuffled and rechunk_shuffle == "spill":
        scratch_root = store_path.rstrip("/") + ".spill"
        spill = open_split_spill_df(
            indexed,
            scratch_root,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
        statuses = rechunk_spill_and_store(spill, store_path)
    elif shuffled:
        split = open_split_fragments_df(
            indexed,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
        statuses = rechunk_and_store(split, store_path)
    else:
        statuses = open_split_store_df(
            indexed,
            store_path,
            file_type,
            target_chunks=write_chunks,
            schema=schema,
            preprocess=preprocess,
            xarray_open_kwargs=xarray_open_kwargs,
        )
    try:
        agg = statuses.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("nbytes"), F.lit(0)).alias("b"),
        ).collect()[0]
    finally:
        # scratch must go even when the job FAILS — on an object-store
        # target a leaked .spill/ prefix is a transient copy of the
        # corpus sitting on paid storage
        if shuffled and rechunk_shuffle == "spill":
            _cleanup_scratch(store_path.rstrip("/") + ".spill")

    if consolidate_coords:
        _consolidate_coords(store_path)
    if consolidated_metadata:
        _consolidate_metadata(store_path)

    return StoreResult(
        path=store_path,
        schema=schema,
        n_chunks_written=int(agg["n"]),
        bytes_written=int(agg["b"]),
        shuffled=shuffled,
    )


# ---------------------------------------------------------------------------
# kerchunk branch (reference ``transforms.py:428-635``)
# ---------------------------------------------------------------------------


def open_with_kerchunk_df(
    df: DataFrame,
    file_type: Union[str, FileType] = FileType.npz,
    concat_dims: Optional[List[str]] = None,
    inline_threshold: int = 300,
    kerchunk_open_kwargs: Optional[dict] = None,
) -> DataFrame:
    """Scan each file into reference dicts →
    ``(index, pos0..pos{n-1}, refs)`` rows (reference
    ``OpenWithKerchunk``, ``transforms.py:178-213``). ``pos{k}`` is the
    file's ordinal along ``concat_dims[k]`` (outermost first); a 1-D
    pattern emits just ``pos0``."""
    import json as _json

    ft = FileType(file_type) if isinstance(file_type, str) else file_type
    dims = list(concat_dims or [])
    n = max(1, len(dims))
    pos_cols = [f"pos{k}" for k in range(n)]

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: Dict[str, list] = {c: [] for c in ["index", *pos_cols, "refs"]}
            for idx_json, url in zip(pdf["index"], pdf["url"]):
                index = Index.from_json(idx_json)
                poss = []
                for k in range(n):
                    p = 0
                    if k < len(dims):
                        d = index.find_concat_dim(dims[k])
                        if d:
                            p = index[d].value
                    poss.append(p)
                for ref in open_with_kerchunk(
                    url, file_type=ft, inline_threshold=inline_threshold,
                    kerchunk_open_kwargs=kerchunk_open_kwargs,
                ):
                    out["index"].append(idx_json)
                    for c, p in zip(pos_cols, poss):
                        out[c].append(p)
                    out["refs"].append(_json.dumps(ref))
            yield pd.DataFrame(out)

    schema = "index string, " + ", ".join(f"{c} long" for c in pos_cols) + ", refs string"
    return df.mapInPandas(scan, schema)


def combine_references_df(
    refs_df: DataFrame,
    concat_dims: List[str],
    max_refs_per_merge: int = 5,
    preprocess: Optional[Callable[[dict], dict]] = None,
) -> dict:
    """Order-preserving two-level reduction of per-file references
    (reference ``CombineReferences``, ``transforms.py:428-554``): global
    (min,max,count) of positions → range partitioning by position (the
    built-in rendition of the reference's manual ``bucket_by_position``) →
    per-partition ordered local combine → driver-side final merge of the
    few partials.

    ``preprocess`` (reference ``mzz_kwargs['preprocess']``,
    ``transforms.py:438-447``) rewrites each per-file refs mapping before
    any merging; it runs executor-side on the leaf references exactly
    once (never re-applied to merged partials) and must be picklable.

    Multiple concat dims (the reference's HRRR step×time family,
    ``examples/feedstock/hrrr_kerchunk_concat_step.py``, is the 2-D
    case) nest the ordered reduce recursively, innermost dim first:
    ``concat_dims[0]`` is the OUTERMOST axis, ``concat_dims[-1]`` the
    innermost — each level is one ``applyInPandas`` shuffle grouped by
    the still-outer position columns, combining that level's slices in
    position order; the final (outermost) level merges driver-side
    exactly like the 1-D path. One shuffle per level beyond the first;
    the driver holds O(#outermost-slices) partials — the same envelope
    as the 1-D collect. Each slice must tile its level's extent
    identically (virtual concat cannot rechunk; the per-level checks in
    ``combine_references`` enforce it). ``preprocess`` runs exactly once
    per leaf refs mapping, at the innermost level."""
    import json as _json

    if len(concat_dims) >= 2:
        from .kerchunkio import combine_references

        def make_slice_combine(inner: str, level: int, keys: List[str], pre):
            # factory closure: applyInPandas requires a 1-arg function,
            # and the loop variables must bind per level
            def slice_combine(pdf: pd.DataFrame) -> pd.DataFrame:
                rows = sorted(
                    zip(pdf[f"pos{level}"], pdf["refs"]),
                    key=lambda t: int(t[0]),
                )
                combined = combine_references(
                    [_json.loads(r) for _, r in rows], [inner], preprocess=pre
                )
                out = {k: [int(pdf[k].iloc[0])] for k in keys}
                out["refs"] = [_json.dumps(combined)]
                return pd.DataFrame(out)

            return slice_combine

        cur = refs_df
        for level in range(len(concat_dims) - 1, 0, -1):
            keys = [f"pos{k}" for k in range(level)]
            pre = preprocess if level == len(concat_dims) - 1 else None
            out_schema = ", ".join(f"{k} long" for k in keys) + ", refs string"
            cur = cur.groupBy(*keys).applyInPandas(
                make_slice_combine(concat_dims[level], level, keys, pre),
                out_schema,
            )

        slices = cur.collect()
        ordered = [
            _json.loads(r["refs"]) for r in sorted(slices, key=lambda r: r["pos0"])
        ]
        return combine_references(ordered, [concat_dims[0]])

    stats = refs_df.agg(
        F.min("pos0").alias("mn"), F.max("pos0").alias("mx"), F.count("*").alias("ct")
    ).collect()[0]
    count = stats["ct"]
    if count == 0:
        raise ValueError("no references to combine")
    nbuckets = max(1, -(-count // max_refs_per_merge))

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .kerchunkio import combine_references

        rows: List[Tuple[int, dict]] = []
        for pdf in batches:
            rows.extend(
                (int(p), _json.loads(r)) for p, r in zip(pdf["pos0"], pdf["refs"])
            )
        if rows:
            rows.sort(key=lambda t: t[0])
            combined = combine_references(
                [r for _, r in rows], concat_dims, preprocess=preprocess
            )
            yield pd.DataFrame(
                {"min_pos": [rows[0][0]], "refs": [_json.dumps(combined)]}
            )

    partials = (
        refs_df.repartitionByRange(nbuckets, "pos0")
        .sortWithinPartitions("pos0")
        .mapInPandas(partial, "min_pos long, refs string")
        .collect()
    )
    from .kerchunkio import combine_references

    ordered = [
        _json.loads(r["refs"]) for r in sorted(partials, key=lambda r: r["min_pos"])
    ]
    return combine_references(ordered, concat_dims)


def write_combined_reference(
    spark: SparkSession,
    pattern: FilePattern,
    target_root: Union[str, FSSpecTarget],
    store_name: str,
    concat_dims: Optional[List[str]] = None,
    output_file_name: str = "reference.json",
    max_refs_per_merge: int = 5,
    inline_threshold: int = 300,
    preprocess: Optional[Callable[[dict], dict]] = None,
    kerchunk_open_kwargs: Optional[dict] = None,
) -> str:
    """Kerchunk composite (reference ``WriteCombinedReference``,
    ``transforms.py:589-635``): scan → ordered reduce → write json/parquet.
    ``preprocess`` rewrites each per-file refs mapping before the merge
    (reference ``mzz_kwargs['preprocess']``). Returns the reference
    artifact path (readable via ``kerchunkio.open_reference_dataset``)."""
    from .kerchunkio import write_reference_json, write_reference_parquet

    target = (
        FSSpecTarget.from_url(target_root) if isinstance(target_root, str) else target_root
    )
    concat_dims = concat_dims or pattern.concat_dims
    if not concat_dims:
        raise ValueError("kerchunk combine needs at least one concat dim")

    manifest = manifest_df(spark, pattern)
    refs_df = open_with_kerchunk_df(
        manifest, pattern.file_type, concat_dims=concat_dims,
        inline_threshold=inline_threshold,
        kerchunk_open_kwargs=kerchunk_open_kwargs,
    )
    combined = combine_references_df(
        refs_df, concat_dims, max_refs_per_merge, preprocess=preprocess
    )

    outpath = os.path.join(target.root_path, store_name, output_file_name)
    ext = os.path.splitext(output_file_name)[-1]
    if ext == ".json":
        return write_reference_json(combined, outpath)
    if ext == ".parquet":
        return write_reference_parquet(combined, outpath)
    raise NotImplementedError(f"file_ext={ext!r} not supported.")
