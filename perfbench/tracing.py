"""Tracing for the per-layer run: spans around the package's public calls,
per-op layer metrics derived from those spans and Spark's own metrics, and
single-threaded kernel timings.

Spans are recorded from the benchmark's side: ``Tracer.install`` replaces
the module attributes that ``store_to_zarr`` calls with timing wrappers, so
the program itself is unchanged.
"""

from __future__ import annotations

import functools
import statistics
import time
from typing import Dict, List

MB = 1e6

#: attributes of ``transforms`` that ``store_to_zarr`` calls, with the public
#: name each span is recorded under
WRAPPED = {
    "manifest_df": "manifest_df",
    "read_schemas_df": "read_schemas_df",
    "determine_schema": "determine_schema",
    "schema_to_zarr": "schema_to_zarr",
    "index_items": "index_items",
    "open_split_fragments_df": "open_split_fragments_df",
    "rechunk_and_store": "rechunk_and_store",
    "open_split_store_df": "open_split_store_df",
    "_consolidate_coords": "consolidate_dimension_coordinates",
    "_consolidate_metadata": "consolidate_metadata",
}


class Tracer:
    """Keeps spans in memory. A span is ``{name, start, end, parent, op}``
    with epoch-second times; calls made while no op is open run untraced."""

    def __init__(self) -> None:
        self.spans: List[dict] = []
        self.op = None
        self.schema = None

    def install(self, module) -> None:
        for attr, name in WRAPPED.items():
            setattr(module, attr, self._wrap(getattr(module, attr), name))

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None:
                return fn(*args, **kwargs)
            start = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.spans.append({"name": name, "start": start, "end": time.time(), "parent": "op", "op": self.op})
            if name == "determine_schema":
                self.schema = out
            return out

        return traced

    def op_spans(self, op) -> Dict[str, dict]:
        return {s["name"]: s for s in self.spans if s["op"] == op and s["parent"] == "op"}


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` that the intervals cover."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def add_spark_spans(tracer: Tracer, op_span: dict, jobs: List[dict]) -> None:
    """Record each job and stage of an op as spans. A job's parent is the
    traced call it was submitted from, or the op."""
    calls = [s for s in tracer.spans if s["op"] == op_span["op"] and s["parent"] == "op"]
    for job in jobs:
        parent = next((c["name"] for c in calls if c["start"] <= job["start"] <= c["end"]), "op")
        tracer.spans.append({"name": f"job {job['id']}", "start": job["start"], "end": job["end"], "parent": parent, "op": op_span["op"]})
        for st in job["stages"]:
            tracer.spans.append({"name": f"stage {st['id']}", "start": st["start"], "end": st["end"], "parent": f"job {job['id']}", "op": op_span["op"]})


def self_times(spans: List[dict]) -> Dict[str, float]:
    """Per span name (jobs and stages pooled): median over ops of the
    span's duration minus the part its child spans cover."""
    per_op: Dict[tuple, dict] = {}
    for s in spans:
        per_op[(s["op"], s["name"])] = s
    selfs: Dict[str, List[float]] = {}
    for (op, name), s in per_op.items():
        kids = [(c["start"], c["end"]) for c in spans if c["op"] == op and c["parent"] == name]
        label = name.split()[0]
        selfs.setdefault(label, []).append(s["end"] - s["start"] - covered(kids, s["start"], s["end"]))
    return {k: statistics.median(v) for k, v in sorted(selfs.items())}


def layer_metrics(calls: Dict[str, dict], op_span: dict, jobs: List[dict], nodes_all: List[dict],
                  nodes_write: List[dict], result, nfiles: int) -> Dict[str, float]:
    """Per-layer numbers for one op. Stages submitted after the schema pass
    belong to the write phase. On a shuffled op the write phase's stages
    that read no shuffle are the split (map side of the chunk-keyed
    exchange) and the busiest of the others is combine+write; on the
    zero-shuffle path the stages that read no shuffle are combine+write.
    Python plan nodes are split the same way: under more Exchanges than the
    shallowest ones means split."""

    def dur(name):
        return calls[name]["end"] - calls[name]["start"] if name in calls else 0.0

    schema_end = calls["determine_schema"]["end"]
    stages = [st for j in jobs for st in j["stages"]]
    write = [st for j in jobs if j["start"] >= schema_end for st in j["stages"]]
    unread = [st for st in write if st["shuffle_read_mb"] == 0]
    if result.shuffled:
        split = unread
        rest = [st for st in write if st["shuffle_read_mb"] > 0]
        combine = [max(rest, key=lambda st: st["run_s"])] if rest else []
        top = min((n["exchanges"] for n in nodes_write), default=0)
        py_split = [n for n in nodes_write if n["exchanges"] > top]
        py_combine = [n for n in nodes_write if n["exchanges"] == top]
    else:
        split, combine, py_split, py_combine = [], unread, [], nodes_write

    def total(rows, key):
        return float(sum(r[key] for r in rows))

    job_spans = [(j["start"], j["end"]) for j in jobs]
    wall = op_span["end"] - op_span["start"]
    return {
        "op.s": wall,
        "manifest.s": dur("manifest_df"),
        "schema.s": dur("read_schemas_df") + dur("determine_schema"),
        "schema.files": float(nfiles),
        "template.s": dur("schema_to_zarr"),
        "driver.s": wall - covered(job_spans, op_span["start"], op_span["end"]),
        "split.task_s": total(split, "run_s"),
        "split.cpu_s": total(split, "cpu_s"),
        "split.py_run_s": total(py_split, "run_s"),
        "split.py_out_mb": total(py_split, "out_mb"),
        "split.records": total(split, "shuffle_write_records"),
        "exchange.write_mb": total(split, "shuffle_write_mb"),
        "exchange.read_mb": total(combine, "shuffle_read_mb") if split else 0.0,
        "exchange.records": total(combine, "shuffle_read_records") if split else 0.0,
        "exchange.fetch_wait_s": total(combine, "fetch_wait_s") if split else 0.0,
        "exchange.write_s": total(split, "shuffle_write_s"),
        "exchange.spill_mb": total(split + combine, "spill_mb"),
        "combine_write.task_s": total(combine, "run_s"),
        "combine_write.cpu_s": total(combine, "cpu_s"),
        "combine_write.py_run_s": total(py_combine, "run_s"),
        "combine_write.py_in_mb": total(py_combine, "in_mb"),
        "combine_write.chunks": float(result.n_chunks_written),
        "combine_write.mb_written": result.bytes_written / MB,
        "combine_write.peak_exec_mb": max((st["peak_exec_mb"] for st in combine), default=0.0),
        "combine_write.task_skew": max((st["task_skew"] for st in combine), default=1.0),
        "pyworker.start_s": total(nodes_all, "start_s"),
        "pyworker.init_s": total(nodes_all, "init_s"),
        "jvm.gc_s": total(stages, "gc_s"),
    }


def _nbytes(ds) -> int:
    return int(sum(v.data.nbytes for v in ds.variables.values()))


def _median_time(fn, min_reps: int = 3, min_s: float = 0.3) -> float:
    times: List[float] = []
    while len(times) < min_reps or sum(times) < min_s:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_metrics(w, paths: List[str], schema, store_path: str) -> Dict[str, float]:
    """Single-threaded MB/s of each kernel on the files that feed the first
    target chunk, with the bytes each call moves."""
    from pangeo_forge_recipes_spark.dsio import schema_to_zarr, store_dataset_fragment
    from pangeo_forge_recipes_spark.ndset import NDDataset
    from pangeo_forge_recipes_spark.openers import open_with_ndset
    from pangeo_forge_recipes_spark.patterns import FileType
    from pangeo_forge_recipes_spark.rechunking import combine_fragments, split_fragment
    from pangeo_forge_recipes_spark.types import CombineOp, Dimension, Index, IndexedPosition

    files = paths[: max(1, w.time_chunk // w.steps_per_file)]
    time_dim = Dimension("time", CombineOp.CONCAT)
    indexes = [Index({time_dim: IndexedPosition(i * w.steps_per_file, dimsize=w.nt)}) for i in range(len(files))]

    def open_all():
        return [open_with_ndset(p, file_type=FileType.npz) for p in files]

    def split_all():
        return [piece for idx, ds in zip(indexes, opened)
                for piece in split_fragment((idx, ds), target_chunks=w.target_chunks, schema=schema)]

    opened = open_all()
    pieces = split_all()
    frames = [sub.to_bytes() for _, (_, sub) in pieces]
    first = pieces[0][0]
    group = [frag for gk, frag in pieces if gk == first]
    combined = combine_fragments(first, group)
    schema_to_zarr(schema, store_path, target_chunks=w.target_chunks)

    moved = {
        "open": sum(_nbytes(ds) for ds in opened),
        "split": sum(_nbytes(ds) for ds in opened),
        "frame_encode": sum(len(f) for f in frames),
        "frame_decode": sum(len(f) for f in frames),
        "combine": _nbytes(combined[1]),
        "store": _nbytes(combined[1]),
    }
    timed = {
        "open": open_all,
        "split": split_all,
        "frame_encode": lambda: [sub.to_bytes() for _, (_, sub) in pieces],
        "frame_decode": lambda: [NDDataset.from_bytes(f) for f in frames],
        "combine": lambda: combine_fragments(first, group),
        "store": lambda: store_dataset_fragment(combined, store_path),
    }
    out = {}
    for name, fn in timed.items():
        out[f"kernel.{name}.mb_s"] = moved[name] / MB / _median_time(fn)
        out[f"kernel.{name}.mb"] = moved[name] / MB
    return out
