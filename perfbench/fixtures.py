"""Seeded inputs for the benchmark workloads, and the check of a written store.

Every source file gets its own generator, seeded with ``(seed, file_index)``,
so one seed always yields the same files and any file can be regenerated on
its own when an output is checked.

Run as a script to write one workload's files::

    python3 perfbench/fixtures.py <workload> <seed> <directory>
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass
from typing import Dict, List, Optional

import numpy as np


@dataclass(frozen=True)
class Workload:
    name: str
    nfiles: int
    steps_per_file: int
    ny: int
    nx: int
    time_chunk: int
    rechunk_shuffle: Optional[str]
    why: str

    @property
    def nt(self) -> int:
        return self.nfiles * self.steps_per_file

    @property
    def target_chunks(self) -> Dict[str, int]:
        return {"time": self.time_chunk}

    def expected_counts(self) -> tuple:
        """(n_chunks_written, bytes_written) the pipeline must report: one
        status row per target chunk of each time-dependent variable (foo,
        bar and the time coordinate) plus one each for lat and lon; bytes
        are the full size of every variable."""
        nchunks = -(-self.nt // self.time_chunk)
        nbytes = self.nt * self.ny * self.nx * (8 + 4) + 8 * (self.nt + self.ny + self.nx)
        return 3 * nchunks + 2, nbytes


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "rechunk_payload", nfiles=16, steps_per_file=8, ny=180, nx=360,
            time_chunk=32, rechunk_shuffle="payload",
            why="every target chunk straddles 4 files, so the whole corpus "
            "crosses split, the chunk-keyed exchange and combine+write",
        ),
        Workload(
            "many_small_files", nfiles=256, steps_per_file=2, ny=90, nx=180,
            time_chunk=2, rechunk_shuffle=None,
            why="chunks align with 256 small files: zero-shuffle path where "
            "per-file manifest, schema, open and template costs dominate",
        ),
    )
}


def source_path(directory: str, i: int) -> str:
    return os.path.join(directory, f"src{i:04d}.npz")


def lat(w: Workload) -> np.ndarray:
    return np.linspace(-89.5, 89.5, w.ny)


def lon(w: Workload) -> np.ndarray:
    return np.linspace(0.5, 359.5, w.nx)


def file_arrays(w: Workload, seed: int, i: int) -> Dict[str, np.ndarray]:
    """The data variables of source file ``i``."""
    rng = np.random.default_rng([seed, i])
    shape = (w.steps_per_file, w.ny, w.nx)
    return {
        "foo": rng.standard_normal(shape),
        "bar": rng.integers(0, 10_000, shape, dtype="int32"),
    }


def write_sources(w: Workload, seed: int, directory: str) -> List[str]:
    from pangeo_forge_recipes_spark.dsio import write_npz
    from pangeo_forge_recipes_spark.ndset import NDDataset, Variable

    dims = ("time", "lat", "lon")
    paths = []
    for i in range(w.nfiles):
        t0 = i * w.steps_per_file
        ds = NDDataset(
            {k: Variable(dims, a) for k, a in file_arrays(w, seed, i).items()},
            {
                "time": Variable(("time",), np.arange(t0, t0 + w.steps_per_file, dtype="int64")),
                "lat": Variable(("lat",), lat(w)),
                "lon": Variable(("lon",), lon(w)),
            },
            {},
            {"time": w.steps_per_file, "lat": w.ny, "lon": w.nx},
        )
        paths.append(source_path(directory, i))
        write_npz(paths[-1], ds)
    return paths


def check_store(w: Workload, seed: int, path: str, n_chunks: int, nbytes: int) -> List[str]:
    """Compare a written store with the generator's arrays. Returns the list
    of mismatches; empty means the output is correct."""
    from pangeo_forge_recipes_spark.dsio import open_zarr_group
    from pangeo_forge_recipes_spark.zarrio import open_group

    errors = []
    want_n, want_bytes = w.expected_counts()
    if (n_chunks, nbytes) != (want_n, want_bytes):
        errors.append(
            f"reported {n_chunks} chunks / {nbytes} bytes, expected {want_n} / {want_bytes}"
        )
    group = open_group(path)
    for name in ("foo", "bar"):
        chunks = tuple(group[name].chunks)
        if chunks != (w.time_chunk, w.ny, w.nx):
            errors.append(f"{name} chunk shape {chunks} != {(w.time_chunk, w.ny, w.nx)}")
    ds = open_zarr_group(path)
    coords = {"time": np.arange(w.nt, dtype="int64"), "lat": lat(w), "lon": lon(w)}
    for name, want in coords.items():
        got = ds.variables[name].data
        if got.shape != want.shape or not np.array_equal(got, want):
            errors.append(f"coordinate {name} differs")
    got = {name: ds.variables[name].data for name in ("foo", "bar")}
    for name, arr in got.items():
        if arr.shape != (w.nt, w.ny, w.nx):
            errors.append(f"{name} shape {arr.shape} != {(w.nt, w.ny, w.nx)}")
    if any(arr.shape != (w.nt, w.ny, w.nx) for arr in got.values()):
        return errors
    for i in range(w.nfiles):
        sl = slice(i * w.steps_per_file, (i + 1) * w.steps_per_file)
        for name, want in file_arrays(w, seed, i).items():
            if got[name].dtype != want.dtype or not np.array_equal(got[name][sl], want):
                errors.append(f"{name} differs in time steps {sl.start}..{sl.stop - 1}")
    return errors


if __name__ == "__main__":
    workload, seed, directory = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    write_sources(WORKLOADS[workload], seed, directory)
