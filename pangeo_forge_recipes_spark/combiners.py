"""Reducer factories (reference ``pangeo_forge_recipes/combiners.py``).

In Spark, schema combination happens in ``transforms.determine_schema``
(groupBy + applyInPandas per nesting level) and min/max/count is a single
built-in ``agg`` — Catalyst does the partial/final split the reference
hand-writes. These helpers keep the reference's *functional* surface for
code that wants an explicit accumulator object (e.g. driver-side folds and
tests)."""

from __future__ import annotations

import sys
from dataclasses import dataclass
from typing import Callable, Generic, Optional, Tuple, TypeVar

from .aggregation import XarraySchema, combine_xarray_schemas
from .types import CombineOp, Dimension, Index

A = TypeVar("A")
E = TypeVar("E")


@dataclass
class ReduceFn(Generic[E, A]):
    """An explicit accumulate/merge/extract reducer (reference
    ``build_reduce_fn``, ``combiners.py:73-96``)."""

    accumulate_op: Callable[[A, E], A]
    merge_op: Callable[[A, A], A]
    initializer: A

    def create_accumulator(self) -> A:
        return self.initializer

    def add_input(self, acc: A, item: E) -> A:
        return self.accumulate_op(acc, item)

    def merge_accumulators(self, accs) -> A:
        accs = list(accs)
        out = accs[0]
        for a in accs[1:]:
            out = self.merge_op(out, a)
        return out

    def extract_output(self, acc: A) -> A:
        return acc


def build_reduce_fn(accumulate_op, merge_op, initializer) -> ReduceFn:
    return ReduceFn(accumulate_op, merge_op, initializer)


# single-pass global (min, max, count) — reference ``combiners.py:99-115``
MinMaxCountCombineFn = build_reduce_fn(
    accumulate_op=lambda acc, x: (min(acc[0], x), max(acc[1], x), acc[2] + 1),
    merge_op=lambda a, b: (min(a[0], b[0]), max(a[1], b[1]), a[2] + b[2]),
    initializer=(sys.maxsize, -sys.maxsize, 0),
)


@dataclass
class CombineXarraySchemas:
    """Explicit schema combiner along one dimension — same accumulator
    protocol as the reference's Beam CombineFn (``combiners.py:15-66``);
    used by unit tests and driver-side folds. The distributed path lives in
    ``transforms.determine_schema``."""

    dimension: Dimension

    def get_position(self, index: Index) -> int:
        return index[self.dimension].value

    def create_accumulator(self) -> Tuple[Optional[XarraySchema], Optional[str]]:
        concat = (
            self.dimension.name
            if self.dimension.operation == CombineOp.CONCAT
            else None
        )
        return (None, concat)

    def add_input(self, acc, item):
        import copy

        acc_schema, concat_dim = acc
        index, schema = item
        if concat_dim:
            assert concat_dim not in schema["chunks"], (
                "Concat dim should be unchunked for new input"
            )
            schema = copy.deepcopy(schema)
            schema["chunks"][concat_dim] = {
                self.get_position(index): schema["dims"][concat_dim]
            }
        if acc_schema:
            return (combine_xarray_schemas(acc_schema, schema, concat_dim), concat_dim)
        return (schema, concat_dim)

    def merge_accumulators(self, accs):
        accs = list(accs)
        if len({a[1] for a in accs}) > 1:
            raise ValueError("Can't merge accumulators with different concat_dims")
        out = self.create_accumulator()
        for a in accs:
            out = (combine_xarray_schemas(out[0], a[0], out[1]), out[1])
        return out

    def extract_output(self, acc):
        return acc[0]
