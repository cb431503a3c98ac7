"""User-defined combiner protocol (reference ``CombineFn<V, A, O>``,
``src/collection.rs:333-360``: ``create_accumulator / add_input /
merge_accumulators / extract_output`` + assoc-comm declaration).

Spark mapping (SURVEY §2.12): every *shipped* reference combiner translates
to a native aggregate expression (see the suite's q_* queries) — that is the
100 TB path, with Tungsten partial/final aggregation and spilling.  This
module is the **long-tail** path for genuinely custom user combiners: one
Arrow fold, run per key group (``applyInArrow``, iterator form) or per
partition under a ``mapInArrow`` merge tree (``combine_globally``).

Scale notes:
- a key group streams through the fold batch by batch, so a task holds one
  Arrow batch plus the accumulator, never the whole group; known combiner
  shapes should still become native expressions (SURVEY §7 hard-list item
  5), which also split a hot key over partial aggregates.
- ``add_batch`` is the vectorized hook: override it with ``pyarrow.compute``
  or numpy ops on the ``pyarrow.RecordBatch``; the default folds
  ``batch.to_pylist()`` (exact ints, ``None`` for nulls) through
  ``add_input`` like the reference's per-element fold
  (``src/helpers/combine.rs:66-154``).
"""

from __future__ import annotations

import pickle
from collections.abc import Iterable, Iterator, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame

__all__ = ["CombineFn", "combine_per_key", "combine_globally"]


class CombineFn:
    """Subclass and implement the four-phase contract.  ``accumulator`` may be
    any picklable value.  ``extract_output`` returns a dict of output columns.
    """

    def create_accumulator(self) -> Any:
        raise NotImplementedError

    def add_input(self, acc: Any, row: dict) -> Any:
        raise NotImplementedError

    def add_batch(self, acc: Any, batch: pa.RecordBatch) -> Any:
        """Vectorized fold over an Arrow batch; default = per-row loop."""
        for row in batch.to_pylist():
            acc = self.add_input(acc, row)
        return acc

    def merge_accumulators(self, accs: Sequence[Any]) -> Any:
        raise NotImplementedError

    def extract_output(self, acc: Any) -> dict:
        raise NotImplementedError


def _fold(fn: CombineFn, batches: Iterable[pa.RecordBatch]) -> Any:
    acc = fn.create_accumulator()
    for batch in batches:
        acc = fn.add_batch(acc, batch)
    return acc


def _arrow_schema(ddl: str) -> pa.Schema:
    """The output batch schema: built against it, an all-``None`` column
    still has its declared type (Spark rejects a null-typed column)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl))


def combine_per_key(
    df: DataFrame, key_cols: Sequence[str], fn: CombineFn, out_schema: str
) -> DataFrame:
    """Per-key combine with a user CombineFn (reference ``combine_values``,
    ``src/helpers/combine.rs:66``).  ``out_schema`` must list the key columns
    first, then ``extract_output``'s columns."""
    keys, target = list(key_cols), _arrow_schema(out_schema)

    # the annotations select applyInArrow's iterator form: the group's
    # batches stream through the fold instead of arriving as one table
    def apply(
        key: tuple, batches: Iterator[pa.RecordBatch]
    ) -> Iterator[pa.RecordBatch]:
        head = {k: v.as_py() for k, v in zip(keys, key)}
        out = fn.extract_output(_fold(fn, batches))
        yield pa.RecordBatch.from_pylist([{**head, **out}], schema=target)

    return df.groupBy(*keys).applyInArrow(apply, out_schema)


def _accs(batches: Iterable[pa.RecordBatch]) -> list:
    return [pickle.loads(b) for rb in batches for b in rb.column(0).to_pylist()]


def _acc_batch(acc: Any) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict({"acc": [pickle.dumps(acc)]})


# Tasks in combine_globally's intermediate merge round: with P partial
# accumulators no merge task sees more than ~P/_MERGE_FANOUT of them.
_MERGE_FANOUT = 32


def combine_globally(df: DataFrame, fn: CombineFn, out_schema: str) -> DataFrame:
    """Global combine (reference ``combine_globally``,
    ``src/helpers/combine_global.rs:50``).  Three-phase tree aggregation —
    the reference's O(log n) Rayon reduction (``src/runner.rs:802-810``)
    re-expressed as a two-level merge, entirely inside the DAG (the result
    stays a lazy DataFrame, composable mid-pipeline):

    1. per-partition partial accumulators via ``mapInArrow`` (parallel, no
       shuffle) — one pickled accumulator row per partition;
    2. intermediate merge: ``repartition(_MERGE_FANOUT)`` spreads the
       partial rows over 32 tasks, each merging its share into ONE
       accumulator — so with P scan partitions no single task ever sees more
       than ~P/32 accumulators (at ~800k scan partitions the old single
       ``repartition(1)`` merge saw all 800k rows in one task);
    3. ``repartition(1)`` moves the ≤ 32 survivors (this is exactly
       ``treeAggregate``'s final exchange; ``coalesce(1)`` would instead
       collapse upstream parallelism), then a final ``mapInArrow`` merges
       and extracts.

    Emits the identity accumulator's output on empty input, matching the
    reference."""
    target = _arrow_schema(out_schema)

    def partial(batches):
        yield _acc_batch(_fold(fn, batches))

    def merge_level(batches):
        accs = _accs(batches)
        if accs:  # empty partitions contribute nothing at this level
            yield _acc_batch(accs[0] if len(accs) == 1 else fn.merge_accumulators(accs))

    def final(batches):
        accs = _accs(batches) or [fn.create_accumulator()]
        out = fn.extract_output(fn.merge_accumulators(accs))
        yield pa.RecordBatch.from_pylist([out], schema=target)

    partials = df.mapInArrow(partial, "acc binary")
    intermediate = partials.repartition(_MERGE_FANOUT).mapInArrow(
        merge_level, "acc binary"
    )
    return intermediate.repartition(1).mapInArrow(final, out_schema)
