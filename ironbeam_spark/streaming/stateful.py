"""Stateful streaming operators (north-star extension — the reference is
batch-only and explicitly excludes stateful DoFn/timers, reference
``FEATURE_PARITY_PLAN.md:6-11``).

Two canonical LLM-pipeline shapes:

- **streaming first-seen dedup**: keep one bit of state per key; emit a key's
  deterministic winner (min by ``order_col``) the first time the key appears,
  drop every later occurrence — exact dedup over an unbounded stream.
- **streaming running count**: per-key cumulative counts across micro-batches
  (update-mode output), a native streaming aggregation.

Scale notes: state lives in the state store (RocksDB-backed on a real
cluster), partitioned by the grouping key — the same hash-partitioning story
as a batch groupBy.

Why pandas: no native operator keeps first-seen dedup's winner (the
min-``order_col`` row of the key's first micro-batch), so that kernel, like
``cdc.stream_apply_changes``, stays on ``applyInPandasWithState``: Spark
4.1.2's Arrow-native ``transformWithState`` needs ``google.protobuf``, which
is not installed.  Both kernels run through :func:`_exact_bigints`, since
pandas holds a bigint column with a NULL as float64.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType

from ironbeam_spark.session import scoped_conf

__all__ = ["stream_dedup_first", "stream_running_count"]


def _exact_bigints(
    sdf: DataFrame, key_cols: Sequence[str], kernel: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Run a pandas state ``kernel`` with its bigints exact: top-level
    ``bigint`` non-key columns are cast to ``decimal(20,0)`` going in (pandas
    holds them as exact ``Decimal`` objects, NULL as ``None``) and back to
    ``bigint`` coming out.  The kernel derives its output and state schemas
    from the frame it is given.  Key columns need no cast: a group holds one
    key value.  Bigints nested in structs, arrays or maps are not covered."""
    wide = [
        f.name for f in sdf.schema.fields
        if f.name not in key_cols and isinstance(f.dataType, LongType)
    ]

    def cast(df: DataFrame, to: str) -> DataFrame:
        return df.withColumns({c: F.col(c).cast(to) for c in df.columns if c in wide})

    return cast(kernel(cast(sdf, "decimal(20,0)")), "bigint")


def stream_dedup_first(
    sdf: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Exact streaming dedup: first-seen key wins (deterministically: the
    min-``order_col`` row within the key's first micro-batch), duplicates in
    all later batches are dropped via one boolean of per-key state."""

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            for _ in pdfs:  # consume; key already emitted
                pass
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values(order_col).head(1)
            best = cand if best is None else pd.concat([best, cand]).sort_values(order_col).head(1)
        if best is not None:
            state.update((True,))
            yield best

    def kernel(df: DataFrame) -> DataFrame:
        return df.groupBy(*key_cols).applyInPandasWithState(
            fn,
            outputStructType=df.schema,
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _exact_bigints(sdf, key_cols, kernel)


def stream_running_count(sdf: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key cumulative count across micro-batches: in update mode, one
    row per key touched by a batch, carrying its running total."""
    return sdf.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("running_n"))


# ---------------------------------------------------------------------------
# State-store backend selection (the 100 TB story for streaming state)
# ---------------------------------------------------------------------------

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_state_store(spark):
    """Context manager that runs streaming queries against the RocksDB state
    store provider instead of the default in-memory HDFS-backed one; the
    session conf is restored on exit (:func:`ironbeam_spark.session.scoped_conf`).

    At 100 TB the per-key state of a dedup or running-aggregate stream does
    not fit on the executor heap; RocksDB keeps it on local SSD with
    changelog checkpointing so commits upload only the delta, not a full
    snapshot.  Local-mode behavior is identical — tests assert batch
    equivalence under both providers.
    """
    return scoped_conf(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        },
    )
