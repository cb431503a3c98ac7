"""Custom stateful streaming operators via ``applyInPandasWithState``
(north-star extension — the reference is batch-only and explicitly excludes
stateful DoFn/timers, reference ``FEATURE_PARITY_PLAN.md:6-11``).

Two canonical LLM-pipeline shapes:

- **streaming first-seen dedup**: keep one bit of state per key; emit a key's
  deterministic winner (min by ``order_col``) the first time the key appears,
  drop every later occurrence — exact dedup over an unbounded stream.
- **streaming running count**: per-key cumulative counts across micro-batches
  (update-mode output).

Scale notes: state lives in the state store (RocksDB-backed on a real
cluster), partitioned by the grouping key — the same hash-partitioning story
as a batch groupBy.  Arrow batches bound memory per call.  Both functions are
top-level module functions so cloudpickle ships them by reference and the
session factory's addPyFile zip resolves them on executors.

Why pandas: these kernels (and ``cdc.stream_apply_changes``) stay on
``applyInPandasWithState`` because Spark 4.1.2's Arrow-native stateful API
(``transformWithState``) imports ``google.protobuf``, which is not installed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ironbeam_spark.session import scoped_conf

__all__ = ["stream_dedup_first", "stream_running_count"]


def stream_dedup_first(
    sdf: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Exact streaming dedup: first-seen key wins (deterministically: the
    min-``order_col`` row within the key's first micro-batch), duplicates in
    all later batches are dropped via one boolean of per-key state."""
    out_schema = sdf.schema

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

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _key_ddl(sdf: DataFrame, key_cols: list[str]) -> str:
    """Output-schema DDL for the grouping keys, derived from the input
    schema — hardcoding ``string`` would mismatch non-string keys (e.g. a
    bigint ``event_id``) and fail or silently cast at runtime."""
    return ", ".join(
        f"{c} {sdf.schema[c].dataType.simpleString()}" for c in key_cols
    )


def stream_running_count(sdf: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key cumulative count across micro-batches (update mode): emits one
    row per key per batch with the running total."""
    key_ddl = _key_ddl(sdf, key_cols)

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        batch_n = sum(len(p) for p in pdfs)
        if batch_n:
            n += batch_n
            state.update((n,))
            yield pd.DataFrame([{**dict(zip([c for c in key_cols], key)), "running_n": n}])

    return sdf.groupBy(*key_cols).applyInPandasWithState(
        fn,
        outputStructType=f"{key_ddl}, running_n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
