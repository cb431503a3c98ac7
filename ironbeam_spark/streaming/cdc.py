"""Streaming CDC apply: a changelog stream maintained as a live snapshot.

The Structured-Streaming sibling of ``operators/cdc.apply_changes`` (and
beyond the reference's scope — its streaming surface has no keyed state at
all): consume a Debezium-shaped stream of ``(key, ts, op, attrs...)`` and,
in update mode, emit each key's CURRENT row whenever it changes — latest
``(ts, tiebreak)`` wins across micro-batches, delete ops tombstone the key
(emitting a ``_deleted`` marker row), and a later upsert resurrects it.

State per key is ONE row (the current winner's ordering position + delete
flag), kept in the state store (RocksDB-backed at scale) — state size is
O(live keys), independent of stream length.  Late rows older than the
current winner are ignored, which is exactly the batch operator's
latest-wins contract, so the final emission per key equals
``apply_changes`` over the whole history — the batch-equivalence the tests
and the registry query pin.

Emission contract (update mode): one row per key per micro-batch in which
the key's winner changed; downstream sinks keyed on ``key`` converge to
the batch snapshot.  ``_deleted`` is surfaced as a column (not an absent
row) because streaming sinks need the retraction signal — a batch consumer
filters ``NOT _deleted``.

Why pandas: Spark has no native operator for this rule.  A native
update-mode ``max(struct(us, *ties, deleted, *vals))`` per key re-emits the
unchanged winner for every batch that touches the key, a late, older row
included, and keeps the whole winning row as state.  Spark 4.1.2's
Arrow-native ``transformWithState`` needs ``google.protobuf``, which is not
installed.  ``stateful._exact_bigints`` keeps the kernel's top-level bigints
exact; nested ones are not covered.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ironbeam_spark.streaming.stateful import _exact_bigints

__all__ = ["stream_apply_changes"]


def stream_apply_changes(
    sdf: DataFrame,
    key_cols: Sequence[str],
    us_col: str,
    value_cols: Sequence[str],
    op_col: str | None = None,
    delete_ops: Sequence[str] = ("D",),
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Maintain the latest-per-key snapshot of a changelog stream.

    ``us_col`` must already be exact int64 epoch-micros (use
    ``to_epoch_us`` upstream — streaming schemas can't sniff dtypes after
    projection).  Output: key cols, ``us_col``, tiebreak cols
    (so consumers can total-order emissions), ``value_cols``, ``_deleted``
    boolean."""
    keys = list(key_cols)
    vals = list(value_cols)
    ties = list(tiebreak_cols)
    dels = set(delete_ops)

    out_cols = [*keys, us_col, *ties, *vals]
    order_cols = [us_col, *ties]

    import pandas as pd

    def fn(key, pdfs, state: GroupState):
        best = None  # (order_tuple of python scalars, row, is_delete)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(order_cols, kind="mergesort")
            row = pdf.iloc[-1]
            cand = tuple(
                v.item() if hasattr(v, "item") else v
                for v in (row[c] for c in order_cols)
            )
            if best is None or cand > best[0]:
                is_del = op_col is not None and str(row[op_col]) in dels
                best = (cand, row, is_del)
        if best is None:
            return
        if state.exists:
            prev_order = tuple(state.get)[: len(order_cols)]
            if prev_order >= best[0]:
                return  # batch winner is not newer than the stored winner
        state.update((*best[0], bool(best[2])))
        row = best[1]
        out = {c: row[c] for c in out_cols}
        out["_deleted"] = bool(best[2])
        yield pd.DataFrame([out])

    def kernel(df: DataFrame) -> DataFrame:
        def ddl(cols):
            return ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in cols)

        # state: the winner's ordering position + delete flag; the
        # ordering position alone decides replacement
        return df.groupBy(*keys).applyInPandasWithState(
            fn,
            outputStructType=f"{ddl(out_cols)}, _deleted boolean",
            stateStructType=f"{ddl(order_cols)}, deleted boolean",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _exact_bigints(sdf, keys, kernel)
