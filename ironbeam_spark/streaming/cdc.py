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

Why pandas: the kernel stays on ``applyInPandasWithState`` because Spark
4.1.2's Arrow-native stateful API (``transformWithState``) imports
``google.protobuf``, which is not installed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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

    def _ddl(cols):
        return ", ".join(
            f"{c} {sdf.schema[c].dataType.simpleString()}" for c in cols
        )

    out_cols = [*keys, us_col, *ties, *vals]
    out_ddl = f"{_ddl(out_cols)}, _deleted boolean"
    # state: the winner's ordering position + payload as one JSON-free
    # tuple; ordering position alone decides replacement
    state_ddl = f"{_ddl([us_col])}, {_ddl(ties)}, deleted boolean" if ties else f"{_ddl([us_col])}, deleted boolean"

    import pandas as pd

    def fn(key, pdfs, state: GroupState):
        order_cols = [us_col, *ties]
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

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
