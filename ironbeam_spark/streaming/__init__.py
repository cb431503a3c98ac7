"""Structured Streaming operators and the one bounded-stream runner.

Every streaming suite query is a bounded replay: ``Trigger.AvailableNow``
drains the source that exists at start and stops, which makes the query
equal to its batch form.  :func:`run_to_memory` (memory sink) and
:func:`run_foreach_batch` (``foreachBatch`` sink) are the two ways such a
query is started; both go through one start path that owns the
checkpoint and the stateful partition count.
"""

from __future__ import annotations

import math
import tempfile
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ironbeam_spark.session import scoped_conf

__all__ = ["run_foreach_batch", "run_to_memory"]

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_ADVISORY_BYTES = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _input_bytes(df: DataFrame) -> int | None:
    """Bytes of every leaf of ``df``'s analyzed plan, or ``None`` when a
    leaf is a stream source whose size is not known before it runs.

    A file stream leaf counts the files its source would list now
    (``pathGlobFilter`` applied); a batch leaf, such as the static side of
    a stream-static join, counts its plan statistics.
    """
    total = 0
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            total += int(str(leaf.stats().sizeInBytes()))
        elif leaf.nodeName() == "StreamingRelation" and leaf.sourceName().startswith(
            "FileSource["
        ):
            try:
                total += leaf.dataSource().resolveRelation(False, True).sizeInBytes()
            except Py4JJavaError:
                return None
        else:
            return None
    return total


def _stream_partitions(df: DataFrame) -> int:
    """The partition count :func:`run_to_memory` describes; an input of
    unknown size keeps the session count."""
    spark = df.sparkSession
    n_session = int(spark.conf.get(_SHUFFLE_PARTITIONS))
    size = _input_bytes(df)
    if size is None:
        return n_session
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get(_ADVISORY_BYTES)
    )
    return max(1, min(n_session, math.ceil(size / advisory)))


def _run_available_now(
    df: DataFrame, sink: Callable[[DataStreamWriter], DataStreamWriter]
) -> None:
    """Start ``sink(df.writeStream)`` under ``Trigger.AvailableNow`` with
    :func:`_stream_partitions` shuffle partitions and wait until it has
    drained its input.

    The checkpoint is single-use scratch: a bounded replay never restarts,
    so it lives in a temporary directory that is removed when the query
    ends, also when the query raises — bench and check call the suite
    queries over and over, and a kept checkpoint would leak one temp dir
    per call.  The partition count is set only while ``.start()`` runs: the
    query clones the session conf when it starts, so the count applies to
    it alone and the session's own conf is unchanged afterwards, also when
    ``.start()`` raises.
    """
    n = _stream_partitions(df)
    with tempfile.TemporaryDirectory(
        prefix="ironbeam_stream_ckpt_", ignore_cleanup_errors=True
    ) as ckpt:
        with scoped_conf(df.sparkSession, {_SHUFFLE_PARTITIONS: str(n)}):
            q = (
                sink(df.writeStream)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()


def run_to_memory(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run the streaming ``df`` to completion under ``Trigger.AvailableNow``
    into the memory sink ``name`` and return ``spark.table(name)``.

    ``output_mode`` is ``"complete"``, ``"append"`` or ``"update"``.  The
    memory sink keeps its rows in the driver, so the returned frame does
    not read the (removed) checkpoint.

    Shuffles and state stores get ``ceil(input bytes /
    spark.sql.adaptive.advisoryPartitionSizeInBytes)`` partitions, clamped
    to ``[1, spark.sql.shuffle.partitions]``, the way AQE sizes post-shuffle
    partitions.  The input bytes are the files each file stream source
    lists at start plus the plan size of any batch side (the static side
    of a stream-static join); a stream source of unknown size keeps the
    session count.  A small replay thus gets one state store instead of
    the session's count, and a large input keeps the session's count, so
    the plan shape at scale does not change.

    A stateful query writes its partition count into the checkpoint at the
    first batch and can never change it afterwards.  The rule is sound only
    because this is a bounded replay on a fresh checkpoint: under
    AvailableNow the whole input exists at start, so its size is the size
    the state is built from, and the checkpoint dies with the query.  A
    long-running query that resumes from a kept checkpoint would need the
    count of its eventual input, which no start-time measurement can see.
    """
    _run_available_now(
        df, lambda w: w.format("memory").queryName(name).outputMode(output_mode)
    )
    return df.sparkSession.table(name)


def run_foreach_batch(df: DataFrame, fn: Callable[[DataFrame, int], None]) -> None:
    """Run the streaming ``df`` to completion under ``Trigger.AvailableNow``,
    handing each micro-batch to ``fn(batch_df, batch_id)``; same checkpoint
    and partition rule as :func:`run_to_memory`."""
    _run_available_now(df, lambda w: w.foreachBatch(fn))
