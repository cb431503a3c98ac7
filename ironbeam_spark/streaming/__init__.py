"""Structured Streaming operators and the one bounded-stream runner.

Every streaming suite query is a bounded replay: ``Trigger.AvailableNow``
drains the source that exists at start and stops, which makes the query
equal to its batch form.  :func:`run_to_memory` is the one place that
starts such a query into a memory sink.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame

__all__ = ["run_to_memory"]


def run_to_memory(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run the streaming ``df`` to completion under ``Trigger.AvailableNow``
    into the memory sink ``name`` and return ``spark.table(name)``.

    ``output_mode`` is ``"complete"``, ``"append"`` or ``"update"``.

    The checkpoint is single-use scratch: a bounded replay never restarts,
    and the memory sink keeps its rows in the driver, so the returned frame
    does not read it.  It lives in a temporary directory that is removed
    when the query ends, also when the query raises — bench and check call
    the suite queries over and over, and a kept checkpoint would leak one
    temp dir per call.
    """
    with tempfile.TemporaryDirectory(
        prefix="ironbeam_stream_ckpt_", ignore_cleanup_errors=True
    ) as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return df.sparkSession.table(name)
