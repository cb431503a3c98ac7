"""Scale/parallelism helpers.

``ensure_min_parallelism`` fixes the "small file, heavy expression" shape:
a single-file parquet scan yields one input split, so an expensive map-side
expression chain (minhash signatures, simhash bit votes, n-gram explosion)
runs on one core no matter how many executors exist.  At 100 TB the scan has
thousands of splits and this is a no-op; on small inputs it inserts one
round-robin exchange so the expensive projection parallelizes.

This mirrors the reference's explicit ``reshuffle()`` barrier
(``src/helpers/reshuffle.rs:75``, "analogous to repartition() in Apache
Spark") applied for the same reason: redistribute before expensive work.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["ensure_min_parallelism", "local_metadata_df"]


def local_metadata_df(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """A metadata-scale DataFrame built from JVM literals — the fast path
    for tiny broadcast-side tables (robots texts, blocklists, suffix
    tables).

    ``spark.createDataFrame(list, ddl)`` parallelizes the rows into a
    Python-pickled RDD sliced ``defaultParallelism`` ways: every action
    that touches the frame round-trips one Python worker per slice (32
    near-empty Python tasks on ``local[32]`` — and a ``coalesce(1)`` is
    WORSE: the single task evaluates all 32 parent slices sequentially,
    measured ~6 s per action for a 4-row table).  This helper instead
    inlines the rows as one literal array-of-structs over ``range(1)`` —
    a pure-JVM ``LocalTableScan`` after constant folding, zero Python
    round trips, zero tasks of overhead (optimization round 12).

    ``ddl`` is the usual ``"name type, name type"`` schema string; values
    are cast to the declared types (``None`` maps to typed NULL).  Row
    order is preserved.  Only for metadata-scale data: every row becomes
    a literal in the plan tree.
    """
    from ironbeam_spark.plancache import session_memo

    rows = [tuple(r) for r in rows]  # materialize once: rows may be a generator
    try:  # memoize the literal plan per session: rows are metadata-scale
        # constants, the frame is a pure LocalTableScan (no state), and
        # re-building the literal tree costs one py4j trip per value on
        # every query invocation (optimization round 12)
        key = ("local_metadata_df", tuple(rows), ddl)
        hash(key)
    except TypeError:
        return _build_local_metadata_df(spark, rows, ddl)
    return session_memo(
        spark, key, lambda: _build_local_metadata_df(spark, rows, ddl)
    )


def _build_local_metadata_df(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    fields = [f.strip() for f in ddl.split(",")]
    names = [f.split()[0].strip("`") for f in fields]
    struct_ddl = "struct<" + ",".join(f.replace(" ", ":", 1) for f in fields) + ">"
    structs = [
        F.struct(
            *[F.lit(v).alias(n) for v, n in zip(row, names, strict=True)]
        ).cast(struct_ddl)
        for row in rows
    ]
    arr = (
        F.array(*structs)
        if structs
        else F.array().cast(f"array<{struct_ddl}>")
    )
    return spark.range(1).select(F.inline(arr))


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism iff the
    plan currently has fewer partitions; otherwise return ``df`` unchanged.

    Call this immediately before a compute-heavy narrow stage (per-row
    hashing, shingling, vector math).  Never call it on an already-wide plan:
    the partition check makes it free there.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
