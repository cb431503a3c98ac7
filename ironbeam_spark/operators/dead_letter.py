"""Dead-letter routing & validation (reference §2.11,
``src/helpers/dead_letter.rs``, ``src/validation.rs``,
``src/helpers/try_process.rs``).

Pattern: classify once into a status/error column, persist the classified
frame (the analogue of the reference's dominator-CSE shared pass,
``src/helpers/dead_letter.rs:115-118``), then filter into the good stream and
the ``DeadLetter`` stream ``{element..., error}``
(``src/helpers/dead_letter.rs:85``).

Validation modes mirror ``ValidationMode`` (``src/validation.rs:154``):
- SKIP_INVALID  → return only valid rows
- LOG_AND_CONTINUE → valid rows + error-count metric via ``df.observe``
  (the ErrorCollector analogue, ``src/validation.rs:167``)
- FAIL_FAST → raise on first invalid row (action-time check)
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ironbeam_spark import caches

__all__ = [
    "map_catching",
    "partition_tags",
    "try_map",
    "collect_fail_fast",
    "Rule",
    "validate",
    "SKIP_INVALID",
    "LOG_AND_CONTINUE",
    "FAIL_FAST",
]

SKIP_INVALID = "skip_invalid"
LOG_AND_CONTINUE = "log_and_continue"
FAIL_FAST = "fail_fast"


def map_catching(
    df: DataFrame,
    out_cols: dict[str, Column],
    error: Column,
    cache: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Good/error split (reference ``map_catching``,
    ``src/helpers/dead_letter.rs:142``).

    ``error`` is an expression that is NULL for good rows and an error string
    otherwise (the declarative analogue of a closure returning ``Result``).
    Returns ``(good, dead)``; ``dead`` keeps the original element plus the
    ``error`` column, exactly the reference's ``DeadLetter<T>`` shape.
    ``cache=True`` evaluates the classification once for both consumers
    (held until ``caches.release_all_caches()``); at larger scale callers
    persist to storage instead.
    """
    classified = df.withColumn("_error", error)
    if cache:
        classified = caches.hold(classified.cache())
    good = classified.where(F.col("_error").isNull()).drop("_error")
    for name, expr in out_cols.items():
        good = good.withColumn(name, expr)
    dead = classified.where(F.col("_error").isNotNull()).withColumnRenamed("_error", "error")
    return good, dead


def partition_tags(
    df: DataFrame, tag: Column, tags: Sequence[str], cache: bool = True
) -> dict[str, DataFrame]:
    """Multi-way side outputs (reference ``partition!`` macro,
    ``src/helpers/partition.rs:335-346``): classify each row into exactly one
    tag, return one DataFrame per tag.

    ``tag`` is the classification expression (the enum-returning closure of
    the reference, as a CASE chain).  The tagged frame is evaluated once
    (``cache``) and each output is a filter over it — the same one-pass-
    classify / N-filter shape the reference builds via dominator CSE."""
    tagged = df.withColumn("_tag", tag)
    if cache:
        tagged = caches.hold(tagged.cache())
    return {t: tagged.where(F.col("_tag") == t).drop("_tag") for t in tags}


def try_map(
    df: DataFrame, out_cols: dict[str, Column], error: Column
) -> DataFrame:
    """Reference ``try_map`` (``src/helpers/try_process.rs:67``): one stream
    of ``Result<O, E>`` rows — output columns are NULL on error rows, the
    ``error`` column is NULL on ok rows.  Split it with ``map_catching`` or
    assert emptiness with :func:`collect_fail_fast`."""
    out = df.withColumn("error", error)
    for name, expr in out_cols.items():
        out = out.withColumn(name, F.when(F.col("error").isNull(), expr))
    return out


def collect_fail_fast(df: DataFrame, error_col: str = "error") -> list:
    """Reference ``collect_fail_fast`` (``src/helpers/try_process.rs:139``):
    abort on the first error row, else collect the ok rows."""
    bad = df.where(F.col(error_col).isNotNull()).limit(1).collect()
    if bad:
        raise ValueError(f"try_map failed: {bad[0][error_col]} row={bad[0]}")
    return df.drop(error_col).collect()


@dataclass
class Rule:
    """One validation predicate (reference ``Validate`` trait,
    ``src/validation.rs:89``)."""

    name: str
    cond: Column  # True = valid


def validate(
    df: DataFrame,
    rules: Sequence[Rule],
    mode: str = SKIP_INVALID,
) -> tuple[DataFrame, Observation | None]:
    """Row validation with modes (reference ``validate_with_mode``,
    ``src/helpers/validation.rs:67``).

    Returns ``(valid_rows, observation)``; the observation (only for
    LOG_AND_CONTINUE) carries per-rule failure counts after the next action —
    Spark's ``observe`` is the scalable ErrorCollector: metrics ride the
    existing job, no second pass."""
    fail = F.lit(None).cast("string")
    for r in reversed(rules):
        fail = F.when(~r.cond, F.lit(r.name)).otherwise(fail)
    classified = df.withColumn("_failed_rule", fail)

    if mode == SKIP_INVALID:
        return classified.where(F.col("_failed_rule").isNull()).drop("_failed_rule"), None
    if mode == LOG_AND_CONTINUE:
        obs = Observation("validation")
        observed = classified.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count("_failed_rule").alias("n_invalid"),
            *[
                F.count(F.when(F.col("_failed_rule") == r.name, 1)).alias(f"n_{r.name}")
                for r in rules
            ],
        )
        return observed.where(F.col("_failed_rule").isNull()).drop("_failed_rule"), obs
    if mode == FAIL_FAST:
        bad = classified.where(F.col("_failed_rule").isNotNull()).limit(1).collect()
        if bad:
            raise ValueError(f"validation failed: rule={bad[0]['_failed_rule']} row={bad[0]}")
        return classified.drop("_failed_rule"), None
    raise ValueError(f"unknown validation mode: {mode}")
