"""Per-key time-series smoothing and anomaly scoring.

Two operators the reference's windowing surface (reference
src/operators/windowing.rs — tumble only) cannot express, built on the two
blessed Spark paths for order-dependent per-key math:

- :func:`ewma_per_key` — exponentially-weighted moving average, the
  classic recurrence ``s_1 = x_1; s_i = alpha*x_i + (1-alpha)*s_{i-1}``.
  Inherently sequential per key, so it runs as a per-group
  ``applyInArrow`` (ONE shuffle on the key, linear work, state = one
  float per key) — the custom-stateful-operator escape hatch, used only
  because no built-in expresses a recurrence.  The arithmetic is pinned to
  ``alpha*x + (1-alpha)*s`` (two mults, one add, in that association) so a
  prefix-fold SQL oracle replays it bit for bit — Python floats, JVM
  doubles and DuckDB doubles are the same IEEE lattice.  Input columns go
  back out as their (sorted) input Arrow arrays, exact for every type.

- :func:`rolling_zscore` — rolling-window z-score anomaly detection,
  expression-only (no Python): the value is scaled to exact int64 cents,
  the ROWS-frame window sums ``n, sum(x), sum(x^2)`` are integer-exact
  (order-free), and the final z is composed of correctly-rounded IEEE
  ops only — ``+ - * /`` and ``sqrt`` (sqrt is IEEE-754 correctly rounded
  in both JVM and libm, unlike ``ln``/``pow``, SCALE.md) — so the oracle
  hash-matches.  ``z_i = (n*x_i - sx) / (n * sqrt(var))`` with
  ``var = (n*sxx - sx^2) / (n*(n-1))`` over the trailing ``window`` rows.

Scale shape: both are one shuffle on the entity key.  The EWMA's per-key
group must fit one Arrow table (fine for per-entity event streams; for
million-row keys, pre-aggregate or split by session first — documented
limit, same as every whole-group ``applyInArrow`` operator).  The z-score
is a pure window chain: Exchange + sort once, then frame aggregates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import DoubleType, StructField, StructType

from ironbeam_spark.operators.windowing import to_epoch_us

__all__ = ["ewma_per_key", "rolling_zscore"]


def ewma_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """All input rows plus an ``ewma`` double column, per-key recurrence in
    ``(ts, tiebreak)`` order.  ``value_col`` must be non-null."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("ewma_per_key: alpha must be in (0, 1]")
    staged = df.withColumn("_us", to_epoch_us(df, ts_col)).drop(ts_col)
    order_cols = ["_us", *tiebreak_cols]
    out_schema = StructType([*staged.schema, StructField("ewma", DoubleType())])
    a = float(alpha)
    b = 1.0 - a

    def smooth(table):
        from itertools import accumulate

        import pyarrow as pa

        # stable, nulls last: equal (ts, tiebreak) rows keep input order
        table = table.sort_by([(c, "ascending") for c in order_cols])
        xs = map(float, table.column(value_col).to_pylist())
        # plain Python floats ARE IEEE doubles; s_1 = x_1, then the exact
        # association the oracle's list_reduce uses: a*x + b*s
        out = accumulate(xs, lambda s, x: a * x + b * s)
        return table.append_column("ewma", pa.array(list(out), pa.float64()))

    return staged.groupBy(*key_cols).applyInArrow(smooth, out_schema)


def rolling_zscore(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    window: int = 20,
    scale: int = 100,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Rolling z-score of ``value_col`` against the trailing ``window``
    rows per key (current row included), exact-integer internals.

    Emits every row with ``z`` (NULL until the frame is full or when the
    window variance is zero) — filter ``abs(z) > t`` downstream for
    anomalies.  ``scale`` fixes the decimal resolution (100 = cents)."""
    staged = df.withColumn("_us", to_epoch_us(df, ts_col)).drop(ts_col)
    order = [F.col("_us"), *[F.col(c) for c in tiebreak_cols]]
    w = (
        W.partitionBy(*[F.col(c) for c in key_cols])
        .orderBy(*order)
        .rowsBetween(-(window - 1), 0)
    )
    x = F.round(F.col(value_col) * F.lit(scale)).cast("long")
    # count(x), not count(*): sums skip NULL values, so counting rows
    # would silently corrupt mean/var for every window touching a NULL —
    # counting x keeps (n, sx, sxx) consistent over the same value set
    # (and the n >= window gate then withholds z for such windows)
    n = F.count(x).over(w)
    sx = F.sum(x).over(w)
    sxx = F.sum(x * x).over(w)
    var_num = n * sxx - sx * sx  # n*(n-1) * var, exact int64
    z = (
        (n * x - sx).cast("double")
        / (
            n.cast("double")
            * F.sqrt(
                var_num.cast("double")
                / (n * (n - F.lit(1))).cast("double")
            )
        )
    )
    return staged.withColumn(
        "z",
        F.when((n >= window) & (var_num > 0), z),
    )
