"""Time-series similarity search (north-star extension; motivated by the
retrieved corpus: "Time Series Similarity Search for Streaming Data in
Distributed Systems", EDBT 2019 — pattern only, no code reuse).

The primitive: z-normalized sliding-window distance of each user's value
sequence against a fixed query pattern, top-k best-matching windows per
user.  Expressed entirely in Catalyst HOFs:

- per-user ordered sequence: one groupBy + sort_array(collect_list(struct))
  (single shuffle, same shape as group_by_key)
- all windows of length w: transform over a sequence of starts + slice
- z-normalization + squared distance: fold-left aggregates — the SAME
  left-to-right order DuckDB's list_sum uses, so doubles match bit-for-bit
  (the cosine-similarity queries rely on the identical property)
- top-k per user: one row_number window

Zero-variance (flat) windows are skipped in both engines: their z-score is
undefined (0/0 — ANSI raises; the oracle's NaN would never hash-match).

Scale: |windows| = |rows| per user regardless of w (slices reference the
per-user array; no |rows|·w explosion until the final slice), the heavy
groupBy is ONE hash shuffle on user_id, and the top-k window reuses that
partitioning — Exchange count 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ironbeam_spark.operators.windowing import to_epoch_us
from ironbeam_spark.sources.io import read_table
from ironbeam_spark.suite.registry import query

_W = 8  # window length
_K = 3  # matches per user
_PATTERN = [0.0, 1.0, 2.0, 3.0, 3.0, 2.0, 1.0, 0.0]  # a "peak" motif


def _fold_sum(arr):
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _znorm_dist2(win, zq: list[float]):
    """Σ (z(win)_i − zq_i)² with mean/std in the fold-left order DuckDB
    uses; zq is the pre-normalized pattern (computed in Python, literal)."""
    n = F.lit(float(_W))
    mean = _fold_sum(win) / n
    var = _fold_sum(F.transform(win, lambda x: (x - mean) * (x - mean))) / n
    std = F.sqrt(var)
    diffs = F.zip_with(
        win,
        F.array(*[F.lit(z) for z in zq]),
        lambda x, q: ((x - mean) / std - q) * ((x - mean) / std - q),
    )
    return _fold_sum(diffs), var


def _zq() -> list[float]:
    m = sum(_PATTERN) / len(_PATTERN)
    var = sum((x - m) ** 2 for x in _PATTERN) / len(_PATTERN)
    sd = var ** 0.5
    return [(x - m) / sd for x in _PATTERN]


@query(
    "q_ts_motif",
    f"""
    WITH seq AS (
      SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vals
      FROM events WHERE user_id < 40
      GROUP BY user_id
    ),
    wins AS (
      SELECT user_id, CAST(s AS BIGINT) AS start, vals[s : s + {_W - 1}] AS win
      FROM seq, unnest(generate_series(1, len(vals) - {_W - 1})) AS t(s)
      WHERE len(vals) >= {_W}
    ),
    scored AS (
      SELECT user_id, start,
             list_sum(list_transform(generate_series(1, {_W}), i ->
               ((win[i] - list_sum(win)/{_W}.0) / sqrt(list_sum(list_transform(win, x -> (x - list_sum(win)/{_W}.0)*(x - list_sum(win)/{_W}.0)))/{_W}.0)
                 - ([{','.join(repr(z) for z in _zq())}])[i])
               * ((win[i] - list_sum(win)/{_W}.0) / sqrt(list_sum(list_transform(win, x -> (x - list_sum(win)/{_W}.0)*(x - list_sum(win)/{_W}.0)))/{_W}.0)
                 - ([{','.join(repr(z) for z in _zq())}])[i]))) AS dist2
      FROM wins
      WHERE list_sum(list_transform(win, x -> (x - list_sum(win)/{_W}.0)*(x - list_sum(win)/{_W}.0))) > 0
    ),
    ranked AS (
      SELECT user_id, start, dist2,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY dist2, start) AS BIGINT) AS rank
      FROM scored
    )
    SELECT user_id, start, dist2, rank FROM ranked WHERE rank <= {_K}
    ORDER BY user_id, rank
    """,
    doc="time-series similarity search: z-normalized sliding-window distance of each user's value sequence vs a fixed peak motif, top-3 windows per user — one shuffle builds the ordered sequences, HOF folds score every window, one row_number ranks (north-star analytics; EDBT'19 topic)",
)
def q_ts_motif(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").where(F.col("user_id") < 40)
    us = to_epoch_us(ev, "ts")
    seq = (
        ev.select("user_id", F.struct(us.alias("t"), F.col("event_id").alias("e"), F.col("value").alias("v")).alias("s"))
        .groupBy("user_id")
        .agg(F.transform(F.array_sort(F.collect_list("s")), lambda s: s["v"]).alias("vals"))
        .where(F.size("vals") >= _W)
    )
    starts = F.sequence(F.lit(1), F.size("vals") - F.lit(_W - 1))
    wins = seq.select(
        "user_id",
        F.explode(
            F.transform(starts, lambda s: F.struct(s.cast("long").alias("start"), F.slice("vals", s, _W).alias("win")))
        ).alias("sw"),
    ).select("user_id", F.col("sw.start").alias("start"), F.col("sw.win").alias("win"))
    dist2, var = _znorm_dist2(F.col("win"), _zq())
    scored = wins.select("user_id", "start", dist2.alias("dist2"), var.alias("_var")).where(
        F.col("_var") > 0
    )
    w = W.partitionBy("user_id").orderBy("dist2", "start")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _K)
        .select("user_id", "start", "dist2", "rank")
        .orderBy("user_id", "rank")
    )


# -- per-key smoothing + anomaly scoring (round 6): operators/smoothing.py --


@query(
    "q_ewma",
    # the oracle replays the recurrence as a per-prefix list_reduce fold —
    # O(n^2) in SQL but exact; the engine's applyInArrow loop is the O(n)
    # scale path with the identical a*x + (1-a)*s association
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
               FROM events),
    g AS (SELECT user_id,
                 list(value ORDER BY us, event_id) AS vs,
                 list(us ORDER BY us, event_id) AS uss,
                 list(event_id ORDER BY us, event_id) AS ids
          FROM e GROUP BY user_id),
    x AS (SELECT user_id, uss[i] AS us, ids[i] AS event_id, vs[i] AS value,
                 list_reduce(vs[1:i], (acc, x) -> 0.25 * x + 0.75 * acc)
                   AS ewma
          FROM g, unnest(generate_series(1, len(vs))) AS u(i))
    SELECT user_id, us, event_id, value, ewma
    FROM x ORDER BY user_id, us, event_id
    """,
    doc="per-user EWMA of event values, alpha=0.25 (operators/smoothing.ewma_per_key): the inherently-sequential recurrence s_i = a*x_i + (1-a)*s_(i-1) as a per-group applyInArrow (stable Arrow sort on (us, event_id)) — ONE entity-keyed shuffle, linear work, the blessed custom-stateful path used only because no built-in expresses a recurrence; association pinned so Python/JVM/DuckDB doubles agree bit for bit (reference has tumble windows only, src/operators/windowing.rs)",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.smoothing import ewma_per_key

    ev = read_table(spark, sf_dir, "events")
    out = ewma_per_key(
        ev, ["user_id"], "ts", "value", alpha=0.25,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id", F.col("_us").alias("us"), "event_id", "value", "ewma"
    ).orderBy("user_id", "us", "event_id")


@query(
    "q_zscore_anomaly",
    # exact-integer internals (cents), IEEE-exact finish: +,-,*,/ and sqrt
    # are correctly rounded in both engines (ln/pow are not — SCALE.md)
    """
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value,
                      CAST(round(value * 100) AS BIGINT) AS x
               FROM events),
    s AS (SELECT user_id, us, event_id, value, x,
                 count(x) OVER w AS n, sum(x) OVER w AS sx,
                 sum(x * x) OVER w AS sxx
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    z AS (SELECT user_id, us, event_id, value,
                 (n * x - sx)::DOUBLE
                   / (n::DOUBLE * sqrt((n * sxx - sx * sx)::DOUBLE
                                       / (n * (n - 1))::DOUBLE)) AS z
          FROM s WHERE n >= 20 AND (n * sxx - sx * sx) > 0)
    SELECT user_id, us, event_id, value, z
    FROM z WHERE abs(z) >= 2.5
    ORDER BY user_id, us, event_id
    """,
    doc="rolling 20-event z-score anomaly detection per user, |z| >= 2.5 (operators/smoothing.rolling_zscore): expression-only ROWS-frame window over exact int64 cents (n, sum, sum-of-squares are order-free integer aggregates), z composed of correctly-rounded IEEE ops only (+ - * / sqrt) so the oracle hash-matches; ONE Exchange + sort chain, no Python (reference has no frame windows)",
)
def q_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ironbeam_spark.operators.smoothing import rolling_zscore

    ev = read_table(spark, sf_dir, "events")
    out = rolling_zscore(
        ev, ["user_id"], "ts", "value", window=20, scale=100,
        tiebreak_cols=["event_id"],
    )
    return (
        out.where(F.abs(F.col("z")) >= 2.5)
        .select(
            "user_id", F.col("_us").alias("us"), "event_id", "value", "z"
        )
        .orderBy("user_id", "us", "event_id")
    )
