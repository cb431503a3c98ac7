"""Distributed global prefix sums (scans) over a total order.

The naive Spark spelling — ``sum().over(Window.orderBy(...))`` with no
``partitionBy`` — plans a SINGLE task holding the entire dataset (Spark
even warns).  At 100 TB that is not slow, it is impossible.  This module
implements a two-level parallel scan instead, with two mechanisms:

**Bucketed path (integral / string / date / timestamp first order key —
the default).**  Pure deterministic relational algebra; every step is an
expression Catalyst can reason about, and nothing in it can vary by
environment, partition count, task scheduling, or recompute:

1. The first order key is projected to a DECIMAL(38,0) that is monotone
   nondecreasing in its sort order (integers as-is; strings via their
   first 8 UTF-8 bytes as a big-endian unsigned integer — bytewise
   string comparison makes that order-consistent; date/timestamp via
   epoch days/micros — see ``_monotone_key_projection``).  One
   aggregation pass computes ``min``/``max`` of the projection
   (a 1-row frame, broadcast back via a constant-key equi-join — never a
   closure, never a collect).
2. Each row gets a bucket id ``floor((key - min) / W)`` for a fixed
   width ``W = ceil(range / n_buckets)`` — a deterministic, MONOTONE
   function of the key value alone.  Monotonicity is the only property
   correctness needs (rows of bucket ``b`` all precede bucket ``b+1`` in
   the total order; equal or projection-colliding keys share a bucket by
   construction, and the in-bucket window orders by the TRUE key), so
   even decimal rounding inside the division is harmless.
3. Per-bucket totals come from one combinable ``groupBy`` (map-side
   partial + final, at most ``n_buckets + 2`` groups: the NULL bucket,
   plus the width division's HALF_UP rounding at scale 6 can nudge a
   quotient infinitesimally below an integer up across it, yielding ids
   up to ``n_buckets`` rather than ``n_buckets - 1`` — harmless, the
   offsets join covers whatever buckets exist).
4. The exclusive prefix over the tiny bucket-totals frame is a
   single-partition window — bounded by ``n_buckets`` rows, the same
   driver-size class as k-means centers — and rejoins the data through a
   broadcast hash join on the bucket id.
5. The within-bucket running sum is an ordinary partitioned window:
   ``sum(value).over(partitionBy(bucket).orderBy(order_cols)
   .rowsBetween(unboundedPreceding, currentRow))`` — hash-partitioned by
   bucket, never a global single-partition sort.

Cost: two narrow column-pruned passes over the source (stats + bucket
totals) plus ONE wide shuffle (the window's hash exchange on the bucket
id).  Payload columns ride the window for free — no narrow projection,
no checkpoint, no join-back, and therefore no key-uniqueness or NULL-key
restrictions.  NULL first-order-keys map to bucket ``-1`` and sort
first, matching Spark's ``ASC NULLS FIRST``.  Skewed key DISTRIBUTIONS
only unbalance bucket sizes (a performance concern, tunable via
``n_buckets``); they never affect values.  **Outlier caveat**: the
bucket width derives from the global min/max RANGE, so a single extreme
key (one row at 2^63 with the rest clustered) inflates the range and
funnels virtually the whole dataset into one bucket — recreating the
single-task window hazard, and ``n_buckets`` cannot compensate.  For
outlier-heavy key distributions pass ``mechanism="stamped"``: the
stamped path's ``repartitionByRange`` draws its slice boundaries from a
reservoir SAMPLE of the actual key distribution (Spark's
RangePartitioner), i.e. quantile-based boundaries, which outliers
cannot skew.

**Stamped fallback (key types with no monotone decimal projection —
float/double and complex types).**  The original
range-shuffle mechanism: ``repartitionByRange`` +
``spark_partition_id()`` stamp + eager ``localCheckpoint`` + per-slice
totals + broadcast offsets + ``mapInArrow`` cumulative pass.  It is
partition-invariant and recompute-invariant by construction, but it
leans on environment-sensitive machinery (physical partition ids,
checkpoint semantics) that the bucketed path eliminates entirely —
which is why the bucketed path is preferred whenever the first order
key admits a monotone decimal projection (integral/decimal/string/date/
timestamp).  See ``_running_sum_stamped`` for the full design notes.

No reference counterpart (north-star extension; the reference has no
global-order operators at all) — this is infrastructure for token-stream
operations like cross-document sequence packing.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ironbeam_spark import caches

__all__ = ["global_running_sum", "pack_layout"]

_INTEGRAL = ("bigint", "int", "smallint", "tinyint")


def global_running_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "running_sum",
    n_buckets: int = 4096,
    mechanism: str = "auto",
) -> DataFrame:
    """Append ``out_col`` = inclusive prefix sum of ``value_col`` (int64)
    under the total order ``order_cols``.  Two-level parallel scan — see
    the module docstring for why this is never a global single-partition
    window.

    When the FIRST order column is integral, string, date, or timestamp
    the scan is pure deterministic expressions (a monotone DECIMAL(38,0)
    key projection + value-range buckets + combinable totals + bounded
    bucket-prefix window + per-bucket window); exotic key types fall
    back to the stamped range-shuffle mechanism, which additionally
    requires ``order_cols`` to uniquely and non-NULL-y key rows whenever
    payload columns are present (the narrow scan result joins back on
    them there).

    Ties in ``order_cols`` get an arbitrary but fixed relative order;
    make the order total (include a unique key) when exact per-row
    attribution matters.

    ``n_buckets`` bounds the bucket-prefix window (default 4096 — at
    most that many rows pass through the single-partition window) and
    sets the parallelism ceiling of the per-bucket windows; raise it on
    large clusters so buckets stay executor-memory-sized.

    ``mechanism`` selects the scan path: ``"auto"`` (default) picks
    bucketed when the first order key admits a monotone decimal
    projection, stamped otherwise; ``"stamped"`` forces the
    range-shuffle fallback — use it when the key distribution has
    extreme outliers that would inflate the bucketed path's min/max
    range and funnel the data into one bucket (RangePartitioner's
    sampled boundaries are outlier-robust; see the module docstring).
    The stamped path is STRICTER than the bucketed one whenever payload
    columns (columns beyond ``order_cols`` + ``value_col``) are present:
    the narrow scan result joins back on ``order_cols``, so they must
    then (a) uniquely key rows — add a tiebreaker column (e.g. a
    primary key) or project the input down to order + value columns —
    and (b) contain no NULLs (the bucketed path's NULL-key bucket -1
    handling does not apply; NULL keys never match an equi-join).  Both
    violations raise mid-job rather than mis-scan, but data the default
    bucketed path accepts can therefore fail under ``"stamped"`` — see
    SCALE.md.  ``"bucketed"`` forces the expression-only path and
    raises for key types without a monotone projection.
    """
    dt = df.schema[value_col].dataType.simpleString()
    if dt not in _INTEGRAL:
        # float accumulation would make results depend on partition
        # boundaries (addition isn't associative in FP) — the exactness
        # contract only holds for integral values
        raise TypeError(
            f"global_running_sum requires an integral value column, got {dt}"
        )
    if any(c.startswith("__scan") for c in df.columns):
        raise ValueError("input must not contain __scan* columns")
    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    if mechanism not in ("auto", "bucketed", "stamped"):
        raise ValueError(
            f"mechanism must be 'auto', 'bucketed', or 'stamped', got {mechanism!r}"
        )

    proj = _monotone_key_projection(df.schema[order_cols[0]], order_cols[0])
    if mechanism == "bucketed" and proj is None:
        raise TypeError(
            "mechanism='bucketed' requires a first order key with a monotone "
            "decimal projection (integral/decimal/string/date/timestamp); "
            f"{order_cols[0]} has type "
            f"{df.schema[order_cols[0]].dataType.simpleString()}"
        )
    if proj is not None and mechanism != "stamped":
        return _running_sum_bucketed(
            df, order_cols, value_col, out_col, n_buckets, proj
        )
    return _running_sum_stamped(df, order_cols, value_col, out_col)


def pack_layout(
    df: DataFrame, n_col: str, cum_col: str, cap: int
) -> DataFrame:
    """Fixed-window packing columns from an inclusive prefix sum: append
    ``pack_id`` (which ``cap``-sized window the element starts in),
    ``offset_in_pack`` and ``n_packs_spanned`` (zero-size elements span 1
    by convention) given ``cum_col`` = inclusive running total of
    ``n_col`` — the cross-document token-packing layout
    (q_token_packing's arithmetic, factored here so it is unit-testable
    past the double-precision cliff).

    All divisions are integer ``DIV``, never ``/`` + cast: ``/`` is
    DOUBLE division, exact only while the numerator stays below ~2^52.
    A 100 TB token stream has cumulative counts ~10^13 and beyond, where
    ``(2048k - 1) / 2048`` can round UP across the integer boundary and
    misassign ``pack_id``/``n_packs_spanned`` at pack edges
    (tests/test_scan.py proves exactness at offsets > 2^53).
    """
    if cap < 1:
        raise ValueError("cap must be positive")
    if any(c.startswith("__scan") for c in df.columns):
        raise ValueError("input must not contain __scan* columns")
    # guard: the window arithmetic is only defined for non-negative sizes
    # and starts (Spark DIV truncates toward zero and % follows the
    # dividend's sign, so a negative start would yield a silently-wrong
    # layout instead of the floor/pmod a signed semantics would need) —
    # raise mid-job rather than mis-pack
    raw_start = F.col(cum_col) - F.col(n_col)
    start = F.when(
        (raw_start >= 0) & (F.col(n_col) >= 0), raw_start
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"pack_layout: negative size or start ({n_col}, "
                    f"{cum_col} - {n_col}): "
                ),
                F.col(n_col).cast("string"),
                F.lit(", "),
                raw_start.cast("string"),
            )
        )
    )
    return df.withColumn("__scan_start", start).select(
        *df.columns,
        F.expr(f"__scan_start DIV {cap}").alias("pack_id"),
        (F.col("__scan_start") % F.lit(cap)).alias("offset_in_pack"),
        (
            F.when(F.col(n_col) == 0, F.lit(1))
            .otherwise(
                F.expr(f"({cum_col} - 1) DIV {cap}")
                - F.expr(f"__scan_start DIV {cap}")
                + 1
            )
        ).alias("n_packs_spanned"),
    )


def _monotone_key_projection(field, name: str):
    """A DECIMAL(38,0) expression that is monotone NONdecreasing in the
    column's sort order, or None if the type has no cheap projection.
    Monotone-nondecreasing is the only property the bucketed scan needs
    (collisions just share a bucket; the in-bucket window orders by the
    TRUE key), so even a lossy projection is exact:

    - integral types: the value itself;
    - strings: the first 8 UTF-8 bytes as a big-endian unsigned integer
      (Spark compares strings bytewise-unsigned, and UTF-8 byte order
      equals code-point order, so the prefix integer is order-consistent;
      shorter strings right-pad with 0x00 — a strict prefix sorts first
      and projects lower).  A corpus whose keys share an 8-byte prefix
      only unbalances buckets — a performance knob, never a value change;
    - date / timestamp: days / microseconds since the epoch.
    """
    dt = field.dataType.simpleString()
    if dt in _INTEGRAL or dt.startswith("decimal("):
        # any decimal's integer part fits decimal(38,0), and the cast's
        # HALF_UP rounding is monotone — collisions just share a bucket
        return F.col(name).cast("decimal(38,0)")
    if dt == "string":
        # hex() of the UTF-8 bytes, first 16 nibbles, '0'-right-padded —
        # CONV(_, 16, 10) yields the unsigned 64-bit value as a decimal
        # string; every step is a deterministic Catalyst expression
        hex16 = F.rpad(
            F.substring(F.hex(F.col(name).cast("binary")), 1, 16), 16, "0"
        )
        return F.conv(hex16, 16, 10).cast("decimal(38,0)")
    if dt == "date":
        return F.unix_date(F.col(name)).cast("decimal(38,0)")
    if dt == "timestamp":
        return F.unix_micros(F.col(name)).cast("decimal(38,0)")
    return None


def _running_sum_bucketed(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str,
    n_buckets: int,
    key,
) -> DataFrame:
    """Expression-only two-level scan (module docstring, bucketed path).

    Every intermediate is a deterministic function of the DATA: no
    ``spark_partition_id``, no checkpoint, no ``mapInArrow``, no
    driver-side collect — nothing that can differ between environments.
    Correctness needs only (a) the bucket id is a monotone nondecreasing
    function of the first order key (``key`` is the caller's monotone
    DECIMAL(38,0) projection of it — see
    :func:`_monotone_key_projection`), so bucket boundaries respect the
    total order, and (b) integer sums are exact and associative — both
    hold regardless of how Catalyst schedules or re-plans the job.
    """
    # key arithmetic in DECIMAL(38,0): bigint ranges up to 2^64 would
    # overflow (max - min) in long; decimal holds it exactly, and the
    # division's scale-6 rounding cannot break bucket monotonicity
    key_raw = F.col(order_cols[0])
    stats = df.agg(
        F.min(key).alias("__scan_min"),
        F.max(key).alias("__scan_max"),
    )
    # 1-row broadcast cross join (the q_histogram/q_bm25 stats-row
    # pattern): a map-side constant join, never a scale hazard — Catalyst
    # constant-folds any fake equi-key away, so spell it honestly
    wide = df.crossJoin(F.broadcast(stats))
    width = F.greatest(
        F.ceil(
            (F.col("__scan_max") - F.col("__scan_min") + F.lit(1))
            / F.lit(n_buckets)
        ).cast("decimal(38,0)"),
        F.lit(1).cast("decimal(38,0)"),
    )
    bucket = (
        F.when(key_raw.isNull(), F.lit(-1))  # NULLS FIRST: before bucket 0
        .otherwise(F.floor((key - F.col("__scan_min")) / width))
        .cast("long")
        .alias("__scan_bkt")
    )
    bucketed = wide.select(*df.columns, bucket)

    # per-bucket totals: ONE combinable aggregate (<= n_buckets+2 groups:
    # NULL bucket + a possible rounding-spawned top bucket, see module doc);
    # exclusive prefix over that tiny frame is the bounded single-partition
    # window (n_buckets rows — the same driver-size class as k-means
    # centers), and the offsets reach the data via a broadcast hash join
    totals = bucketed.groupBy("__scan_bkt").agg(
        F.sum(F.col(value_col).cast("long")).alias("__scan_total")
    )
    # NOTE: this un-partitioned window triggers Spark's "No Partition
    # Defined for Window operation / moving all data to a single
    # partition" WindowExec warning in logs.  That is EXPECTED and
    # bounded by design: the frame is the bucket-totals aggregate, at
    # most n_buckets + 2 rows (never the data), the same driver-size
    # class as k-means centers — do not "fix" it into a partitioned
    # window, which would break the exclusive global prefix.
    w_off = Window.orderBy("__scan_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__scan_bkt",
        F.coalesce(F.sum("__scan_total").over(w_off), F.lit(0))
        .cast("long")
        .alias("__scan_off"),
    )

    w_in = (
        Window.partitionBy("__scan_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(offsets), "__scan_bkt")
        .withColumn(
            out_col,
            (
                F.sum(F.col(value_col).cast("long")).over(w_in)
                + F.col("__scan_off")
            ).cast("long"),
        )
        .drop("__scan_bkt", "__scan_off")
    )


def _running_sum_stamped(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str,
) -> DataFrame:
    """Range-shuffle fallback for order-key types with no monotone
    decimal projection (float/double, complex types).

    1. ``repartitionByRange`` + ``sortWithinPartitions`` puts each task
       on a contiguous, ordered slice of the total order.  Only the
       columns the scan needs — ``order_cols`` + ``value_col`` — enter
       the shuffle; any payload columns rejoin at the end (see 5).
    2. The slice id is STAMPED INTO THE DATA (a JVM-side
       ``spark_partition_id()`` projection — no Python round trip) and
       the stamped NARROW frame is eagerly ``localCheckpoint``-ed.  From
       that point the (row -> slice) assignment is frozen data, not a
       property of a particular job's physical partitioning — any later
       recompute replays from the checkpoint blocks, so no pass can ever
       observe a re-sampled RangePartitioner pairing offsets with
       different row ranges.
    3. Per-slice totals come from a plain ``groupBy("pid")`` (one row
       per slice); the exclusive prefix over that tiny frame is computed
       driver-side (bounded: #partitions rows) and the offsets reach the
       data through a broadcast join on the stamped ``pid`` — never a
       closure-captured dict and never ``TaskContext.partitionId()``.
    4. The final pass is a shuffle-free Arrow-batched cumulative sum per
       slice plus the joined offset.
    5. Payload columns beyond order + value are NOT dragged through the
       range shuffle or the checkpoint — the scan runs on the narrow
       projection and the result joins back on ``order_cols``, which
       must then uniquely and non-NULL-y key rows (asserted inside the
       per-slice totals pass).

    On a cluster with executor loss, ``localCheckpoint`` blocks can be
    lost — Spark then FAILS the job loudly, which is the correct failure
    mode (wrong-but-quiet answers are exactly what the design removes).
    For long-running production jobs prefer a reliable ``checkpoint()``
    directory via ``ironbeam_spark.operators.checkpoint``.
    """
    # Only the scan's working set enters the shuffle + checkpoint; payload
    # columns rejoin at the end (docstring, item 5).
    payload_cols = [c for c in df.columns if c not in {*order_cols, value_col}]
    # dict.fromkeys: value_col may itself be an order column (a cumulative
    # sum ordered by the summed column) — a plain [*order_cols, value_col]
    # select would emit the column twice and every later reference to it
    # would be ambiguous
    narrow = df.select(*dict.fromkeys([*order_cols, value_col]))

    parted = narrow.repartitionByRange(*order_cols).sortWithinPartitions(*order_cols)

    # Eager local checkpoint: materializes the stamped slices and truncates
    # lineage, so every downstream job reads the SAME (row, pid) pairs even
    # under cache eviction / recompute.  (spark_partition_id is
    # nondeterminism-flagged, so Catalyst cannot push it below the range
    # exchange; it is evaluated once, during the checkpoint's
    # materialization job, and is frozen thereafter.)
    stamped = caches.hold(
        parted.withColumn("__scan_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )

    # Exclusive prefix offsets over the per-slice totals; the same pass
    # carries the join-back uniqueness check when payload columns exist
    # (equal order keys always share a range slice, so a per-slice
    # distinct count is a global uniqueness proof).
    aggs = [F.sum(F.col(value_col).cast("long")).alias("__scan_total")]
    if payload_cols:
        null_key = F.lit(False)
        for c in order_cols:
            null_key = null_key | F.col(c).isNull()
        aggs += [
            F.count(F.lit(1)).alias("__scan_n"),
            F.count_distinct(F.struct(*order_cols)).alias("__scan_nd"),
            F.count_if(null_key).alias("__scan_nullkeys"),
        ]
    per_slice = stamped.groupBy("__scan_pid").agg(*aggs).collect()
    if payload_cols and any(r["__scan_n"] != r["__scan_nd"] for r in per_slice):
        raise ValueError(
            "global_running_sum: order_cols must uniquely key rows when the "
            "input has payload columns (the narrow scan result joins back on "
            f"order_cols={list(order_cols)}); add a tiebreaker column or "
            "project the input down to order + value columns"
        )
    if payload_cols and any(r["__scan_nullkeys"] for r in per_slice):
        # the rejoin below is a plain equi-join and NULL keys never match
        # themselves — such rows would be SILENTLY DROPPED from the output
        raise ValueError(
            "global_running_sum: order_cols contain NULLs and the input has "
            "payload columns (the narrow scan result joins back on "
            f"order_cols={list(order_cols)}, where NULL keys never match); "
            "filter or coalesce the NULL keys first"
        )
    acc = 0
    off_rows = []
    for r in sorted(per_slice, key=lambda r: r["__scan_pid"]):
        off_rows.append((r["__scan_pid"], acc))
        acc += r["__scan_total"] or 0
    offsets = df.sparkSession.createDataFrame(
        off_rows or [(0, 0)], "__scan_pid int, __scan_off long"
    )

    # Broadcast join keeps the stream side's physical partitioning (all
    # rows of a slice stay co-located); the in-partition re-sort removes
    # any assumption about join output order.
    joined = stamped.join(F.broadcast(offsets), "__scan_pid").sortWithinPartitions(
        *order_cols
    )

    out_schema = StructType(
        [*parted.schema.fields, StructField(out_col, LongType(), False)]
    )
    in_cols = [f.name for f in parted.schema.fields]

    def scan(batches: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.compute as pc

        run = None  # initialized from the joined offset column
        for b in batches:
            if len(b) == 0:
                continue
            if run is None:
                run = b.column("__scan_off")[0].as_py()
            cum = pc.add(
                pc.cumulative_sum(pc.cast(b.column(value_col), pa.int64())),
                run,
            )
            if len(cum):
                run = cum[-1].as_py()
            yield b.select(in_cols).append_column(out_col, cum)

    scanned = joined.mapInArrow(scan, out_schema)
    if not payload_cols:
        return scanned
    # Rejoin the payload: prefix sums are partition-invariant, so the
    # narrow result carries everything the wide rows need and the join
    # is a plain key equi-join (order_cols uniqueness asserted above) —
    # Catalyst/AQE picks broadcast vs shuffle by the narrow side's size.
    return df.join(
        scanned.select(*order_cols, out_col), on=list(order_cols)
    )
