"""SparkSession factory tuned for the ironbeam-spark engine.

The reference engine (nhubbard/ironbeam) sizes its own thread pool and
partition counts by heuristic (reference ``src/runner.rs:90-92``,
``src/planner.rs:1938-1945``).  On Spark all of that is delegated to the
scheduler + AQE; this module just pins the configs that make plans
deterministic, scale-safe, and oracle-comparable:

- **AQE on** (runtime partition coalescing + skew-join splitting replaces the
  reference's "adaptive inter-stage partition count" pass,
  ``src/planner.rs:1155``).
- **UTC session timezone** so timestamp arithmetic matches the DuckDB oracle
  bit-for-bit.
- **Arrow enabled** so ``toPandas`` and pandas ``createDataFrame`` use Arrow.
- **Bloom runtime filters on** — the Spark-native analogue of the
  reference's Bloom semi-join pre-filter (``src/bloom_filter.rs``).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

__all__ = ["get_spark", "scoped_conf", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "ironbeam-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same code runs unchanged on a real cluster where
    ``master`` is injected by spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # timestamp robustness (see sources/io.read_table): ns columns as int64,
        # NTZ columns as naive-as-UTC instants
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # INT96 (Spark's legacy default) writes NO min/max footer stats, which
        # kills file skipping on timestamp sort keys; micros is the modern
        # interoperable encoding (same resolution as Spark's internal type)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[SparkSession]:
    """Set ``conf`` on ``spark`` for the ``with`` body, then restore every
    key, also when the body raises: a key that was set before gets its old
    value back, and a key that was unset is unset again, so the session's
    explicitly set conf is the same after the block as before it."""
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def _ship_package(spark: SparkSession) -> None:
    """Make ``ironbeam_spark`` importable on executor Python workers.

    Cloudpickled closures reference this package's classes by module path;
    workers only resolve that if the package is on their PYTHONPATH.  That
    holds by accident when the driver runs from the repo root — shipping a
    zip via ``addPyFile`` makes it hold everywhere (local or cluster),
    exactly how a real deployment distributes its job package.

    Idempotent per session, and called both from :func:`get_spark` and from
    every suite query (the driver harness builds its own bare SparkSession,
    which would otherwise lack the package on workers).
    """
    if getattr(spark, "_ironbeam_pkg_shipped", False):
        return
    import hashlib
    import os
    import tempfile
    import zipfile
    from pathlib import Path

    try:
        pkg = Path(__file__).resolve().parent
        # Content-addressed archive name: executors verify a fetched file
        # against the driver's copy byte-for-byte, so a FIXED zip path is a
        # race — any concurrent session (or a source edit between job
        # submissions) rewrites it and every in-flight fetch dies with
        # "exists and does not match contents".  Hashing the sources into
        # the name makes identical sources converge on one immutable file
        # and different sources diverge to different names; the exists()
        # check plus atomic rename guarantees a name's bytes never change
        # after creation.
        files = sorted(p for p in pkg.rglob("*.py"))
        h = hashlib.sha256()
        for p in files:
            h.update(str(p.relative_to(pkg)).encode())
            h.update(p.read_bytes())
        zname = Path(tempfile.gettempdir()) / (
            f"ironbeam_spark_pkg-{h.hexdigest()[:16]}.zip"
        )
        if not zname.exists():
            tmp = zname.with_suffix(f".tmp{os.getpid()}")
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
                for p in files:  # .py only — no per-run __pycache__ noise
                    zf.write(p, f"ironbeam_spark/{p.relative_to(pkg)}")
            os.replace(tmp, zname)  # atomic; concurrent writers converge
        spark.sparkContext.addPyFile(str(zname))
        spark._ironbeam_pkg_shipped = True  # type: ignore[attr-defined]
    except Exception:  # pragma: no cover - already-added / read-only tmp
        pass
