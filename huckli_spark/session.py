"""SparkSession factory.

Parity notes (vs reference):
- The reference pins the session timezone to UTC at connection open
  (``SET TimeZone = 'UTC'`` — /root/reference/huckli-db/src/lib.rs:10).
  We pin ``spark.sql.session.timeZone=UTC``.
- Everything else here is Spark-side scale configuration: AQE for
  runtime re-planning (skew joins, dynamic coalescing), a shuffle
  partition count sized for the local harness but overridable for a
  real cluster, and Arrow for the Pandas-UDF fast path.

Executor code: the ``mapInPandas`` kernels and Pandas UDFs close over
functions in this package, which cloudpickle serializes by reference,
so every Python worker must be able to ``import huckli_spark``.
``ensure_package_on_executors`` ships the package as a zip through
``SparkContext.addPyFile``. It runs in ``get_spark`` and in every
registry query's ``build`` (see ``huckli_spark.queries.query``), so no
operator has to remember it. Code that drives the engine's operators
on a session not built by ``get_spark`` (a notebook, spark-submit from
elsewhere) calls it once, as ``--py-files huckli_spark.zip`` would on a
cluster.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


_ZIP: str | None = None
_SHIPPED: set[str] = set()


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _package_zip() -> str:
    """Zip of the package's ``.py`` files, built once per process under
    a name no other process holds, and removed at exit."""
    global _ZIP
    if _ZIP is None:
        import huckli_spark

        pkg_dir = os.path.dirname(os.path.abspath(huckli_spark.__file__))
        fd, path = tempfile.mkstemp(prefix="huckli_spark_pkg_", suffix=".zip")
        atexit.register(_remove, path)
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        _ZIP = path
    return _ZIP


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship the package to ``spark``'s executors, once per application."""
    sc = spark.sparkContext
    if sc.applicationId not in _SHIPPED:
        sc.addPyFile(_package_zip())
        _SHIPPED.add(sc.applicationId)


def get_spark(
    app_name: str = "huckli_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, leave ``master`` unset and size
    ``shuffle_partitions`` to ~2-3x total cores. Locally the master is
    ``local[n]`` with ``n`` shuffle partitions, where ``n`` is
    ``$SPARK_GRAFT_CPUS`` or else the CPUs this process may run on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_usable_cpus())
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Reference parity: UTC session timezone (huckli-db/src/lib.rs:10).
        .config("spark.sql.session.timeZone", "UTC")
        # Scale: adaptive execution re-plans joins/partitions at runtime,
        # coalesces small shuffle partitions, splits skewed ones.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: vectorized Python<->JVM transfer for Pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet timestamps: read as-is; we never write INT96.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_package_on_executors(spark)
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table, normalizing physical quirks.

    The fixture generator has shipped events.parquet with two different
    physical types for ``ts`` across rounds, so we branch on the ACTUAL
    schema rather than assuming either:

    - TIMESTAMP(NANOS): Spark 4 refuses to read it natively; with
      ``nanosAsLong`` it surfaces as a nanosecond long, which we
      floor-convert to a microsecond timestamp (matching DuckDB's
      epoch_us() truncation).
    - timestamp[us] (no tz): Spark 4 surfaces TIMESTAMP_NTZ, which
      breaks ``unix_micros``/tz-aware functions. The session timezone
      is pinned UTC (see get_spark), so NTZ wall-clock values are
      identical to LTZ instants here — a plain cast is lossless.
    """
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = _os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events_timebound(spark: SparkSession, sf_dir: str, lo_iso: str, hi_iso: str):
    """events scan with [lo, hi) pushed down on the PHYSICAL ts column.

    The fixture's ts is TIMESTAMP(NANOS), surfaced as a nanosecond
    long; filtering after the timestamp conversion leaves the range
    predicate above the scan (only IsNotNull pushes). Translating the
    bound into the column's physical domain makes it a parquet
    row-group filter again — the difference between scanning a day and
    scanning a year at warehouse scale.
    """
    from datetime import datetime, timezone

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import os as _os

    path = _os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)

    def _ns(iso: str) -> int:
        dt = datetime.fromisoformat(iso).replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000) * 1_000

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.where((F.col("ts") >= _ns(lo_iso)) & (F.col("ts") < _ns(hi_iso)))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # Filter in the column's own (NTZ) domain so the range predicate
        # stays a parquet row-group filter, THEN normalize the type.
        # Session tz is UTC, so NTZ wall-clock == the UTC instant.
        df = df.where(
            (F.col("ts") >= F.lit(lo_iso).cast("timestamp_ntz"))
            & (F.col("ts") < F.lit(hi_iso).cast("timestamp_ntz"))
        )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.where(
        (F.col("ts") >= F.lit(lo_iso).cast("timestamp"))
        & (F.col("ts") < F.lit(hi_iso).cast("timestamp"))
    )

