"""Event-time windowed aggregation with watermarks.

The batch engine buckets time with ``date_trunc`` (q_time_bucket); the
streaming twin uses ``F.window`` over an event-time column with a
watermark bounding state. On a drained backlog (availableNow trigger,
complete output) the result is exactly the batch aggregate, which is
what the differential oracle checks.

Scale: state per live window is one row per (window, key); the
watermark evicts windows older than the lateness bound, so state size
is O(keys x windows-in-horizon), independent of stream length.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from huckli_spark.functions.portable import fround

# Physical schema of events.parquet. The fixture's ts physical type has
# drifted across rounds (TIMESTAMP(NANOS) vs timestamp[us]/NTZ), so the
# stream reader sniffs the footer once and picks the matching schema —
# see huckli_spark.session.load_table for the batch twin.
def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


# Back-compat alias (nanos-as-long variant) for existing imports.
EVENTS_RAW_SCHEMA = _events_raw_schema(T.LongType())


def _sniff_ts_unit(stream_dir: str) -> str:
    """Inspect the first parquet file's footer: 'ns' (TIMESTAMP(NANOS),
    read as long under nanosAsLong) or 'us' (timestamp[us] → NTZ)."""
    import pyarrow.parquet as pq

    for fn in sorted(os.listdir(stream_dir)):
        if fn.endswith(".parquet"):
            t = pq.ParquetFile(os.path.join(stream_dir, fn)).schema_arrow.field("ts").type
            return getattr(t, "unit", "us")
    return "us"


def stage_table_stream(sf_dir: str, table: str, n_files: int = 1) -> str:
    """Copy a fixture table file into a fresh directory usable as a
    file-stream source (file sources tail directories, not files).

    ``n_files > 1`` slices the table into that many parquet files
    (driver-side pyarrow, no Spark job): a file-stream micro-batch
    parallelizes BY FILE for small inputs, so a single staged file
    serializes the whole batch onto one core — an artifact of the
    one-file fixture, not of the pipeline (real feeds land many
    objects). Compute-heavy in-stream transforms (the unigram in-row
    DP) stage with n_files ~ cores; row content is identical either
    way, so gate hashes don't move. The directory is removed at
    process exit (the query reading it runs after this returns)."""
    d = tempfile.mkdtemp(prefix=f"stream_{table}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    src = os.path.join(sf_dir, f"{table}.parquet")
    if n_files <= 1:
        shutil.copy(src, d)
        return d
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    if t.num_rows == 0:
        # range(0, 0, step=0) would raise; a zero-row table stages as
        # its single (empty) file (ADVICE r10 #2)
        shutil.copy(src, d)
        return d
    n = max(1, min(n_files, t.num_rows))
    step = -(-t.num_rows // n)
    for i in range(0, t.num_rows, step):
        pq.write_table(
            t.slice(i, step), os.path.join(d, f"part-{i // step:05d}.parquet")
        )
    return d


def events_stream(spark: SparkSession, stream_dir: str) -> DataFrame:
    """Streaming events with a proper microsecond ``ts`` timestamp.

    Schema-adaptive on the fixture's physical ts type (footer-sniffed
    once on the driver): nanos-as-long → div 1000 + timestamp_micros;
    timestamp[us]/NTZ → plain cast (session tz pinned UTC, lossless).
    """
    unit = _sniff_ts_unit(stream_dir)
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.readStream.schema(_events_raw_schema(T.LongType())).parquet(stream_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raw = spark.readStream.schema(_events_raw_schema(T.TimestampNTZType())).parquet(stream_dir)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_agg(
    events: DataFrame,
    width: str = "1 hour",
    watermark: str = "2 hours",
    extra_key: str | None = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window count + value sum.

    Output carries the window start as a formatted string (portable
    hashing across engines, like q_time_bucket's bucket column).
    """
    keys: list[Column] = [F.window("ts", width).alias("win")]
    if extra_key:
        keys.append(F.col(extra_key))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(*keys)
        .agg(F.count("*").alias("n"), fround(F.sum("value")).alias("total_value"))
    )
    out = [
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n"),
        F.col("total_value"),
    ]
    if extra_key:
        out.insert(1, F.col(extra_key))
    return agg.select(*out)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> DataFrame:
    """Drain a streaming DataFrame (availableNow) into a memory sink and
    return the result as a batch DataFrame.

    Memory sink is driver-resident — correct for aggregates (small by
    construction), never for raw streams at scale; the production sink
    is parquet/Delta via ``writeStream`` (see streaming.ingest).
    """
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout_s)
    finally:
        q.stop()
    return spark.table(name)
