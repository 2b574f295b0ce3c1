"""Streaming ingest: tail-follow a directory of framed gzip proto files.

Continuous version of ``Warehouse.ingest`` (reference §3.1/§3.2 —
huckli-import/src/lib.rs:183-213): a ``binaryFile`` file-source stream
discovers new ``{prefix}.{epoch_ms}.gz`` objects, each micro-batch runs
the same frame-split -> protowire-decode pipeline, and
``foreachBatch`` commits it through ``Warehouse.commit_batch`` — the
batch path's project -> append every target table -> one
``files_processed`` checkpoint append.

Delivery semantics: the file source tracks seen files in the Spark
streaming checkpoint, so a restarted stream never re-lists processed
files — strictly better than the reference's at-least-once
append-then-checkpoint gap (§3.1 step 8). Within a micro-batch,
``foreachBatch`` replay on crash is still at-least-once (same as the
reference); the idempotent upgrade is a Delta ``replaceWhere
file_source`` write (SURVEY §7 M6).

Scale: one 100 TB-day of new files is just more rows in the file-source
backlog; ``maxFilesPerTrigger`` bounds per-batch work, frame-split and
decode parallelize per file across executors, and no state accumulates
(the only streaming state is the file log).
"""

from __future__ import annotations

import gzip
import io
import os
from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, SparkSession

from huckli_spark.ingest.decode import decode_frames
from huckli_spark.ingest.filetypes import REGISTRY
from huckli_spark.sources.framing import FRAMES_SCHEMA, frame_batches

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql.streaming import StreamingQuery

    from huckli_spark.ingest.warehouse import Warehouse


def stream_frames(
    spark: SparkSession,
    directory: str,
    prefix: str,
    max_files_per_trigger: int | None = None,
    batch_rows: int = 2048,
) -> DataFrame:
    """Streaming DataFrame of (file_source, frame_index, payload).

    ``binaryFile`` loads each object whole (content column); reference
    objects are single-digit-MB gzip files, far under task memory. The
    gzip+4-byte-BE-length frame split (A6) runs inside ``mapInPandas``
    so it scales with the file count, exactly like the batch reader.
    """
    binary_schema = (
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", f"{prefix}*.gz")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(directory).select("path", "content")

    def split(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                fh = gzip.GzipFile(fileobj=io.BytesIO(bytes(content)))
                yield from frame_batches(os.path.basename(str(path)), fh, batch_rows)

    return raw.mapInPandas(split, FRAMES_SCHEMA)


def stream_ingest(
    spark: SparkSession,
    file_type: str,
    directory: str,
    warehouse: "Warehouse",
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> "StreamingQuery":
    """Start the streaming pipeline for one file type.

    ``available_now=True`` drains the current backlog and stops (the
    reference's ``--continue`` run, minus the manual bookkeeping);
    ``False`` keeps tailing the directory.
    """
    spec = REGISTRY[file_type]
    from huckli_spark.ingest.filetypes import (
        load_enum_overrides_from_env,
        warn_placeholder_enums,
    )

    load_enum_overrides_from_env()
    warn_placeholder_enums(spec.msg, file_type)
    frames = stream_frames(
        spark, directory, spec.prefix, max_files_per_trigger=max_files_per_trigger
    )
    decoded = decode_frames(frames, spec.msg, dropped_acc=warehouse.dropped_frames)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        warehouse.commit_batch(file_type, batch_df)

    writer = (
        decoded.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"ingest_{file_type}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
