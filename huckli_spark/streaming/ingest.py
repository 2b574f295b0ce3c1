"""Streaming ingest: tail-follow a directory of framed gzip proto files.

Continuous version of ``Warehouse.ingest`` (reference §3.1/§3.2 —
huckli-import/src/lib.rs:183-213): a ``binaryFile`` file-source stream
discovers new ``{prefix}.{epoch_ms}.gz`` objects, each micro-batch runs
the batch reader's frame split (``sources.framing.frame_files``) and
``Warehouse.decode``, and ``foreachBatch`` commits it through
``Warehouse.commit_batch`` — the batch path's project -> append every
target table -> one ``files_processed`` checkpoint append.

Delivery semantics: the file source tracks seen files in the Spark
streaming checkpoint, so a restarted stream never re-lists processed
files — strictly better than the reference's at-least-once
append-then-checkpoint gap (§3.1 step 8). Within a micro-batch,
``foreachBatch`` replay on crash is still at-least-once (same as the
reference) unless the warehouse is ``acid`` and ``idempotent``
(``--acid --idempotent``): then each commit replaces its files' ``file_source`` partitions, so a
replayed batch lands exactly once.

Scale: one 100 TB-day of new files is just more rows in the file-source
backlog; ``maxFilesPerTrigger`` bounds per-batch work, frame-split and
decode parallelize per file across executors, and no state accumulates
(the only streaming state is the file log).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from huckli_spark.ingest.filetypes import REGISTRY
from huckli_spark.sources.framing import frame_files

if TYPE_CHECKING:
    from pyspark.sql.streaming import StreamingQuery

    from huckli_spark.ingest.warehouse import Warehouse


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
    reader = (
        spark.readStream.format("binaryFile")
        .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
        .option("pathGlobFilter", f"{REGISTRY[file_type].prefix}*.gz")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    decoded = warehouse.decode(file_type, frame_files(reader.load(directory)))

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
