"""Gzip + length-delimited framing (reference A6).

File format (/root/reference/huckli-s3/src/lib.rs:165-178): a
``{prefix}.{epoch_ms}.gz`` object is a gzip stream of frames, each a
4-byte BIG-ENDIAN u32 length prefix + payload (tokio
``LengthDelimitedCodec`` default).

Spark integration is ``mapInPandas`` over a file-list DataFrame: each
task streams its files through gzip decompression and yields Arrow
batches of (file_source, frame_index, payload) — no whole-file
buffering (parity with the reference's async framed stream), and the
decode work scales horizontally with the file count.

A truncated trailing frame ends the file's read: ``iter_frames`` drops
it without counting it, as the reference's framed read simply ends.
Frames that are complete but do not decode are the ones counted
(``decode_frames``'s ``dropped_acc``), matching the reference's
error-drop policy (huckli-import/src/lib.rs:227-235).
"""

from __future__ import annotations

import gzip
import io
import os
import struct
from typing import BinaryIO, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

FRAME_HEADER = struct.Struct(">I")

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("file_source", T.StringType(), False),
        T.StructField("frame_index", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def write_frames(out: BinaryIO, payloads: Iterable[bytes]) -> int:
    """Write length-delimited frames (no gzip) to a binary stream."""
    n = 0
    for p in payloads:
        out.write(FRAME_HEADER.pack(len(p)))
        out.write(p)
        n += 1
    return n


def write_framed_gzip(path: str, payloads: Iterable[bytes]) -> int:
    """Create a ``{prefix}.{epoch_ms}.gz`` fixture file."""
    with gzip.open(path, "wb") as gz:
        return write_frames(gz, payloads)


def iter_frames(stream: BinaryIO, max_frame: int = 64 * 1024 * 1024) -> Iterator[bytes]:
    """Yield frame payloads from a raw (already-decompressed) stream.

    Stops silently on a truncated header/payload (the reference's
    framed read simply ends); raises on an absurd length to avoid
    multi-GB allocations from corrupt headers.
    """
    while True:
        header = stream.read(4)
        if len(header) < 4:
            return
        (length,) = FRAME_HEADER.unpack(header)
        if length > max_frame:
            raise ValueError(f"frame length {length} exceeds max {max_frame}")
        payload = stream.read(length)
        if len(payload) < length:
            return  # truncated final frame: drop
        yield payload


def open_maybe_gzip(path: str) -> BinaryIO:
    if path.endswith(".gz"):
        return gzip.open(path, "rb")  # type: ignore[return-value]
    return open(path, "rb")


def frames_df(
    spark: SparkSession,
    paths: list[str],
    batch_rows: int = 2048,
    tasks: int | None = None,
) -> DataFrame:
    """Distributed framed read: DataFrame of
    (file_source, frame_index, payload).

    ``file_source`` is the file's base name (the reference stores the
    S3 key as provenance on every row — A19,
    huckli-import/src/lib.rs:23-37).

    Scale: one input row per file fans out to one task per file slice
    (``repartition``), each task streaming-decodes its files; Arrow
    batches bound memory to ``batch_rows`` frames.
    """
    import pandas as pd

    files = spark.createDataFrame(
        [(p,) for p in paths], T.StructType([T.StructField("path", T.StringType(), False)])
    )
    n_tasks = tasks or min(len(paths), spark.sparkContext.defaultParallelism)
    files = files.repartition(max(n_tasks, 1))

    def decode_files(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for path in pdf["path"]:
                name = os.path.basename(path)
                rows: list[tuple[str, int, bytes]] = []
                with open_maybe_gzip(path) as fh:
                    buffered = io.BufferedReader(fh, 1 << 20)
                    for i, payload in enumerate(iter_frames(buffered)):
                        rows.append((name, i, payload))
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(
                                rows, columns=["file_source", "frame_index", "payload"]
                            )
                            rows = []
                if rows:
                    yield pd.DataFrame(
                        rows, columns=["file_source", "frame_index", "payload"]
                    )

    out = files.mapInPandas(decode_files, FRAMES_SCHEMA)
    # Fan frames out past the file count: with fewer files than cores,
    # the downstream wire-decode (the CPU-heaviest ingest stage) would
    # otherwise run on len(paths) tasks. The shuffle moves only raw
    # frame bytes — bounded by input size — and is skipped entirely at
    # production file counts where the scan already fills the cluster.
    # An explicit ``tasks`` cap is honored: callers throttling decode
    # parallelism (memory-bound decode, deterministic single-task
    # runs) must not be silently overridden.
    par = tasks or spark.sparkContext.defaultParallelism
    if len(paths) < par:
        out = out.repartition(par)
    return out
