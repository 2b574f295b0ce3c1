"""Gzip + length-delimited framing (reference A6).

File format (/root/reference/huckli-s3/src/lib.rs:165-178): a
``{prefix}.{epoch_ms}.gz`` object is a gzip stream of frames, each a
4-byte BIG-ENDIAN u32 length prefix + payload (tokio
``LengthDelimitedCodec`` default).

Spark integration is one ``mapInPandas`` over a ``binaryFile``
DataFrame of (path, content), batch (``frames_df``) or streaming
(``streaming.ingest.stream_ingest``) alike: ``frame_files`` streams
each file's bytes through gzip decompression and yields Arrow batches
of (file_source, frame_index, payload). A task holds each file's
compressed bytes whole; decompression and framing are streamed (the
reference's async framed stream), and the work scales with the file
count.

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
from typing import TYPE_CHECKING, BinaryIO, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from huckli_spark.operators.parallel import fan_out

if TYPE_CHECKING:
    import pandas as pd

FRAME_HEADER = struct.Struct(">I")
BATCH_ROWS = 2048  # frames per Arrow batch out of the framing task

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


def frame_batches(name: str, fh: BinaryIO) -> Iterator["pd.DataFrame"]:
    """Frames of ONE decompressed file handle as pandas batches of
    (file_source, frame_index, payload), at most ``BATCH_ROWS`` rows
    each — the per-file loop of ``frame_files``."""
    import pandas as pd

    cols = ["file_source", "frame_index", "payload"]
    rows: list[tuple[str, int, bytes]] = []
    for i, payload in enumerate(iter_frames(io.BufferedReader(fh, 1 << 20))):
        rows.append((name, i, payload))
        if len(rows) >= BATCH_ROWS:
            yield pd.DataFrame(rows, columns=cols)
            rows = []
    if rows:
        yield pd.DataFrame(rows, columns=cols)


def open_maybe_gzip(path: str) -> BinaryIO:
    if path.endswith(".gz"):
        return gzip.open(path, "rb")  # type: ignore[return-value]
    return open(path, "rb")


def frame_files(files: DataFrame) -> DataFrame:
    """Frame a batch or streaming ``binaryFile`` DataFrame of
    (path, content): a file is gunzipped iff its path ends in ``.gz``.

    ``file_source`` is the file's base name (the reference stores the
    S3 key as provenance on every row — A19,
    huckli-import/src/lib.rs:23-37)."""

    def split(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                fh: BinaryIO = io.BytesIO(content)
                if path.endswith(".gz"):
                    fh = gzip.GzipFile(fileobj=fh)  # type: ignore[assignment]
                with fh:
                    yield from frame_batches(os.path.basename(path), fh)

    return files.select("path", "content").mapInPandas(split, FRAMES_SCHEMA)


def frames_df(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed framed read of ``paths``: DataFrame of
    (file_source, frame_index, payload), through ``frame_files``.

    The scan packs files into tasks; ``fan_out`` widens the frames to
    ``defaultParallelism`` only when the scan is narrower, so the wire
    decode (the CPU-heaviest ingest stage) never runs on fewer tasks
    than cores, and a wide scan adds no shuffle.

    Known costs: loading more than 32 paths runs one parallel listing
    job (``spark.sql.sources.parallelPartitionDiscovery.threshold``);
    a task holds each file's compressed bytes whole, and
    ``binaryFile`` rejects a file over 2 GiB.
    """
    return fan_out(frame_files(spark.read.format("binaryFile").load(paths)))
