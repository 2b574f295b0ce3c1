"""Structured Streaming layer (SURVEY §7 M6 upgrade path).

The reference is a batch CLI with a resumable checkpoint table
(/root/reference/huckli-import/src/lib.rs:286-300) — its whole
"streaming" story is re-running with ``--continue``. This package is
the Spark-native continuous version of the same dataflow:

- ``ingest``: tail-follow a directory of ``{prefix}.{epoch_ms}.gz``
  framed-protobuf files with a file-source stream; Spark's streaming
  checkpoint replaces the manual ``files_processed`` lower-bound scan
  (which is still written, for query-surface parity).
- ``windows``: event-time tumbling/sliding aggregation with
  watermarks for late data.
- ``sessionize``: custom stateful operator (gap-based sessionization)
  via ``applyInPandasWithState``, plus the batch equivalent used as
  its differential oracle.
"""

from huckli_spark.streaming.ingest import stream_ingest
from huckli_spark.streaming.sessionize import sessionize_batch, sessionize_stream
from huckli_spark.streaming.windows import (
    events_stream,
    run_to_memory,
    stage_table_stream,
    tumbling_agg,
)

__all__ = [
    "stream_ingest",
    "sessionize_batch",
    "sessionize_stream",
    "events_stream",
    "run_to_memory",
    "stage_table_stream",
    "tumbling_agg",
]
