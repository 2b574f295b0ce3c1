"""Frame -> typed-struct decode stage.

The only Python in the pipeline: protobuf wire decode inside
``mapInPandas`` (Arrow-batched). Everything downstream — enum names
are already materialized by the decoder; key encoding, timestamp
conversion, demux, explode — is Catalyst expressions.

Malformed frames are dropped and counted (reference parity: decode
errors are logged and skipped, huckli-import/src/lib.rs:227-235).
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from huckli_spark.sources import protowire
from huckli_spark.sources.protowire import Field, Msg

_PTYPE_TO_SPARK = {
    "uint64": T.LongType,
    "int64": T.LongType,
    "uint32": T.IntegerType,
    "int32": T.IntegerType,
    "bool": T.BooleanType,
    "double": T.DoubleType,
    "float": T.FloatType,
    "string": T.StringType,
    "bytes": T.BinaryType,
    "enum": T.StringType,  # decoder materializes as_str_name (S8)
}


def spark_type(f: Field) -> T.DataType:
    if f.ptype == "message":
        base: T.DataType = msg_struct(f.schema)
    else:
        base = _PTYPE_TO_SPARK[f.ptype]()
    return T.ArrayType(base, containsNull=False) if f.repeated else base


def msg_struct(msg: Msg) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, spark_type(f), True) for f in msg.fields]
    )


def decoded_schema(msg: Msg) -> T.StructType:
    return T.StructType(
        [
            T.StructField("file_source", T.StringType(), False),
            T.StructField("frame_index", T.LongType(), False),
            *msg_struct(msg).fields,
        ]
    )


def decode_frames(frames: DataFrame, msg: Msg, dropped_acc=None) -> DataFrame:
    """(file_source, frame_index, payload) -> typed columns.

    u64 caveat (SURVEY §1.2): proto uint64 lands in LongType; Helium
    amounts are « 2^63 so the narrowing is safe — values that would
    wrap raise, surfacing the overflow instead of corrupting it.

    ``dropped_acc``: optional Spark accumulator incremented per dropped
    frame — the observable form of the reference's log-and-skip policy
    (A8); at scale "how many records did we silently drop" must be a
    metric, not a grep over executor stderr.
    """
    import pandas as pd

    schema = decoded_schema(msg)
    field_names = [f.name for f in msg.fields]
    u64_fields = [f.name for f in msg.fields if f.ptype == "uint64" and not f.repeated]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        dropped = 0
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for src, idx, payload in zip(
                pdf["file_source"], pdf["frame_index"], pdf["payload"]
            ):
                try:
                    vals = protowire.decode(msg, bytes(payload))
                    for name in u64_fields:
                        if vals[name] >= 1 << 63:
                            raise protowire.WireError(
                                f"uint64 {name} exceeds LongType range"
                            )
                except protowire.WireError as e:
                    dropped += 1
                    if dropped_acc is not None:
                        dropped_acc.add(1)
                    print(f"dropped frame {src}[{idx}]: {e}")  # -> executor stderr
                    continue
                vals["file_source"] = src
                vals["frame_index"] = int(idx)
                rows.append(vals)
            if rows:
                yield pd.DataFrame(rows, columns=["file_source", "frame_index", *field_names])

    return frames.mapInPandas(run, schema)
