"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side design is the real product: schemas, Arrow batch
shapes, ``mapInPandas`` signatures, and explode semantics are all
production-grade and tested. The codec itself is pluggable:

- **PNG is decoded for real** — a pure-stdlib (zlib + struct)
  implementation of the public PNG spec (RFC 2083: chunk framing,
  IHDR, concatenated IDAT, all five scanline filters) lives in
  ``decode_png_bytes``; ``decode_real`` routes image blobs there.
  Supported: 8-bit gray / gray+alpha / RGB / RGBA, non-interlaced —
  palette, 16-bit, and interlaced PNGs raise with the reason named.
- **PCM WAV is decoded for real** too — pure-stdlib RIFF chunk walk
  (``decode_wav_bytes``): 16-bit PCM mono/stereo (stereo mixed down),
  canonical encoder for tests; compressed / non-16-bit WAVs raise
  with the reason named.
- JPEG/MP4 require PIL/pyav, which this container does not ship —
  those arms of ``decode_real`` raise ``NotImplementedError`` with
  the dependency named (STUB, clearly marked).
- The deterministic "HK" formats below (HKI1 images, HKA1 audio,
  HKV1 video = concatenated HKI1 frames) exercise every byte of the
  plumbing with real math (numpy resize, channel stats, RMS/ZCR,
  frame sampling) and make the tests hermetic; image stages accept
  HKI1 and PNG interchangeably via ``decode_any_image``.

Scale notes:
- Decode/feature stages are map-only (no shuffle); partitioning is
  whatever the source had — repartition by size beforehand if media
  blobs are skewed.
- Feature vectors come back as ``array<double>`` ready for the
  simsearch operators.
- Blobs stay in Arrow buffers end-to-end; nothing is collected.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMG_MAGIC = b"HKI1"  # HKI1 | u16 w | u16 h | u8 c | pixels (w*h*c u8)
AUD_MAGIC = b"HKA1"  # HKA1 | u32 sample_rate | i16 samples
VID_MAGIC = b"HKV1"  # HKV1 | u16 n_frames | frames (each a full HKI1 blob)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("data", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("channels", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)


# ---------------------------------------------------------------------------
# deterministic fake codec (container has no image/audio libs)
# ---------------------------------------------------------------------------
def encode_image(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    return IMG_MAGIC + struct.pack("<HHB", w, h, c) + arr.astype(np.uint8).tobytes()


def decode_image_bytes(data: bytes) -> np.ndarray:
    if data[:4] != IMG_MAGIC:
        raise ValueError("not an HKI1 image")
    w, h, c = struct.unpack("<HHB", data[4:9])
    return np.frombuffer(data[9 : 9 + w * h * c], dtype=np.uint8).reshape(h, w, c)


def encode_audio(samples: np.ndarray, sample_rate: int) -> bytes:
    return AUD_MAGIC + struct.pack("<I", sample_rate) + samples.astype("<i2").tobytes()


def decode_audio_bytes(data: bytes) -> tuple[np.ndarray, int]:
    if data[:4] != AUD_MAGIC:
        raise ValueError("not an HKA1 audio blob")
    (sr,) = struct.unpack("<I", data[4:8])
    return np.frombuffer(data[8:], dtype="<i2"), sr


def encode_video(frames: list[np.ndarray]) -> bytes:
    out = VID_MAGIC + struct.pack("<H", len(frames))
    for f in frames:
        out += encode_image(f)
    return out


def iter_video_frames(data: bytes) -> Iterator[bytes]:
    if data[:4] != VID_MAGIC:
        raise ValueError("not an HKV1 video blob")
    (n,) = struct.unpack("<H", data[4:6])
    pos = 6
    for _ in range(n):
        w, h, c = struct.unpack("<HHB", data[pos + 4 : pos + 9])
        end = pos + 9 + w * h * c
        yield data[pos:end]
        pos = end


# ---------------------------------------------------------------------------
# real PNG codec — pure stdlib (zlib + struct), public spec (RFC 2083)
# ---------------------------------------------------------------------------
PNG_SIG = b"\x89PNG\r\n\x1a\n"
# IHDR color_type -> sample count (palette=3 excluded: needs PLTE)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}  # channels -> color_type


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """Encode (h, w, c) uint8 -> minimal valid PNG (8-bit, filter 0)."""
    import zlib

    h, w, c = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, _PNG_COLOR_TYPE[c], 0, 0, 0)
    a = arr.astype(np.uint8)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_bytes(data: bytes) -> np.ndarray:
    """Decode a PNG blob -> (h, w, c) uint8. Pure stdlib: chunk walk,
    zlib inflate of concatenated IDAT, and all five scanline filters
    (None/Sub/Up/Average/Paeth). 8-bit gray/gray+alpha/RGB/RGBA,
    non-interlaced; anything else raises with the reason named."""
    import zlib

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG blob")
    pos, n = 8, len(data)
    w = h = channels = None
    idat = bytearray()
    while pos + 8 <= n:
        (clen,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated PNG chunk")
        pos += 12 + clen  # len + type + body + crc
        if typ == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise NotImplementedError(f"PNG bit depth {depth} (only 8)")
            if interlace:
                raise NotImplementedError("interlaced PNG")
            if color not in _PNG_CHANNELS:
                raise NotImplementedError(f"PNG color type {color} (palette?)")
            channels = _PNG_CHANNELS[color]
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    c = channels
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if f == 0:
            pass
        elif f == 2:  # Up — vectorized (no intra-line dependency)
            line += prev
        elif f == 1:
            # Sub: recon[i] = raw[i] + recon[i-c] is a per-channel
            # PREFIX SUM, and mod-256 commutes with addition — one
            # cumsum per line replaces the former per-byte loop.
            line = (
                np.cumsum(line.reshape(-1, c).astype(np.uint32), axis=0)
                .astype(np.uint8)
                .reshape(-1)
            )
        elif f == 3:
            # Average: floor((left + up) / 2) is nonlinear, so the
            # recurrence is inherently sequential along x. Vectorize
            # the a=0 head, then run the tail over PLAIN PYTHON INTS —
            # numpy scalar indexing per byte was the real cost (~6x,
            # measured in SCALE.md).
            line[:c] += prev[:c] >> 1
            ln, pv = line.tolist(), prev.tolist()
            for i in range(c, stride):
                ln[i] = (ln[i] + ((ln[i - c] + pv[i]) >> 1)) & 0xFF
            line = np.array(ln, dtype=np.uint8)
        elif f == 4:
            # Paeth: same sequential structure; head (a=cc=0) always
            # predicts `up`, the tail runs over plain ints.
            line[:c] += prev[:c]
            ln, pv = line.tolist(), prev.tolist()
            for i in range(c, stride):
                a, b, cc = ln[i - c], pv[i], pv[i - c]
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                ln[i] = (ln[i] + pred) & 0xFF
            line = np.array(ln, dtype=np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = line
        prev = out[y]
    return out.reshape(h, w, channels)


# ---------------------------------------------------------------------------
# real BMP codec — pure stdlib (struct), 24-bit BI_RGB per the public
# BITMAPFILEHEADER/BITMAPINFOHEADER layout (round 7: third REAL codec
# arm alongside PNG and PCM WAV)
# ---------------------------------------------------------------------------
BMP_SIG = b"BM"


def encode_bmp(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit bottom-up BI_RGB BMP (rows BGR,
    padded to 4-byte boundaries — the classic layout every viewer
    reads)."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError(f"BMP encoder wants 3 channels, got {c}")
    stride = (3 * w + 3) // 4 * 4
    pad = b"\x00" * (stride - 3 * w)
    a = arr.astype(np.uint8)
    body = b"".join(
        a[y, :, ::-1].tobytes() + pad for y in range(h - 1, -1, -1)
    )
    off = 14 + 40
    header = BMP_SIG + struct.pack("<IHHI", off + len(body), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return header + info + body


def decode_bmp_bytes(data: bytes) -> np.ndarray:
    """Decode a 24-bit BI_RGB BMP -> (h, w, 3) uint8 RGB. Handles
    bottom-up (positive height) and top-down (negative height) pixel
    arrays and row padding; palette/16/32-bit/compressed variants
    raise with the reason named (same loud-stub policy as PNG/WAV)."""
    if data[:2] != BMP_SIG:
        raise ValueError("not a BMP blob")
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    (off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        raise NotImplementedError(
            f"BMP header size {hdr_size} (BITMAPCOREHEADER variant)"
        )
    w, h_raw = struct.unpack_from("<ii", data, 18)
    _planes, bpp = struct.unpack_from("<HH", data, 26)
    (comp,) = struct.unpack_from("<I", data, 30)
    if comp != 0:
        raise NotImplementedError(f"BMP compression {comp} (BI_RGB only)")
    if bpp != 24:
        raise NotImplementedError(f"{bpp}-bit BMP (24-bit only)")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise ValueError(f"bad BMP dimensions {w}x{h_raw}")
    stride = (3 * w + 3) // 4 * 4
    if off + stride * h > len(data):
        raise ValueError("truncated BMP pixel array")
    rows = (
        np.frombuffer(data, dtype=np.uint8, count=stride * h, offset=off)
        .reshape(h, stride)[:, : 3 * w]
        .reshape(h, w, 3)
    )
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # stored BGR -> RGB


# ---------------------------------------------------------------------------
# real WAV codec — pure stdlib (struct), RIFF/WAVE PCM spec
# ---------------------------------------------------------------------------
WAV_SIG = b"RIFF"


def encode_wav(samples: np.ndarray, sample_rate: int, n_channels: int = 1) -> bytes:
    """(n,) or (n, ch) int16 -> canonical 44-byte-header PCM WAV."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 2:
        n_channels = s.shape[1]
    pcm = s.reshape(-1).tobytes()  # row-major == interleaved frames
    byte_rate = sample_rate * n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, byte_rate, n_channels * 2, 16
    )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def decode_wav_bytes(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV blob -> (mono int16 samples, sample_rate).

    Pure stdlib RIFF chunk walk. 16-bit PCM only (format tag 1);
    multi-channel audio is mixed down to mono by per-frame mean (the
    features downstream are channel-agnostic). Compressed or non-16-bit
    WAVs raise NotImplementedError naming the reason — same
    drop-or-escalate policy as the PNG arm's unsupported variants.
    """
    if data[:4] != WAV_SIG or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE blob")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, n_ch, sr, _rate, _align, bits = fmt
    if audio_fmt != 1:
        raise NotImplementedError(
            f"WAV format tag {audio_fmt} (non-PCM) needs soundfile/ffmpeg"
        )
    if bits != 16:
        raise NotImplementedError(f"{bits}-bit WAV unsupported (16-bit PCM only)")
    s = np.frombuffer(pcm[: (len(pcm) // (2 * n_ch)) * 2 * n_ch], dtype="<i2")
    if n_ch > 1:
        s = (
            s.reshape(-1, n_ch)
            .astype(np.int32)
            .mean(axis=1)
            .round()
            .astype(np.int16)
        )
    return s, sr


def decode_real(data: bytes, kind: str):
    """Real-format decode. PNG (pure stdlib zlib+struct) and PCM WAV
    (pure stdlib RIFF walk) are implemented here; JPEG/MP4 remain
    STUBS — their decode libs are not in this environment; wire them
    here when deploying (PIL for images, av for video)."""
    if kind == "image" and data[:8] == PNG_SIG:
        return decode_png_bytes(data)
    if kind == "image" and data[:2] == BMP_SIG:
        return decode_bmp_bytes(data)
    if kind == "audio" and data[:4] == WAV_SIG:
        return decode_wav_bytes(data)
    raise NotImplementedError(
        f"real {kind} decode beyond PNG/BMP/WAV requires PIL/av; only"
        " PNG, BMP, PCM WAV and the HK deterministic formats are"
        " available in this environment"
    )


def decode_any_image(data: bytes) -> np.ndarray:
    """Dispatch an image blob by magic: HKI1 fake codec, real PNG or
    real BMP. Raises ValueError for unknown formats
    (drop-and-continue policy)."""
    if data[:4] == IMG_MAGIC:
        return decode_image_bytes(data)
    if data[:8] == PNG_SIG:
        return decode_png_bytes(data)
    if data[:2] == BMP_SIG:
        return decode_bmp_bytes(data)
    raise ValueError("unknown image format")


def decode_any_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Dispatch an audio blob by magic: HKA1 fake codec or real WAV.
    Raises ValueError for unknown formats (drop-and-continue policy)."""
    if data[:4] == AUD_MAGIC:
        return decode_audio_bytes(data)
    if data[:4] == WAV_SIG and data[8:12] == b"WAVE":
        return decode_wav_bytes(data)
    raise ValueError("unknown audio format")


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
def sniff_metadata(df: DataFrame, data_col: str = "data") -> DataFrame:
    """Populate the typed ``meta`` struct by sniffing blob headers.
    JVM-side: magic check + byte slicing via built-in functions — no
    Python for the metadata pass."""
    data = F.col(data_col)
    magic = F.substring(data, 1, 4).cast("string")
    # little-endian u16/u32 from bytes via conv(reversed hex)
    def le_int(start: int, nbytes: int):
        parts = [
            F.hex(F.substring(data, start + i, 1)) for i in reversed(range(nbytes))
        ]
        return F.conv(F.concat(*parts), 16, 10).cast("int")

    # big-endian (PNG IHDR ints)
    def be_int(start: int, nbytes: int):
        return F.conv(F.hex(F.substring(data, start, nbytes)), 16, 10).cast("int")

    def _le_long(d, start: int, nbytes: int):
        parts = [
            F.hex(F.substring(d, start + i, 1)) for i in reversed(range(nbytes))
        ]
        return F.conv(F.concat(*parts), 16, 10).cast("long")

    # PNG signature check on the raw first 8 bytes (not utf8-castable)
    is_png = F.hex(F.substring(data, 1, 8)) == "89504E470D0A1A0A"
    # IHDR body starts at byte 17 (sig 8 + len 4 + "IHDR" 4):
    # width 17-20 BE, height 21-24 BE, bit depth 25, color type 26
    png_channels = (
        F.when(be_int(26, 1) == 0, 1)
        .when(be_int(26, 1) == 2, 3)
        .when(be_int(26, 1) == 3, 1)
        .when(be_int(26, 1) == 4, 2)
        .when(be_int(26, 1) == 6, 4)
    )
    meta = (
        F.when(
            is_png,
            F.struct(
                F.lit("png").alias("format"),
                be_int(17, 4).alias("width"),
                be_int(21, 4).alias("height"),
                png_channels.alias("channels"),
                F.lit(None).cast("int").alias("sample_rate"),
                F.lit(1).alias("n_frames"),
            ),
        )
        .when(
            # BMP: "BM" magic; width/height at info-header offsets
            # 18/22 as SIGNED LE i32 — negative height = top-down, the
            # sniff reports magnitude (the decoder is the authority)
            F.substring(data, 1, 2).cast("string") == "BM",
            F.struct(
                F.lit("bmp").alias("format"),
                le_int(19, 4).alias("width"),
                (
                    F.when(
                        _le_long(data, 23, 4) > F.lit(2**31 - 1),
                        F.lit(2**32) - _le_long(data, 23, 4),
                    ).otherwise(_le_long(data, 23, 4))
                ).cast("int").alias("height"),
                F.when(le_int(29, 2) == 24, 3)
                .otherwise(F.lit(None).cast("int"))
                .alias("channels"),
                F.lit(None).cast("int").alias("sample_rate"),
                F.lit(1).alias("n_frames"),
            ),
        )
        .when(
            magic == "HKI1",
            F.struct(
                F.lit("hki1").alias("format"),
                le_int(5, 2).alias("width"),
                le_int(7, 2).alias("height"),
                le_int(9, 1).alias("channels"),
                F.lit(None).cast("int").alias("sample_rate"),
                F.lit(1).alias("n_frames"),
            ),
        )
        .when(
            magic == "HKA1",
            F.struct(
                F.lit("hka1").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("channels"),
                le_int(5, 4).alias("sample_rate"),
                F.lit(None).cast("int").alias("n_frames"),
            ),
        )
        .when(
            # canonical-layout WAV (our encoder and most tools put the
            # fmt chunk first); the decoder walks chunks and is the
            # authority — this JVM sniff is the cheap metadata hint
            (magic == "RIFF")
            & (F.substring(data, 9, 4).cast("string") == "WAVE"),
            F.struct(
                F.lit("wav").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("channels"),
                le_int(25, 4).alias("sample_rate"),
                F.lit(None).cast("int").alias("n_frames"),
            ),
        )
        .when(
            magic == "HKV1",
            F.struct(
                F.lit("hkv1").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("channels"),
                F.lit(None).cast("int").alias("sample_rate"),
                le_int(5, 2).alias("n_frames"),
            ),
        )
        .otherwise(
            F.struct(
                F.lit("unknown").alias("format"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("int").alias("channels"),
                F.lit(None).cast("int").alias("sample_rate"),
                F.lit(None).cast("int").alias("n_frames"),
            )
        )
    )
    return df.withColumn("meta", meta)


_IMG_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.DoubleType()), True),
    ]
)


def image_features(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data", hist_bins: int = 8
) -> DataFrame:
    """Decode + feature-extract images: per-channel means + an
    ``hist_bins``-bucket grayscale histogram -> array<double>.
    mapInPandas; one output row per input image; undecodable blobs
    yield null features (drop-and-continue policy, A8 analog)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from huckli_spark.operators import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[data_col]):
                try:
                    arr = mm.decode_any_image(bytes(blob))
                except (ValueError, NotImplementedError):
                    rows.append((int(mid), None, None, None, None))
                    continue
                h, w, c = arr.shape
                means = arr.reshape(-1, c).mean(axis=0)
                gray = arr.mean(axis=2)
                hist, _ = np.histogram(gray, bins=hist_bins, range=(0, 255))
                feats = [*(float(m) for m in means), *(float(x) for x in hist / gray.size)]
                rows.append((int(mid), w, h, c, feats))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "channels", "features"]
            )

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(run, _IMG_FEAT_SCHEMA)


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("data", T.BinaryType(), True),
    ]
)


def resize_images(
    df: DataFrame, width: int, height: int, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """Nearest-neighbor resize to (width, height); re-encoded HKI1."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from huckli_spark.operators import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[data_col]):
                try:
                    arr = mm.decode_any_image(bytes(blob))
                except (ValueError, NotImplementedError):
                    rows.append((int(mid), None))
                    continue
                h, w, _ = arr.shape
                yi = (np.arange(height) * h // height).clip(0, h - 1)
                xi = (np.arange(width) * w // width).clip(0, w - 1)
                rows.append((int(mid), mm.encode_image(arr[yi][:, xi])))
            yield pd.DataFrame(rows, columns=["media_id", "data"])

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(run, _RESIZE_SCHEMA)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def sample_frames(
    df: DataFrame, every: int = 2, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """Explode videos into every ``every``-th frame (HKI1 blobs) —
    one-to-many mapInPandas, the A12-explode analog for media."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from huckli_spark.operators import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[data_col]):
                try:
                    for i, frame in enumerate(mm.iter_video_frames(bytes(blob))):
                        if i % every == 0:
                            rows.append((int(mid), i, frame))
                except ValueError:
                    continue
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(run, _FRAME_SCHEMA)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_crossing_rate", T.DoubleType(), True),
    ]
)


def audio_features(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """Audio decode + RMS / zero-crossing-rate features."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from huckli_spark.operators import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[data_col]):
                try:
                    samples, sr = mm.decode_any_audio(bytes(blob))
                except ValueError:
                    rows.append((int(mid), None, None, None, None, None))
                    continue
                x = samples.astype(np.float64)
                rms = float(np.sqrt(np.mean(x**2))) if len(x) else 0.0
                zcr = (
                    float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
                    if len(x) > 1
                    else 0.0
                )
                rows.append(
                    (int(mid), sr, len(x), len(x) * 1000.0 / sr, rms, zcr)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "sample_rate", "n_samples",
                    "duration_ms", "rms", "zero_crossing_rate",
                ],
            )

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(run, _AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual image dedup — 60-bit difference hash (round 9)
# ---------------------------------------------------------------------------
# 6 rows x 11 grid columns -> 6 x 10 adjacent-column comparisons = 60
# bits, exactly SIMHASH_BITS, so the hashes feed the exact pigeonhole
# banding of sketch.simhash_pairs_from_signatures unchanged.
DHASH_ROWS = 6
DHASH_COLS = 11

_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)


def dhash_bits(arr: np.ndarray) -> "int | None":
    """60-bit difference hash of one decoded (h, w, c) uint8 array —
    the shared fingerprint core of image_dhash and the per-frame
    video path. Exact integer arithmetic throughout (see image_dhash);
    None for sub-grid images."""
    R, C = DHASH_ROWS, DHASH_COLS
    h, w, c = arr.shape
    if h < R or w < C:
        return None
    g = arr.astype(np.int64).sum(axis=2) // c
    ys = [r * h // R for r in range(R + 1)]
    xs = [x * w // C for x in range(C + 1)]
    m = [
        [
            int(g[ys[r]:ys[r + 1], xs[x]:xs[x + 1]].sum())
            // ((ys[r + 1] - ys[r]) * (xs[x + 1] - xs[x]))
            for x in range(C)
        ]
        for r in range(R)
    ]
    hv = 0
    for r in range(R):
        for x in range(C - 1):
            if m[r][x + 1] > m[r][x]:
                hv |= 1 << (r * (C - 1) + x)
    return hv


def image_dhash(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """(id, dhash): 60-bit perceptual difference hash over decoded
    pixels — the image-modality near-dup fingerprint (dHash, the
    public gradient-hash construction).

    Arithmetic is EXACT-INTEGER end to end (channel collapse = int
    sum // channels; block mean = int sum // block area with
    floor(r*h/R) edges; bit b = m[r][c+1] > m[r][c]), so a relational
    replay computes bit-identical hashes, and a uniform brightness
    shift cancels in the adjacent-column comparison — shifted copies
    are Hamming-0 duplicates (the classic dHash property, pinned in
    tests/test_multimodal.py). Scale: decode + hash is one Arrow
    mapInPandas pass, O(pixels) per image, no shuffle; pair
    generation reuses the exact <=3-Hamming pigeonhole banding of
    sketch.simhash_pairs_from_signatures (equi-join on 15-bit chunks,
    never all-pairs). Undecodable or sub-grid (< 6x11) blobs yield a
    null hash (drop-and-continue, the A8 policy)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from huckli_spark.operators import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[data_col]):
                try:
                    arr = mm.decode_any_image(bytes(blob))
                except (ValueError, NotImplementedError):
                    rows.append((int(mid), None))
                    continue
                rows.append((int(mid), mm.dhash_bits(arr)))
            yield pd.DataFrame(rows, columns=["media_id", "dhash"])

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(
        run, _DHASH_SCHEMA
    )


def image_dedup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    max_hamming: int = 3,
) -> DataFrame:
    """(d1, d2, hamming): image pairs within ``max_hamming`` bits of
    perceptual-hash distance — decode -> dHash -> the exact banded
    Hamming join (never an all-pairs product)."""
    from huckli_spark.operators.sketch import simhash_pairs_from_signatures

    sig = image_dhash(df, id_col, data_col).where(
        F.col("dhash").isNotNull()
    ).select(F.col("media_id").alias(id_col), F.col("dhash").alias("simhash"))
    return simhash_pairs_from_signatures(sig, id_col, max_hamming)


# ---------------------------------------------------------------------------
# perceptual audio dedup — 60-bit frame-energy delta hash (round 9)
# ---------------------------------------------------------------------------
# 61 equal frames -> 60 adjacent-frame energy comparisons = 60 bits,
# again exactly SIMHASH_BITS for the shared pigeonhole banding.
FP_FRAMES = 61


def audio_energy_hash(samples: np.ndarray) -> "int | None":
    """60-bit audio fingerprint: split the mono int16 stream into 61
    floor-edged equal frames, frame energy = exact integer sum of
    |sample|, bit f = E[f+1] > E[f]. A uniform (non-clipping) GAIN
    multiplies every energy by the same factor, so gain-shifted
    copies hash identically — the audio analog of dHash's brightness
    invariance. None for streams shorter than 61 samples."""
    n = int(samples.shape[0])
    if n < FP_FRAMES:
        return None
    a = np.abs(samples.astype(np.int64))
    edges = [f * n // FP_FRAMES for f in range(FP_FRAMES + 1)]
    e = [int(a[edges[f]:edges[f + 1]].sum()) for f in range(FP_FRAMES)]
    hv = 0
    for f in range(FP_FRAMES - 1):
        if e[f + 1] > e[f]:
            hv |= 1 << f
    return hv


_AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ahash", T.LongType(), True),
    ]
)


def audio_fingerprint(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """(id, ahash): decode audio blobs (WAV or HKA1) via one Arrow
    mapInPandas pass and fingerprint with :func:`audio_energy_hash`.
    Undecodable / too-short blobs yield null (A8 policy)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from huckli_spark.operators import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[data_col]):
                try:
                    s, _sr = mm.decode_any_audio(bytes(blob))
                except (ValueError, NotImplementedError):
                    rows.append((int(mid), None))
                    continue
                rows.append((int(mid), mm.audio_energy_hash(s)))
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(
        run, _AHASH_SCHEMA
    )


def audio_dedup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    data_col: str = "data",
    max_hamming: int = 3,
) -> DataFrame:
    """(d1, d2, hamming): audio pairs within ``max_hamming`` bits of
    fingerprint distance — decode -> energy hash -> the exact banded
    Hamming join (never an all-pairs product)."""
    from huckli_spark.operators.sketch import simhash_pairs_from_signatures

    sig = audio_fingerprint(df, id_col, data_col).where(
        F.col("ahash").isNotNull()
    ).select(F.col("media_id").alias(id_col), F.col("ahash").alias("simhash"))
    return simhash_pairs_from_signatures(sig, id_col, max_hamming)


# ---------------------------------------------------------------------------
# video near-dup via frame-level fingerprints (round 9)
# ---------------------------------------------------------------------------
_VHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("fhash", T.LongType(), False),
    ]
)


def video_frame_hashes(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """(id, fhash): per-video DISTINCT frame dHashes — decode the
    HKV1 container, dHash every frame with the shared
    :func:`dhash_bits` core. One Arrow pass, O(frames x pixels) per
    video; undecodable videos / sub-grid frames drop (A8)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from huckli_spark.operators import multimodal as mm

        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf[id_col], pdf[data_col]):
                try:
                    frames = list(mm.iter_video_frames(bytes(blob)))
                except (ValueError, NotImplementedError):
                    continue
                seen = set()
                for fb in frames:
                    try:
                        hv = mm.dhash_bits(mm.decode_image_bytes(fb))
                    except (ValueError, NotImplementedError):
                        continue
                    if hv is not None and hv not in seen:
                        seen.add(hv)
                        rows.append((int(mid), hv))
            yield pd.DataFrame(rows, columns=["media_id", "fhash"])

    return df.select(F.col(id_col), F.col(data_col)).mapInPandas(
        run, _VHASH_SCHEMA
    )


def video_dedup_pairs(
    df: DataFrame, id_col: str = "media_id", data_col: str = "data"
) -> DataFrame:
    """(d1, d2, n_shared): video pairs sharing at least one frame
    fingerprint — the frame-level containment join. Candidate
    generation is an EQUI-JOIN on the 60-bit frame hash (the
    shared-frame bucket is the band), so shuffle volume is
    O(videos x distinct frames), never an all-pairs product; n_shared
    counts distinct shared fingerprints."""
    fh = video_frame_hashes(df, id_col, data_col)
    a = fh.select(F.col("media_id").alias("d1"), "fhash")
    b = fh.select(F.col("media_id").alias("d2"), "fhash")
    return (
        a.join(b, "fhash")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
