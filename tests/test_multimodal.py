"""Multimodal column plumbing tests: schema, metadata sniffing,
decode/feature/frame-sample batch shapes, error tolerance."""

from __future__ import annotations

import numpy as np
import pytest

from huckli_spark.operators import multimodal as mm


def _img(seed: int, w: int = 16, h: int = 12, c: int = 3) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)


@pytest.fixture
def media_df(spark):
    imgs = [(i, "image", mm.encode_image(_img(i))) for i in range(4)]
    rng = np.random.default_rng(7)
    audio = [
        (10, "audio", mm.encode_audio((rng.standard_normal(8000) * 1000), 16000))
    ]
    video = [(20, "video", mm.encode_video([_img(s) for s in range(5)]))]
    junk = [(99, "image", b"\x00\x01\x02 not media")]
    return spark.createDataFrame(
        imgs + audio + video + junk, "media_id: long, kind: string, data: binary"
    )


class TestMetadata:
    def test_sniff(self, media_df):
        meta = {r.media_id: r.meta for r in mm.sniff_metadata(media_df).collect()}
        assert meta[0].format == "hki1"
        assert (meta[0].width, meta[0].height, meta[0].channels) == (16, 12, 3)
        assert meta[10].format == "hka1"
        assert meta[10].sample_rate == 16000
        assert meta[20].format == "hkv1"
        assert meta[20].n_frames == 5
        assert meta[99].format == "unknown"


class TestImages:
    def test_features(self, media_df):
        rows = {
            r.media_id: r
            for r in mm.image_features(media_df.where("kind = 'image'")).collect()
        }
        r0 = rows[0]
        arr = _img(0)
        assert (r0.width, r0.height, r0.channels) == (16, 12, 3)
        assert len(r0.features) == 3 + 8  # channel means + 8 hist bins
        np.testing.assert_allclose(
            r0.features[:3], arr.reshape(-1, 3).mean(axis=0), rtol=1e-12
        )
        assert abs(sum(r0.features[3:]) - 1.0) < 1e-9  # histogram normalized
        # junk blob -> null features, not a task failure (A8 policy)
        assert rows[99].features is None


class TestVideoAudio:
    def test_frame_sampling(self, media_df):
        frames = mm.sample_frames(media_df.where("kind = 'video'"), every=2).collect()
        assert [f.frame_idx for f in frames] == [0, 2, 4]
        first = mm.decode_image_bytes(bytes(frames[0].frame))
        np.testing.assert_array_equal(first, _img(0))

    def test_audio_features(self, media_df):
        r = mm.audio_features(media_df.where("kind = 'audio'")).collect()[0]
        assert r.sample_rate == 16000
        assert r.n_samples == 8000
        assert r.duration_ms == 500.0
        assert r.rms > 0
        assert 0 < r.zero_crossing_rate < 1

    def test_real_decode_is_stubbed(self):
        with pytest.raises(NotImplementedError, match="PIL"):
            mm.decode_real(b"\xff\xd8\xff", "image")


class TestPipelineComposition:
    def test_features_feed_simsearch(self, spark, media_df):
        """Image features flow into the cosine similarity operators."""
        from huckli_spark.operators.simsearch import cosine_pairs

        feats = (
            mm.image_features(media_df.where("kind = 'image'"))
            .where("features IS NOT NULL")
            .selectExpr("media_id AS vec_id", "features AS embedding")
        )
        pairs = cosine_pairs(feats, threshold=-1.0)
        assert pairs.count() == 6  # C(4,2)


class TestPngCodec:
    """Pure-stdlib PNG (RFC 2083): round-trip, filters, sniff, pipeline."""

    @pytest.mark.parametrize("c", [1, 2, 3, 4])
    def test_roundtrip_all_channel_counts(self, c):
        rng = np.random.RandomState(c)
        arr = rng.randint(0, 256, size=(13, 9, c), dtype=np.uint8)
        out = mm.decode_png_bytes(mm.encode_png(arr))
        assert out.shape == arr.shape
        assert np.array_equal(out, arr)

    def test_all_five_scanline_filters(self):
        """Hand-filter scanlines with Sub/Up/Average/Paeth and check the
        decoder reconstructs the original — vectors built from the spec,
        not via this repo's encoder (which only emits filter 0)."""
        import struct
        import zlib

        rng = np.random.RandomState(7)
        arr = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
        h, w, c = arr.shape
        stride = w * c
        flat = arr.reshape(h, stride).astype(np.int32)
        raw = bytearray()
        filters = [0, 1, 2, 3, 4]
        prev = np.zeros(stride, dtype=np.int32)
        for y, f in enumerate(filters):
            line = flat[y]
            enc = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = line[i - c] if i >= c else 0
                b = prev[i]
                cc = prev[i - c] if i >= c else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[i] = (line[i] - pred) % 256
            raw += bytes([f]) + bytes(enc.astype(np.uint8))
            prev = line
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        blob = (
            mm.PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + mm._png_chunk(b"IEND", b"")
        )
        assert np.array_equal(mm.decode_png_bytes(blob), arr)

    def test_multi_idat_chunks_concatenate(self):
        import zlib

        arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        full = zlib.compress(
            b"".join(b"\x00" + arr[y].tobytes() for y in range(4))
        )
        import struct

        ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
        blob = (
            mm.PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", full[:7])
            + mm._png_chunk(b"IDAT", full[7:])
            + mm._png_chunk(b"IEND", b"")
        )
        assert np.array_equal(mm.decode_png_bytes(blob), arr)

    def test_unsupported_variants_named(self):
        import struct

        def blob_with_ihdr(depth, color, interlace):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
            return mm.PNG_SIG + mm._png_chunk(b"IHDR", ihdr)

        with pytest.raises(NotImplementedError, match="bit depth"):
            mm.decode_png_bytes(blob_with_ihdr(16, 2, 0))
        with pytest.raises(NotImplementedError, match="interlaced"):
            mm.decode_png_bytes(blob_with_ihdr(8, 2, 1))
        with pytest.raises(NotImplementedError, match="color type"):
            mm.decode_png_bytes(blob_with_ihdr(8, 3, 0))
        with pytest.raises(ValueError, match="not a PNG"):
            mm.decode_png_bytes(b"\xff\xd8\xff")

    def test_decode_real_routes_png(self):
        arr = np.full((3, 5, 3), 129, dtype=np.uint8)
        assert np.array_equal(mm.decode_real(mm.encode_png(arr), "image"), arr)
        # non-PNG images still stub loudly
        with pytest.raises(NotImplementedError, match="PIL"):
            mm.decode_real(b"\xff\xd8\xff", "image")
        # WAV is now a real arm (see test_wav.py): a RIFF blob routes to
        # the decoder, so malformed RIFF is a parse error, not a stub
        with pytest.raises(ValueError):
            mm.decode_real(b"RIFF....WAVE", "audio")
        # non-WAV audio and all video still stub loudly
        with pytest.raises(NotImplementedError):
            mm.decode_real(b"\x00" * 16, "audio")
        with pytest.raises(NotImplementedError):
            mm.decode_real(b"\x00" * 16, "video")

    def test_sniff_and_features_on_png(self, spark):
        rng = np.random.RandomState(3)
        arr = rng.randint(0, 256, size=(12, 17, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, "image", bytearray(mm.encode_png(arr))),
             (2, "image", bytearray(mm.encode_image(arr)))],
            "media_id long, kind string, data binary",
        )
        meta = {r.media_id: r.meta for r in mm.sniff_metadata(df).collect()}
        assert meta[1].format == "png"
        assert (meta[1].width, meta[1].height, meta[1].channels) == (17, 12, 3)
        assert meta[2].format == "hki1"
        feats = {r.media_id: r for r in mm.image_features(df).collect()}
        # PNG and HKI1 blobs of the same array give identical features
        assert feats[1].features == feats[2].features
        assert (feats[1].width, feats[1].height) == (17, 12)


class TestBMPCodec:
    """Round-7 third real codec arm: 24-bit BI_RGB BMP, pure stdlib."""

    def _img(self, h, w, seed=7):
        import numpy as np

        return np.random.RandomState(seed).randint(
            0, 256, size=(h, w, 3), dtype=np.uint8
        )

    def test_roundtrip_padded_width(self):
        # widths not divisible by 4 exercise the row padding
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        for w in (5, 6, 7, 8):
            img = self._img(3, w)
            back = mm.decode_bmp_bytes(mm.encode_bmp(img))
            assert back.shape == (3, w, 3)
            assert np.array_equal(back, img), w

    def test_top_down_negative_height(self):
        import numpy as np
        import struct

        from huckli_spark.operators import multimodal as mm

        img = self._img(4, 5)
        blob = bytearray(mm.encode_bmp(img))
        # flip to top-down: negate height, reverse the row order
        (h,) = struct.unpack_from("<i", blob, 22)
        struct.pack_into("<i", blob, 22, -h)
        stride = (3 * 5 + 3) // 4 * 4
        off = 54
        rows = [
            bytes(blob[off + y * stride : off + (y + 1) * stride])
            for y in range(4)
        ]
        blob[off:] = b"".join(reversed(rows))
        back = mm.decode_bmp_bytes(bytes(blob))
        assert np.array_equal(back, img)

    def test_unsupported_variants_raise_loudly(self):
        import struct

        import pytest

        from huckli_spark.operators import multimodal as mm

        blob = bytearray(mm.encode_bmp(self._img(2, 2)))
        b32 = bytearray(blob)
        struct.pack_into("<H", b32, 28, 32)
        with pytest.raises(NotImplementedError, match="32-bit"):
            mm.decode_bmp_bytes(bytes(b32))
        brle = bytearray(blob)
        struct.pack_into("<I", brle, 30, 1)  # BI_RLE8
        with pytest.raises(NotImplementedError, match="compression"):
            mm.decode_bmp_bytes(bytes(brle))
        with pytest.raises(ValueError, match="not a BMP"):
            mm.decode_bmp_bytes(b"XXbad")

    def test_sniff_reports_bmp_dims(self, spark):
        from huckli_spark.operators import multimodal as mm

        img = self._img(12, 17)
        df = spark.createDataFrame(
            [(1, bytearray(mm.encode_bmp(img)))], "media_id long, data binary"
        )
        r = mm.sniff_metadata(df).select("meta.*").collect()[0]
        assert (r["format"], r["width"], r["height"], r["channels"]) == (
            "bmp", 17, 12, 3,
        )

    def test_image_features_decodes_bmp(self, spark):
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        img = self._img(6, 9)
        df = spark.createDataFrame(
            [(5, bytearray(mm.encode_bmp(img)))], "media_id long, data binary"
        )
        r = mm.image_features(df).collect()[0]
        assert (r["width"], r["height"], r["channels"]) == (9, 6, 3)
        assert abs(r["features"][0] - float(img[:, :, 0].mean())) < 1e-9


class TestImageDhash:
    def test_brightness_shift_invariance(self, spark):
        # the property the dedup exploits: +k on every pixel (no
        # clipping) leaves the hash bit-identical
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        rng = np.random.RandomState(7)
        img = rng.randint(0, 200, size=(24, 33, 1), dtype=np.uint8)
        rows = [
            (0, mm.encode_png(img)),
            (1, mm.encode_png((img.astype(np.int64) + 40).astype(np.uint8))),
        ]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        got = {r.media_id: r.dhash for r in mm.image_dhash(df).collect()}
        assert got[0] == got[1]
        assert 0 <= got[0] < (1 << 60)

    def test_small_and_undecodable_blobs_yield_null(self, spark):
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        tiny = np.zeros((3, 5, 1), dtype=np.uint8)
        rows = [(0, mm.encode_png(tiny)), (1, b"not an image")]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        got = {r.media_id: r.dhash for r in mm.image_dhash(df).collect()}
        assert got == {0: None, 1: None}

    def test_pairs_match_bruteforce(self, spark):
        # banded pairs == brute-force XOR pairs on a crafted set with
        # near (1-2 bit) and far hashes
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        rng = np.random.RandomState(3)
        base = rng.randint(0, 200, size=(24, 33, 1), dtype=np.uint8)
        variant = base.copy()
        variant[0:4, 0:3, 0] += 40  # nudge one block region
        far = rng.randint(0, 200, size=(24, 33, 1), dtype=np.uint8)
        rows = [
            (0, mm.encode_png(base)),
            (1, mm.encode_png((base.astype(np.int64) + 10).astype(np.uint8))),
            (2, mm.encode_png(variant)),
            (3, mm.encode_png(far)),
        ]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        sigs = {r.media_id: r.dhash for r in mm.image_dhash(df).collect()}
        want = set()
        for a in sigs:
            for b in sigs:
                if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                    want.add((a, b))
        got = {
            (r.d1, r.d2)
            for r in mm.image_dedup_pairs(df, max_hamming=3).collect()
        }
        assert got == want
        assert (0, 1) in got  # brightness copy always survives


class TestAudioFingerprint:
    def test_gain_invariance(self, spark):
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        rng = np.random.RandomState(11)
        base = rng.randint(-3000, 3000, size=1220).astype(np.int16)
        rows = [
            (0, mm.encode_wav(base, 8000)),
            (1, mm.encode_wav((base.astype(np.int64) * 5)
                              .astype(np.int16), 8000)),
            (2, mm.encode_audio(base, 8000)),  # HKA1 arm, same samples
        ]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        got = {r.media_id: r.ahash for r in mm.audio_fingerprint(df).collect()}
        assert got[0] == got[1] == got[2]
        assert 0 <= got[0] < (1 << 60)

    def test_short_and_undecodable_yield_null(self, spark):
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        rows = [
            (0, mm.encode_wav(np.zeros(10, dtype=np.int16), 8000)),
            (1, b"junk"),
        ]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        got = {r.media_id: r.ahash for r in mm.audio_fingerprint(df).collect()}
        assert got == {0: None, 1: None}

    def test_pairs_match_bruteforce(self, spark):
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        rng = np.random.RandomState(5)
        base = rng.randint(-2000, 2000, size=1220).astype(np.int16)
        other = rng.randint(-2000, 2000, size=1220).astype(np.int16)
        rows = [
            (0, mm.encode_wav(base, 8000)),
            (1, mm.encode_wav((base.astype(np.int64) * 3)
                              .astype(np.int16), 8000)),
            (2, mm.encode_wav(other, 8000)),
        ]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        sigs = {r.media_id: r.ahash
                for r in mm.audio_fingerprint(df).collect()}
        want = {
            (a, b)
            for a in sigs for b in sigs
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        got = {
            (r.d1, r.d2)
            for r in mm.audio_dedup_pairs(df, max_hamming=3).collect()
        }
        assert got == want and (0, 1) in got


class TestVideoDedup:
    def test_shared_frames_counted_distinct(self, spark):
        import numpy as np

        from huckli_spark.operators import multimodal as mm

        rng = np.random.RandomState(9)
        f = [rng.randint(0, 200, size=(24, 33, 1), dtype=np.uint8)
             for _ in range(4)]
        rows = [
            (0, mm.encode_video([f[0], f[1], f[1]])),  # dup frame inside
            (1, mm.encode_video([f[1], f[2]])),
            (2, mm.encode_video([f[3]])),
            (3, b"not a video"),
        ]
        df = spark.createDataFrame(rows, "media_id long, data binary")
        got = {
            (r.d1, r.d2): r.n_shared
            for r in mm.video_dedup_pairs(df).collect()
        }
        assert got == {(0, 1): 1}


class TestFingerprintProperties:
    def test_dhash_brightness_invariance_property(self):
        # pure-function property: for ANY image and any non-clipping
        # shift, the hash is identical; and flipping one block's
        # brightness changes at most 2 bits (its two adjacent
        # comparisons)
        import numpy as np

        from huckli_spark.operators.multimodal import dhash_bits

        rng = np.random.RandomState(123)
        for trial in range(25):
            h = rng.randint(6, 40)
            w = rng.randint(11, 50)
            img = rng.randint(0, 200, size=(h, w, rng.randint(1, 4)),
                              dtype=np.uint8)
            base = dhash_bits(img)
            shift = int(rng.randint(1, 55))
            shifted = (img.astype(np.int64) + shift).astype(np.uint8)
            assert dhash_bits(shifted) == base, (trial, h, w, shift)

    def test_audio_hash_gain_invariance_property(self):
        import numpy as np

        from huckli_spark.operators.multimodal import audio_energy_hash

        rng = np.random.RandomState(321)
        for trial in range(25):
            n = int(rng.randint(61, 4000))
            s = rng.randint(-2000, 2000, size=n).astype(np.int64)
            base = audio_energy_hash(s)
            g = int(rng.randint(2, 16))
            assert audio_energy_hash(s * g) == base, (trial, n, g)
            # sign flip also cancels (|s| is what's summed)
            assert audio_energy_hash(-s) == base, (trial, n)


class TestCrossmodalDedup:
    def test_gate_non_vacuous_in_every_cell(self, spark):
        # the cross-modal gate is only meaningful if the fixture
        # exercises all three agreement cells: text-only, image-only,
        # AND the conjunctive (both non-NULL) subset that is the
        # actual pair-dedup cut — guard against a fixture change
        # silently emptying any cell (the q_anomaly_days lesson:
        # a 0-row gate passes vacuously)
        from pyspark.sql import functions as F

        from huckli_spark.queries import all_queries
        from tests.conftest import SF_SMALL

        df = all_queries()["q_crossmodal_dedup"].build(spark, SF_SMALL)
        cells = df.agg(
            F.sum(
                (F.col("text_hamming").isNotNull()
                 & F.col("image_hamming").isNotNull()).cast("int")
            ).alias("both"),
            F.sum(
                (F.col("text_hamming").isNotNull()
                 & F.col("image_hamming").isNull()).cast("int")
            ).alias("text_only"),
            F.sum(
                (F.col("text_hamming").isNull()
                 & F.col("image_hamming").isNotNull()).cast("int")
            ).alias("image_only"),
        ).collect()[0]
        assert cells["both"] > 0, cells
        assert cells["text_only"] > 0, cells
        assert cells["image_only"] > 0, cells
