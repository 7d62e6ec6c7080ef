"""Real uncompressed media codecs (functions/wavio.py, functions/netpbm.py)
and their mapInPandas decode operators — VERDICT r03 missing #2: image
and audio decode are now real for uncompressed formats, with only
compressed codecs left stubbed."""

from __future__ import annotations

import numpy as np
import pytest

from tlcn_oer_lakehouse_spark.functions.netpbm import (
    downsample_nearest,
    read_netpbm,
    write_pgm,
    write_ppm,
)
from tlcn_oer_lakehouse_spark.functions.wavio import read_wav, write_wav


class TestWavCodec:
    def test_round_trip_mono(self):
        smp = np.array([0, 1000, -1000, 32767, -32768], dtype=np.int16)
        out, sr, ch = read_wav(write_wav(smp, 8000))
        assert sr == 8000 and ch == 1
        assert np.array_equal(out, smp)

    def test_round_trip_stereo_interleaved(self):
        smp = np.arange(-100, 100, dtype=np.int16)  # 100 frames x 2 ch
        out, sr, ch = read_wav(write_wav(smp, 44100, channels=2))
        assert sr == 44100 and ch == 2
        assert np.array_equal(out, smp)

    def test_chunk_walk_skips_interleaved_chunks(self):
        # real encoders put LIST/fact chunks between fmt and data
        import struct

        smp = np.array([7, -7], dtype=np.int16)
        wav = bytearray(write_wav(smp, 8000))
        extra = struct.pack("<4sI", b"LIST", 5) + b"INFOx" + b"\x00"  # odd size, padded
        wav[36:36] = extra  # inject after fmt chunk (12+24 header bytes)
        out, sr, ch = read_wav(bytes(wav))
        assert np.array_equal(out, smp) and sr == 8000

    @pytest.mark.parametrize(
        "payload", [b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WAV_", b"not audio"]
    )
    def test_rejects_non_wav(self, payload):
        with pytest.raises(ValueError):
            read_wav(payload)

    def test_rejects_non_pcm(self):
        wav = bytearray(write_wav(np.array([1], dtype=np.int16), 8000))
        wav[20] = 3  # audio_format = IEEE float
        with pytest.raises(ValueError, match="audio_format"):
            read_wav(bytes(wav))


class TestNetpbmCodec:
    def test_pgm_round_trip(self):
        px = np.arange(24, dtype=np.uint8).reshape(4, 6)
        assert np.array_equal(read_netpbm(write_pgm(px)), px)

    def test_ppm_round_trip(self):
        px = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
        assert np.array_equal(read_netpbm(write_ppm(px)), px)

    def test_header_comments_and_whitespace(self):
        raw = b"P5\n# a comment\n 3\t2 # trailing\n255\n" + bytes(range(6))
        px = read_netpbm(raw)
        assert px.shape == (2, 3) and px[1, 2] == 5

    def test_truncated_raster_rejected(self):
        raw = write_pgm(np.zeros((4, 4), dtype=np.uint8))[:-1]
        with pytest.raises(ValueError, match="truncated"):
            read_netpbm(raw)

    @pytest.mark.parametrize("payload", [b"", b"P3\n1 1\n255\n9", b"\x89PNG"])
    def test_rejects_non_binary_netpbm(self, payload):
        with pytest.raises(ValueError):
            read_netpbm(payload)

    def test_downsample_nearest_stride(self):
        px = np.arange(100, dtype=np.uint8).reshape(10, 10)
        th = downsample_nearest(px, 4)  # k = ceil(10/4) = 3 -> dims ceil(10/3) = 4
        assert th.shape == (4, 4)
        assert np.array_equal(th, px[::3, ::3])

    def test_downsample_small_image_unchanged(self):
        px = np.arange(12, dtype=np.uint8).reshape(3, 4)
        assert np.array_equal(downsample_nearest(px, 4), px)


class TestDecodeOperators:
    def test_wav_features_values_and_error_isolation(self, spark):
        import math

        smp = np.array([3, -4], dtype=np.int16)
        rows = [(1, bytearray(write_wav(smp, 8000))), (2, bytearray(b"junk"))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        from tlcn_oer_lakehouse_spark.operators.multimodal import wav_features

        got = {r.doc_id: r for r in wav_features(df).collect()}
        ok = got[1]
        assert ok.decode_status == "ok"
        assert ok.n_samples == 2 and ok.sample_rate == 8000
        assert ok.rms_amplitude == math.sqrt((9 + 16) / 2)
        assert ok.peak_amplitude == 4
        assert got[2].decode_status.startswith("ValueError") and got[2].sample_rate == -1

    def test_image_features_values_and_thumbnail(self, spark):
        px = np.arange(60, dtype=np.uint8).reshape(6, 10)
        rows = [(1, bytearray(write_pgm(px))), (2, bytearray(b"\xff\xd8junk"))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        from tlcn_oer_lakehouse_spark.operators.multimodal import image_features

        got = {r.doc_id: r for r in image_features(df, thumb_side=4).collect()}
        ok = got[1]
        assert (ok.width, ok.height, ok.channels) == (10, 6, 1)
        assert ok.mean_luma == sum(range(60)) / 60
        # k = ceil(10/4) = 3 -> thumb 4x2
        assert (ok.thumb_width, ok.thumb_height) == (4, 2)
        assert ok.thumb_pixel_sum == int(px[::3, ::3].sum())
        import hashlib

        assert ok.thumb_md5 == hashlib.md5(px[::3, ::3].tobytes()).hexdigest()
        assert got[2].decode_status.startswith("ValueError") and got[2].width == -1

    def test_decode_asset_routing(self, spark):
        from tlcn_oer_lakehouse_spark.operators.multimodal import decode_asset

        df = spark.createDataFrame(
            [(1, bytearray(write_wav(np.array([1], dtype=np.int16), 8000)))],
            "doc_id long, payload binary",
        )
        assert decode_asset(df, "wav").collect()[0].decode_status == "ok"
        with pytest.raises(NotImplementedError):
            decode_asset(df, "webp")


class TestPngCodec:
    """functions/pngio.py: real compressed decode — stdlib-zlib DEFLATE,
    chunk CRCs, all five scanline filters, palette expansion."""

    def _round_trip(self, px, mode):
        from tlcn_oer_lakehouse_spark.functions.pngio import read_png, write_png

        out = read_png(write_png(px, filter_mode=mode))
        assert out.shape == px.shape
        assert np.array_equal(out, px)

    @pytest.mark.parametrize("mode", ["none", "mixed"])
    def test_gray_rgb_rgba_round_trips(self, mode):
        rng = np.random.default_rng(7)
        for shape in [(6, 9), (5, 8, 3), (7, 4, 4), (1, 1), (12, 3, 3)]:
            self._round_trip(rng.integers(0, 256, size=shape, dtype=np.uint8), mode)

    def test_mixed_filters_exercise_every_type(self):
        # 6 rows -> scanline filters 0,1,2,3,4,0 all present in the stream
        import zlib

        from tlcn_oer_lakehouse_spark.functions.pngio import write_png

        px = np.arange(6 * 5 * 3, dtype=np.uint8).reshape(6, 5, 3)
        payload = write_png(px, filter_mode="mixed")
        idat_off = payload.index(b"IDAT") + 4
        (length,) = __import__("struct").unpack_from(">I", payload, idat_off - 8)
        raw = zlib.decompress(payload[idat_off : idat_off + length])
        stride = 5 * 3
        filters = [raw[y * (1 + stride)] for y in range(6)]
        assert filters == [0, 1, 2, 3, 4, 0]

    def test_palette_expansion(self):
        import struct
        import zlib

        from tlcn_oer_lakehouse_spark.functions.pngio import (
            _SIGNATURE,
            _chunk,
            read_png,
        )

        idx = np.array([[0, 1], [2, 1]], dtype=np.uint8)
        pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
        raw = b"".join(b"\x00" + row.tobytes() for row in idx)
        png = (
            _SIGNATURE
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
            + _chunk(b"PLTE", pal.tobytes())
            + _chunk(b"IDAT", zlib.compress(raw))
            + _chunk(b"IEND", b"")
        )
        out = read_png(png)
        assert out.shape == (2, 2, 3)
        assert np.array_equal(out, pal[idx])

    def test_crc_corruption_rejected(self):
        from tlcn_oer_lakehouse_spark.functions.pngio import read_png, write_png

        payload = bytearray(write_png(np.zeros((3, 3), dtype=np.uint8)))
        payload[payload.index(b"IDAT") + 6] ^= 0xFF  # flip an IDAT byte
        with pytest.raises((ValueError, Exception)):
            read_png(bytes(payload))

    @pytest.mark.parametrize(
        "payload", [b"", b"\x89PNG\r\n\x1a\x00rest", b"not a png at all"]
    )
    def test_rejects_non_png(self, payload):
        from tlcn_oer_lakehouse_spark.functions.pngio import read_png

        with pytest.raises(ValueError):
            read_png(payload)

    def test_image_features_sniffs_png(self, spark):
        from tlcn_oer_lakehouse_spark.functions.pngio import write_png
        from tlcn_oer_lakehouse_spark.operators.multimodal import image_features

        px = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
        rows = [
            (1, bytearray(write_png(px, filter_mode="mixed"))),
            (2, bytearray(write_pgm(px[:, :, 0].copy()))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r.doc_id: r for r in image_features(df, thumb_side=4).collect()}
        assert (got[1].width, got[1].height, got[1].channels) == (4, 3, 3)
        assert got[1].mean_luma == sum(range(36)) / 36
        assert (got[2].width, got[2].height, got[2].channels) == (4, 3, 1)

    def test_decode_asset_accepts_png(self, spark):
        from tlcn_oer_lakehouse_spark.functions.pngio import write_png
        from tlcn_oer_lakehouse_spark.operators.multimodal import decode_asset

        df = spark.createDataFrame(
            [(1, bytearray(write_png(np.ones((2, 2), dtype=np.uint8))))],
            "doc_id long, payload binary",
        )
        assert decode_asset(df, "png").collect()[0].decode_status == "ok"


class TestJpegCodec:
    """functions/jpegio.py: real baseline JPEG — lossy, so round trips
    assert error bounds, and constant 8×8 blocks (DC-only) assert the
    exact closed form the mm_jpeg_decode oracle replays."""

    def test_constant_blocks_have_exact_closed_form(self):
        from tlcn_oer_lakehouse_spark.functions.jpegio import (
            dc_quantizer,
            read_jpeg,
            write_jpeg,
        )

        q = dc_quantizer(50)
        assert q == 16
        for v in [0, 1, 8, 127, 128, 129, 254, 255]:
            img = np.full((16, 24), v, dtype=np.uint8)
            out = read_jpeg(write_jpeg(img, quality=50))
            qdc = np.floor((v - 128) * 8 / q + 0.5)
            exp = min(255, max(0, int(np.floor(qdc * q / 8 + 128 + 0.5))))
            assert out.shape == img.shape
            assert (out == exp).all(), (v, out[0, 0], exp)

    def test_gray_round_trip_bounded_error(self):
        from tlcn_oer_lakehouse_spark.functions.jpegio import read_jpeg, write_jpeg

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (24, 17), dtype=np.uint8)  # odd width: crop path
        out = read_jpeg(write_jpeg(img, quality=90))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 40

    def test_rgb_round_trip_bounded_error(self):
        from tlcn_oer_lakehouse_spark.functions.jpegio import read_jpeg, write_jpeg

        rng = np.random.default_rng(4)
        img = rng.integers(0, 256, (13, 19, 3), dtype=np.uint8)
        out = read_jpeg(write_jpeg(img, quality=90))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 64

    def test_smooth_content_high_quality_is_tight(self):
        from tlcn_oer_lakehouse_spark.functions.jpegio import read_jpeg, write_jpeg

        yy, xx = np.mgrid[0:32, 0:32]
        img = (128 + 60 * np.sin(yy / 6) + 40 * np.cos(xx / 5)).astype(np.uint8)
        out = read_jpeg(write_jpeg(img, quality=95))
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 4

    @pytest.mark.parametrize(
        "payload", [b"", b"\xff\xd8junk", b"not a jpeg", b"\xff\xd9\xff\xd8"]
    )
    def test_rejects_garbage(self, payload):
        from tlcn_oer_lakehouse_spark.functions.jpegio import read_jpeg

        with pytest.raises(ValueError):
            read_jpeg(payload)

    def test_rejects_progressive(self):
        from tlcn_oer_lakehouse_spark.functions.jpegio import read_jpeg, write_jpeg

        payload = bytearray(write_jpeg(np.zeros((8, 8), dtype=np.uint8)))
        payload[payload.index(b"\xff\xc0") + 1] = 0xC2  # SOF0 -> SOF2
        with pytest.raises(ValueError, match="non-baseline"):
            read_jpeg(bytes(payload))

    def test_image_features_sniffs_jpeg(self, spark):
        from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg
        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            decode_asset,
            image_features,
        )

        img = np.full((8, 8), 100, dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(write_jpeg(img, quality=50)))],
            "doc_id long, payload binary",
        )
        row = image_features(df, thumb_side=4).collect()[0]
        assert (row.width, row.height, row.channels) == (8, 8, 1)
        assert row.decode_status == "ok"
        assert decode_asset(df, "jpeg").collect()[0].decode_status == "ok"


class TestCodecProperties:
    """Hypothesis round-trips: encode∘decode is identity for arbitrary
    sample arrays / rasters — pure-Python, no Spark jobs, so examples
    are cheap."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0,
                 max_size=300),
        st.sampled_from([8000, 16000, 44100]),
    )
    @settings(max_examples=50, deadline=None)
    def test_wav_round_trip_any_samples(self, samples, sr):
        smp = np.array(samples, dtype=np.int16)
        out, got_sr, ch = read_wav(write_wav(smp, sr))
        assert got_sr == sr and ch == 1
        assert np.array_equal(out, smp)

    @given(st.integers(min_value=1, max_value=40), st.integers(min_value=1, max_value=40),
           st.integers(min_value=0, max_value=2**32 - 1))
    @settings(max_examples=50, deadline=None)
    def test_pgm_round_trip_any_raster(self, w, h, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert np.array_equal(read_netpbm(write_pgm(px)), px)

    @given(st.integers(min_value=1, max_value=24), st.integers(min_value=1, max_value=24),
           st.sampled_from([1, 3, 4]), st.integers(min_value=0, max_value=2**32 - 1),
           st.sampled_from(["none", "mixed"]))
    @settings(max_examples=40, deadline=None)
    def test_png_round_trip_any_raster(self, w, h, channels, seed, mode):
        from tlcn_oer_lakehouse_spark.functions.pngio import read_png, write_png

        rng = np.random.default_rng(seed)
        shape = (h, w) if channels == 1 else (h, w, channels)
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(read_png(write_png(px, filter_mode=mode)), px)

    @given(st.integers(min_value=1, max_value=64), st.integers(min_value=1, max_value=64),
           st.integers(min_value=1, max_value=16))
    @settings(max_examples=50, deadline=None)
    def test_downsample_dims_formula(self, w, h, max_side):
        px = np.zeros((h, w), dtype=np.uint8)
        th = downsample_nearest(px, max_side)
        k = max(1, -(-max(h, w) // max_side))
        assert th.shape == (-(-h // k), -(-w // k))
        # ceil(m / ceil(m / s)) <= s: the thumbnail never exceeds max_side
        assert max(th.shape) <= max_side


class TestStreamingDecode:
    def test_wav_features_on_binary_stream(self, spark, tmp_path):
        """The decode operators are stream-transparent: the same
        mapInPandas stage runs on a readStream source micro-batch —
        multimodal ingest composes with Structured Streaming."""
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StructField,
            StructType,
        )

        from tlcn_oer_lakehouse_spark.operators.multimodal import wav_features

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        )
        landing = str(tmp_path / "wav_landing")
        rows = [
            (1, bytearray(write_wav(np.array([3, -4], dtype=np.int16), 8000))),
            (2, bytearray(b"junk")),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{landing}/b1")

        stream = spark.readStream.schema(schema).parquet(f"{landing}/*")
        q = (
            wav_features(stream)
            .writeStream.format("memory")
            .queryName("wav_stream_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.doc_id: r for r in spark.table("wav_stream_test").collect()}
        assert got[1].decode_status == "ok" and got[1].n_samples == 2
        assert got[2].decode_status.startswith("ValueError")

    def test_video_frames_on_binary_stream(self, spark, tmp_path):
        """Video frame sampling is stream-transparent too: the AVI
        container walk + per-frame JPEG decode runs unchanged on a
        readStream micro-batch, with per-asset error isolation."""
        from pyspark.sql.types import (
            BinaryType,
            LongType,
            StructField,
            StructType,
        )

        from tlcn_oer_lakehouse_spark.functions.aviio import write_avi_mjpeg
        from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg
        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            video_frame_features,
        )

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        )
        frames = [
            write_jpeg(np.full((8, 8), v, dtype=np.uint8), quality=50)
            for v in (10, 200)
        ]
        landing = str(tmp_path / "avi_landing")
        rows = [
            (1, bytearray(write_avi_mjpeg(frames, width=8, height=8))),
            (2, bytearray(b"RIFFjunk")),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{landing}/b1")

        stream = spark.readStream.schema(schema).parquet(f"{landing}/*")
        q = (
            video_frame_features(stream)
            .writeStream.format("memory")
            .queryName("avi_stream_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows_out = spark.table("avi_stream_test").collect()
        ok = sorted(
            (r.frame_no, r.width, r.height) for r in rows_out if r.doc_id == 1
        )
        assert ok == [(0, 8, 8), (1, 8, 8)]
        err = [r for r in rows_out if r.doc_id == 2]
        assert len(err) == 1 and err[0].decode_status == "error"


class TestGifCodec:
    """functions/gifio.py: real LZW decompression — variable code
    width, dictionary growth to 12 bits, clear-code reset, KwKwK case,
    palette expansion.  GIF is lossless, so round trips are exact."""

    def test_round_trip_small(self):
        from tlcn_oer_lakehouse_spark.functions.gifio import read_gif, write_gif

        a = np.array([[0, 255], [128, 0]], dtype=np.uint8)
        out = read_gif(write_gif(a))
        assert out.shape == (2, 2, 3)
        assert np.array_equal(out[:, :, 0], a)
        assert np.array_equal(out[:, :, 1], a)  # gray → 3 equal channels

    def test_round_trip_forces_code_growth_and_reset(self):
        from tlcn_oer_lakehouse_spark.functions.gifio import read_gif, write_gif

        rng = np.random.default_rng(11)
        # 256-level noise, 12k pixels: codes grow 9→12 bits, dictionary
        # hits 4096 and resets via clear codes
        g = rng.integers(0, 256, (100, 120), dtype=np.uint8)
        out = read_gif(write_gif(g))
        assert np.array_equal(out[:, :, 0], g)

    def test_rgb_palette_round_trip(self):
        from tlcn_oer_lakehouse_spark.functions.gifio import read_gif, write_gif

        rng = np.random.default_rng(12)
        pal = rng.integers(0, 256, (200, 3), dtype=np.uint8)
        img = pal[rng.integers(0, 200, (30, 40))]
        assert np.array_equal(read_gif(write_gif(img)), img)

    def test_lzw_actually_compresses(self):
        from tlcn_oer_lakehouse_spark.functions.gifio import write_gif

        rep = np.tile(np.arange(16, dtype=np.uint8) * 16, (40, 10))
        assert len(write_gif(rep)) < rep.size // 4

    def test_too_many_colors_rejected(self):
        from tlcn_oer_lakehouse_spark.functions.gifio import write_gif

        rng = np.random.default_rng(13)
        with pytest.raises(ValueError, match="palette"):
            write_gif(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8))

    @pytest.mark.parametrize("payload", [b"", b"GIF89a" + b"\x00" * 10, b"bogus"])
    def test_rejects_garbage(self, payload):
        from tlcn_oer_lakehouse_spark.functions.gifio import read_gif

        with pytest.raises(ValueError):
            read_gif(payload)

    def test_image_features_sniffs_gif(self, spark):
        from tlcn_oer_lakehouse_spark.functions.gifio import write_gif
        from tlcn_oer_lakehouse_spark.operators.multimodal import decode_asset

        a = np.array([[10, 20], [30, 40]], dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(write_gif(a)))], "doc_id long, payload binary"
        )
        row = decode_asset(df, "gif").collect()[0]
        assert (row.width, row.height, row.channels) == (2, 2, 3)
        assert row.mean_luma == 25.0
        assert row.decode_status == "ok"


class TestAviCodec:
    """RIFF/AVI MJPEG container codec (functions/aviio.py)."""

    @staticmethod
    def _gray_jpeg(value: int, w_blocks: int = 2, h_blocks: int = 1) -> bytes:
        import numpy as np

        from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg

        px = np.full((h_blocks * 8, w_blocks * 8), value, dtype=np.uint8)
        return write_jpeg(px, quality=50)

    def test_container_round_trip(self):
        from tlcn_oer_lakehouse_spark.functions.aviio import (
            read_avi_mjpeg,
            write_avi_mjpeg,
        )

        frames = [self._gray_jpeg(v) for v in (10, 130, 250)]
        avi = write_avi_mjpeg(frames, width=16, height=8, fps=25)
        meta = read_avi_mjpeg(avi)
        assert (meta["width"], meta["height"]) == (16, 8)
        assert meta["n_frames"] == 3 and meta["fps"] == 25
        assert meta["frames"] == frames  # container is byte-lossless

    def test_odd_sized_frames_word_aligned(self):
        # JPEG payloads of odd byte length force the word-alignment path
        from tlcn_oer_lakehouse_spark.functions.aviio import (
            read_avi_mjpeg,
            write_avi_mjpeg,
        )

        frames = [self._gray_jpeg(v) for v in (7, 99)]
        odd = [f + b"\xff\xd9"[0:1] * (1 - len(f) % 2) for f in frames]
        avi = write_avi_mjpeg(odd, width=16, height=8)
        assert read_avi_mjpeg(avi)["frames"] == odd

    def test_rejects_garbage_and_truncation(self):
        import pytest

        from tlcn_oer_lakehouse_spark.functions.aviio import (
            read_avi_mjpeg,
            write_avi_mjpeg,
        )

        with pytest.raises(ValueError):
            read_avi_mjpeg(b"not an avi at all")
        avi = write_avi_mjpeg([self._gray_jpeg(42)], width=16, height=8)
        with pytest.raises(ValueError):
            read_avi_mjpeg(avi[: len(avi) // 2])  # truncated RIFF

    def test_rejects_non_mjpeg_stream(self):
        import pytest

        from tlcn_oer_lakehouse_spark.functions.aviio import (
            read_avi_mjpeg,
            write_avi_mjpeg,
        )

        avi = bytearray(write_avi_mjpeg([self._gray_jpeg(1)], width=16, height=8))
        i = avi.find(b"vidsMJPG")
        avi[i + 4 : i + 8] = b"XVID"
        with pytest.raises(ValueError, match="not MJPEG"):
            read_avi_mjpeg(bytes(avi))

    def test_frame_sampling_even_spacing(self, spark):
        import pandas as pd

        from tlcn_oer_lakehouse_spark.functions.aviio import write_avi_mjpeg
        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            video_frame_features,
        )

        frames = [self._gray_jpeg(v) for v in range(0, 100, 10)]  # 10 frames
        avi = write_avi_mjpeg(frames, width=16, height=8)
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "payload": [avi]})
        )
        rows = video_frame_features(df, n_sample=4).orderBy("frame_no").collect()
        # idx = f * 10 // 4 -> 0, 2, 5, 7
        assert [r.frame_no for r in rows] == [0, 2, 5, 7]
        assert all(r.n_frames == 10 and r.decode_status == "ok" for r in rows)

    def test_corrupt_payload_yields_error_row(self, spark):
        import pandas as pd

        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            video_frame_features,
        )

        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [9], "payload": [b"RIFFgarbage"]})
        )
        rows = video_frame_features(df).collect()
        assert len(rows) == 1 and rows[0].decode_status == "error"

    def test_container_round_trip_any_frame_set(self):
        from hypothesis import given, settings, strategies as st

        from tlcn_oer_lakehouse_spark.functions.aviio import (
            read_avi_mjpeg,
            write_avi_mjpeg,
        )

        @settings(max_examples=20, deadline=None)
        @given(
            st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=8),
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=1, max_value=60),
        )
        def run(values, wb, hb, fps):
            frames = [self._gray_jpeg(v, w_blocks=wb, h_blocks=hb) for v in values]
            meta = read_avi_mjpeg(
                write_avi_mjpeg(frames, width=wb * 8, height=hb * 8, fps=fps)
            )
            assert meta["frames"] == frames
            assert meta["n_frames"] == len(frames)
            assert (meta["width"], meta["height"]) == (wb * 8, hb * 8)

        run()


class TestWavQuadrature:
    """Integer-exact spectral bins: pure tones at the three representable
    frequencies land all their energy in their own bin."""

    def _features(self, spark, samples):
        import numpy as np

        from tlcn_oer_lakehouse_spark.functions.wavio import write_wav
        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            wav_quadrature_features,
        )

        payload = write_wav(np.asarray(samples, dtype="<i2"), 8000)
        df = spark.createDataFrame([(1, bytearray(payload))],
                                   "doc_id long, payload binary")
        rows = wav_quadrature_features(df, window_samples=256).collect()
        assert len(rows) == 1
        return rows[0]

    def test_dc_tone(self, spark):
        r = self._features(spark, [100] * 256)
        assert (r.p_dc, r.p_nyquist, r.p_quadrature) == ((100 * 256) ** 2, 0, 0)

    def test_nyquist_tone(self, spark):
        r = self._features(spark, [100, -100] * 128)
        assert (r.p_dc, r.p_nyquist, r.p_quadrature) == (0, (100 * 256) ** 2, 0)

    def test_quadrature_tone(self, spark):
        r = self._features(spark, [100, 0, -100, 0] * 64)
        assert (r.p_dc, r.p_nyquist, r.p_quadrature) == (0, 0, (100 * 128) ** 2)

    def test_parseval_mix(self, spark):
        # a mix of all three tones separates exactly (orthogonal basis)
        sig = [40 + 30 * (1 if i % 2 == 0 else -1)
               + 20 * (1 if i % 4 == 0 else (-1 if i % 4 == 2 else 0))
               for i in range(256)]
        r = self._features(spark, sig)
        assert r.p_dc == (40 * 256) ** 2
        assert r.p_nyquist == (30 * 256) ** 2
        assert r.p_quadrature == (20 * 128) ** 2

    def test_garbage_payload_isolated(self, spark):
        df = spark.createDataFrame([(9, bytearray(b"not a wav"))],
                                   "doc_id long, payload binary")
        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            wav_quadrature_features,
        )

        rows = wav_quadrature_features(df).collect()
        assert rows[0].window_no == -1 and rows[0].p_dc == -1


class TestMp4Codec:
    """ISO BMFF container: box-tree walk + sample-table expansion
    (functions/mp4io.py) and the mp4_frame_features operator."""

    def _frames(self, n=4, w=16, h=8):
        import numpy as np

        from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg

        out = []
        for f in range(n):
            vals = np.array([[(f * 37 + j * 11) % 256 for j in range(w // 8)]],
                            dtype=np.int64)
            px = np.kron(vals, np.ones((h, 8), dtype=np.int64)).astype(np.uint8)
            out.append(write_jpeg(px, quality=50))
        return out

    def test_round_trip_bytes_exact(self):
        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            read_mp4,
            write_mp4_mjpeg,
        )

        frames = self._frames(5)
        meta = read_mp4(write_mp4_mjpeg(frames, 16, 8, fps=25, sync_every=3))
        assert meta["codec"] == "jpeg"
        assert (meta["width"], meta["height"]) == (16, 8)
        assert meta["timescale"] == 25 and meta["duration"] == 5
        assert meta["frames"] == frames  # byte-exact sample extraction
        assert [s["dts"] for s in meta["samples"]] == [0, 1, 2, 3, 4]
        assert [s["sync"] for s in meta["samples"]] == [
            True, False, False, True, False]

    def test_sample_offsets_are_absolute_and_ordered(self):
        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            read_mp4,
            write_mp4_mjpeg,
        )

        frames = self._frames(3)
        buf = write_mp4_mjpeg(frames, 16, 8)
        meta = read_mp4(buf)
        for s, f in zip(meta["samples"], frames):
            assert buf[s["offset"]:s["offset"] + s["size"]] == f

    def test_malformed_payloads_raise(self):
        import pytest as _pytest

        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            read_mp4,
            write_mp4_mjpeg,
        )

        with _pytest.raises(ValueError, match="ftyp"):
            read_mp4(b"RIFF\x00\x00\x00\x00AVI ")
        buf = bytearray(write_mp4_mjpeg(self._frames(2), 16, 8))
        with _pytest.raises(ValueError):
            read_mp4(bytes(buf[:40]))  # truncated inside mdat

    def test_missing_sample_table_raises(self):
        import struct

        from tlcn_oer_lakehouse_spark.functions.mp4io import read_mp4

        # ftyp + empty moov: every required box missing
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        moov = struct.pack(">I", 8) + b"moov"
        try:
            read_mp4(ftyp + moov)
            raise AssertionError("should have raised")
        except ValueError as e:
            assert "missing required box" in str(e)

    def test_unsupported_codec_yields_metadata_row(self, spark):
        """An avc1 track parses at the container level but has no pure-
        Python pixel decoder — the operator must surface the parsed
        metadata with decode_status='unsupported_codec', not die."""
        from tlcn_oer_lakehouse_spark.functions.mp4io import write_mp4_mjpeg
        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            mp4_frame_features,
        )

        buf = bytearray(write_mp4_mjpeg(self._frames(2), 16, 8))
        idx = bytes(buf).find(b"jpeg", 200)  # the stsd sample-entry fourcc
        buf[idx:idx + 4] = b"avc1"
        df = spark.createDataFrame([(1, bytes(buf))],
                                   "doc_id long, payload binary")
        rows = mp4_frame_features(df).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.decode_status == "unsupported_codec"
        assert (r.width, r.height, r.n_frames) == (16, 8, 2)

    def test_operator_frame_sampling(self, spark):
        from tlcn_oer_lakehouse_spark.functions.mp4io import write_mp4_mjpeg
        from tlcn_oer_lakehouse_spark.operators.multimodal import (
            mp4_frame_features,
        )

        buf = write_mp4_mjpeg(self._frames(8), 16, 8)
        df = spark.createDataFrame([(1, buf)], "doc_id long, payload binary")
        rows = mp4_frame_features(df, n_sample=4).collect()
        assert [r.frame_no for r in rows] == [0, 2, 4, 6]
        assert all(r.decode_status == "ok" for r in rows)
        assert all(r.n_frames == 8 for r in rows)


class TestMp4Property:
    def test_container_round_trip_any_frame_set(self):
        """Any frame multiset, any fps/sync cadence: the box tree +
        sample tables must reproduce every frame byte-exactly with the
        declared timing and keyframe pattern."""
        import numpy as np
        from hypothesis import given, settings, strategies as st

        from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg
        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            read_mp4,
            write_mp4_mjpeg,
        )

        def gray(v, wb, hb):
            px = np.full((hb * 8, wb * 8), v, dtype=np.uint8)
            return write_jpeg(px, quality=50)

        @settings(max_examples=20, deadline=None)
        @given(
            st.lists(st.integers(min_value=0, max_value=255), min_size=1,
                     max_size=8),
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=1, max_value=60),
            st.integers(min_value=1, max_value=5),
        )
        def run(values, wb, hb, fps, sync_every):
            frames = [gray(v, wb, hb) for v in values]
            meta = read_mp4(write_mp4_mjpeg(
                frames, width=wb * 8, height=hb * 8, fps=fps,
                sync_every=sync_every,
            ))
            assert meta["frames"] == frames
            assert meta["n_frames"] == len(frames)
            assert (meta["width"], meta["height"]) == (wb * 8, hb * 8)
            assert meta["timescale"] == fps
            assert [s["dts"] for s in meta["samples"]] == list(range(len(frames)))
            assert [s["sync"] for s in meta["samples"]] == [
                i % sync_every == 0 for i in range(len(frames))]

        run()


class TestMp4Hardening:
    """Round-6 ADVICE fixes: declared-count bounds, per-track first-wins,
    sync_every validation."""

    def _frames(self, n=2, w=16, h=8):
        import numpy as np

        from tlcn_oer_lakehouse_spark.functions.jpegio import write_jpeg

        return [
            write_jpeg(np.full((h, w), (f * 37) % 256, dtype=np.uint8),
                       quality=50)
            for f in range(n)
        ]

    def test_sync_every_zero_raises(self):
        import pytest as _pytest

        from tlcn_oer_lakehouse_spark.functions.mp4io import write_mp4_mjpeg

        with _pytest.raises(ValueError, match="sync_every"):
            write_mp4_mjpeg(self._frames(2), 16, 8, sync_every=0)

    def _patch_u32(self, buf, marker, field_off, value):
        """Overwrite the uint32 at `field_off` past the first `marker`
        fourcc in `buf`."""
        import struct

        i = buf.find(marker)
        assert i >= 0
        out = bytearray(buf)
        out[i + field_off : i + field_off + 4] = struct.pack(">I", value)
        return bytes(out)

    def test_hostile_stsz_count_raises_not_allocates(self):
        """A crafted stsz declaring ~2^31 fixed-size samples must raise
        ValueError, not allocate a multi-GB list (MemoryError would
        escape mp4_frame_features' per-row try/except)."""
        import pytest as _pytest

        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            read_mp4,
            write_mp4_mjpeg,
        )

        buf = write_mp4_mjpeg(self._frames(2), 16, 8)
        # stsz payload: version/flags (4) + fixed_size (4) + count (4)
        hostile = self._patch_u32(buf, b"stsz", 4 + 4, 4)       # fixed=4
        hostile = self._patch_u32(hostile, b"stsz", 4 + 8, 2**31)
        with _pytest.raises(ValueError, match="stsz"):
            read_mp4(hostile)
        # variable-size path: count beyond the box's own entries
        hostile2 = self._patch_u32(buf, b"stsz", 4 + 8, 2**31)
        with _pytest.raises(ValueError):
            read_mp4(hostile2)

    def test_hostile_stts_run_count_raises(self):
        import pytest as _pytest

        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            read_mp4,
            write_mp4_mjpeg,
        )

        buf = write_mp4_mjpeg(self._frames(2), 16, 8)
        # stts payload: version/flags (4) + n_runs (4) + [cnt, delta]
        # hostile per-run sample count (n_runs stays 1, box size intact)
        hostile = self._patch_u32(buf, b"stts", 4 + 8, 2**31)
        with _pytest.raises(ValueError, match="stts"):
            read_mp4(hostile)
        # hostile run-table length
        hostile2 = self._patch_u32(buf, b"stts", 4 + 4, 2**30)
        with _pytest.raises(ValueError, match="stts"):
            read_mp4(hostile2)

    def test_hostile_stco_stss_counts_raise(self):
        import pytest as _pytest

        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            read_mp4,
            write_mp4_mjpeg,
        )

        buf = write_mp4_mjpeg(self._frames(2), 16, 8)
        for marker in (b"stco", b"stss"):
            hostile = self._patch_u32(buf, marker, 4 + 4, 2**30)
            with _pytest.raises(ValueError, match="entries"):
                read_mp4(hostile)

    def test_second_track_not_merged_into_first(self):
        """A leading metadata-only trak (the audio-first layout) must NOT
        be silently completed with the second trak's sample tables —
        per-track first-wins surfaces the incomplete track as an error
        instead of a wrong-but-plausible cross-track merge."""
        import struct

        import pytest as _pytest

        from tlcn_oer_lakehouse_spark.functions.mp4io import (
            _box,
            _full,
            read_mp4,
            write_mp4_mjpeg,
        )

        buf = write_mp4_mjpeg(self._frames(2), 16, 8)
        # carve up the written file: ftyp, mdat, moov(mvhd + trak)
        def boxes(b, pos, end):
            out = []
            while pos + 8 <= end:
                size = struct.unpack(">I", b[pos:pos + 4])[0]
                out.append((b[pos + 4:pos + 8], b[pos:pos + size]))
                pos += size
            return out

        top = dict(boxes(buf, 0, len(buf)))
        moov_children = boxes(top[b"moov"], 8, len(top[b"moov"]))
        mvhd = next(b for t, b in moov_children if t == b"mvhd")
        video_trak = next(b for t, b in moov_children if t == b"trak")
        # a bare trak with tkhd+mdhd only — no stbl at all
        stub_tkhd = _full(b"tkhd", 0, 7, struct.pack(">5I", 0, 0, 2, 0, 2)
                          + b"\x00" * 52 + struct.pack(">II", 0, 0))
        stub_mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, 10, 2)
                          + struct.pack(">HH", 0x55C4, 0))
        stub_trak = _box(b"trak", stub_tkhd + _box(b"mdia", stub_mdhd))
        moov2 = _box(b"moov", mvhd + stub_trak + video_trak)
        hostile = top[b"ftyp"] + top[b"mdat"] + moov2
        with _pytest.raises(ValueError, match="missing required box"):
            read_mp4(hostile)
        # and with the complete video trak first, the file reads fine
        moov3 = _box(b"moov", mvhd + video_trak + stub_trak)
        meta = read_mp4(top[b"ftyp"] + top[b"mdat"] + moov3)
        assert meta["n_frames"] == 2 and meta["codec"] == "jpeg"


def test_hostile_stsc_gap_bounded():
    """A crafted stsc whose second run declares first_chunk near 2^32
    must not drive the per-chunk expansion: the run span is clamped to
    stco's validated chunk count, so the hostile gap materializes at
    most n_chunks entries instead of ~4e9 (the stsz/stts hostile-count
    class, via the run GAP rather than a declared count)."""
    from tlcn_oer_lakehouse_spark.functions.mp4io import _expand_stsc

    import pytest

    hostile = [(1, 1, 1), (2**32 - 1, 1, 1)]
    assert _expand_stsc(hostile, n_chunks=3) == [1, 1, 1]
    # a run table that does not start at chunk 1 (or leaves a gap) would
    # previously be applied POSITIONALLY from chunk 1 — wrong-but-plausible
    # sample offsets, the silent-misparse class — so it must raise instead
    with pytest.raises(ValueError, match="contiguous"):
        _expand_stsc([(2**31, 5, 1)], n_chunks=4)
    with pytest.raises(ValueError, match="contiguous"):
        _expand_stsc([(3, 5, 1)], n_chunks=3)
    # a zero-chunk stco makes NOTHING readable — a well-formed multi-run
    # table over it expands to [], it must not trip the contiguity check
    assert _expand_stsc([(1, 2, 1), (3, 1, 1)], n_chunks=0) == []
    # a LATER first_chunk is not a gap — the previous run spans up to it
    assert _expand_stsc([(1, 2, 1), (4, 1, 1)], n_chunks=5) == [2, 2, 2, 1, 1]
    # non-monotonic overlap cannot over-allocate either
    assert len(_expand_stsc([(1, 2, 1), (1, 3, 1)], n_chunks=5)) == 5
    # well-formed two-run layout still expands exactly
    assert _expand_stsc([(1, 2, 1), (3, 1, 1)], n_chunks=4) == [2, 2, 1, 1]


def test_huffman_lut_cache_is_capped():
    """The DHT-keyed Huffman LUT cache is an LRU with a fixed cap: a
    worker decoding many distinctly-encoded JPEGs must not grow it per
    distinct table.  The most recently used table survives eviction and
    a decode still works once the cache has churned."""
    from tlcn_oer_lakehouse_spark.functions import jpegio

    bits = [0] * 16
    bits[7] = 3  # three 8-bit codes
    n = jpegio._LUT_CACHE_MAX + 5
    first = jpegio._huff_lut(bits, [0, 1, 2])
    for v in range(1, n):
        jpegio._huff_lut(bits, [v, v + 1, v + 2])
        jpegio._huff_lut(bits, [0, 1, 2])  # keep the first table hot
        assert len(jpegio._LUT_CACHE) <= jpegio._LUT_CACHE_MAX
    assert jpegio._huff_lut(bits, [0, 1, 2]) is first
    assert bytes(bits) + bytes([1, 2, 3]) not in jpegio._LUT_CACHE  # evicted
    img = (np.arange(16 * 16 * 3) % 251).astype(np.uint8).reshape(16, 16, 3)
    out = jpegio.read_jpeg(jpegio.write_jpeg(img, quality=90))
    assert out.shape == img.shape
