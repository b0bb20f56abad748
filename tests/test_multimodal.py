"""Multimodal plumbing tests: schemas, Arrow batch shapes, determinism
of the stub codec, frame-sampling fan-out, native binary metadata."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.operators import multimodal as MM


def media_df(spark, items):
    rows = [
        (i, content, ("image", "png", 4, 4, duration))
        for i, (content, duration) in enumerate(items)
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


class TestBinaryMeta:
    def test_native_md5_and_length(self, spark):
        df = media_df(spark, [(b"hello", None)])
        meta = df.select(MM.binary_meta(F.col("content")).alias("m")).first().m
        assert meta.n_bytes == 5
        assert meta.content_md5 == hashlib.md5(b"hello").hexdigest()


class TestDecode:
    def test_schema_and_determinism(self, spark):
        df = media_df(spark, [(b"imgbytes-a", None), (b"imgbytes-b", None)])
        out1 = {r.media_id: r for r in MM.decode_media(df).collect()}
        out2 = {r.media_id: r for r in MM.decode_media(df).collect()}
        assert set(out1) == {0, 1}
        for mid in out1:
            assert out1[mid].decoder == "stub"  # no codec libs in container
            assert len(out1[mid].features) == MM.FEATURE_DIM
            assert all(0.0 <= f < 1.0 for f in out1[mid].features)
            assert out1[mid].features == out2[mid].features  # deterministic
        assert out1[0].features != out1[1].features  # content-sensitive
        assert out1[0].n_bytes == len(b"imgbytes-a")
        assert 1 <= out1[0].width <= 64 and 1 <= out1[0].height <= 64

    def test_empty_partition_batches(self, spark):
        # mapInPandas must tolerate empty Arrow batches (many partitions,
        # few rows) and emit the declared schema regardless.
        df = media_df(spark, [(b"x", None)]).repartition(8)
        out = MM.decode_media(df)
        assert [f.name for f in out.schema.fields] == [
            "media_id", "decoder", "width", "height", "duration_ms", "n_bytes", "features",
        ]
        assert out.count() == 1


class TestRealCodecs:
    """The stdlib BMP/WAV decode path — real headers, real pixels/samples."""

    def test_bmp_round_trip_decode(self, spark):
        from tomasz_weight_tracker_spark.operators import codecs

        # 4x2 image, top half red, bottom half blue (BGR byte order).
        raw = codecs.make_bmp(4, 2, lambda x, y: (0, 0, 255) if y == 0 else (255, 0, 0))
        df = media_df(spark, [(raw, None)])
        r = MM.decode_media(df).first()
        assert r.decoder == "bmp"
        assert (r.width, r.height) == (4, 2)
        assert r.n_bytes == len(raw)
        # Real channel-mean features: half red + half blue.
        assert r.features[0] == 0.5  # mean R
        assert r.features[1] == 0.0  # mean G
        assert r.features[2] == 0.5  # mean B

    def test_bmp_parser_pixel_order(self):
        from tomasz_weight_tracker_spark.operators import codecs

        raw = codecs.make_bmp(2, 2, lambda x, y: (x * 10, y * 10, 100))
        out = codecs.parse_bmp(raw)
        # Row-major top-down: (x=0,y=0), (1,0), (0,1), (1,1).
        assert out["pixels"] == [(0, 0, 100), (10, 0, 100), (0, 10, 100), (10, 10, 100)]

    def test_wav_decode_duration_and_features(self, spark, make_wav):
        # 8000 samples at 8 kHz = exactly 1000 ms; square wave at half amplitude.
        samples = [16384 if (i // 4) % 2 == 0 else -16384 for i in range(8000)]
        raw = make_wav(samples, sample_rate=8000)
        r = MM.decode_media(media_df(spark, [(raw, None)])).first()
        assert r.decoder == "wav"
        assert r.duration_ms == 1000
        assert r.width is None and r.height is None
        assert abs(r.features[0] - 0.5) < 1e-9  # mean |amplitude|
        assert abs(r.features[1] - 0.5) < 1e-9  # RMS of a square wave
        assert abs(r.features[3] - 0.5) < 1e-9  # peak

    def test_png_round_trip_decode_all_filters(self, spark):
        """Real PNG decode: zlib inflate + every scanline unfilter
        (None/Sub/Up/Average/Paeth) must reconstruct identical pixels,
        so channel-mean features match the BMP twin exactly."""
        from tomasz_weight_tracker_spark.operators import codecs

        def px(x, y):  # (r, g, b): quarter red / rest blue
            return (255, 0, 0) if (y == 0 and x < 2) else (0, 0, 255)

        blobs = [codecs.make_png(4, 2, px, filter_type=ft) for ft in range(5)]
        rows = MM.decode_media(media_df(spark, [(b, None) for b in blobs])).collect()
        for r in rows:
            assert r.decoder == "png"
            assert (r.width, r.height) == (4, 2)
            assert r.features[0] == 0.25  # mean R
            assert r.features[1] == 0.0  # mean G
            assert r.features[2] == 0.75  # mean B
        # All five filterings encode the SAME image -> identical features.
        assert len({tuple(r.features) for r in rows}) == 1
        # Stored-block closed form: 68 + h*(1+3w) bytes, any filter.
        assert {r.n_bytes for r in rows} == {68 + 2 * (1 + 3 * 4)}

    def test_png_gray_and_rgba_channels(self):
        from tomasz_weight_tracker_spark.operators import codecs

        # Hand-build a 2x1 grayscale PNG (color type 0): values 10, 200.
        import struct
        import zlib

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body))
            )

        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0)
        idat = zlib.compress(b"\x00" + bytes([10, 200]))
        raw = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
        out = codecs.parse_png(raw)
        assert out["pixels"] == [(10, 10, 10), (200, 200, 200)]
        # RGBA (color type 6): alpha is parsed past, not mixed in.
        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0)
        idat = zlib.compress(b"\x00" + bytes([7, 8, 9, 255]))
        raw = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
        assert codecs.parse_png(raw)["pixels"] == [(9, 8, 7)]

    def test_png_unsupported_variants_decode_header_only(self):
        from tomasz_weight_tracker_spark.operators import codecs

        import struct
        import zlib

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body))
            )

        # 16-bit depth: dims decode, pixels None (no consumer here).
        ihdr = struct.pack(">IIBBBBB", 3, 2, 16, 2, 0, 0, 0)
        raw = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        out = codecs.parse_png(raw)
        assert (out["width"], out["height"], out["pixels"]) == (3, 2, None)
        # Truncated IDAT: header survives, pixels None, no exception.
        ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0)
        raw = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"\x01\x02") + chunk(b"IEND", b"")
        assert codecs.parse_png(raw)["pixels"] is None

    def test_gif_decode_through_chain(self, spark):
        """Real GIF decode via decode_media: LZW inflate + palette
        lookup yields the same channel-mean features as the BMP twin
        of the same image."""
        from tomasz_weight_tracker_spark.operators import codecs

        pal = [(255, 0, 0), (0, 0, 255)]  # red, blue

        def idx(x, y):  # quarter red / rest blue on a 4x2 grid
            return 0 if (y == 0 and x < 2) else 1

        gif = codecs.make_gif(4, 2, idx, pal)
        bmp = codecs.make_bmp(4, 2, lambda x, y: (0, 0, 255) if idx(x, y) == 0 else (255, 0, 0))
        rows = {r.decoder: r for r in MM.decode_media(media_df(spark, [(gif, None), (bmp, None)])).collect()}
        assert set(rows) == {"gif", "bmp"}
        for r in rows.values():
            assert (r.width, r.height) == (4, 2)
            assert r.features[0] == 0.25  # mean R
            assert r.features[2] == 0.75  # mean B
        assert rows["gif"].features == rows["bmp"].features

    def test_gif_interlaced_and_truncated_decode_header_only(self, spark):
        from tomasz_weight_tracker_spark.operators import codecs

        full = codecs.make_gif(5, 3, lambda x, y: 0, [(1, 2, 3), (4, 5, 6)])
        # Flip the interlace bit in the image descriptor (offset: after
        # 13-byte header + 6-byte palette + 9 descriptor bytes).
        interlaced = bytearray(full)
        desc = full.index(b"\x2c")
        interlaced[desc + 9] |= 0x40
        out = codecs.parse_gif(bytes(interlaced))
        assert (out["width"], out["height"], out["pixels"]) == (5, 3, None)
        # Truncated LZW data: header survives, pixels None.
        out = codecs.parse_gif(full[: desc + 12])
        assert out is not None and out["pixels"] is None
        # Through the chain: header-only gets the '-header' label.
        r = MM.decode_media(media_df(spark, [(bytes(interlaced), None)])).first()
        assert r.decoder == "gif-header"

    def test_header_only_decodes_are_labeled(self, spark):
        """A blob whose header parses but whose pixels don't must be
        labeled '<fmt>-header', never plain 'png' — fake (md5) features
        are always distinguishable from decoded ones (round-6 advice)."""
        import struct
        import zlib

        from tomasz_weight_tracker_spark.operators import codecs

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body))
            )

        # 16-bit PNG: dims real, pixels None -> 'png-header'.
        ihdr = struct.pack(">IIBBBBB", 3, 2, 16, 2, 0, 0, 0)
        png16 = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
        out = {r.decoder: r for r in MM.decode_media(media_df(spark, [(png16, None)])).collect()}
        assert set(out) == {"png-header"}
        assert (out["png-header"].width, out["png-header"].height) == (3, 2)
        # Features are the md5 fallback, not decoded pixels.
        assert out["png-header"].features == MM._stub_features(png16)

    def test_png_decompression_bomb_is_bounded(self):
        """A crafted IDAT that inflates far past the declared raster, or
        a header declaring a huge geometry, must decode header-only
        instead of materializing the bomb (round-6 advice)."""
        import struct
        import zlib

        from tomasz_weight_tracker_spark.operators import codecs

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body))
            )

        # 2x1 RGB header, but the IDAT inflates to 10 MB of zeros.
        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)
        bomb = zlib.compress(b"\x00" * (10 << 20), 9)  # ~10 KB compressed
        raw = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
        out = codecs.parse_png(raw)
        assert (out["width"], out["height"], out["pixels"]) == (2, 1, None)
        # Huge declared geometry: header decodes, pixel loop never runs.
        ihdr = struct.pack(">IIBBBBB", 1 << 15, 1 << 15, 8, 2, 0, 0, 0)
        raw = codecs.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(b"\x00")) + chunk(b"IEND", b"")
        out = codecs.parse_png(raw)
        assert (out["width"], out["height"], out["pixels"]) == (1 << 15, 1 << 15, None)

    def test_corrupt_headers_fall_back_to_stub(self, spark):
        df = media_df(
            spark,
            [(b"BMgarbage", None), (b"RIFFjunkWAVE", None), (b"\x89PNG\r\n\x1a\ngarbage", None)],
        )
        out = MM.decode_media(df).collect()
        assert {r.decoder for r in out} == {"stub"}
