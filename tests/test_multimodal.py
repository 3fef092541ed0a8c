"""Multimodal plumbing: schema contract, Arrow batch shapes, per-row
decode error capture (the codec itself is a deterministic stub)."""

import pytest


class TestExtract:
    def test_schema_and_determinism(self, spark):
        from tuplex_spark.functions import multimodal as mm
        assets = mm.make_asset_frame(spark, n=50, partitions=4)
        out = mm.extract_features(assets)
        assert [f.name for f in out.schema.fields] == \
            ["asset_id", "width", "height", "features", "decode_error"]
        rows = {r["asset_id"]: r for r in out.collect()}
        assert len(rows) == 50
        assert all(r["decode_error"] is None for r in rows.values())
        assert all(len(r["features"]) == mm.FEATURE_DIM
                   for r in rows.values())
        # deterministic: second run produces identical features
        rows2 = {r["asset_id"]: r for r in mm.extract_features(assets)
                 .collect()}
        assert all(rows[k]["features"] == rows2[k]["features"]
                   for k in rows)

    def test_decode_errors_captured_per_row(self, spark):
        from tuplex_spark.functions import multimodal as mm
        assets = mm.make_asset_frame(spark, n=10)
        out = mm.extract_features(assets, decoder="image/real").collect()
        assert all(r["decode_error"] is not None
                   and "NotImplementedError" in r["decode_error"]
                   for r in out)

    def test_real_decoder_ppm_bmp_end_to_end(self, spark):
        # REAL bytes through the real-decode branch: a synthetic 4x2 PPM
        # and the equivalent 24-bit BMP must decode to identical dims,
        # pixel-derived features, and no decode_error
        import struct as st
        from tuplex_spark.functions import multimodal as mm
        w, h = 4, 2
        rgb = bytes([(x * 37 + y * 11 + c * 5) % 256
                     for y in range(h) for x in range(w)
                     for c in range(3)])
        ppm = mm.encode_ppm(w, h, rgb)
        # hand-rolled bottom-up BGR BMP of the same pixels
        stride = (w * 3 + 3) & ~3
        px = bytearray()
        for row in range(h - 1, -1, -1):
            line = bytearray()
            for x in range(w):
                r, g, b = rgb[(row * w + x) * 3:(row * w + x) * 3 + 3]
                line += bytes([b, g, r])
            px += line.ljust(stride, b"\0")
        bmp = (b"BM" + st.pack("<IHHI", 54 + len(px), 0, 0, 54)
               + st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px),
                         2835, 2835, 0, 0) + bytes(px))
        assets = spark.createDataFrame(
            [(1, bytearray(ppm)), (2, bytearray(bmp)),
             (3, bytearray(b"\x89PNG not decodable here"))],
            "asset_id long, payload binary")
        rows = {r["asset_id"]: r for r in
                mm.extract_features(assets, decoder="image/real")
                .collect()}
        assert rows[1]["decode_error"] is None
        assert rows[2]["decode_error"] is None
        assert (rows[1]["width"], rows[1]["height"]) == (w, h)
        assert (rows[2]["width"], rows[2]["height"]) == (w, h)
        # same pixels -> identical real features regardless of container
        assert rows[1]["features"] == rows[2]["features"]
        # features are real pixel statistics: mean R channel
        exp_r = round(sum(rgb[0::3]) / (255.0 * w * h), 6)
        assert abs(rows[1]["features"][0] - exp_r) < 1e-6
        # undecodable format still lands in decode_error, not a crash
        assert "NotImplementedError" in rows[3]["decode_error"]

    def test_real_resize_ppm_roundtrip(self, spark):
        from tuplex_spark.functions import multimodal as mm
        w, h = 4, 4
        rgb = bytes([(x * 61 + y * 17 + c) % 256
                     for y in range(h) for x in range(w)
                     for c in range(3)])
        assets = spark.createDataFrame(
            [(7, bytearray(mm.encode_ppm(w, h, rgb)))],
            "asset_id long, payload binary")
        out = mm.resize_images(assets, 2, 2).collect()[0]
        assert out["resize_error"] is None
        nw, nh, npx = mm._decode_ppm(bytes(out["payload"]))
        assert (nw, nh) == (2, 2)
        # nearest-neighbor: output pixel (0,0) samples source (0,0)
        assert npx[0:3] == rgb[0:3]

    def test_meta_struct_contract(self, spark):
        from tuplex_spark.functions import multimodal as mm
        assets = mm.make_asset_frame(spark, n=3)
        meta = assets.schema["meta"].dataType
        assert [f.name for f in meta.fields] == \
            [f.name for f in mm.MEDIA_META.fields]

    def test_partitioning_preserved(self, spark):
        from tuplex_spark.functions import multimodal as mm
        assets = mm.make_asset_frame(spark, n=100, partitions=7)
        out = mm.extract_features(assets)
        # mapInPandas is a narrow transform: no shuffle added
        assert out.rdd.getNumPartitions() == 7


class TestResize:
    def test_schema_and_determinism(self, spark):
        from tuplex_spark.functions import multimodal as mm
        assets = mm.make_asset_frame(spark, n=20, partitions=3)
        out = mm.resize_images(assets, 224, 224)
        assert [f.name for f in out.schema.fields] == \
            ["asset_id", "payload", "width", "height", "resize_error"]
        rows = {r["asset_id"]: r for r in out.collect()}
        assert len(rows) == 20
        assert all(r["resize_error"] is None for r in rows.values())
        assert all(r["width"] == 224 and r["height"] == 224
                   for r in rows.values())
        # output payload is a pure function of (input payload, dims)
        rows2 = {r["asset_id"]: r for r in
                 mm.resize_images(assets, 224, 224).collect()}
        assert all(bytes(rows[k]["payload"]) == bytes(rows2[k]["payload"])
                   for k in rows)
        other = {r["asset_id"]: r for r in
                 mm.resize_images(assets, 64, 64).collect()}
        assert all(bytes(rows[k]["payload"]) != bytes(other[k]["payload"])
                   for k in rows)

    def test_narrow_no_shuffle(self, spark):
        from tuplex_spark.functions import multimodal as mm
        assets = mm.make_asset_frame(spark, n=30, partitions=5)
        assert mm.resize_images(assets, 32, 32).rdd.getNumPartitions() == 5


class TestFrameSampling:
    def test_frame_count_follows_duration(self, spark):
        from tuplex_spark.functions import multimodal as mm
        vids = mm.make_asset_frame(spark, n=10, media_type="video")
        out = mm.sample_frames(vids, every_ms=1000)
        counts = {r["asset_id"]: 0 for r in out.collect()}
        per = {}
        for r in out.collect():
            per.setdefault(r["asset_id"], []).append(r)
        durs = {r["asset_id"]: r["meta"]["duration_ms"]
                for r in vids.collect()}
        for aid, rows in per.items():
            expect = max(-(-durs[aid] // 1000), 1)
            assert len(rows) == min(expect, 64), (aid, durs[aid])
            # timestamps step by every_ms from 0
            tss = sorted(r["ts_ms"] for r in rows)
            assert tss == [i * 1000 for i in range(len(rows))]

    def test_max_frames_caps_runaway_durations(self, spark):
        from tuplex_spark.functions import multimodal as mm
        vids = mm.make_asset_frame(spark, n=4, media_type="video")
        out = mm.sample_frames(vids, every_ms=1, max_frames=8)
        per = {}
        for r in out.collect():
            per.setdefault(r["asset_id"], 0)
            per[r["asset_id"]] += 1
        assert all(n == 8 for a, n in per.items() if a > 0), per

    def test_null_duration_yields_one_frame(self, spark):
        from tuplex_spark.functions import multimodal as mm
        imgs = mm.make_asset_frame(spark, n=5)  # duration_ms null
        out = mm.sample_frames(imgs, every_ms=1000)
        per = {}
        for r in out.collect():
            per.setdefault(r["asset_id"], 0)
            per[r["asset_id"]] += 1
        assert all(n == 1 for n in per.values())


class TestNetpbmFamily:
    """PGM (P5) and PBM (P4) decode natively alongside PPM/BMP —
    verified against hand-computable payloads."""

    def test_pgm_grayscale(self):
        from tuplex_spark.functions.multimodal import decode_image_real
        # 2x2 grayscale: 0, 85, 170, 255
        payload = b"P5\n# cmt\n2 2\n255\n" + bytes([0, 85, 170, 255])
        d = decode_image_real(payload)
        assert (d["width"], d["height"]) == (2, 2)
        # mean gray = (0+85+170+255)/4/255 = 0.5; R=G=B means
        assert abs(d["features"][0] - 0.5) < 1e-6
        assert abs(d["features"][3] - 0.5) < 1e-6  # luma of gray = gray

    def test_pbm_bitmap(self):
        from tuplex_spark.functions.multimodal import decode_image_real
        # 4x2: row0 = 1010 (black,white,black,white), row1 = 0101
        payload = b"P4\n4 2\n" + bytes([0b10100000, 0b01010000])
        d = decode_image_real(payload)
        assert (d["width"], d["height"]) == (4, 2)
        # half the pixels white -> mean channel = 0.5
        assert abs(d["features"][0] - 0.5) < 1e-6

    def test_pgm_truncated_is_loud(self):
        import pytest
        from tuplex_spark.functions.multimodal import decode_image_real
        with pytest.raises(ValueError, match="truncated PGM"):
            decode_image_real(b"P5\n4 4\n255\n" + b"\x00" * 3)

    def test_pbm_row_padding(self):
        from tuplex_spark.functions.multimodal import decode_image_real
        # 9 wide -> 2 bytes per row; all black
        payload = b"P4\n9 2\n" + bytes([0xFF, 0x80, 0xFF, 0x80])
        d = decode_image_real(payload)
        assert (d["width"], d["height"]) == (9, 2)
        assert abs(d["features"][0] - 0.0) < 1e-6

    def test_pgm_through_extract_features(self, spark):
        """End-to-end through the Arrow mapInPandas plumbing."""
        from tuplex_spark.functions.multimodal import extract_features
        rows = [(1, b"P5\n2 1\n255\n" + bytes([100, 200])),
                (2, b"P4\n2 1\n" + bytes([0b01000000])),
                (3, b"\x89PNG....")]
        df = spark.createDataFrame(rows, "asset_id long, payload binary")
        out = {r["asset_id"]: r for r in
               extract_features(df, decoder="image/real").collect()}
        assert out[1]["width"] == 2 and out[1]["decode_error"] is None
        assert out[2]["width"] == 2 and out[2]["decode_error"] is None
        assert out[3]["decode_error"] is not None \
            and "NotImplementedError" in out[3]["decode_error"]


class TestPngDecode:
    """Pure-stdlib PNG decode: round-trip against encode_png for every
    supported filter, plus gray/RGBA/palette color types built by hand."""

    def _rgb(self, w, h):
        return bytes((x * 7 + y * 13 + c * 29) % 256
                     for y in range(h) for x in range(w) for c in range(3))

    def test_rgb_roundtrip_filters(self):
        from tuplex_spark.functions.multimodal import (_decode_png,
                                                       encode_png)
        rgb = self._rgb(5, 4)
        for ft in (0, 1, 2):
            w, h, out = _decode_png(encode_png(5, 4, rgb, filter_type=ft))
            assert (w, h) == (5, 4)
            assert out == rgb, f"filter {ft} mismatch"

    def _chunk(self, typ, data):
        import struct, zlib
        return struct.pack(">I", len(data)) + typ + data + \
            struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    def _png(self, w, h, colort, raw, plte=None):
        import struct, zlib
        from tuplex_spark.functions.multimodal import _PNG_SIG
        ihdr = struct.pack(">IIBBBBB", w, h, 8, colort, 0, 0, 0)
        out = _PNG_SIG + self._chunk(b"IHDR", ihdr)
        if plte is not None:
            out += self._chunk(b"PLTE", plte)
        return out + self._chunk(b"IDAT", zlib.compress(raw)) + \
            self._chunk(b"IEND", b"")

    def test_grayscale(self):
        from tuplex_spark.functions.multimodal import _decode_png
        # 2x2 gray, filter 0 rows
        raw = b"\x00" + bytes([10, 200]) + b"\x00" + bytes([60, 255])
        w, h, rgb = _decode_png(self._png(2, 2, 0, raw))
        assert (w, h) == (2, 2)
        assert rgb == bytes([10] * 3 + [200] * 3 + [60] * 3 + [255] * 3)

    def test_rgba_drops_alpha(self):
        from tuplex_spark.functions.multimodal import _decode_png
        raw = b"\x00" + bytes([1, 2, 3, 9, 4, 5, 6, 9])
        w, h, rgb = _decode_png(self._png(2, 1, 6, raw))
        assert rgb == bytes([1, 2, 3, 4, 5, 6])

    def test_palette(self):
        from tuplex_spark.functions.multimodal import _decode_png
        plte = bytes([255, 0, 0, 0, 255, 0])  # red, green
        raw = b"\x00" + bytes([1, 0])
        w, h, rgb = _decode_png(self._png(2, 1, 3, raw, plte=plte))
        assert rgb == bytes([0, 255, 0, 255, 0, 0])

    def test_paeth_and_average_via_reference_vectors(self):
        """Filters 3/4 decoded against a hand-computed reference."""
        from tuplex_spark.functions.multimodal import _decode_png
        # 2x2 RGB; row0 filter 0 raw, row1 filter 3 (average)
        row0 = bytes([10, 20, 30, 50, 60, 70])
        # raw row1 = [12, 22, 32, 40, 50, 60]; avg pred for x<3 = up/2,
        # for x>=3 = (left + up)//2
        r1 = [12, 22, 32, 40, 50, 60]
        enc1 = []
        for x in range(6):
            a = r1[x - 3] if x >= 3 else 0
            b = row0[x]
            enc1.append((r1[x] - ((a + b) >> 1)) & 0xFF)
        raw = b"\x00" + row0 + b"\x03" + bytes(enc1)
        w, h, rgb = _decode_png(self._png(2, 2, 2, raw))
        assert list(rgb[6:]) == r1
        # paeth row: same raw values, filter 4
        enc2 = []
        for x in range(6):
            a = r1[x - 3] if x >= 3 else 0
            b = row0[x]
            c = row0[x - 3] if x >= 3 else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc2.append((r1[x] - pr) & 0xFF)
        raw = b"\x00" + row0 + b"\x04" + bytes(enc2)
        w, h, rgb = _decode_png(self._png(2, 2, 2, raw))
        assert list(rgb[6:]) == r1

    def test_png_through_extract_features(self, spark):
        from tuplex_spark.functions.multimodal import (extract_features,
                                                       encode_png)
        df = spark.createDataFrame(
            [(1, encode_png(4, 4, self._rgb(4, 4), filter_type=1))],
            "asset_id long, payload binary")
        r = extract_features(df, decoder="image/real").collect()[0]
        assert (r["width"], r["height"]) == (4, 4)
        assert r["decode_error"] is None
        assert len(r["features"]) == 16

    def test_interlaced_rejected_loud(self):
        import struct, zlib, pytest
        from tuplex_spark.functions.multimodal import (_decode_png,
                                                       _PNG_SIG)
        ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 1)
        png = _PNG_SIG + self._chunk(b"IHDR", ihdr) + \
            self._chunk(b"IDAT", zlib.compress(b"\x00" + b"\x00" * 6)) + \
            self._chunk(b"IEND", b"")
        with pytest.raises(ValueError, match="interlaced"):
            _decode_png(png)


class TestWavDecode:
    def test_wav_roundtrip_mono(self):
        from tuplex_spark.functions.multimodal import (decode_audio_real,
                                                       encode_wav)
        import math
        # 1 second of a constant half-amplitude signal at 8 kHz
        samples = [16384] * 8000
        d = decode_audio_real(encode_wav(8000, samples))
        assert d["sample_rate"] == 8000
        assert d["duration_ms"] == 1000
        assert d["channels"] == 1
        # RMS of constant 0.5 = 0.5 in every segment + overall
        assert all(abs(f - 0.5) < 1e-4 for f in d["features"])
        assert len(d["features"]) == 9

    def test_wav_stereo_mixdown(self):
        from tuplex_spark.functions.multimodal import (decode_audio_real,
                                                       encode_wav)
        # L = +0.5, R = -0.5 -> mono mixdown 0 -> RMS 0
        # (8000 interleaved samples = 4000 frames @ 8 kHz = 500 ms)
        inter = [16384, -16384] * 4000
        d = decode_audio_real(encode_wav(8000, inter, channels=2))
        assert d["channels"] == 2 and d["duration_ms"] == 500
        assert all(f < 1e-6 for f in d["features"])

    def test_non_pcm_rejected(self):
        import struct, pytest
        from tuplex_spark.functions.multimodal import decode_audio_real
        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 16)  # float
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
            + b"data" + struct.pack("<I", 0)
        with pytest.raises(ValueError, match="non-PCM"):
            decode_audio_real(b"RIFF" + struct.pack("<I", len(body)) + body)

    def test_mp3_not_implemented(self):
        import pytest
        from tuplex_spark.functions.multimodal import decode_audio_real
        with pytest.raises(NotImplementedError):
            decode_audio_real(b"ID3\x04....")

    def test_audio_extract_dataframe(self, spark):
        from tuplex_spark.functions.multimodal import (
            extract_audio_features, encode_wav)
        rows = [(1, encode_wav(4000, [0] * 4000)),
                (2, b"OggS....")]
        df = spark.createDataFrame(rows, "asset_id long, payload binary")
        out = {r["asset_id"]: r
               for r in extract_audio_features(df).collect()}
        assert out[1]["duration_ms"] == 1000
        assert out[1]["decode_error"] is None
        assert out[2]["decode_error"] is not None


def test_resize_png_real(spark):
    from tuplex_spark.functions.multimodal import (resize_images,
                                                   encode_png,
                                                   _decode_png)
    rgb = bytes((x * 11 + y * 3 + c) % 256
                for y in range(6) for x in range(6) for c in range(3))
    df = spark.createDataFrame([(1, encode_png(6, 6, rgb))],
                               "asset_id long, payload binary")
    r = resize_images(df, 3, 3).collect()[0]
    assert r["resize_error"] is None
    w, h, out = _decode_png(bytes(r["payload"]))
    assert (w, h) == (3, 3) and len(out) == 27


class TestJpegNative:
    """Baseline JPEG codec, pure stdlib + numpy: the encoder exists so
    the decoder's huffman/IDCT/upsampling/restart paths are testable in
    a container with no codec library (round-trip, lossy tolerance)."""

    def _gradient(self, w, h):
        import numpy as np
        yy, xx = np.mgrid[0:h, 0:w]
        return np.stack([(xx * 6) % 256, (yy * 9) % 256,
                         ((xx + yy) * 4) % 256], axis=-1).astype(np.uint8)

    def test_roundtrip_444(self):
        import numpy as np
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        img = self._gradient(40, 24)
        payload = encode_jpeg(40, 24, img.tobytes(), quality=90)
        w, h, rgb = _decode_jpeg(payload)
        assert (w, h) == (40, 24)
        out = np.frombuffer(rgb, np.uint8).reshape(24, 40, 3)
        assert np.abs(out.astype(float) - img.astype(float)).mean() < 6.0

    def test_solid_color_is_near_exact(self):
        import numpy as np
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        img = np.full((16, 16, 3), [200, 30, 90], dtype=np.uint8)
        w, h, rgb = _decode_jpeg(encode_jpeg(16, 16, img.tobytes()))
        out = np.frombuffer(rgb, np.uint8).reshape(16, 16, 3)
        assert np.abs(out.astype(float) - img.astype(float)).mean() < 3.0

    def test_roundtrip_420_subsampled(self):
        import numpy as np
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        img = self._gradient(40, 24)
        payload = encode_jpeg(40, 24, img.tobytes(), quality=90,
                              subsample=True)
        w, h, rgb = _decode_jpeg(payload)
        assert (w, h) == (40, 24)
        out = np.frombuffer(rgb, np.uint8).reshape(24, 40, 3)
        assert np.abs(out.astype(float) - img.astype(float)).mean() < 10.0

    def test_roundtrip_422_subsampled(self):
        # 4:2:2 (2x1 horizontal-only chroma): the decoder path where
        # h != hmax but v == vmax — neither 4:4:4 nor 4:2:0 covers it
        import numpy as np
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        img = self._gradient(40, 24)
        payload = encode_jpeg(40, 24, img.tobytes(), quality=90,
                              subsample="422")
        # SOF really declares 2x1 sampling for Y
        i = payload.find(b"\xff\xc0")
        assert payload[i + 4 + 7] == 0x21, hex(payload[i + 4 + 7])
        w, h, rgb = _decode_jpeg(payload)
        assert (w, h) == (40, 24)
        out = np.frombuffer(rgb, np.uint8).reshape(24, 40, 3)
        assert np.abs(out.astype(float) - img.astype(float)).mean() < 8.0

    def test_roundtrip_422_odd_width(self):
        import numpy as np
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, (16, 21, 3), dtype=np.uint8)
        payload = encode_jpeg(21, 16, img.tobytes(), quality=75,
                              subsample="422")
        w, h, _ = _decode_jpeg(payload)
        assert (w, h) == (21, 16)

    def test_non_interleaved_scan_is_loud(self):
        # rewrite the SOS of a 3-component frame to name only component
        # 1: a multi-scan baseline file must raise NotImplementedError,
        # not a bare KeyError at spec[c['id']]
        import pytest
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        payload = bytearray(encode_jpeg(16, 16, bytes(16 * 16 * 3)))
        i = payload.find(b"\xff\xda")
        # original SOS body: [3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]
        new_body = bytes([1, 1, 0x00, 0, 63, 0])
        import struct
        payload[i:i + 4 + 10] = (b"\xff\xda"
                                 + struct.pack(">H", len(new_body) + 2)
                                 + new_body)
        with pytest.raises(NotImplementedError, match="non-interleaved"):
            _decode_jpeg(bytes(payload))

    def test_restart_markers_and_odd_dims(self):
        import numpy as np
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
        payload = encode_jpeg(19, 17, img.tobytes(), quality=60,
                              subsample=True, restart_interval=1)
        w, h, _ = _decode_jpeg(payload)
        assert (w, h) == (19, 17)
        # restart path must produce the same pixels as no-restart
        p2 = encode_jpeg(19, 17, img.tobytes(), quality=60,
                         subsample=True)
        assert _decode_jpeg(payload)[2] == _decode_jpeg(p2)[2]

    def test_progressive_is_loud(self):
        import pytest
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        payload = bytearray(encode_jpeg(16, 16, bytes(16 * 16 * 3)))
        i = payload.find(b"\xff\xc0")
        payload[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
        with pytest.raises(NotImplementedError):
            _decode_jpeg(bytes(payload))

    def test_overfull_huffman_table_is_valueerror(self):
        """DHT counts that claim three 1-bit codes (only two exist) are
        a malformed table: ValueError, not an IndexError from the
        table build."""
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       encode_jpeg)
        payload = bytearray(encode_jpeg(16, 16, bytes(16 * 16 * 3)))
        c = payload.find(b"\xff\xc4") + 5  # marker, length, Tc/Th
        counts = payload[c:c + 16]
        j = next(j for j in range(1, 16) if counts[j] >= 3)
        # move three codes to length 1: same symbol count, overfull
        payload[c] += 3
        payload[c + j] -= 3
        with pytest.raises(ValueError, match="bad huffman table"):
            _decode_jpeg(bytes(payload))

    def test_truncated_huffman_symbols_is_valueerror(self):
        from tuplex_spark.functions.multimodal import _build_huff
        with pytest.raises(ValueError, match="bad huffman table"):
            _build_huff([0, 2] + [0] * 14, [7])

    def test_jpeg_through_extract_features(self, spark):
        """VERDICT r6 item 8 done-criterion: a real JPEG payload decodes
        end-to-end through extract_features — real width/height, real
        pixel features, no decode_error."""
        import numpy as np
        from tuplex_spark.functions.multimodal import (encode_jpeg,
                                                       extract_features,
                                                       decode_image_real)
        img = self._gradient(32, 16)
        payload = encode_jpeg(32, 16, img.tobytes(), quality=90)
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "asset_id long, payload binary")
        row = extract_features(df, decoder="image/real").collect()[0]
        assert row.decode_error is None
        assert (row.width, row.height) == (32, 16)
        want = decode_image_real(bytes(payload))["features"]
        assert list(row.features) == list(want)
        # mean-red feature (0..1 scaled) tracks the actual gradient
        assert abs(row.features[0]
                   - img[..., 0].astype(float).mean() / 255.0) < 0.02

    def test_jpeg_resize_roundtrip(self):
        from tuplex_spark.functions.multimodal import (_decode_jpeg,
                                                       _resize_payload)
        img = self._gradient(40, 24)
        from tuplex_spark.functions.multimodal import encode_jpeg
        payload = encode_jpeg(40, 24, img.tobytes(), quality=90)
        out = _resize_payload(payload, 20, 12)
        w, h, _ = _decode_jpeg(out)
        assert (w, h) == (20, 12)


class TestGifNative:
    """GIF 87a/89a decodes natively: full LZW (variable width, clear
    codes), interlace, sub-rectangle frames, transparency, disposal —
    round-tripped through the clear-spam encoder."""

    @staticmethod
    def _checker(w, h, a=(255, 0, 0), b=(0, 0, 255)):
        px = bytearray()
        for r in range(h):
            for c in range(w):
                px += bytes(a if (r + c) % 2 == 0 else b)
        return bytes(px)

    def test_still_roundtrip_exact(self):
        from tuplex_spark.functions.multimodal import (_decode_gif,
                                                       encode_gif)
        rgb = self._checker(7, 5)
        payload = encode_gif(7, 5, rgb)
        w, h, px = _decode_gif(payload)
        assert (w, h) == (7, 5)
        assert px == rgb

    def test_interlaced_roundtrip_exact(self):
        from tuplex_spark.functions.multimodal import (_decode_gif,
                                                       encode_gif)
        # 4 colors x 9 rows exercises all four interlace passes
        rgb = bytearray()
        colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
        for r in range(9):
            rgb += bytes(colors[r % 4]) * 6
        payload = encode_gif(6, 9, bytes(rgb), interlace=True)
        w, h, px = _decode_gif(payload)
        assert (w, h) == (6, 9)
        assert px == bytes(rgb)

    def test_wide_palette_crosses_code_widths(self):
        from tuplex_spark.functions.multimodal import (_decode_gif,
                                                       encode_gif)
        # 200 distinct colors -> 8-bit palette, 9-bit LZW codes
        rgb = b"".join(bytes([i, 255 - i, (i * 7) % 256])
                       for i in range(200))
        payload = encode_gif(20, 10, rgb)
        w, h, px = _decode_gif(payload)
        assert (w, h) == (20, 10)
        assert px == rgb

    def test_animation_compositing_and_delays(self):
        from tuplex_spark.functions.multimodal import (encode_gif,
                                                       gif_frames)
        base = self._checker(6, 4, (10, 10, 10), (200, 200, 200))
        patch = bytes((0, 255, 0)) * 4  # 2x2 green block
        payload = encode_gif(6, 4, [
            (100, base),
            (250, patch, (2, 1, 2, 2)),  # sub-rect overlay at (2,1)
        ])
        w, h, frames = gif_frames(payload)
        assert (w, h) == (6, 4)
        assert [d for d, _ in frames] == [100, 250]
        assert frames[0][1] == base
        want = bytearray(base)
        for r in range(2):
            for c in range(2):
                off = ((1 + r) * 6 + 2 + c) * 3
                want[off:off + 3] = patch[:3]
        assert frames[1][1] == bytes(want)

    def test_transparency_keeps_underlying_pixels(self):
        from tuplex_spark.functions.multimodal import (encode_gif,
                                                       gif_frames)
        base = self._checker(4, 4)
        clear = (1, 2, 3)
        overlay = bytes(clear) * 8 + bytes((255, 255, 0)) * 8
        payload = encode_gif(4, 4, [(0, base), (0, overlay)],
                             transparent_color=bytes(clear))
        _, _, frames = gif_frames(payload)
        # top half transparent -> base shows; bottom half yellow
        assert frames[1][1][:4 * 2 * 3] == base[:4 * 2 * 3]
        assert frames[1][1][4 * 2 * 3:] == bytes((255, 255, 0)) * 8

    def test_decode_image_real_dispatch(self):
        from tuplex_spark.functions.multimodal import (decode_image_real,
                                                       encode_gif)
        rgb = bytes((255, 255, 255)) * 8 + bytes((0, 0, 0)) * 8
        d = decode_image_real(encode_gif(4, 4, rgb))
        assert (d["width"], d["height"]) == (4, 4)
        assert abs(d["features"][0] - 0.5) < 1e-6  # half white

    def test_gif_resize_roundtrip(self):
        from tuplex_spark.functions.multimodal import (_decode_gif,
                                                       _resize_payload,
                                                       encode_gif)
        rgb = self._checker(8, 8)
        out = _resize_payload(encode_gif(8, 8, rgb), 4, 4)
        w, h, px = _decode_gif(out)
        assert (w, h) == (4, 4)
        # nearest with 2x downscale picks every other pixel -> solid a
        assert px == bytes((255, 0, 0)) * 16

    def test_truncated_frame_is_loud(self):
        import pytest
        from tuplex_spark.functions.multimodal import (_decode_gif,
                                                       encode_gif)
        payload = bytearray(encode_gif(4, 4, self._checker(4, 4)))
        # chop the last sub-block before the trailer
        with pytest.raises(ValueError):
            _decode_gif(bytes(payload[:20]) + b"\x3B")

    def test_header_shorter_than_13_bytes_is_valueerror(self):
        import pytest
        from tuplex_spark.functions.multimodal import gif_frames
        # GIF magic but payload shorter than the 13-byte header must be
        # the documented ValueError, not a raw IndexError
        with pytest.raises(ValueError, match="truncated GIF"):
            gif_frames(b"GIF89a")
        with pytest.raises(ValueError, match="truncated GIF"):
            gif_frames(b"GIF87a\x04\x00\x03\x00")

    def test_truncated_global_color_table_is_valueerror(self):
        import pytest
        from tuplex_spark.functions.multimodal import (encode_gif,
                                                       gif_frames)
        payload = encode_gif(4, 4, self._checker(4, 4))
        # header says a GCT follows; chop inside it
        with pytest.raises(ValueError, match="truncated GIF"):
            gif_frames(payload[:14])

    def test_sample_frames_malformed_gif_falls_back_to_stub(self, spark):
        # a GIF-magic payload that can't decode must NOT fail the task;
        # it falls back to the metadata-duration stub path per-row
        from tuplex_spark.functions.multimodal import sample_frames
        df = spark.createDataFrame(
            [(3, bytearray(b"GIF89a\xff"), ("video", "gif", 4, 3, 2500,
                                            None))],
            "asset_id long, payload binary, "
            "meta struct<media_type:string,format:string,width:int,"
            "height:int,duration_ms:bigint,sample_rate:int>")
        out = sample_frames(df, every_ms=1000).collect()
        assert [(r.frame_index, r.ts_ms) for r in out] == [
            (0, 0), (1, 1000), (2, 2000)]
        assert all(len(r.frame) == 32 for r in out)  # sha256 stub frames

    def test_animated_gif_real_frame_sampling(self, spark):
        from tuplex_spark.functions.multimodal import (_decode_ppm,
                                                       encode_gif,
                                                       gif_frames,
                                                       sample_frames)
        colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
        frames = [(100, bytes(c) * 12) for c in colors]  # 4x3 solids
        payload = encode_gif(4, 3, frames)
        df = spark.createDataFrame(
            [(7, bytearray(payload), ("video", "gif", 4, 3, 300, None))],
            "asset_id long, payload binary, "
            "meta struct<media_type:string,format:string,width:int,"
            "height:int,duration_ms:bigint,sample_rate:int>")
        out = sample_frames(df, every_ms=150).collect()
        # 300ms timeline sampled at 150ms -> ts 0 (frame 0), 150 (frame 1)
        assert [(r.frame_index, r.ts_ms) for r in out] == [(0, 0),
                                                           (1, 150)]
        _, _, decoded = gif_frames(payload)
        for row, want_fi in zip(out, (0, 1)):
            w, h, px = _decode_ppm(bytes(row.frame))
            assert (w, h) == (4, 3)
            assert px == decoded[want_fi][1]
