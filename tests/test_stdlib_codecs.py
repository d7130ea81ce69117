"""Pure-stdlib codecs (multimodal/codecs.py): real PNG/BMP/WAV decode
with no external libraries, and their wiring into the multimodal
mapInPandas kernels. Unlike tests/test_codecs.py (the PIL seam, skipped
in this container), everything here runs everywhere."""

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from kenshin_spark.multimodal import codecs

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow

rng = np.random.default_rng(7)


# -- test-side PNG encoder (spec-forward filters, so the decoder must
# -- invert them) ------------------------------------------------------------


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer applying ONE filter type to every row."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            enc = (cur - left) % 256
        elif filter_type == 2:
            enc = (cur - prev) % 256
        elif filter_type == 3:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            enc = (cur - ((left + prev) >> 1)) % 256
        elif filter_type == 4:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            ul = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
            pred = np.array(
                [codecs._paeth(int(a), int(b), int(c))
                 for a, b, c in zip(left, prev, ul)],
                dtype=np.int32,
            )
            enc = (cur - pred) % 256
        raw.append(filter_type)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur
    return (
        codecs.PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


class TestPng:
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    def test_every_filter_type_roundtrips(self, filter_type):
        arr = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
        png = encode_png(arr, filter_type)
        assert codecs.sniff(png) == "png"
        assert codecs.image_info(png) == (7, 9, "png")
        np.testing.assert_array_equal(codecs.decode_png(png), arr)

    @pytest.mark.parametrize("ch", [1, 2, 4])
    def test_gray_and_alpha_color_types(self, ch):
        arr = rng.integers(0, 256, size=(5, 6, ch), dtype=np.uint8)
        np.testing.assert_array_equal(
            codecs.decode_png(encode_png(arr, 2)), arr
        )

    def test_unsupported_profiles_raise(self):
        arr = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
        png = bytearray(encode_png(arr))
        png[24] = 4  # sub-byte depth: still a PIL-seam profile
        with pytest.raises(ValueError, match="bit depth"):
            codecs.png_info(bytes(png))
        png[24] = 16  # 16-bit decodes natively since r11
        assert codecs.png_info(bytes(png))[:2] == (2, 2)


class TestBmp:
    @pytest.mark.parametrize("w", [4, 5, 7])  # odd widths hit row padding
    def test_roundtrip(self, w):
        arr = rng.integers(0, 256, size=(6, w, 3), dtype=np.uint8)
        bmp = codecs.encode_bmp(arr)
        assert codecs.sniff(bmp) == "bmp"
        assert codecs.image_info(bmp) == (w, 6, "bmp")
        np.testing.assert_array_equal(codecs.decode_bmp(bmp), arr)

    def test_gray_input_promotes_to_rgb(self):
        g = rng.integers(0, 256, size=(3, 3), dtype=np.uint8)
        out = codecs.decode_bmp(codecs.encode_bmp(g))
        np.testing.assert_array_equal(out[:, :, 0], g)
        np.testing.assert_array_equal(out[:, :, 1], g)


class TestResize:
    def test_nearest_is_exact_index_math(self):
        arr = np.arange(16, dtype=np.uint8).reshape(4, 4)
        out = codecs.resize_nearest(arr, 2, 2)
        np.testing.assert_array_equal(out, [[0, 2], [8, 10]])
        up = codecs.resize_nearest(arr, 8, 8)
        assert up.shape == (8, 8)
        np.testing.assert_array_equal(up[::2, ::2], arr)


def make_wav(freq=440.0, rate=8000, seconds=0.5, amp=0.5) -> bytes:
    t = np.arange(int(rate * seconds)) / rate
    samples = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


class TestWav:
    def test_sine_features(self):
        payload = make_wav()
        assert codecs.sniff(payload) == "wav"
        ft = codecs.wav_features(payload)
        assert ft["sample_rate"] == 8000
        assert ft["n_channels"] == 1
        assert abs(ft["duration_s"] - 0.5) < 1e-9
        # RMS of a sine at amplitude a is a/sqrt(2)
        assert abs(ft["rms"] - 0.5 / np.sqrt(2)) < 0.01
        assert 0.45 < ft["peak"] <= 0.51


class TestSparkWiring:
    """The kernels now decode these containers FOR REAL — no PIL."""

    def test_image_metadata_real_dims(self, spark):
        from kenshin_spark.multimodal import image_metadata

        arr = rng.integers(0, 256, size=(12, 34, 3), dtype=np.uint8)
        rows = [
            (1, bytearray(encode_png(arr, 2))),
            (2, bytearray(codecs.encode_bmp(arr))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {
            r["doc_id"]: (r["width"], r["height"], r["format"])
            for r in image_metadata(df).collect()
        }
        assert got == {1: (34, 12, "png"), 2: (34, 12, "bmp")}

    def test_resize_returns_decodable_bmp(self, spark):
        from kenshin_spark.multimodal.transforms import resize_images

        arr = rng.integers(0, 256, size=(10, 10, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(arr, 0)))],
            "doc_id long, payload binary",
        )
        out = resize_images(df, width=4, height=4).first()
        resized = codecs.decode_bmp(bytes(out["resized"]))
        np.testing.assert_array_equal(
            resized, codecs.resize_nearest(arr, 4, 4)
        )

    def test_audio_features_true_duration(self, spark):
        from kenshin_spark.multimodal.transforms import audio_features

        df = spark.createDataFrame(
            [(1, bytearray(make_wav(seconds=0.25)))],
            "doc_id long, payload binary",
        )
        r = audio_features(df).first()
        assert r["duration_ms"] == 250
        assert r["sample_rate"] == 8000
        assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 0.01


class TestMalformedPayloads:
    """Codec entry points promise ValueError on ANY malformed payload
    (struct.error / zlib.error / wave.Error are coerced), so the
    stand-in decode / resize fallbacks always fire instead of the
    whole mapInPandas job crashing on text bytes that happen to start
    with a container magic (ADVICE r5: 'BM25 ranking')."""

    BMISH = b"BM25 ranking"  # sniffs as bmp, 12 bytes — header read fails

    def test_short_bm_payload_raises_valueerror(self):
        with pytest.raises(ValueError):
            codecs.bmp_info(self.BMISH)
        with pytest.raises(ValueError):
            codecs.decode_bmp(self.BMISH)
        with pytest.raises(ValueError):
            codecs.image_info(self.BMISH)

    def test_corrupt_png_stream_raises_valueerror(self):
        arr = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        png = bytearray(encode_png(arr, 0))
        png[40] ^= 0xFF  # corrupt the IDAT zlib stream
        with pytest.raises(ValueError):
            codecs.decode_png(bytes(png))
        # truncated header
        with pytest.raises(ValueError):
            codecs.png_info(codecs.PNG_SIG + b"\x00\x00\x00\x0dIHDR\x01")

    def test_riff_wave_text_raises_valueerror(self):
        with pytest.raises(ValueError):
            codecs.wav_features(b"RIFFxxxxWAVEnot a real wav")

    def test_fake_decode_falls_through_on_bmish_text(self):
        from kenshin_spark.multimodal import _decode_with_flag

        digest, w, h, fmt, _ = _decode_with_flag(self.BMISH)
        assert fmt == "fake" and w >= 64 and h >= 64

    def test_image_metadata_survives_text_payloads(self, spark):
        from kenshin_spark.multimodal import image_metadata

        df = spark.createDataFrame(
            [(1, bytearray(self.BMISH)),
             (2, bytearray(b"RIFFxxxxWAVEtext"))],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r["format"] for r in image_metadata(df).collect()}
        assert rows == {1: "fake", 2: "fake"}

    def test_resize_survives_text_payloads(self, spark):
        from kenshin_spark.multimodal.transforms import resize_images

        df = spark.createDataFrame(
            [(1, bytearray(self.BMISH))], "doc_id long, payload binary"
        )
        out = resize_images(df, width=4, height=4).first()
        assert len(bytes(out["resized"])) == 4 * 4 * 3  # stand-in bytes


class TestCorruptJpegCoercion:
    """JPEG decode must keep the ValueError contract on corrupt input
    (ADVICE r6): a truncated entropy stream indexes past the payload
    (IndexError) and an injected early marker escapes as _MarkerHit —
    both previously leaked through _coerce_codec_errors and crashed the
    whole Arrow batch in image_metadata / resize_images."""

    @staticmethod
    def _jpg():
        arr = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        return codecs.encode_jpeg(arr)

    def test_truncated_entropy_stream_raises_valueerror(self):
        jpg = self._jpg()
        for cut in (len(jpg) // 2, len(jpg) - 8):
            with pytest.raises(ValueError):
                codecs.decode_jpeg(jpg[:cut])

    def test_injected_early_eoi_raises_valueerror(self):
        jpg = self._jpg()
        sos = jpg.find(b"\xff\xda")
        ent = sos + 2 + int.from_bytes(jpg[sos + 2 : sos + 4], "big")
        bad = jpg[: ent + 4] + b"\xff\xd9" + jpg[ent + 4 :]
        with pytest.raises(ValueError):
            codecs.decode_jpeg(bad)

    def test_image_metadata_survives_corrupt_jpeg(self, spark):
        from kenshin_spark.multimodal import image_metadata

        jpg = self._jpg()
        df = spark.createDataFrame(
            [(1, bytearray(jpg[: len(jpg) // 2])), (2, bytearray(jpg))],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r["format"] for r in image_metadata(df).collect()}
        assert rows[2] == "jpeg" and rows[1] in ("fake", "jpeg")

    def test_resize_survives_corrupt_jpeg(self, spark):
        from kenshin_spark.multimodal.transforms import resize_images

        jpg = self._jpg()
        df = spark.createDataFrame(
            [(1, bytearray(jpg[: len(jpg) // 2]))], "doc_id long, payload binary"
        )
        out = resize_images(df, width=4, height=4).first()
        assert len(bytes(out["resized"])) == 4 * 4 * 3


class TestEncodeBmpChannels:
    """encode_bmp declares 24bpp — RGBA/gray+alpha inputs must be
    reduced to 3 channels, not written as 4/2 bytes per pixel under a
    3-byte header (ADVICE r5: silent corruption)."""

    def test_rgba_drops_alpha(self):
        arr = rng.integers(0, 256, size=(5, 7, 4), dtype=np.uint8)
        out = codecs.decode_bmp(codecs.encode_bmp(arr))
        np.testing.assert_array_equal(out, arr[:, :, :3])

    def test_gray_alpha_uses_gray_channel(self):
        arr = rng.integers(0, 256, size=(3, 4, 2), dtype=np.uint8)
        out = codecs.decode_bmp(codecs.encode_bmp(arr))
        for c in range(3):
            np.testing.assert_array_equal(out[:, :, c], arr[:, :, 0])

    def test_bad_channel_count_rejected(self):
        with pytest.raises(ValueError):
            codecs.encode_bmp(np.zeros((2, 2, 5), dtype=np.uint8))

    def test_resize_rgba_png_roundtrips(self, spark):
        from kenshin_spark.multimodal.transforms import resize_images

        arr = rng.integers(0, 256, size=(8, 8, 4), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(encode_png(arr, 2)))],
            "doc_id long, payload binary",
        )
        out = resize_images(df, width=4, height=4).first()
        resized = codecs.decode_bmp(bytes(out["resized"]))
        np.testing.assert_array_equal(
            resized, codecs.resize_nearest(arr, 4, 4)[:, :, :3]
        )


# -- test-side baseline-JPEG encoder (spec-forward: FDCT + quantize +
# -- canonical Huffman per T.81, so the decoder must invert the whole
# -- pipeline) ---------------------------------------------------------------

encode_jpeg = codecs.encode_jpeg  # engine-side since r6


class TestJpeg:
    def test_constant_gray_is_near_exact(self):
        arr = np.full((16, 16), 100, dtype=np.uint8)
        jpg = encode_jpeg(arr)
        assert codecs.sniff(jpg) == "jpeg"
        assert codecs.jpeg_info(jpg) == (16, 16, 1)
        out = codecs.decode_jpeg(jpg)
        assert out.shape == (16, 16, 1)
        assert np.abs(out[:, :, 0].astype(int) - 100).max() <= 1

    def test_random_gray_roundtrip_tight(self):
        arr = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
        out = codecs.decode_jpeg(encode_jpeg(arr))
        assert out.shape == (24, 17, 1)
        # all-ones quant: the only loss is coefficient rounding
        assert np.abs(out[:, :, 0].astype(int) - arr.astype(int)).max() <= 3

    def test_rgb_444_roundtrip(self):
        arr = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        jpg = encode_jpeg(arr)
        assert codecs.jpeg_info(jpg) == (16, 16, 3)
        out = codecs.decode_jpeg(jpg)
        assert out.shape == (16, 16, 3)
        # color-space conversion adds rounding on top of coefficient loss
        assert np.abs(out.astype(int) - arr.astype(int)).max() <= 4

    def test_420_subsampling_gray_content(self):
        # R=G=B content: chroma planes are constant 128, so 4:2:0
        # subsampling is lossless and Y carries everything
        g = rng.integers(0, 256, size=(32, 24), dtype=np.uint8)
        arr = np.repeat(g[:, :, None], 3, axis=2)
        out = codecs.decode_jpeg(encode_jpeg(arr, subsample="420"))
        assert out.shape == (32, 24, 3)
        assert np.abs(out.astype(int) - arr.astype(int)).max() <= 4

    def test_restart_markers(self):
        arr = rng.integers(0, 256, size=(16, 40), dtype=np.uint8)
        plain = codecs.decode_jpeg(encode_jpeg(arr))
        with_rst = codecs.decode_jpeg(encode_jpeg(arr, restart=2))
        np.testing.assert_array_equal(plain, with_rst)

    def test_odd_dimensions_cropped(self):
        arr = rng.integers(0, 256, size=(13, 19, 3), dtype=np.uint8)
        out = codecs.decode_jpeg(encode_jpeg(arr))
        assert out.shape == (13, 19, 3)

    def test_unsupported_processes_raise(self):
        arr = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
        jpg = bytearray(encode_jpeg(arr))
        sof_at = jpg.find(b"\xff\xc0")
        jpg[sof_at + 1] = 0xC9  # pretend arithmetic-coded
        with pytest.raises(ValueError, match="baseline/progressive"):
            codecs.decode_jpeg(bytes(jpg))
        with pytest.raises(ValueError):
            codecs.decode_jpeg(b"\xff\xd8\xff\xe0truncated")

    def test_image_metadata_jpeg_without_pil(self, spark):
        from kenshin_spark.multimodal import image_metadata

        arr = rng.integers(0, 256, size=(21, 34, 3), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, bytearray(encode_jpeg(arr)))], "doc_id long, payload binary"
        )
        r = image_metadata(df).first()
        assert (r["width"], r["height"], r["format"]) == (34, 21, "jpeg")

    def test_resize_jpeg_without_pil(self, spark):
        from kenshin_spark.multimodal.transforms import resize_images

        arr = np.repeat(
            np.repeat(
                rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8), 4, 0
            ), 4, 1
        )  # blocky 16x16 — JPEG-exact per 8x8 block is not needed, just decodable
        df = spark.createDataFrame(
            [(1, bytearray(encode_jpeg(arr)))], "doc_id long, payload binary"
        )
        out = resize_images(df, width=8, height=8).first()
        resized = codecs.decode_bmp(bytes(out["resized"]))
        assert resized.shape == (8, 8, 3)


class TestJpegProgressive:
    """Progressive JPEG (SOF2, T.81 Annex G): the encoder emits the
    exact coefficients the baseline encoder would, so the progressive
    decode must be BIT-IDENTICAL to the baseline decode of the same
    array — the strongest pin available without golden fixtures."""

    def test_gray_matches_baseline_exactly(self):
        arr = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
        base = codecs.decode_jpeg(encode_jpeg(arr))
        prog = codecs.decode_jpeg(codecs.encode_jpeg_progressive(arr))
        np.testing.assert_array_equal(base, prog)
        # and the container is genuinely progressive
        jp = codecs.encode_jpeg_progressive(arr)
        assert b"\xff\xc2" in jp and b"\xff\xc0" not in jp[2:]

    def test_rgb_444_matches_baseline(self):
        arr = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        np.testing.assert_array_equal(
            codecs.decode_jpeg(encode_jpeg(arr)),
            codecs.decode_jpeg(codecs.encode_jpeg_progressive(arr)),
        )

    def test_rgb_420_odd_dims_matches_baseline(self):
        # 4:2:0 + odd dims: interleaved DC over padded MCU grid while
        # the non-interleaved AC scans cover only the used block grid
        arr = rng.integers(0, 256, size=(13, 19, 3), dtype=np.uint8)
        np.testing.assert_array_equal(
            codecs.decode_jpeg(encode_jpeg(arr, subsample="420")),
            codecs.decode_jpeg(
                codecs.encode_jpeg_progressive(arr, subsample="420")
            ),
        )

    @pytest.mark.parametrize("levels", [0, 1, 2])
    def test_successive_approximation_levels(self, levels):
        # levels=0: pure spectral selection; levels>=1 add DC+AC
        # refinement scans with correction bits; all fully refine
        arr = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
        base = codecs.decode_jpeg(encode_jpeg(arr))
        prog = codecs.decode_jpeg(
            codecs.encode_jpeg_progressive(arr, levels=levels)
        )
        np.testing.assert_array_equal(base, prog)

    def test_restart_markers_reset_pred_and_eobrun(self):
        arr = rng.integers(0, 256, size=(16, 40), dtype=np.uint8)
        plain = codecs.decode_jpeg(codecs.encode_jpeg_progressive(arr))
        with_rst = codecs.decode_jpeg(
            codecs.encode_jpeg_progressive(arr, restart=3)
        )
        np.testing.assert_array_equal(plain, with_rst)

    def test_long_eob_runs(self):
        # smooth gradient: AC bands near-empty -> EOBn with r > 0
        # spanning many blocks; constant image: maximal run per scan
        grad = np.outer(np.linspace(0, 255, 64), np.ones(64)).astype(np.uint8)
        const = np.full((48, 48), 77, dtype=np.uint8)
        for arr in (grad, const):
            np.testing.assert_array_equal(
                codecs.decode_jpeg(encode_jpeg(arr)),
                codecs.decode_jpeg(codecs.encode_jpeg_progressive(arr)),
            )

    def test_jpeg_info_reads_progressive_header(self):
        arr = rng.integers(0, 256, size=(9, 31, 3), dtype=np.uint8)
        jp = codecs.encode_jpeg_progressive(arr)
        assert codecs.jpeg_info(jp) == (31, 9, 3)
        assert codecs.image_info(jp) == (31, 9, "jpeg")

    def test_truncated_progressive_raises_valueerror(self):
        jp = codecs.encode_jpeg_progressive(
            rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
        )
        for cut in (len(jp) // 4, len(jp) // 2, len(jp) - 3):
            with pytest.raises(ValueError):
                codecs.decode_jpeg(jp[:cut])

    def test_decode_seam_treats_progressive_as_real(self):
        from kenshin_spark.multimodal import _decode_with_flag

        jp = codecs.encode_jpeg_progressive(
            rng.integers(0, 256, size=(12, 20), dtype=np.uint8)
        )
        digest, w, h, fmt, degraded = _decode_with_flag(jp)
        assert (w, h, fmt, degraded) == (20, 12, "jpeg", False)
