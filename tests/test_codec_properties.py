"""Property-based hardening of the native codecs: (1) LOSSLESSNESS —
every uint8 array roundtrips bit-exactly through the lossless encoders
under randomly chosen feature combinations; (2) the FENCING contract —
feeding arbitrary bytes behind a real container magic to any decode
entry point either succeeds or raises ValueError, never any other
exception (one corrupt payload must degrade to the PIL/stand-in seam,
not kill an Arrow batch). No Spark session needed: these are the
per-payload kernels themselves."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kenshin_spark.multimodal import codecs, webp

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow

dims = st.tuples(st.integers(1, 24), st.integers(1, 24))


def _arr(draw, h, w, ch):
    data = draw(
        st.binary(min_size=h * w * ch, max_size=h * w * ch)
    )
    a = np.frombuffer(data, dtype=np.uint8).reshape(h, w, ch)
    return a[:, :, 0] if ch == 1 else a


@st.composite
def images(draw, channels=(1, 3, 4)):
    h, w = draw(dims)
    ch = draw(st.sampled_from(channels))
    return _arr(draw, h, w, ch)


@st.composite
def webp_kwargs(draw):
    kw = {
        "use_cache": draw(st.sampled_from([0, 2, 5, 9])),
        "use_rle": draw(st.booleans()),
        "subtract_green": draw(st.booleans()),
    }
    if draw(st.booleans()):
        kw["predictor"] = draw(st.integers(0, 13))
    if draw(st.booleans()):
        kw["color_transform"] = (
            draw(st.integers(0, 255)),
            draw(st.integers(0, 255)),
            draw(st.integers(0, 255)),
        )
    if draw(st.booleans()):
        kw["use_meta"] = draw(st.sampled_from([True, "split"]))
    return kw


class TestLossless:
    @settings(max_examples=40, deadline=None)
    @given(arr=images(), kw=webp_kwargs())
    def test_vp8l_roundtrip_any_feature_combo(self, arr, kw):
        out = webp.decode_webp(webp.encode_webp_lossless(arr, **kw))
        a = arr[:, :, None] if arr.ndim == 2 else arr
        ch = a.shape[2]
        if ch == 1:
            np.testing.assert_array_equal(out[:, :, 0], a[:, :, 0])
            np.testing.assert_array_equal(out[:, :, 1], a[:, :, 0])
            assert (out[:, :, 3] == 255).all()
        elif ch == 3:
            np.testing.assert_array_equal(out[:, :, :3], a)
            assert (out[:, :, 3] == 255).all()
        else:
            np.testing.assert_array_equal(out, a)

    @settings(max_examples=25, deadline=None)
    @given(arr=images(channels=(3,)))
    def test_vp8l_palette_roundtrip_when_small_palette(self, arr):
        # quantize each channel to 4 levels: <= 4^3 = 64 distinct
        # colors, safely under the 256-entry palette cap
        arr = (arr // 64) * 64
        out = webp.decode_webp(webp.encode_webp_lossless(arr, palette=True))
        np.testing.assert_array_equal(out[:, :, :3], arr)

    @settings(max_examples=25, deadline=None)
    @given(
        arr=images(channels=(1, 3)),
        levels=st.integers(0, 2),
        restart=st.sampled_from([0, 2, 5]),
    )
    def test_progressive_jpeg_matches_baseline(self, arr, levels, restart):
        base = codecs.decode_jpeg(codecs.encode_jpeg(arr))
        prog = codecs.decode_jpeg(
            codecs.encode_jpeg_progressive(
                arr, levels=levels, restart=restart
            )
        )
        np.testing.assert_array_equal(base, prog)


#: container magics the fencing contract must hold behind
_MAGICS = [
    b"\x89PNG\r\n\x1a\n",
    b"BM",
    b"\xff\xd8\xff",
    b"RIFF\x20\x00\x00\x00WEBP",
    b"RIFF\x20\x00\x00\x00WAVE",
]


class TestFencing:
    @settings(max_examples=120, deadline=None)
    @given(
        magic=st.sampled_from(_MAGICS),
        junk=st.binary(min_size=0, max_size=300),
    )
    def test_decode_image_valueerror_or_success(self, magic, junk):
        payload = magic + junk
        try:
            codecs.decode_image(payload)
        except ValueError:
            pass  # the promised degradation path

    @settings(max_examples=120, deadline=None)
    @given(
        magic=st.sampled_from(_MAGICS),
        junk=st.binary(min_size=0, max_size=300),
    )
    def test_image_info_valueerror_or_success(self, magic, junk):
        try:
            codecs.image_info(magic + junk)
        except ValueError:
            pass

    @settings(max_examples=80, deadline=None)
    @given(junk=st.binary(min_size=0, max_size=200))
    def test_truncations_of_valid_streams(self, junk):
        # splice junk-length prefixes of real streams: decoders must
        # ValueError on every truncation point, not hang or IndexError
        arr = np.arange(64, dtype=np.uint8).reshape(8, 8)
        for payload in (
            webp.encode_webp_lossless(arr),
            codecs.encode_jpeg_progressive(arr),
        ):
            cut = len(junk) % max(len(payload) - 1, 1)
            if cut < 12:
                cut = 12  # keep the magic so the native path is taken
            with pytest.raises(ValueError):
                codecs.decode_image(payload[:cut])

    @settings(max_examples=60, deadline=None)
    @given(
        pos=st.integers(12, 200),
        val=st.integers(0, 255),
    )
    def test_single_byte_corruption_never_escapes(self, pos, val):
        arr = (np.arange(300, dtype=np.uint8) % 251).reshape(15, 20)
        for payload in (
            webp.encode_webp_lossless(arr, use_cache=3),
            codecs.encode_jpeg_progressive(arr),
        ):
            if pos >= len(payload):
                continue
            mutated = bytearray(payload)
            mutated[pos] = val
            try:
                codecs.decode_image(bytes(mutated))
            except ValueError:
                pass  # fencing holds


class TestImporterFencing:
    """The .hs / .wsp importers' skip_corrupt contracts catch a fixed
    exception set; corrupted blobs must never raise outside it (an
    uncaught class would kill a 100 TB import even with
    skip_corrupt=True). Offline sweeps ran 40k corruptions per format
    with 0 escapes (r9); these are the CI-sized pins."""

    @staticmethod
    def _hs_blob():
        import os
        import tempfile

        from _writers import write_kenshin_hs

        with tempfile.TemporaryDirectory() as td:
            p = os.path.join(td, "f.hs")
            write_kenshin_hs(
                p, ["a.b", "c.d"], [(60, 10), (300, 4)],
                [[(60 * i, [float(i), None]) for i in range(10)],
                 [(300 * i, [float(i), 2.0]) for i in range(4)]],
            )
            return open(p, "rb").read()

    @staticmethod
    def _wsp_blob():
        import os
        import tempfile

        from _writers import write_whisper

        with tempfile.TemporaryDirectory() as td:
            p = os.path.join(td, "m.wsp")
            write_whisper(
                p, [(60, 12), (300, 5)],
                [[(60 * i, float(i)) for i in range(12)],
                 [(300 * i, float(2 * i)) for i in range(5)]],
            )
            return open(p, "rb").read()

    @settings(max_examples=150, deadline=None)
    @given(data=st.data())
    def test_hs_corruptions_stay_in_contract(self, data):
        import struct

        from kenshin_spark.sources.kenshin_hs import unpack_kenshin

        blob = bytearray(self._hs_blob())
        for _ in range(data.draw(st.integers(1, 5))):
            blob[data.draw(st.integers(0, len(blob) - 1))] = data.draw(
                st.integers(0, 255)
            )
        try:
            unpack_kenshin(bytes(blob))
        except (struct.error, AssertionError, IndexError,
                UnicodeDecodeError):
            pass  # the classes _points_kernel's skip_corrupt catches

    @settings(max_examples=150, deadline=None)
    @given(data=st.data())
    def test_wsp_corruptions_stay_in_contract(self, data):
        import struct

        from kenshin_spark.sources.whisper import unpack_whisper

        blob = bytearray(self._wsp_blob())
        for _ in range(data.draw(st.integers(1, 5))):
            blob[data.draw(st.integers(0, len(blob) - 1))] = data.draw(
                st.integers(0, 255)
            )
        try:
            unpack_whisper(bytes(blob))
        except (struct.error, IndexError):
            pass
