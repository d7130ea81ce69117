"""Cross-validate the native codecs against an INDEPENDENT decoder —
Spark's ``image`` data source (javax.imageio in the JVM) — on real-world
files that ship inside this container's toolchains. Roundtrip tests
can't catch a self-consistent-but-wrong bitstream convention (an
encoder and decoder sharing the same mistake); decoding files written
by real encoders can. Every test skips cleanly when its fixture file
isn't present (the files ride along with pyenv/rustup, not this repo).

Expected envelopes (measured r9): PNG is lossless → BIT-exact. JPEG
decoders legitimately differ in iDCT rounding and chroma-upsampling
filter (T.81 mandates neither), so photos agree to ~±2 and the
worst-case is chroma edges after 4:2:0 upsampling — luma, which has no
upsampling, stays tight even there.
"""

import glob

import numpy as np
import pytest

from kenshin_spark.multimodal import codecs

from _writers import encode_png16, encode_png_paletted

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow


def _first(*patterns):
    for pat in patterns:
        hits = sorted(glob.glob(pat))
        if hits:
            return hits[0]
    return None


def _first_decodable_png(*patterns, depth=8):
    """First real PNG of the requested bit depth inside the supported
    profile (non-paletted, non-interlaced) — the 8-bit cross-check
    must not grab a 16-bit icon (decodable natively since r11, but a
    uint16 array is the wrong comparand for Spark's 8-bit image
    source) and vice versa."""
    for pat in patterns:
        for p in sorted(glob.glob(pat)):
            try:
                arr = codecs.decode_png(open(p, "rb").read())
                if arr.dtype == (np.uint16 if depth == 16 else np.uint8):
                    return p
            except (ValueError, OSError):
                continue
    return None


REAL_PNG = _first_decodable_png(
    "/root/.pyenv/versions/*/lib/python*/idlelib/Icons/idle_*.png",
    "/mnt/sandboxing/**/kernels/python3/logo-64x64.png",
)
REAL_PNG16 = _first_decodable_png(
    "/root/.pyenv/versions/*/lib/python*/idlelib/Icons/idle_*.png",
    depth=16,
)
REAL_BASELINE_JPG = _first(
    "/root/.rustup/toolchains/*/share/doc/rust/html/embedded-book/assets/verify.jpeg",
)
REAL_PROGRESSIVE_JPG = _first(
    "/root/.rustup/toolchains/*/share/doc/rust/html/embedded-book/assets/f3.jpg",
)
REAL_TINY_420_JPG = _first(
    "/root/.pyenv/versions/*/lib/python*/test/test_email/data/python.jpg",
)


def _imageio_rgb(spark, path):
    """Decode via the JVM's javax.imageio (Spark image source); BGR(A)
    storage → RGB(A)."""
    row = spark.read.format("image").load(path).select("image.*").first()
    ch = row["nChannels"]
    arr = np.frombuffer(bytes(row["data"]), dtype=np.uint8).reshape(
        row["height"], row["width"], ch
    )
    return arr[:, :, [2, 1, 0, 3]] if ch == 4 else arr[:, :, ::-1]


def _luma(a):
    a = a.astype(np.float64)
    return 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]


@pytest.mark.skipif(REAL_PNG is None, reason="no real PNG in container")
def test_png_decode_bit_exact_vs_imageio(spark):
    payload = open(REAL_PNG, "rb").read()
    mine = codecs.decode_png(payload)
    ref = _imageio_rgb(spark, REAL_PNG)
    assert mine.shape == ref.shape
    np.testing.assert_array_equal(mine, ref)  # lossless: no tolerance


@pytest.mark.skipif(
    REAL_BASELINE_JPG is None, reason="no real baseline JPEG in container"
)
def test_baseline_jpeg_photo_vs_imageio(spark):
    payload = open(REAL_BASELINE_JPG, "rb").read()
    assert payload[: len(b"\xff\xd8\xff")] == b"\xff\xd8\xff"
    mine = codecs.decode_jpeg(payload).astype(int)
    ref = _imageio_rgb(spark, REAL_BASELINE_JPG).astype(int)
    assert mine.shape == ref.shape
    ad = np.abs(mine - ref)
    # measured r9: mean 0.385, max 2 — leave headroom for jdk drift
    assert ad.mean() < 1.0 and ad.max() <= 4


@pytest.mark.skipif(
    REAL_PROGRESSIVE_JPG is None,
    reason="no real progressive JPEG in container",
)
def test_progressive_jpeg_real_world_vs_imageio(spark):
    """A 720x477 SOF2 photo written by a real encoder: multi-scan DC/AC
    spectral selection + successive approximation, 4:2:0. The decisive
    check that the Annex-G implementation matches the spec, not just
    its own encoder."""
    payload = open(REAL_PROGRESSIVE_JPG, "rb").read()
    w, h, ncomp = codecs.jpeg_info(payload)
    assert (w, h, ncomp) == (720, 477, 3)
    mine = codecs.decode_jpeg(payload).astype(int)
    ref = _imageio_rgb(spark, REAL_PROGRESSIVE_JPG).astype(int)
    assert mine.shape == ref.shape
    ad = np.abs(mine - ref)
    # measured r9: mean 1.78, 92% within ±5 (chroma-upsample style
    # differences on edges); a convention bug would blow way past this
    assert ad.mean() < 3.0
    assert (ad <= 5).mean() > 0.90


@pytest.mark.skipif(
    REAL_TINY_420_JPG is None, reason="no tiny 4:2:0 JPEG in container"
)
def test_tiny_420_logo_luma_vs_imageio(spark):
    # sharp-edged 16x16 4:2:0 logo: chroma upsampling styles diverge
    # most here, but luma has no upsampling and must stay tight
    payload = open(REAL_TINY_420_JPG, "rb").read()
    mine = codecs.decode_jpeg(payload)
    ref = _imageio_rgb(spark, REAL_TINY_420_JPG)
    ld = np.abs(_luma(mine) - _luma(ref))
    assert ld.mean() < 1.5  # measured r9: 0.81


def test_paletted_png_engine_encode_vs_jvm_decode(spark, tmp_path):
    """Paletted PNG (color type 3) decode against javax.imageio: the
    engine encodes a ≤256-color image with encode_png_paletted, both
    decoders must produce the identical RGB pixel array (lossless —
    no tolerance). Closes the 'paletted containers route to the PIL
    seam' gap natively."""
    rng = np.random.RandomState(11)
    colors = rng.randint(0, 256, (48, 3)).astype(np.uint8)
    img = colors[rng.randint(0, 48, (21, 33))]
    payload = encode_png_paletted(img)
    mine = codecs.decode_png(payload)
    np.testing.assert_array_equal(mine, img)

    p = tmp_path / "pal.png"
    p.write_bytes(payload)
    ref = _imageio_rgb(spark, str(p))
    assert ref.shape[2] in (3, 4)
    np.testing.assert_array_equal(mine, ref[:, :, :3])


def test_paletted_png_flows_through_image_metadata_and_real_pixels(
    spark,
):
    """The multimodal layer must treat a paletted PNG as a natively
    decodable container now: image_metadata reports real dims (not the
    PIL/fake seam), and real_pixels produces the exact luma grid."""
    from kenshin_spark.multimodal import image_metadata
    from kenshin_spark.multimodal.phash import grid_from_payload

    g = np.repeat(
        np.repeat(np.arange(64, dtype=np.uint8).reshape(8, 8) * 4, 8, 0),
        8, 1,
    )
    img = np.repeat(g[:, :, None], 3, axis=2)  # equal-RGB 64x64
    payload = encode_png_paletted(img)

    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    meta = image_metadata(df).collect()[0]
    assert (meta["width"], meta["height"], meta["format"]) == (64, 64, "png")

    grid, real = grid_from_payload(payload)
    assert real is True
    expect = [int(v) for v in (np.arange(64) * 4)]
    assert list(grid) == expect  # integer luma of equal-RGB = identity


def test_png16_engine_encode_vs_jvm_raster(spark, tmp_path):
    """16-bit PNG (r11 gap closure): the engine-encoded container must
    decode bit-exact at FULL depth in an independent engine —
    javax.imageio's 16-bit raster — and our decode_png must agree with
    it sample-for-sample. (Spark's `image` source is no oracle here:
    ImageSchema truncates 16-bit rasters to the LOW byte.)"""
    import numpy as np

    from kenshin_spark.multimodal import codecs

    rng = np.random.RandomState(16)
    img = rng.randint(0, 65536, (9, 12)).astype(np.uint16)
    p = tmp_path / "g16.png"
    p.write_bytes(encode_png16(img))

    ours = codecs.decode_png(p.read_bytes())
    assert ours.dtype == np.uint16
    np.testing.assert_array_equal(ours[:, :, 0], img)

    jvm = spark._jvm
    bi = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(str(p)))
    raster = bi.getRaster()
    ref = np.array(
        [
            [raster.getSample(x, y, 0) for x in range(bi.getWidth())]
            for y in range(bi.getHeight())
        ],
        dtype=np.uint16,
    )
    np.testing.assert_array_equal(ref, img)


@pytest.mark.skipif(REAL_PNG16 is None, reason="no real 16-bit PNG")
def test_real_world_png16_full_depth_vs_jvm_raster(spark):
    """A REAL encoder's 16-bit PNG (idlelib ships 16-bit icons) must
    decode bit-exact at full depth against javax.imageio's raster —
    the independent-decoder check the engine-built fixture can't
    give."""
    mine = codecs.decode_png(open(REAL_PNG16, "rb").read())
    assert mine.dtype == np.uint16
    jvm = spark._jvm
    bi = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(REAL_PNG16))
    raster = bi.getRaster()
    assert (bi.getWidth(), bi.getHeight()) == (
        mine.shape[1], mine.shape[0])
    nb = raster.getNumBands()
    assert nb == mine.shape[2]
    for b in range(nb):
        ref = np.array(
            [
                [raster.getSample(x, y, b) for x in range(bi.getWidth())]
                for y in range(bi.getHeight())
            ],
            dtype=np.uint16,
        )
        np.testing.assert_array_equal(ref, mine[:, :, b])


REAL_PALETTED4_PNG = _first(
    "/usr/share/icons/locolor/16x16/apps/gvim.png",
    "/usr/share/icons/locolor/*/apps/*.png",
)
REAL_INTERLACED_PNG = _first(
    "/usr/share/doc/libpng-dev/examples/pngtest.png",
)


@pytest.mark.skipif(
    REAL_PALETTED4_PNG is None, reason="no 4-bit paletted PNG"
)
def test_real_world_4bit_paletted_png_vs_imageio(spark):
    """A real encoder's 4-bit paletted icon (locolor gvim, tRNS
    alpha): sub-byte palette indices must unpack MSB-first and expand
    bit-exact against javax.imageio."""
    mine = codecs.decode_png(open(REAL_PALETTED4_PNG, "rb").read())
    ref = _imageio_rgb(spark, REAL_PALETTED4_PNG)
    assert mine.shape == ref.shape
    np.testing.assert_array_equal(mine, ref)


@pytest.mark.skipif(
    REAL_INTERLACED_PNG is None, reason="no interlaced PNG"
)
def test_real_world_adam7_png_vs_imageio(spark):
    """libpng's own pngtest.png (Adam7-interlaced RGBA, 91x69 — odd
    dims exercise partial passes): per-pass unfilter + scatter must be
    bit-exact against javax.imageio."""
    payload = open(REAL_INTERLACED_PNG, "rb").read()
    mine = codecs.decode_png(payload)
    ref = _imageio_rgb(spark, REAL_INTERLACED_PNG)
    assert mine.shape == ref.shape
    np.testing.assert_array_equal(mine, ref)
