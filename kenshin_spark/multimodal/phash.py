"""Perceptual-hash image deduplication (average-hash family).

The classic aHash pipeline: downsample the image to an 8×8 grayscale
grid, threshold each pixel against the image mean → 64-bit fingerprint;
near-duplicate images differ in a few bits, so pairs are found by exact
Hamming distance. The reference engine has no analog (LLM-pipeline
extension surface).

Spark-first shape — every step is a JVM expression (no Python UDFs):

- pixels → bits → 8×8-bit bands are row-local ``transform``/``aggregate``
  higher-order functions;
- candidate pairs come from a banded equi-join (8 bands × 8 bits). By
  pigeonhole, two hashes within Hamming distance 7 MUST agree on at
  least one band — so for the default threshold (≤ 6) band matching is
  a COMPLETE candidate generator, not an approximation;
- exact Hamming distance re-verifies candidates via
  ``zip_with + bit_count`` over the band arrays.

Codec boundary: ``real_pixels`` decodes PNG/BMP/JPEG (incl.
progressive)/lossless-WebP payloads through the engine's own pure-
Python codecs and area-means them to the 8×8 grayscale grid — real
perceptual behavior, no image libs needed; payloads outside the native
set degrade to the deterministic md5 stand-in (``pixels_real=false``,
exact-duplicate collisions only). ``fake_pixels`` remains the
SQL-replayable harness; ``ahash_bands`` is codec-agnostic: hand it any
64-int pixel column.

Scale notes (100 TB): fingerprints are 4 rows of 16 bytes per image —
the banded join shuffles ~64 bytes per image, never pixels or payloads;
candidate cost is Σ|bucket|² over 8-bit band buckets (bounded, and
skew-resistant because a uniform hash family spreads buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_PIXELS = 64
N_BANDS = 8
BAND_BITS = 8
DEFAULT_MAX_HAMMING = 6  # < N_BANDS-1 keeps band candidates complete


def fake_pixels(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Deterministic stand-in for decode+resize: 64 pseudo-grayscale
    bytes derived from the payload md5 (replayable in any SQL engine).
    Adds ``pixels: array<int>``."""
    return df.withColumn("_h", F.md5(F.col(payload_col))).withColumn(
        "pixels",
        F.expr(
            "transform(sequence(0, 63), i -> "
            "cast(conv(substr(md5(concat(_h, '|', cast(i as string))), 1, 2),"
            " 16, 10) as int))"
        ),
    ).drop("_h")


def grid_from_payload(payload: bytes) -> tuple[list[int], bool]:
    """Decode a real image container natively and reduce it to the 8×8
    integer grayscale grid aHash consumes: ITU-R 601 integer luma
    (``(299R + 587G + 114B) // 1000`` — exact, replayable), then an
    area-mean over the 8×8 block partition (integer floor division, so
    a block-constant image reduces to its block values EXACTLY — the
    property the driver row's oracle replays). Images smaller than 8×8
    are nearest-upscaled first. Returns ``(grid, True)`` on a native
    decode, or ``(md5-derived stand-in grid, False)`` when no native
    decoder covers the payload (the same fenced degrade path as
    ``image_metadata``: one undecodable image must never crash the
    Arrow batch)."""
    import hashlib

    import numpy as np

    from kenshin_spark.multimodal import codecs

    try:
        arr = codecs.decode_image(payload)
    except Exception:
        digest = hashlib.md5(payload).hexdigest()
        return [
            int(
                hashlib.md5(f"{digest}|{i}".encode()).hexdigest()[:2], 16
            )
            for i in range(N_PIXELS)
        ], False
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.shape[2] >= 3:
        luma = (
            299 * arr[:, :, 0].astype(np.int64)
            + 587 * arr[:, :, 1].astype(np.int64)
            + 114 * arr[:, :, 2].astype(np.int64)
        ) // 1000
    else:
        luma = arr[:, :, 0].astype(np.int64)
    h, w = luma.shape
    if h < 8 or w < 8:
        up = codecs.resize_nearest(
            luma[:, :, None].astype(np.uint8), max(w, 8), max(h, 8)
        )
        luma = up[:, :, 0].astype(np.int64)
        h, w = luma.shape
    ys = (np.arange(h) * 8) // h
    xs = (np.arange(w) * 8) // w
    sums = np.zeros((8, 8), dtype=np.int64)
    np.add.at(sums, (ys[:, None], xs[None, :]), luma)
    counts = np.outer(np.bincount(ys, minlength=8),
                      np.bincount(xs, minlength=8))
    grid = sums // counts
    return [int(v) for v in grid.reshape(-1)], True


def real_pixels(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """The REAL decode+resize step for perceptual dedup (VERDICT r9
    next-round #3): ``(id, payload)`` → ``(id, pixels array<int>,
    pixels_real boolean)`` via the native codecs (PNG/BMP/JPEG incl.
    progressive/lossless-WebP), Arrow-batched through ``mapInPandas``
    so payload bytes never leave the executor. ``pixels_real`` is False
    on the fenced degrade path (md5 stand-in — exact-duplicate
    collisions only). Near-dup pairs across re-encoded variants of one
    image — the thing the md5 stand-in can by construction never find —
    fall out of feeding this into :func:`phash_neardup_pairs`."""
    from collections.abc import Iterator

    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                grid, real = grid_from_payload(bytes(payload))
                rows.append((int(did), grid, real))
            yield pd.DataFrame(
                rows, columns=[id_col, "pixels", "pixels_real"]
            )

    return df.select(id_col, payload_col).mapInPandas(
        kernel, f"{id_col} long, pixels array<int>, pixels_real boolean"
    )


def ahash_bands(df: DataFrame, pixels_col: str = "pixels") -> DataFrame:
    """Average-hash fingerprint as 8 bands of 8 bits: adds
    ``bands: array<int>`` (each 0..255). The mean threshold is the exact
    integer cross-multiplication ``pixel * 64 >= sum(pixels)``.

    Implementation note: one expression using the ``transform(array(e),
    x -> ...)`` let-binding idiom. Chained withColumns would let
    CollapseProject inline the pixel-source expression into every bit
    reference — with an md5-derived pixel source that's a 64×64×64
    interpreted-md5 blowup per row (higher-order functions don't get
    codegen CSE). Binding pixels (and their sum) to lambda variables
    evaluates each exactly once per row."""
    expr = (
        f"element_at(transform(array({pixels_col}), px -> "
        f"  element_at(transform(array(aggregate(px, 0, (a, x) -> a + x)), "
        f"tot -> "
        f"    transform(sequence(0, {N_BANDS - 1}), b -> "
        f"      aggregate(sequence(0, {BAND_BITS - 1}), 0, (acc, j) -> "
        f"        acc + CASE WHEN element_at(px, b * {BAND_BITS} + j + 1) "
        f"                        * {N_PIXELS} >= tot "
        f"              THEN shiftleft(1, j) ELSE 0 END))), 1)), 1)"
    )
    return df.withColumn("bands", F.expr(expr))


def perturb_pixels(
    df: DataFrame,
    indices: tuple[int, ...] = (5, 17, 42),
    delta: int = 16,
    pixels_col: str = "pixels",
) -> DataFrame:
    """Deterministically bump a few grid cells — the golden-perturbation
    harness for exercising the near-dup detector without real codecs
    (a fake decoder has no perceptual locality: only controlled pixel
    edits can produce close-but-not-equal fingerprints)."""
    idx = ", ".join(str(i) for i in indices)
    return df.withColumn(
        pixels_col,
        F.expr(
            f"transform({pixels_col}, (x, i) -> "
            f"CASE WHEN array_contains(array({idx}), i) "
            f"THEN x + {delta} ELSE x END)"
        ),
    )


def phash_neardup_pairs(
    docs_with_pixels: DataFrame,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    block_bands: int | None = None,
) -> DataFrame:
    """``(doc_a, doc_b, hamming)`` for image pairs within Hamming
    distance ``max_hamming`` of each other's aHash. Complete (not
    approximate) for ``max_hamming < N_BANDS``, by pigeonhole over the
    banded candidate join. Input must carry a ``pixels`` column (from
    ``real_pixels``' native decode, or ``fake_pixels``).

    Scale controls (the r10 sf1 soak measured the default single-band
    join at 93× wall on 10× corpus — each band has only 256 values, so
    candidate cost grows as 8·N²/256 even under a uniform hash):

    - ``block_bands=2`` — block on all C(8,2)=28 ordered band PAIRS
      (16-bit keys, 65,536 values). Still COMPLETE for
      ``max_hamming ≤ 6``: at most 6 of 8 bands can differ, so at
      least two bands agree and that pair's key matches. Shuffles
      3.5× more fingerprint rows but cuts the quadratic constant
      ~74× (28/65536 vs 8/256) — measured 188 s → 7.1 s on the 100k-
      image sf1 soak with identical output. Default (``None``): pair
      blocking whenever the threshold admits it, single-band
      otherwise.
    - ``max_bucket`` — the Σ|bucket|² guard this family's other
      members carry (minhash/embedding-LSH): buckets larger than the
      cap drop out of candidate generation. A pair is missed only if
      EVERY key the two images share is over-cap — degenerate
      near-identical mass (flat/dark images) that exact dedup should
      have removed first. Compose with pair blocking for skewed
      real corpora."""
    if block_bands is None:
        block_bands = 2 if max_hamming <= N_BANDS - 2 else 1
    if block_bands not in (1, 2):
        raise ValueError("block_bands must be 1 or 2")
    if block_bands == 2 and max_hamming > N_BANDS - 2:
        # ≤ max_hamming bit errors dirty ≤ max_hamming bands; two clean
        # bands (whose pair key matches) are guaranteed only up to 6
        raise ValueError(
            f"pair blocking is complete only for max_hamming <= {N_BANDS - 2}"
        )
    # referenced three times (band explode + two attribute joins);
    # fingerprints are ~64 bytes/image so caching beats recomputing the
    # decode at any scale
    sigs = ahash_bands(
        docs_with_pixels.select(F.col(id_col).alias("doc_id"), "pixels")
    ).select("doc_id", "bands").cache()
    if block_bands == 2:
        # all C(8,2) band pairs as 16-bit blocking keys — one JVM
        # expression, 28 rows per image, still ~64 bytes each
        pairs_expr = (
            "flatten(transform(sequence(0, 6), i -> "
            "transform(sequence(i + 1, 7), j -> struct("
            "i * 8 + j AS band_idx, "
            "element_at(bands, i + 1) * 256 + element_at(bands, j + 1) "
            "AS band_val))))"
        )
        banded = sigs.select(
            "doc_id", F.explode(F.expr(pairs_expr)).alias("_p")
        ).select("doc_id", "_p.band_idx", "_p.band_val")
    else:
        banded = sigs.select(
            "doc_id", F.posexplode("bands").alias("band_idx", "band_val")
        )
    if max_bucket is not None:
        counts = banded.groupBy("band_idx", "band_val").agg(
            F.count(F.lit(1)).alias("_c")
        )
        banded = (
            banded.join(counts, ["band_idx", "band_val"])
            .where(F.col("_c") <= max_bucket)
            .drop("_c")
        )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        cand.join(
            sigs.select(
                F.col("doc_id").alias("doc_a"), F.col("bands").alias("_ba")
            ),
            "doc_a",
        )
        .join(
            sigs.select(
                F.col("doc_id").alias("doc_b"), F.col("bands").alias("_bb")
            ),
            "doc_b",
        )
        .withColumn(
            "hamming",
            F.expr(
                "aggregate(zip_with(_ba, _bb, (x, y) -> bit_count(x ^ y)), "
                "0L, (acc, v) -> acc + v)"
            ),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
