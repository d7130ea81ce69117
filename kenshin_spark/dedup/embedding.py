"""Embedding-cosine near-duplicate pairs, every cosine on the one numpy
fold (``functions.vectors``).

``embedding_neardup_pairs`` scores all n²/2 pairs exactly
(``cosine_pairs``): the corpus is broadcast once and the streamed copy
is scored tile by tile in ``mapInArrow``, the upper triangle only. It is
the correct baseline and the ground truth the LSH-bucketed variant below
is measured against. That variant bounds candidates with random
hyperplanes and streams the narrow candidate pairs through
``score_pairs`` against one broadcast of the corpus vectors; the index
variant does the same with the new batch as the broadcast side.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenshin_spark.functions.vectors import _rounded, cosine_pairs, score_pairs

_LOG = logging.getLogger(__name__)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_a, vec_b, cosine)`` for pairs ``vec_a < vec_b`` with cosine
    ≥ threshold; cosine rounded to 6dp for cross-engine comparison.

    The corpus is read to the driver once and broadcast with its fold
    norms; the streamed copy is repartitioned so the scoring fans out
    across all cores (the small parquet arrives as 1 partition → 1 task
    otherwise), and each task skips the tiles of the lower triangle. The
    kernel's left-fold dot products and cosine = dot/(|a|·|b|) keep the
    exact arithmetic of the DuckDB oracle, so results stay bit-aligned.
    Raises ``ValueError`` when the non-NULL vectors differ in length.
    """
    pairs = cosine_pairs(
        embeddings, embeddings, ("vec_a", "vec_b"), keep="lt",
        threshold=threshold, id_col=id_col, vec_col=vec_col,
    )
    return _rounded(pairs, ["vec_a", "vec_b"], threshold)


def density_scaled_banding(
    n_vectors: int,
    target_bucket: int = 64,
    base_bands: int = 16,
    base_rows: int = 4,
    max_rows: int = 16,
) -> tuple[int, int]:
    """(bands, rows_per_band) scaled to corpus density — the knob the
    sf1 soak measured (SCALING.md r6): candidate volume is Σ|bucket|²,
    and a 10× corpus at FIXED banding makes every bucket 10× denser,
    so pair volume grows ~100× (measured 100.6×). Holding expected
    bucket occupancy ≈ ``target_bucket`` instead keeps candidate
    generation linear in corpus size:

    - ``rows_per_band`` grows with log2 of density so a band's
      2^rows buckets track n/target_bucket (AND-amplification —
      narrower buckets);
    - ``bands`` grows by one per added row to re-center recall
      (1−(1−p^r)^b; each extra row costs ~p× per-band recall, each
      extra band buys an OR-chance back), paying LINEAR band cost for
      the quadratic bucket cost it avoids.

    Pure arithmetic on one scalar — call with ``df.count()`` or a
    catalog row count; never data-dependent beyond n."""
    import math

    need = max(0, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))
    rows = min(max(base_rows, need), max_rows)
    return base_bands + (rows - base_rows), rows


def recall_calibrated_banding(
    n_vectors: int,
    threshold: float = 0.4,
    target_recall: float = 0.9,
    target_bucket: int = 64,
    base_bands: int = 16,
    base_rows: int = 4,
    max_rows: int = 16,
    max_bands: int = 512,
) -> tuple[int, int]:
    """(bands, rows_per_band) holding BOTH bucket occupancy ≈
    ``target_bucket`` and LSH recall ≥ ``target_recall`` at the design
    ``threshold``.

    The r7 recall audit (SCALING.md) measured what the theory predicts:
    ``density_scaled_banding``'s one-band-per-row growth collapses
    recall at scale — at sf1 the auto-picked (21, 9) point retains only
    ~34% of exact pairs at cosine 0.4, because each added row multiplies
    per-band recall by p = 1 − acos(threshold)/π ≈ 0.63 while each added
    band only buys one more OR-chance. Holding recall through the
    1−(1−p^r)^b curve needs bands to grow GEOMETRICALLY with rows:

        bands(r) = ceil( ln(1−R) / ln(1−p^r) )

    which makes total candidate volume ~ bands·n·target_bucket ≈
    n^(1+ρ) with ρ = ln(1/p^r-ish) — the classic sub-quadratic LSH
    exponent. That is the honest trade: ``density_scaled_banding``
    keeps cost LINEAR and lets recall fall (cheap census / telemetry
    dedup); this variant keeps recall CALIBRATED and pays the
    sub-quadratic premium (training-data dedup where a missed duplicate
    is a contamination risk). ``max_bands`` caps runaway growth on
    extreme corpora; hitting it means the configured recall is not
    reachable at this density — raise target_bucket instead.

    Rows follow the same log2-density law as ``density_scaled_banding``
    so the two knobs pick the SAME bucket sharpness and differ only in
    how many bands pay for it."""
    import math

    if not (0.0 < target_recall < 1.0):
        raise ValueError(f"target_recall must be in (0,1): {target_recall}")
    need = max(0, math.ceil(math.log2(max(n_vectors, 1) / target_bucket)))
    rows = min(max(base_rows, need), max_rows)
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_band = p**rows
    if p_band >= 1.0:
        return base_bands, rows
    bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    return max(base_bands, min(bands, max_bands)), rows


# Sentinel distinguishing "caller said nothing" from an explicit
# target_recall=None (census mode). With auto_density=True and no
# explicit choice, the engine defaults to the CALIBRATED R=0.9 knob:
# the sf1 sweep (SCALING.md r7) measured calibrated (145,9) at both
# higher recall (92.8% vs 32.3%) AND lower wall (32.2 s vs 57.0 s)
# than the linear-cost auto path, so the safe default costs nothing.
_CALIBRATED_DEFAULT = object()


def embedding_neardup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    bands: int | None = None,
    rows_per_band: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    auto_density: bool = True,
    target_recall: "float | None" = _CALIBRATED_DEFAULT,  # type: ignore[assignment]
) -> DataFrame:
    """The 100 TB scale path: banded random-hyperplane LSH bounds the pair
    space to Σ|bucket|² per band instead of n²; a pair is a candidate iff
    it collides in ANY band (OR-amplification — recall for per-plane
    agreement p is 1-(1-p^r)^b, ~94% at this corpus' cosine-0.4 floor),
    then gets the exact cosine verify. Same output schema as the
    brute-force variant.

    Plan shape mirrors dedup/minhash.py: the corpus explodes to narrow
    ``(id, band, sig)`` rows (map-local), the self-join is per-(band,sig)
    bucket, and only distinct candidate id-pairs are shuffled. The verify
    streams those narrow pairs through the fold kernel
    (``functions.vectors.score_pairs``) against one broadcast of the
    corpus vectors and their norms, so the vectors are never shuffled.

    ``auto_density`` (ON by default since r11 — the sf1 soak showed the
    fixed floor goes silently superlinear on dense corpora) picks
    recall-CALIBRATED banding at R=0.9: the measured sf1 table
    (SCALING.md) shows
    the calibrated point both exceeds its recall target (92.8% vs the
    linear knob's 32.3%) and runs 1.8× faster, so holding recall costs
    nothing at measured scale. Pass ``target_recall=None`` explicitly
    for census-mode linear-cost banding (recall decays with density),
    or a float for a different calibration point.
    """
    from kenshin_spark.dedup.fanout import fan_out
    from kenshin_spark.similarity import (
        N_BANDS,
        PLANES_PER_BAND,
        _band_rows,
        _hyperplane,
    )

    if target_recall is _CALIBRATED_DEFAULT:
        # default flipped in r8 (VERDICT r7 item 3): for a training-data
        # dedup engine a silently-decaying recall is the wrong default,
        # and the measured sf1 table shows calibrated banding is also
        # FASTER than the linear floor. Explicit target_recall=None
        # opts back into census-mode linear-cost banding.
        target_recall = 0.9
    if auto_density and (bands is None or rows_per_band is None):
        # one scalar to the driver; banding then tracks corpus density.
        # target_recall=None → linear-cost banding (recall decays with
        # density — measured curve in SCALING.md); a float → bands grow
        # geometrically to hold recall at the verify threshold
        # (sub-quadratic n^(1+ρ) cost; see recall_calibrated_banding).
        n = embeddings.count()
        if target_recall is None:
            auto_b, auto_r = density_scaled_banding(n)
        else:
            auto_b, auto_r = recall_calibrated_banding(
                n, threshold=threshold, target_recall=target_recall
            )
        bands = auto_b if bands is None else bands
        rows_per_band = auto_r if rows_per_band is None else rows_per_band
        if (bands, rows_per_band) != (N_BANDS, PLANES_PER_BAND):
            # the guard BOUND (corpus denser than the floor): say so —
            # a banding change trades recall/cost and must be visible,
            # never a silent truncation (VERDICT r10 item 4)
            _LOG.warning(
                "embedding LSH auto banding bound at n=%d: "
                "(bands, rows_per_band) = (%d, %d), floor (%d, %d)",
                n, bands, rows_per_band, N_BANDS, PLANES_PER_BAND,
            )
    bands = N_BANDS if bands is None else bands
    rows_per_band = PLANES_PER_BAND if rows_per_band is None else rows_per_band
    planes = _hyperplane(dim, bands * rows_per_band)
    emb = fan_out(embeddings)
    band_rows = _band_rows(
        emb, planes, bands, rows_per_band, "_id", id_col, vec_col
    )
    if max_bucket is not None:
        # Σ|bucket|² explosion guard, same contract as minhash's
        # max_bucket: a degenerate signature bucket (near-identical or
        # zero embeddings corpus-wide) emits B²/2 candidates on its
        # own; over-cap buckets drop out of candidate generation
        kept = (
            band_rows.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") <= max_bucket)
            .select("band", "sig")
        )
        band_rows = band_rows.join(kept, ["band", "sig"])
    cand = (
        band_rows.alias("a")
        .join(
            band_rows.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("vec_a"), F.col("b._id").alias("vec_b"))
        .distinct()
    )
    pairs = score_pairs(
        cand, embeddings, ("vec_a", "vec_b"), threshold,
        id_col=id_col, vec_col=vec_col,
    )
    return _rounded(pairs, ["vec_a", "vec_b"], threshold)


def cross_neardup_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bipartite near-dup: ``(left_id, right_id, cosine)`` for pairs
    ACROSS two sets with cosine ≥ threshold — the semantic-
    decontamination primitive (drop training docs whose embedding sits
    too close to an eval-set embedding; catches paraphrases the n-gram
    overlap check misses). Same kernel as the self-join variant: the
    small side (the benchmark) broadcast with its norms, the big side
    repartitioned and scored tile by tile, only pairs that may pass the
    threshold emitted."""
    pairs = cosine_pairs(
        left, right, ("left_id", "right_id"), threshold=threshold,
        id_col=id_col, vec_col=vec_col,
    )
    return _rounded(pairs, ["left_id", "right_id"], threshold)


def hyperplane_band_index(
    corpus: DataFrame,
    bands: int | None = None,
    rows_per_band: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, band, sig)`` — the persistable embedding near-dup
    INDEX, the vector analog of ``minhash_band_index``.

    At 100 TB the corpus is signed ONCE (row-local Arrow matmul), the
    index (|corpus| x bands narrow rows, a fraction of the vectors
    themselves) is written partitioned by ``sig`` prefix, and every
    incoming batch joins against it — no per-batch re-signing of the
    corpus, no pairwise step. The hyperplanes are seeded/deterministic
    (``_hyperplane``), so index and batch signatures always agree."""
    from kenshin_spark.dedup.fanout import fan_out
    from kenshin_spark.similarity import (
        N_BANDS,
        PLANES_PER_BAND,
        _band_rows,
        _hyperplane,
    )

    bands = N_BANDS if bands is None else bands
    rows_per_band = PLANES_PER_BAND if rows_per_band is None else rows_per_band
    planes = _hyperplane(dim, bands * rows_per_band)
    return _band_rows(
        fan_out(corpus), planes, bands, rows_per_band, id_col, id_col, vec_col
    )


def cross_neardup_against_index(
    new: DataFrame,
    corpus: DataFrame,
    index: DataFrame,
    threshold: float = 0.4,
    bands: int | None = None,
    rows_per_band: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup: ``(corpus_id, new_id, cosine)``
    pairs between an incoming batch and an indexed corpus — the daily
    embedding-ingest shape mirroring ``minhash_pairs_against_index``.

    Only the NEW batch is signed (row-local); the corpus contributes its
    persisted band index to the bucket join, and corpus VECTORS are read
    only for docs that actually collide (semi-join bounded). Per-batch
    cost: O(|new| + |collisions|), independent of corpus size outside
    the index join. The colliding corpus rows stream with their vectors
    through the fold kernel against the broadcast new batch
    (``functions.vectors.score_pairs``), the exact cosine of every other
    embedding query, so thresholds agree."""
    from kenshin_spark.similarity import (
        N_BANDS,
        PLANES_PER_BAND,
        _band_rows,
        _hyperplane,
    )

    bands = N_BANDS if bands is None else bands
    rows_per_band = PLANES_PER_BAND if rows_per_band is None else rows_per_band
    planes = _hyperplane(dim, bands * rows_per_band)
    nband = _band_rows(new, planes, bands, rows_per_band, "_nid", id_col,
                       vec_col)
    if max_bucket is not None:
        # index-side fan-out guard (see minhash_pairs_against_index):
        # a degenerate signature accumulates unbounded index rows
        kept = (
            index.groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") <= max_bucket)
            .select("band", "sig")
        )
        index = index.join(kept, ["band", "sig"])
    cand = (
        index.join(
            nband,
            (index["band"] == nband["band"]) & (index["sig"] == nband["sig"]),
        )
        .where(F.col(id_col) != F.col("_nid"))
        .select(F.col(id_col).alias("corpus_id"), F.col("_nid").alias("new_id"))
        .distinct()
    )
    rows = cand.join(
        corpus.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("_va")
        ),
        "corpus_id",
    )
    pairs = score_pairs(
        rows, new, ("corpus_id", "new_id"), threshold, vec="_va",
        id_col=id_col, vec_col=vec_col,
    )
    return _rounded(pairs, ["corpus_id", "new_id"], threshold)
