"""Perceptual fingerprints: the bridge from the multimodal decode
family to the dedup family.

A 100-TB crawl deduplicates images the same way it deduplicates
text — fingerprint every payload once, then find
near-duplicate pairs with a banded equi-join, never all-pairs.  This
module supplies both halves:

* ``phash64_np`` / ``dhash64_np`` — classic perceptual image hashes,
  from scratch: luma -> area-resize -> (for pHash) an orthonormal 2-D
  DCT-II (the forward twin of the separable DCT-III IDCT already in
  ``decode_jpeg_np``) -> sign bits packed into one 64-bit word.
* ``image_fingerprints`` — the pipeline stage: ONE vectorized Arrow
  kernel that sniffs, decodes (via the from-scratch decoder family in
  ``operators.multimodal``) and hashes each payload in a single pass;
  undecodable payloads keep NULL hashes (errors are data).
* ``hamming_pairs`` — the generic banded-Hamming self-join image
  hashes (and any other 64-bit fingerprint) feed, the same
  pigeonhole design as the text simhash pairs
  (plans/webops.simhash_pairs_from) but in pure DataFrame ops because
  the hashes come from a Python kernel, not SQL.  Its output feeds
  ``operators.dedup.dedup_components`` unchanged, so image
  near-dup clustering is the same end-to-end composition as text.

Scale notes (the round-5 simhash lesson applied from the start): with
``n_bands`` bands of ``64/n_bands`` bits, expected candidate volume is
sum over bands of n_b^2 per bucket — for the default 4x16-bit bands
that is ~n^2/65536 per band under a uniform hash, the same geometry
the 60-bit text simhash uses.  Band extraction stays in integer space
(``shiftright``/``&`` on LONG — arithmetic shift plus mask is exact
for negative two's-complement hashes); no float ever touches a
fingerprint.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .multimodal import IMAGE_KERNELS, sniff_image_format

__all__ = [
    "to_gray_np", "area_resize2d_np", "phash64_np", "dhash64_np",
    "image_fingerprints", "hamming_pairs",
]

# BT.601 luma weights — the same constants the JFIF YCbCr->RGB step in
# decode_jpeg_np inverts, so gray(decode(jpeg)) round-trips the
# encoder's own Y plane as closely as the codec allows.
_LUMA = np.array([0.299, 0.587, 0.114])


def to_gray_np(img: np.ndarray) -> np.ndarray:
    """(H, W, C) image -> (H, W) float64 luma.  C=1 (grayscale) and
    C=2 (gray+alpha — PNG color type 4) take the luma channel, C>=3
    takes the BT.601 weighted RGB mix; alpha, wherever it sits, is
    ignored — fingerprints describe the visible raster."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim == 2:
        return a
    if a.shape[2] <= 2:
        return a[:, :, 0]
    return a[:, :, :3] @ _LUMA


def area_resize2d_np(a: np.ndarray, oh: int, ow: int) -> np.ndarray:
    """Area-interpolation resize of a 2-D array to (oh, ow): separable
    block means via ``np.add.reduceat`` on each axis — the 2-D twin of
    ``multimodal._block_means``, with the same duplicate-boundary
    behavior (inputs smaller than the target stretch instead of
    dividing by zero)."""
    a = np.asarray(a, dtype=np.float64)
    rb = (np.arange(oh + 1, dtype=np.int64) * a.shape[0]) // oh
    cb = (np.arange(ow + 1, dtype=np.int64) * a.shape[1]) // ow
    sums = np.add.reduceat(np.add.reduceat(a, rb[:-1], axis=0),
                           cb[:-1], axis=1)
    areas = (np.maximum(np.diff(rb), 1)[:, None]
             * np.maximum(np.diff(cb), 1)[None, :])
    return sums / areas


_DCT_CACHE: dict[int, np.ndarray] = {}


def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix D (D @ x transforms columns); cached.
    D[k, i] = c(k) cos(pi (2i+1) k / 2n), c(0)=sqrt(1/n) else
    sqrt(2/n) — the forward transform whose inverse (DCT-III) the
    JPEG decoder's separable IDCT applies."""
    if n not in _DCT_CACHE:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        d = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        d[0] /= np.sqrt(2.0)
        _DCT_CACHE[n] = d
    return _DCT_CACHE[n]


def _pack_bits64(bits: np.ndarray) -> int:
    """64 boolean values (MSB first) -> signed int64 (two's
    complement), the LongType-safe packing: bit 63 set must land as a
    negative Python int or Arrow rejects it."""
    v = int.from_bytes(np.packbits(bits.ravel().astype(np.uint8)).tobytes(),
                       "big")
    return v - (1 << 64) if v >= (1 << 63) else v


def phash64_np(img: np.ndarray):
    """64-bit perceptual hash (pHash): luma -> 32x32 area resize ->
    2-D DCT-II -> keep the low-frequency 8x8 block -> threshold each
    coefficient against the median of the 63 AC coefficients.  The DC
    position's bit is constantly 1 (DC dwarfs the median), so the
    hash carries 63 informative bits and total-brightness shifts
    cannot flip the whole word.  Returns signed int64, or None for a
    degenerate input."""
    if img is None or img.size == 0:
        return None
    g = to_gray_np(img)
    coef = _dct_mat(32) @ area_resize2d_np(g, 32, 32) @ _dct_mat(32).T
    low = coef[:8, :8].ravel()
    med = np.median(low[1:])
    return _pack_bits64(low > med)


def dhash64_np(img: np.ndarray):
    """64-bit difference hash (dHash): luma -> 8x9 area resize ->
    sign of the horizontal gradient (8 rows x 8 comparisons).
    Invariant to any monotone per-pixel brightness map; cheaper and
    more local than pHash, so the two together separate 'same image,
    re-encoded' from 'same scene, re-composed'."""
    if img is None or img.size == 0:
        return None
    r = area_resize2d_np(to_gray_np(img), 8, 9)
    return _pack_bits64(r[:, 1:] > r[:, :-1])


def image_fingerprints(df: DataFrame, col: str = "html",
                       out: str = "image_fp") -> DataFrame:
    """Fingerprint a mixed-format image column in ONE vectorized Arrow
    pass: sniff the container magic, decode with the matching
    from-scratch decoder, and emit struct(format, phash, dhash).
    Payloads whose container is unknown or whose decode fails keep
    NULL hashes with ``format`` still recording the sniffed container
    — the same two-failure-class contract as ``decode_any``.

    100 TB design: this is the only pass that touches payload bytes;
    downstream dedup reads just (id, 8-byte hash) — ship the hashes,
    not the pixels.  Feed the result to ``hamming_pairs`` and then
    ``dedup.dedup_components``."""
    schema = StructType([
        StructField("format", StringType(), True),
        StructField("phash", LongType(), True),
        StructField("dhash", LongType(), True),
    ])

    @F.pandas_udf(schema)
    def fps(data: pd.Series) -> pd.DataFrame:
        fmts, ph, dh = [], [], []
        for payload in data:
            fmt = sniff_image_format(payload)
            # per-payload guard: the decoders hold a fuzzed never-raise
            # contract, but the hash kernels behind them do not — one
            # pathological raster must dead-letter one row, not fail
            # the whole Arrow batch/task (the errors-are-data contract
            # this module documents)
            try:
                img = IMAGE_KERNELS[fmt](payload) if fmt else None
                p, d = phash64_np(img), dhash64_np(img)
            except Exception:
                p = d = None
            fmts.append(fmt)
            ph.append(p)
            dh.append(d)
        return pd.DataFrame({"format": fmts, "phash": ph, "dhash": dh})

    return df.withColumn(out, fps(F.col(col)))


def _banded(rel: DataFrame, fp_field: str, n_bands: int) -> DataFrame:
    """Explode a LONG fingerprint column into (band, band_key) rows —
    the candidate-generation step of ``hamming_pairs``.  Integer-space extraction: arithmetic shiftright
    plus mask is exact for negative (bit-63-set) hashes."""
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    return rel.select(
        "*",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("_b"),
    ).withColumn(
        "_k", F.expr(f"shiftright({fp_field}, _b * {band_bits}) & {mask}"))


def _check_band_geometry(tau: int, n_bands: int) -> None:
    # ValueError, not assert: these are SOUNDNESS preconditions (a
    # violated pigeonhole bound silently drops true pairs), and
    # asserts vanish under python -O in production images
    if 64 % n_bands != 0:
        raise ValueError("bands must divide 64 bits evenly")
    if tau > n_bands - 1:
        raise ValueError("pigeonhole guarantee needs tau <= n_bands - 1")


def hamming_pairs(df: DataFrame, id_col: str = "doc_id",
                  fp_col: str = "fp", tau: int = 3,
                  n_bands: int = 4) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, hamming) over any 64-bit
    fingerprint column: banded equi-join candidates, exact
    ``bit_count(xor)`` verify — never all-pairs.

    Soundness: the 64 bits split into ``n_bands`` equal bands; by
    pigeonhole any pair within Hamming distance ``n_bands - 1``
    agrees on at least one band, so ``tau <= n_bands - 1`` is
    required (the same guarantee as the text simhash join,
    plans/webops.simhash_pairs_from).  Band keys are extracted with
    arithmetic ``shiftright`` plus mask — exact on negative
    (bit-63-set) hashes, and no float ever touches the fingerprint
    (the round-5 2^53 lesson).

    The (id, fp) projection is ``localCheckpoint``-ed first: the
    fingerprints normally come from a decode kernel, and a self-join
    on a UDF-derived frame would otherwise run the whole decode once
    PER SIDE (the lineage-cut lesson from dedup_components).  At 100
    TB write the fingerprint table to storage instead and join the
    table — the shape is identical.

    NULL fingerprints (decode dead letters) are excluded — an
    undecodable payload has no similarity neighborhood."""
    _check_band_geometry(tau, n_bands)
    fp = (df.select(F.col(id_col).alias("_id"),
                    F.col(fp_col).cast("long").alias("_fp"))
            .where(F.col(fp_col).isNotNull())
            .localCheckpoint())
    bands = _banded(fp, "_fp", n_bands)
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(y, (F.col("x._b") == F.col("y._b"))
               & (F.col("x._k") == F.col("y._k"))
               & (F.col("x._id") < F.col("y._id")))
        .select(F.col("x._id").alias("id_a"), F.col("x._fp").alias("_ha"),
                F.col("y._id").alias("id_b"), F.col("y._fp").alias("_hb"))
        .distinct()
    )
    ham = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (cand.select("id_a", "id_b",
                        ham.cast("int").alias("hamming"))
                .where(F.col("hamming") <= tau))
