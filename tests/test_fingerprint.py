"""Perceptual fingerprint + banded-Hamming pair tests.

Covers the decode->dedup bridge three ways: kernel behavior (distance
separation, invariances, degenerate inputs), exact equivalence of
``hamming_pairs`` against a brute-force all-pairs oracle, and the
end-to-end Spark composition (mixed-format corpus -> fingerprints ->
pairs -> dedup_components clusters).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jgdtrans_rs_spark.operators import fingerprint as fp
from jgdtrans_rs_spark.operators.dedup import dedup_components
from jgdtrans_rs_spark.operators.multimodal import (decode_bmp_np,
                                                    decode_png_np,
                                                    decode_pnm_np)
from tests.test_multimodal import _bmp_bytes, _png_bytes


def _ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _base_img(h=48, w=64):
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    base = (x * 2 + y * 3) % 256
    return np.stack([base, (base * 2) % 256, 255 - base],
                    axis=-1).astype(np.uint8)


def _ppm_bytes(img):
    h, w, _ = img.shape
    return (f"P6 {w} {h} 255\n".encode()
            + img.astype(np.uint8).tobytes())


# ---------------------------------------------------------------------------
# image hash kernels
# ---------------------------------------------------------------------------

def test_image_hash_distance_separation():
    rng = np.random.default_rng(7)
    img = _base_img()
    noisy = np.clip(img.astype(int) + rng.integers(-6, 7, img.shape),
                    0, 255).astype(np.uint8)
    bright = np.clip(img.astype(int) + 30, 0, 255).astype(np.uint8)
    other = rng.integers(0, 256, img.shape).astype(np.uint8)
    for hashfn in (fp.phash64_np, fp.dhash64_np):
        h0 = hashfn(img)
        assert _ham(h0, hashfn(noisy)) <= 3, "small noise must stay near"
        assert _ham(h0, hashfn(bright)) <= 1, \
            "uniform brightness shift must barely move the hash"
        assert _ham(h0, hashfn(other)) >= 16, "unrelated image must be far"


def test_image_hash_cross_format_identity():
    """The same raster encoded as BMP, PNG, and PPM must fingerprint
    IDENTICALLY through the from-scratch decoders — re-encoded exact
    copies are the most common image duplicates in a crawl, and any
    decoder disagreement would break their Hamming distance 0."""
    img = _base_img(32, 40)
    via_bmp = decode_bmp_np(_bmp_bytes(img.tolist()))
    via_png = decode_png_np(_png_bytes(img, 2, [0, 1, 2, 3, 4]))
    via_ppm = decode_pnm_np(_ppm_bytes(img))
    assert np.array_equal(via_bmp, via_png.reshape(via_bmp.shape))
    for hashfn in (fp.phash64_np, fp.dhash64_np):
        assert hashfn(via_bmp) == hashfn(via_png) == hashfn(via_ppm)


def test_image_hash_grayscale_and_degenerate():
    g = _base_img()[:, :, :1]
    assert fp.phash64_np(g) is not None
    assert fp.dhash64_np(g) is not None
    # gray+alpha (PNG color type 4) hashes by its luma channel — this
    # 2-channel lane crashed the matmul before the round-5 review
    ga = np.concatenate([g, np.full_like(g, 200)], axis=2)
    assert fp.phash64_np(ga) == fp.phash64_np(g)
    assert fp.dhash64_np(ga) == fp.dhash64_np(g)
    for bad in (None, np.zeros((0, 0, 3))):
        assert fp.phash64_np(bad) is None
        assert fp.dhash64_np(bad) is None
    # constant image: all DCT ACs equal the median -> deterministic hash
    flat = np.full((16, 16, 3), 127, dtype=np.uint8)
    assert fp.phash64_np(flat) == fp.phash64_np(flat)


def test_dct_matrix_orthonormal():
    d = fp._dct_mat(32)
    assert np.allclose(d @ d.T, np.eye(32), atol=1e-12)


def test_area_resize2d_exact_and_stretch():
    a = np.arange(24, dtype=float).reshape(4, 6)
    r = fp.area_resize2d_np(a, 2, 3)
    expect = a.reshape(2, 2, 3, 2).mean(axis=(1, 3))
    assert np.allclose(r, expect)
    # smaller-than-target input stretches (no divide by zero)
    s = fp.area_resize2d_np(np.ones((2, 3)), 8, 9)
    assert s.shape == (8, 9) and np.allclose(s, 1.0)


def test_pack_bits64_signed_range():
    assert fp._pack_bits64(np.ones(64, dtype=bool)) == -1
    bits = np.zeros(64, dtype=bool)
    bits[0] = True  # MSB
    assert fp._pack_bits64(bits) == -(1 << 63)
    bits = np.zeros(64, dtype=bool)
    bits[63] = True  # LSB
    assert fp._pack_bits64(bits) == 1


# ---------------------------------------------------------------------------
# hamming_pairs vs brute force
# ---------------------------------------------------------------------------

def _brute_pairs(hashes, tau):
    ids = sorted(hashes)
    return {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
            if _ham(hashes[a], hashes[b]) <= tau}


@pytest.mark.parametrize("tau,n_bands", [(0, 4), (1, 4), (3, 4), (7, 8)])
def test_hamming_pairs_matches_brute_force(spark, tau, n_bands):
    rng = np.random.default_rng(11)
    hashes = {}
    # random base hashes over the full signed range
    for i in range(40):
        hashes[i] = int(rng.integers(-(1 << 63), 1 << 63))
    # planted near-dups at controlled distances, including flips in
    # the top band (sign bit) — the arithmetic-shiftright lane
    for i in range(40, 70):
        base = hashes[i - 40]
        flips = rng.choice(64, size=int(rng.integers(0, 5)), replace=False)
        v = base
        for b in flips:
            v ^= 1 << int(b)
        hashes[i] = v - (1 << 64) if v >= (1 << 63) else \
            (v + (1 << 64) if v < -(1 << 63) else v)
    hashes[70] = -(1 << 63)            # only bit 63 set
    hashes[71] = -(1 << 63) | 1        # Hamming 1 from it, still negative
    hashes[72] = (1 << 53) - 1         # the float-cliff shape from round 5
    hashes[73] = (1 << 53) - 2
    df = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "doc_id long, fp long")
    got = {(r.id_a, r.id_b)
           for r in fp.hamming_pairs(df, "doc_id", "fp", tau=tau,
                                     n_bands=n_bands).collect()}
    assert got == _brute_pairs(hashes, tau)


def test_hamming_pairs_reports_exact_distance(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 7), (3, None)], "doc_id long, fp long")
    rows = fp.hamming_pairs(df, "doc_id", "fp", tau=3).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in rows] == [(1, 2, 3)]


def test_hamming_pairs_guards():
    # ValueError, not assert: soundness preconditions must survive
    # python -O (round-5 review)
    with pytest.raises(ValueError):
        fp.hamming_pairs(None, tau=4, n_bands=4)  # pigeonhole violated
    with pytest.raises(ValueError):
        fp.hamming_pairs(None, tau=2, n_bands=5)  # 64 % 5 != 0


# ---------------------------------------------------------------------------
# end-to-end Spark composition
# ---------------------------------------------------------------------------

def _image_corpus():
    rng = np.random.default_rng(3)
    img_a = _base_img()
    img_a_noisy = np.clip(img_a.astype(int)
                          + rng.integers(-5, 6, img_a.shape),
                          0, 255).astype(np.uint8)
    img_b = rng.integers(0, 256, (48, 64, 3)).astype(np.uint8)
    return [
        (1, bytearray(_bmp_bytes(img_a.tolist()))),            # family A
        (2, bytearray(_png_bytes(img_a, 2, [0, 1, 2, 3, 4]))),  # A re-encoded
        (3, bytearray(_ppm_bytes(img_a_noisy))),                # A + noise
        (4, bytearray(_bmp_bytes(img_b.tolist()))),             # unrelated
        (5, bytearray(b"BM" + b"\x00" * 40)),    # sniffs bmp, decode fails
        (6, bytearray(b"not an image at all")),  # unknown container
    ]


def test_image_fingerprints_to_clusters(spark):
    df = spark.createDataFrame(_image_corpus(), "doc_id long, html binary")
    fps = fp.image_fingerprints(df, "html").select("doc_id", "image_fp.*")
    rows = {r.doc_id: r for r in fps.collect()}
    assert rows[1].format == "bmp" and rows[2].format == "png"
    assert rows[3].format == "pnm" and rows[4].format == "bmp"
    # two failure classes stay distinguishable
    assert rows[5].format == "bmp" and rows[5].phash is None
    assert rows[6].format is None and rows[6].phash is None
    # exact re-encode: identical hashes across formats
    assert rows[1].phash == rows[2].phash
    assert rows[1].dhash == rows[2].dhash
    # pairs: the A family only (1,2) exact + (x,3) near; 4 unrelated
    pairs = fp.hamming_pairs(fps, "doc_id", "phash", tau=3)
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == 0
    # clusters: dedup_components assigns the family one canonical id
    decoded = fps.where(F.col("phash").isNotNull()).select("doc_id")
    clusters = {r.doc_id: (r.canonical_id, r.cluster_size)
                for r in dedup_components(
                    pairs, decoded, a="id_a", b="id_b").collect()}
    assert clusters[1] == clusters[2] == clusters[3] == (1, 3)
    assert clusters[4] == (4, 1)


def test_image_fingerprints_gray_alpha_png_in_batch(spark):
    """A color-type-4 (gray+alpha) PNG must hash, not kill the Arrow
    batch — the 2-channel raster crashed to_gray_np's matmul before
    the round-5 review pass."""
    g = _base_img(16, 16)[:, :, :1]
    ga = np.concatenate([g, np.full_like(g, 200)], axis=2)
    df = spark.createDataFrame(
        [(1, bytearray(_png_bytes(ga, 4, [0, 2]))),
         (2, bytearray(_png_bytes(g, 0, [1, 3])))],
        "doc_id long, html binary")
    rows = {r.doc_id: r for r in
            fp.image_fingerprints(df, "html")
              .select("doc_id", "image_fp.*").collect()}
    assert rows[1].format == "png" and rows[1].phash is not None
    # alpha is ignored: gray+alpha of the same luma hashes identically
    assert rows[1].phash == rows[2].phash
    assert rows[1].dhash == rows[2].dhash


def test_product_encoders_roundtrip_decoders():
    """The write-side encoders (encode_bmp_np / encode_png_np) must
    round-trip pixel-exact through the from-scratch decoders — they
    build test corpora, so a drift here would measure the wrong
    thing."""
    from jgdtrans_rs_spark.operators.multimodal import (decode_bmp_np,
                                                        decode_png_np,
                                                        encode_bmp_np,
                                                        encode_png_np)

    rng = np.random.default_rng(17)
    rgb = rng.integers(0, 256, (13, 9, 3)).astype(np.uint8)
    assert np.array_equal(decode_bmp_np(encode_bmp_np(rgb)), rgb)
    for c in (1, 2, 3, 4):
        img = rng.integers(0, 256, (7, 11, c)).astype(np.uint8)
        back = decode_png_np(encode_png_np(img))
        assert np.array_equal(back.reshape(img.shape), img)


def test_fingerprint_kernels_never_raise_on_garbage():
    rng = np.random.default_rng(13)
    payloads = [b"", b"\x00", rng.bytes(64), rng.bytes(4096)]
    img = _base_img(8, 8)
    for hashfn in (fp.phash64_np, fp.dhash64_np):
        for p in payloads:
            # kernels take decoded arrays; garbage arrays still hash
            arr = np.frombuffer(p.ljust(192, b"\x00")[:192],
                                dtype=np.uint8).reshape(8, 8, 3)
            assert isinstance(hashfn(arr), int)
        assert isinstance(hashfn(img), int)
