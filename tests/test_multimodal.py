"""Multimodal binary-column operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jgdtrans_rs_spark.operators import multimodal
from jgdtrans_rs_spark.sources import pages as pages_src
from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def pages(spark):
    return pages_src.synth_pages(spark, SF_TINY).limit(50).cache()


def test_decode_area_guard_bmp_pnm():
    """BMP and PNM enforce the same 16M-px area cap as PNG/GIF/JPEG/
    TIFF (round-5 review): an oversize-but-well-formed raster must
    dead-letter instead of ballooning executor memory downstream."""
    w, h = 8192, 2100                    # 17.2M px > 1<<24
    big_pnm = (f"P5 {w} {h} 255\n".encode() + bytes(w * h))
    assert multimodal.decode_pnm_np(big_pnm) is None
    ok_pnm = b"P5 4 2 255\n" + bytes(8)
    assert multimodal.decode_pnm_np(ok_pnm).shape == (2, 4, 1)
    # BMP: the area check fires before the payload-length check, so a
    # header declaring an oversize raster rejects without allocation
    hdr = bytearray(b"BM" + b"\x00" * 52)
    hdr[10:14] = (54).to_bytes(4, "little")
    hdr[14:18] = (40).to_bytes(4, "little")
    hdr[18:22] = w.to_bytes(4, "little")
    hdr[22:26] = h.to_bytes(4, "little")
    hdr[26:28] = (1).to_bytes(2, "little")
    hdr[28:30] = (24).to_bytes(2, "little")
    assert multimodal.decode_bmp_np(bytes(hdr)) is None


def test_decode_image_stub_for_codec_formats(pages):
    """Formats that genuinely need an imaging library (webp/gif) keep
    the import-guard stub with real plumbing.  png and baseline jpeg
    no longer stub: both decode from scratch (test_decode_png_real,
    test_decode_jpeg_real)."""
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(pages, "html", format="webp")


def _bmp_bytes(pixels, top_down=False, pad_garbage=b"\x00"):
    """Hand-rolled 24-bit BI_RGB BMP encoder (independent of the
    decoder under test): ``pixels`` is an HxWx3 RGB list; rows are
    BGR, padded to 4 bytes, bottom-up unless top_down."""
    h = len(pixels)
    w = len(pixels[0])
    stride = (w * 3 + 3) & ~3
    off = 14 + 40
    body = bytearray()
    rows = pixels if top_down else pixels[::-1]
    for row in rows:
        line = bytearray()
        for r, g, b in row:
            line += bytes((b, g, r))
        line += pad_garbage * (stride - len(line))
        body += line
    hdr = (b"BM" + (off + len(body)).to_bytes(4, "little") + b"\x00" * 4
           + off.to_bytes(4, "little")
           + (40).to_bytes(4, "little")
           + w.to_bytes(4, "little", signed=True)
           + ((-h if top_down else h)).to_bytes(4, "little", signed=True)
           + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
           + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
           + b"\x00" * 16)
    return bytes(hdr + body)


def test_decode_bmp_real(spark):
    """The from-scratch BMP decoder: exact pixels for bottom-up AND
    top-down crafted files (stride padding exercised by w=3), NULL
    struct fields for non-BMP payloads, and the same payload flows
    through the resize kernel (the decode -> downstream plumbing)."""
    px = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
          [(1, 2, 3), (4, 5, 6), (7, 8, 9)]]     # 3x2 -> stride pad 3 bytes
    flat = [float(v) for row in px for pix in row for v in pix]
    rows = [
        (1, _bmp_bytes(px)),
        (2, _bmp_bytes(px, top_down=True, pad_garbage=b"\xaa")),
        (3, b"<html>not an image</html>"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "pkey long, html binary")
    out = {r.pkey: r.pixels for r in
           multimodal.decode_image(df, "html").select("pkey", "html", "pixels").collect()}
    for k in (1, 2):
        assert out[k].width == 3 and out[k].height == 2 and out[k].channels == 3
        assert list(out[k].pixels) == flat
    assert out[3].width is None and out[3].pixels is None
    assert out[4].width is None
    # numpy kernel direct: truncated file rejected
    assert multimodal.decode_bmp_np(_bmp_bytes(px)[:-4]) is None
    # the identical payload drives the resize kernel (shared plumbing)
    resized = multimodal.resize_bytes(df, k=8).select("pkey", "resized").collect()
    assert all(len(r.resized) == 8 for r in resized)


def test_resize_bytes_shape_and_values(spark):
    """resize plumbing: always exactly k values; block means match a
    hand computation; empty/NULL payloads give zeros."""
    import numpy as np

    from jgdtrans_rs_spark.operators.multimodal import resize_bytes

    rows = [
        (1, bytes(range(8))),       # 8 bytes -> k=4 blocks of 2
        (2, b"\xff" * 3),           # shorter than k
        (3, b""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "pkey long, html binary")
    out = {r["pkey"]: r["resized"]
           for r in resize_bytes(df, k=4).select("pkey", "resized").collect()}
    assert all(len(v) == 4 for v in out.values())
    assert out[1] == [0.5, 2.5, 4.5, 6.5]
    assert out[2][:3] != [0.0, 0.0, 0.0]  # data present
    assert out[3] == [0.0] * 4 and out[4] == [0.0] * 4


def test_decode_pnm_real(spark):
    """The from-scratch Netpbm decoder (VERDICT r04 #5): exact pixels
    for binary PPM (P6) with header comments, binary PGM (P5), and the
    ASCII twins (P3/P2); NULL struct fields for malformed payloads;
    the identical payload flows through the resize kernel — mirroring
    test_decode_bmp_real."""
    import numpy as np

    px = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)],
          [(1, 2, 3), (4, 5, 6), (7, 8, 9)]]       # 3x2 RGB
    flat_rgb = [float(v) for row in px for pix in row for v in pix]
    raster = bytes(v for row in px for pix in row for v in pix)
    p6 = b"P6\n# comment line\n3 2\n# another\n255\n" + raster
    gray = [[10, 20, 30], [40, 50, 60]]
    flat_gray = [float(v) for row in gray for v in row]
    p5 = b"P5 3 2 255 " + bytes(v for row in gray for v in row)
    p3 = ("P3\n3 2\n255\n" +
          " ".join(str(v) for row in px for pix in row for v in pix)).encode()
    p2 = ("P2  3\t2\n255\n" +
          "\n".join(str(v) for row in gray for v in row)).encode()
    rows = [
        (1, p6), (2, p5), (3, p3), (4, p2),
        (5, b"P6\n3 2\n255\n" + raster[:-1]),      # truncated raster
        (6, b"P6\n3 2\n65535\n" + raster),          # 16-bit: unsupported
        (7, b"P7 arbitrary"), (8, None),
        # ASCII sample wider than int64: OverflowError (NOT a
        # ValueError subclass) must dead-letter, not kill the task
        (9, b"P2 1 1 255 99999999999999999999"),
    ]
    df = spark.createDataFrame(rows, "pkey long, html binary")
    out = {r.pkey: r.pixels for r in
           multimodal.decode_image(df, "html", format="ppm")
           .select("pkey", "pixels").collect()}
    assert out[1].width == 3 and out[1].height == 2 and out[1].channels == 3
    assert list(out[1].pixels) == flat_rgb
    assert out[2].width == 3 and out[2].height == 2 and out[2].channels == 1
    assert list(out[2].pixels) == flat_gray
    assert list(out[3].pixels) == flat_rgb and out[3].channels == 3
    assert list(out[4].pixels) == flat_gray and out[4].channels == 1
    for k in (5, 6, 7, 8, 9):
        assert out[k].width is None and out[k].pixels is None
    # numpy kernel direct: P5 16-bit and header-garbage rejected
    assert multimodal.decode_pnm_np(b"P5 3 2 999 " + b"\x00" * 12) is None
    assert multimodal.decode_pnm_np(b"P6 3 -2 255 " + raster) is None
    # P6 vs BMP decoder separation: a BMP payload is not a PNM
    assert multimodal.decode_pnm_np(b"BM" + b"\x00" * 60) is None
    # shared downstream plumbing
    resized = multimodal.resize_bytes(df, k=8).select("pkey", "resized").collect()
    assert all(len(r.resized) == 8 for r in resized)


def _png_bytes(img, ctype, filters, split_idat=False, plte=None,
               trns=None):
    """Minimal reference PNG encoder for the decoder test: 8-bit,
    non-interlaced; ``filters[y]`` picks the per-scanline filter type
    and the filtered bytes are computed forward per the spec, so a
    correct decoder must invert them exactly.  For ctype 3 pass the
    (h, w, 1) index raster as ``img`` plus ``plte`` (n, 3) and
    optionally ``trns`` alpha bytes."""
    import struct
    import zlib

    import numpy as np

    h, w, c = img.shape
    raw = img.reshape(h, w * c).astype(np.int64)
    lines = []
    for y in range(h):
        f = filters[y % len(filters)]
        cur = raw[y]
        prev = raw[y - 1] if y else np.zeros(w * c, dtype=np.int64)
        filt = np.zeros(w * c, dtype=np.int64)
        for x in range(w * c):
            a = cur[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            filt[x] = (cur[x] - pred) % 256
        lines.append(bytes([f]) + bytes(filt.astype(np.uint8)))

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    comp = zlib.compress(b"".join(lines))
    if split_idat:
        mid = len(comp) // 2
        idat = chunk(b"IDAT", comp[:mid]) + chunk(b"IDAT", comp[mid:])
    else:
        idat = chunk(b"IDAT", comp)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    mid_chunks = b""
    if plte is not None:
        mid_chunks += chunk(b"PLTE",
                            bytes(np.asarray(plte, dtype=np.uint8).ravel()))
    if trns is not None:
        mid_chunks += chunk(b"tRNS", bytes(trns))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + mid_chunks
            + idat + chunk(b"IEND", b""))


def test_png_palette():
    """Palette PNGs (color type 3 — the common web icon/screenshot
    shape): indices run through the scanline filters as 1 byte/pixel,
    then expand through PLTE to RGB, or to RGBA when tRNS supplies
    per-entry alpha (missing tail entries default opaque).  Malformed
    palettes dead-letter."""
    import numpy as np

    rng = np.random.RandomState(9)
    plte = rng.randint(0, 256, size=(5, 3)).astype(np.uint8)
    idx = rng.randint(0, 5, size=(6, 4, 1)).astype(np.uint8)

    # plain palette -> RGB, over every filter type
    png = _png_bytes(idx, 3, filters=[0, 1, 2, 3, 4], plte=plte)
    got = multimodal.decode_png_np(png)
    assert got is not None and got.shape == (6, 4, 3)
    assert (got == plte[idx[:, :, 0]]).all()

    # tRNS shorter than the palette: listed entries get their alpha,
    # the rest default to 255
    png = _png_bytes(idx, 3, filters=[4], plte=plte, trns=bytes([0, 128]))
    got = multimodal.decode_png_np(png)
    assert got.shape == (6, 4, 4)
    assert (got[:, :, :3] == plte[idx[:, :, 0]]).all()
    alpha = np.array([0, 128, 255, 255, 255], dtype=np.uint8)
    assert (got[:, :, 3] == alpha[idx[:, :, 0]]).all()

    # rejects: index past the palette, missing PLTE, malformed PLTE
    bad_idx = idx.copy()
    bad_idx[0, 0, 0] = 5
    assert multimodal.decode_png_np(
        _png_bytes(bad_idx, 3, filters=[0], plte=plte)) is None
    assert multimodal.decode_png_np(_png_bytes(idx, 3, filters=[0])) is None
    assert multimodal.decode_png_np(
        _png_bytes(idx, 3, filters=[0], plte=plte.ravel()[:-1]
                   .reshape(1, -1))) is None


def test_png_roundtrip_property():
    """Property check against the independent reference encoder:
    random dims (including 1-wide / 1-tall, where the Paeth/Sub left
    neighbor and the Up row are all-zero), random per-row filter
    schedules, every color type — decode must reproduce the pixels
    bit-exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(w=st.integers(1, 12), h=st.integers(1, 12),
           ctype=st.sampled_from([0, 2, 4, 6]),
           filters=st.lists(st.integers(0, 4), min_size=1, max_size=8),
           seed=st.integers(0, 2**31 - 1))
    def check(w, h, ctype, filters, seed):
        c = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        img = np.random.RandomState(seed).randint(
            0, 256, size=(h, w, c)).astype(np.uint8)
        got = multimodal.decode_png_np(_png_bytes(img, ctype, filters=filters))
        assert got is not None and got.shape == img.shape
        assert (got == img).all()

    check()


def test_decode_png_real(spark):
    """The from-scratch PNG decoder: exact round-trip through a
    reference encoder for every filter type and every supported color
    type (gray/RGB/gray+alpha/RGBA), multi-IDAT streams, and dead
    letters for CRC corruption, palette/16-bit/interlaced headers,
    truncation, and undecompressible IDAT."""
    import numpy as np

    rng = np.random.RandomState(7)
    cases = {}
    for ctype, c in ((0, 1), (2, 3), (4, 2), (6, 4)):
        img = rng.randint(0, 256, size=(6, 5, c)).astype(np.uint8)
        cases[ctype] = img
        # every filter type appears (rows cycle 0,1,2,3,4,0)
        got = multimodal.decode_png_np(
            _png_bytes(img, ctype, filters=[0, 1, 2, 3, 4]))
        assert got is not None and got.shape == img.shape, ctype
        assert (got == img).all(), f"ctype {ctype} round-trip"

    rgb = cases[2]
    # multi-IDAT: same pixels
    got = multimodal.decode_png_np(
        _png_bytes(rgb, 2, filters=[4], split_idat=True))
    assert (got == rgb).all()

    ok = _png_bytes(rgb, 2, filters=[0])
    # CRC corruption: flip one IDAT payload byte -> dead letter
    idx = ok.index(b"IDAT") + 6
    corrupt = ok[:idx] + bytes([ok[idx] ^ 0xFF]) + ok[idx + 1:]
    assert multimodal.decode_png_np(corrupt) is None
    # truncation mid-chunk
    assert multimodal.decode_png_np(ok[:len(ok) // 2]) is None
    # unsupported headers: palette (3), 16-bit, interlaced — rebuild
    # with a valid CRC so the header check itself is what rejects
    import struct
    import zlib as _z

    def hdr_variant(depth, ct, interlace):
        ihdr = struct.pack(">IIBBBBB", 5, 6, depth, ct, 0, 0, interlace)
        chk = (struct.pack(">I", 13) + b"IHDR" + ihdr
               + struct.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF))
        return ok[:8] + chk + ok[8 + 25:]

    assert multimodal.decode_png_np(hdr_variant(8, 3, 0)) is None
    assert multimodal.decode_png_np(hdr_variant(16, 2, 0)) is None
    assert multimodal.decode_png_np(hdr_variant(8, 2, 1)) is None
    # garbage deflate stream
    bad_idat = (ok[:8] + ok[8:8 + 25]
                + struct.pack(">I", 4) + b"IDAT" + b"\x00\x01\x02\x03"
                + struct.pack(">I", _z.crc32(b"IDAT\x00\x01\x02\x03") & 0xFFFFFFFF)
                + ok[-12:])
    assert multimodal.decode_png_np(bad_idat) is None
    # not a PNG at all
    assert multimodal.decode_png_np(b"BM" + b"\x00" * 64) is None
    assert multimodal.decode_png_np(None) is None

    # decompression bomb: declared dims past the pixel guard must be
    # rejected from the HEADER (no inflate attempt) — and a stream
    # whose DEFLATE output overruns the declared raster must stop at
    # the max_length cap, not materialize first (the capped
    # decompressobj path); both are dead letters
    bomb_hdr = struct.pack(">IIBBBBB", 1 << 13, 1 << 13, 8, 2, 0, 0, 0)
    bomb = (ok[:8] + struct.pack(">I", 13) + b"IHDR" + bomb_hdr
            + struct.pack(">I", _z.crc32(b"IHDR" + bomb_hdr) & 0xFFFFFFFF)
            + ok[8 + 25:])
    assert multimodal.decode_png_np(bomb) is None
    # 5x6 header but a 4 MB inflated payload in a ~4 KB IDAT: the
    # capped inflate stops at want+1 and the length check dead-letters
    overrun_raw = _z.compress(b"\x07" * (4 << 20), 9)
    over = (ok[:8] + ok[8:8 + 25]
            + struct.pack(">I", len(overrun_raw)) + b"IDAT" + overrun_raw
            + struct.pack(">I", _z.crc32(b"IDAT" + overrun_raw) & 0xFFFFFFFF)
            + ok[-12:])
    assert len(over) < 100_000  # the attack payload really is small
    assert multimodal.decode_png_np(over) is None

    # Spark plumbing: format='png' through decode_image + resize
    rows = [(1, _png_bytes(rgb, 2, filters=[0, 1, 2, 3, 4])),
            (2, corrupt), (3, None)]
    df = spark.createDataFrame(rows, "pkey long, html binary")
    out = {r.pkey: r.pixels for r in
           multimodal.decode_image(df, "html", format="png")
           .select("pkey", "pixels").collect()}
    assert list(out[1].pixels) == [float(v) for v in rgb.ravel()]
    assert out[2].width is None and out[3].pixels is None
    resized = multimodal.resize_bytes(df, k=8).select("resized").collect()
    assert all(len(r.resized) == 8 for r in resized)


# ---------------------------------------------------------------------------
# GIF: independent LZW encoder (LSB-first writer, late width change on
# the encoder side per the spec's one-step offset from the decoder's
# table growth) + a published 1x1 fixture anchoring the bitstream
# conventions externally so an encoder/decoder shared misreading of
# the packing rules cannot round-trip its way past the test.
# ---------------------------------------------------------------------------


def _tgif_lzw(min_code, indices):
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    bits = []

    def put(code, width):
        for i in range(width):
            bits.append((code >> i) & 1)

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    # real encoders (giflib) synchronize the code width on EMITTED
    # CODES, not table allocations: the counter bumps on every data
    # code (including the final flush, which allocates nothing), which
    # is what keeps the width of the trailing EOI in step with a
    # decoder whose table hits 2^width on its last append
    counter = eoi + 1
    width = min_code + 1
    put(clear, width)

    def emit(code):
        nonlocal counter, width
        put(code, width)
        counter += 1
        if counter > (1 << width) and width < 12:
            width += 1

    cur = ()
    for s in indices:
        nxt = cur + (int(s),)
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
        cur = (int(s),)
    if cur:
        emit(table[cur])
    put(eoi, width)
    out = bytearray()
    for i in range(0, len(bits), 8):
        b = 0
        for j, bit in enumerate(bits[i:i + 8]):
            b |= bit << j
        out.append(b)
    return bytes(out)


def _sub_blocks(data):
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _gif_bytes(w, h, palette, frames, bg_idx=0, interlace_frames=()):
    """frames: list of (left, top, iw, ih, indices2d, transparent_idx
    or None, disposal).  palette: (n, 3) array, n a power of two."""
    import numpy as np

    n = len(palette)
    size_field = max(0, n.bit_length() - 2)
    out = bytearray(b"GIF89a")
    out += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
    out += bytes([0x80 | size_field, bg_idx, 0])
    out += bytes(np.asarray(palette, dtype=np.uint8).ravel())
    for fi, (left, top, iw, ih, idx, transp, disposal) in enumerate(frames):
        gce = bytes([(disposal << 2) | (1 if transp is not None else 0),
                     0, 0, transp if transp is not None else 0])
        out += bytes([0x21, 0xF9]) + _sub_blocks(gce)
        out += bytes([0x2C])
        out += (int(left).to_bytes(2, "little")
                + int(top).to_bytes(2, "little")
                + int(iw).to_bytes(2, "little")
                + int(ih).to_bytes(2, "little"))
        rows = np.asarray(idx, dtype=np.int64).reshape(ih, iw)
        if fi in interlace_frames:
            order = np.concatenate([np.arange(s, ih, st)
                                    for s, st in ((0, 8), (4, 8),
                                                  (2, 4), (1, 2))])
            rows = rows[order]
            out += bytes([0x40])
        else:
            out += bytes([0x00])
        min_code = max(2, size_field + 1)
        out += bytes([min_code])
        out += _sub_blocks(_tgif_lzw(min_code, rows.ravel()))
    out += bytes([0x3B])
    return bytes(out)


# the widely-published 43-byte transparent 1x1 GIF (tracking-pixel
# bytes): external anchor for LSB packing / CLEAR / EOI conventions
_PIXEL_GIF = (b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
              b"\x21\xf9\x04\x01\x00\x00\x00\x00"
              b"\x2c\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02\x44\x01\x00"
              b"\x3b")


def test_decode_gif_real(spark):
    """From-scratch GIF/LZW: the external 1x1 fixture, exact palette
    round-trips through the independent encoder (incl. a width-growth
    stream and interlacing), multi-frame compositing with transparency
    and disposal, and the reject matrix."""
    import numpy as np

    # external anchor: 1 white pixel (palette color 0), transparency
    # flag set but pointing at index... the classic tracking pixel
    frames = multimodal.decode_gif_np(_PIXEL_GIF)
    assert frames is not None and len(frames) == 1
    assert frames[0].shape == (1, 1, 3)
    assert (frames[0] == 255).all()

    rng = np.random.RandomState(5)
    pal = rng.randint(0, 256, size=(16, 3)).astype(np.uint8)

    # single frame, enough pixels to cross LZW width boundaries
    w, h = 40, 25
    idx = rng.randint(0, 16, size=(h, w))
    gif = _gif_bytes(w, h, pal, [(0, 0, w, h, idx, None, 0)])
    frames = multimodal.decode_gif_np(gif)
    assert frames is not None and len(frames) == 1
    assert (frames[0] == pal[idx]).all()

    # interlaced frame decodes to the same pixels
    gif_i = _gif_bytes(w, h, pal, [(0, 0, w, h, idx, None, 0)],
                       interlace_frames=(0,))
    frames_i = multimodal.decode_gif_np(gif_i)
    assert frames_i is not None and (frames_i[0] == pal[idx]).all()

    # animation: full first frame (disposal keep), then a partial
    # overlay with transparency, then a restore-background frame
    f0 = rng.randint(0, 16, size=(10, 12))
    f1 = rng.randint(0, 16, size=(4, 5))
    f1[1, :] = 7  # transparent index rows
    f2 = rng.randint(0, 16, size=(3, 3))
    gif = _gif_bytes(12, 10, pal, [
        (0, 0, 12, 10, f0, None, 1),
        (2, 3, 5, 4, f1, 7, 2),
        (6, 1, 3, 3, f2, None, 0),
    ], bg_idx=4)
    frames = multimodal.decode_gif_np(gif)
    assert frames is not None and len(frames) == 3
    want0 = pal[f0]
    assert (frames[0] == want0).all()
    want1 = want0.copy()
    region = want1[3:7, 2:7]
    mask = (f1 != 7)[:, :, None]
    region[...] = np.where(mask, pal[f1], region)
    assert (frames[1] == want1).all()
    # frame 2: disposal=2 restored frame 1's region to background
    want2 = want0.copy()
    want2[3:7, 2:7] = pal[4]
    want2[1:4, 6:9] = pal[f2]
    assert (frames[2] == want2).all()

    # rejects: truncated LZW, palette index overflow is impossible by
    # construction (4-bit table) but truncation and garbage are not
    assert multimodal.decode_gif_np(gif[:len(gif) // 2]) is None
    assert multimodal.decode_gif_np(b"GIF89a" + b"\x00" * 8) is None
    assert multimodal.decode_gif_np(b"\x89PNG" + b"\x00" * 30) is None
    assert multimodal.decode_gif_np(None) is None

    # Spark surface: decode_image first frame
    rows = [(1, gif), (2, b"GIF89a junk"), (3, None)]
    df = spark.createDataFrame(rows, "pkey long, html binary")
    out = {r.pkey: r.pixels for r in
           multimodal.decode_image(df, "html", format="gif")
           .select("pkey", "pixels").collect()}
    assert list(out[1].pixels) == [float(v) for v in want0.ravel()]
    assert out[2].pixels is None and out[3].pixels is None


def test_gif_bomb_guard_and_capped_total():
    """Decompression-bomb guard + honest frame totals: a tiny payload
    whose full-canvas frame copies would amplify past the byte budget
    must dead-letter (not OOM the executor), and a frame-capped decode
    must still report the TRUE animation length via a structural
    walk."""
    import numpy as np

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]])

    def anim(nf, w=4, h=4):
        return _gif_bytes(w, h, pal, [
            (0, 0, w, h, np.full((h, w), i % 4), None, 0)
            for i in range(nf)])

    # bomb: 2048x2048 logical screen x 64 one-pixel frames is ~1.5 KB
    # of payload but 64 full-canvas copies = 805 MB of frames.  The
    # budget acts as a second frame cap: decode materializes only what
    # fits, the structural walk still reports the true length
    bomb = _gif_bytes(2048, 2048, pal, [(0, 0, 1, 1, [[1]], None, 0)] * 64)
    assert len(bomb) < 4096
    frames, total = multimodal.decode_gif_np(
        bomb, max_total_bytes=1 << 24, with_total=True)
    assert len(frames) == 1 and total == 64  # 12.6 MB/frame, 16 MB budget
    # a single frame larger than the whole budget is unrepresentable:
    # dead-letter outright
    assert multimodal.decode_gif_np(bomb, max_total_bytes=1 << 20) is None
    # identical construction on a small canvas decodes fully
    small = _gif_bytes(64, 64, pal, [(0, 0, 1, 1, [[1]], None, 0)] * 64)
    frames, total = multimodal.decode_gif_np(small, with_total=True)
    assert len(frames) == 64 and total == 64
    # explicit budget: 4x4 frame = 48 bytes, budget 100 holds 2 frames
    # — a legitimate over-budget animation TRUNCATES (round-4 content
    # keeps decoding), it does not dead-letter
    t2 = multimodal.decode_gif_np(anim(3), max_total_bytes=100,
                                  with_total=True)
    assert len(t2[0]) == 2 and t2[1] == 3
    assert len(multimodal.decode_gif_np(anim(2), max_total_bytes=100)) == 2

    # frame cap: decode stops at max_frames but the structural walk
    # keeps counting image blocks, and the prefix matches the uncapped
    # decode exactly
    capped, total = multimodal.decode_gif_np(anim(7), max_frames=2,
                                             with_total=True)
    assert len(capped) == 2 and total == 7
    uncapped = multimodal.decode_gif_np(anim(7))
    assert all((a == b).all() for a, b in zip(capped, uncapped[:2]))
    # default return shape is unchanged (plain list, no tuple)
    assert isinstance(uncapped, list) and len(uncapped) == 7

    # without with_total the decode stops AT the cap (no structural
    # walk), so a first-frame decode of a payload with a corrupt tail
    # still succeeds; asking for the honest total dead-letters it
    trunc = anim(3)[:-30]
    first = multimodal.decode_gif_np(trunc, max_frames=1)
    assert first is not None and len(first) == 1
    assert multimodal.decode_gif_np(trunc, max_frames=1,
                                    with_total=True) is None


def test_gif_roundtrip_property():
    """Property check: random palettes/dims/frame stacks (transparency,
    disposal, interlace) must round-trip pixel-exactly through the
    independent encoder."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(w=st.integers(1, 24), h=st.integers(1, 24),
           ncol_pow=st.integers(1, 4), nframes=st.integers(1, 3),
           interlace=st.booleans(), seed=st.integers(0, 2**31 - 1))
    def check(w, h, ncol_pow, nframes, interlace, seed):
        rng = np.random.RandomState(seed)
        ncol = 1 << ncol_pow
        pal = rng.randint(0, 256, size=(ncol, 3)).astype(np.uint8)
        frames_in = []
        for _ in range(nframes):
            iw = int(rng.randint(1, w + 1))
            ih = int(rng.randint(1, h + 1))
            left = int(rng.randint(0, w - iw + 1))
            top = int(rng.randint(0, h - ih + 1))
            idx = rng.randint(0, ncol, size=(ih, iw))
            transp = int(rng.randint(0, ncol)) if rng.rand() < 0.5 else None
            disposal = int(rng.randint(0, 4))
            frames_in.append((left, top, iw, ih, idx, transp, disposal))
        gif = _gif_bytes(w, h, pal, frames_in, bg_idx=0,
                         interlace_frames=(0,) if interlace else ())
        got = multimodal.decode_gif_np(gif)
        assert got is not None and len(got) == nframes
        # independent compositing replay
        canvas = np.broadcast_to(pal[0], (h, w, 3)).copy()
        for fi, (left, top, iw, ih, idx, transp, disposal) in \
                enumerate(frames_in):
            region = canvas[top:top + ih, left:left + iw]
            before = region.copy()
            rgb = pal[idx]
            if transp is not None:
                m = (idx != transp)[:, :, None]
                region[...] = np.where(m, rgb, region)
            else:
                region[...] = rgb
            assert got[fi].shape == (h, w, 3)
            assert (got[fi] == canvas).all(), f"frame {fi}"
            if disposal == 2:
                canvas[top:top + ih, left:left + iw] = pal[0]
            elif disposal == 3:
                canvas[top:top + ih, left:left + iw] = before

    check()


# ---------------------------------------------------------------------------
# JPEG: independent reference encoder + direct-sum IDCT oracle.  The
# encoder huffman-codes GIVEN quantized coefficients (its canonical
# code construction, bit packing, and stuffing are written from the
# spec, separately from the decoder's table parse); the oracle
# reconstructs pixels with the O(64^2) textbook IDCT sum via einsum —
# a different computation path from the decoder's separable matrix
# product — plus the same documented rounding convention.
# ---------------------------------------------------------------------------

_TZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]


def _thuff_codes(symbols, length):
    """All-same-length canonical table: (counts16, symbols,
    {sym: (len, code)}).  Valid when len(symbols) < 2^length."""
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    return counts, list(symbols), {s: (length, i)
                                   for i, s in enumerate(symbols)}


class _TBitWriter:
    def __init__(self):
        self.bits = []

    def put(self, value, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def bytes_stuffed(self):
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i:i + 8]:
                b = (b << 1) | bit
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


def _tcat(v):
    """Coefficient category (bit length of |v|) per T.81 F.1.2.1."""
    return 0 if v == 0 else abs(v).bit_length()


def _jpeg_bytes(blocks_per_comp, q_per_comp, w, h, sampling, dri=0,
                sof=0xC0, precision=8, pq=0):
    """blocks_per_comp[ci][mcu_index][block_index] = 64 quantized
    coefficients in ZIGZAG order; sampling = [(h, v), ...]."""
    import struct

    dc_counts, dc_syms, dc_code = _thuff_codes(range(12), 4)
    ac_syms = [0x00, 0xF0] + [(r << 4) | s
                              for r in range(16) for s in range(1, 11)]
    ac_counts, ac_syms, ac_code = _thuff_codes(ac_syms, 8)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xFF\xD8"
    for tq, q in enumerate(q_per_comp):
        if pq == 0:
            out += seg(0xDB, bytes([tq]) + bytes(int(x) for x in q))
        else:  # 16-bit table: decoder must reject
            out += seg(0xDB, bytes([(1 << 4) | tq])
                       + b"".join(struct.pack(">H", int(x)) for x in q))
    ncomp = len(blocks_per_comp)
    sof_body = struct.pack(">BHHB", precision, h, w, ncomp)
    for ci in range(ncomp):
        sof_body += bytes([ci + 1, (sampling[ci][0] << 4) | sampling[ci][1],
                           min(ci, len(q_per_comp) - 1)])
    out += seg(sof, sof_body)
    out += seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms))
    out += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms))
    if dri:
        out += seg(0xDD, struct.pack(">H", dri))
    sos_body = bytes([ncomp])
    for ci in range(ncomp):
        sos_body += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos_body += bytes([0, 63, 0])
    out += seg(0xDA, sos_body)

    n_mcu = len(blocks_per_comp[0])
    pred = [0] * ncomp
    wtr = _TBitWriter()
    entropy = b""
    for m in range(n_mcu):
        if dri and m and m % dri == 0:
            entropy += wtr.bytes_stuffed()
            entropy += bytes([0xFF, 0xD0 + ((m // dri - 1) % 8)])
            wtr = _TBitWriter()
            pred = [0] * ncomp
        for ci in range(ncomp):
            for zz in blocks_per_comp[ci][m]:
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                s = _tcat(diff)
                ln, code = dc_code[s]
                wtr.put(code, ln)
                if s:
                    wtr.put(diff if diff > 0 else diff + (1 << s) - 1, s)
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        ln, code = ac_code[0xF0]
                        wtr.put(code, ln)
                        run -= 16
                    s = _tcat(v)
                    ln, code = ac_code[(run << 4) | s]
                    wtr.put(code, ln)
                    wtr.put(v if v > 0 else v + (1 << s) - 1, s)
                    run = 0
                if run:
                    ln, code = ac_code[0x00]
                    wtr.put(code, ln)
    entropy += wtr.bytes_stuffed()
    return out + entropy + b"\xFF\xD9"


def _jpeg_oracle(blocks_per_comp, q_per_comp, w, h, sampling):
    """Direct-formula reconstruction of the expected pixels."""
    import numpy as np

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    u = np.arange(8)
    cu = np.where(u == 0, np.sqrt(0.5), 1.0)
    cos = np.cos((2 * u[:, None] + 1) * u[None, :] * np.pi / 16)  # [x, u]
    planes = []
    for ci, (sh, sv) in enumerate(sampling):
        plane = np.zeros((mcuy * sv * 8, mcux * sh * 8))
        q = np.asarray(q_per_comp[min(ci, len(q_per_comp) - 1)], dtype=float)
        for m, mblocks in enumerate(blocks_per_comp[ci]):
            my, mx = divmod(m, mcux)
            for bi, zz in enumerate(mblocks):
                by, bx = divmod(bi, sh)
                coef = np.zeros(64)
                dq = np.asarray(zz, dtype=float) * q
                for k in range(64):
                    coef[_TZZ[k]] = dq[k]
                F = coef.reshape(8, 8)
                # f(x,y) = 1/4 sum_uv C(u)C(v) F[u,v] cos_x cos_y
                f = 0.25 * np.einsum("u,v,uv,xu,yv->xy", cu, cu, F, cos, cos)
                plane[(my * sv + by) * 8:(my * sv + by) * 8 + 8,
                      (mx * sh + bx) * 8:(mx * sh + bx) * 8 + 8] = f + 128.0
        plane = np.repeat(np.repeat(plane, vmax // sv, axis=0),
                          hmax // sh, axis=1)[:h, :w]
        planes.append(plane)
    if len(planes) == 1:
        out = planes[0][:, :, None]
    else:
        y, cb, cr = planes
        out = np.stack([y + 1.402 * (cr - 128.0),
                        y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                        y + 1.772 * (cb - 128.0)], axis=2)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _rand_blocks(rng, n_mcu, blocks_per_mcu, density=8, dc_range=40):
    """Sparse random quantized coefficient blocks in zigzag order."""
    out = []
    for _ in range(n_mcu):
        mb = []
        for _ in range(blocks_per_mcu):
            zz = [0] * 64
            zz[0] = int(rng.randint(-dc_range, dc_range + 1))
            for _ in range(density):
                k = int(rng.randint(1, 64))
                zz[k] = int(rng.randint(-20, 21))
            mb.append(zz)
        out.append(mb)
    return out


def test_jpeg_roundtrip_property():
    """Property check: random sparse quantized coefficients, random
    dims (crops included), grayscale / 4:4:4 / 4:2:0 / 4:2:2, random
    restart intervals — decode must match the direct-sum IDCT oracle
    pixel-exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(wm=st.integers(1, 3), hm=st.integers(1, 3),
           crop_x=st.integers(0, 7), crop_y=st.integers(0, 7),
           mode=st.sampled_from(["gray", "444", "420", "422"]),
           dri=st.sampled_from([0, 1, 2]),
           seed=st.integers(0, 2**31 - 1))
    def check(wm, hm, crop_x, crop_y, mode, dri, seed):
        rng = np.random.RandomState(seed)
        q = [int(v) for v in rng.randint(1, 40, size=64)]
        if mode == "gray":
            smp, lb, nc = [(1, 1)], 1, 1
        elif mode == "444":
            smp, lb, nc = [(1, 1)] * 3, 1, 3
        elif mode == "422":
            smp, lb, nc = [(2, 1), (1, 1), (1, 1)], 2, 3
        else:
            smp, lb, nc = [(2, 2), (1, 1), (1, 1)], 4, 3
        hmax = max(s[0] for s in smp)
        vmax = max(s[1] for s in smp)
        w = wm * 8 * hmax - crop_x
        h = hm * 8 * vmax - crop_y
        n_mcu = wm * hm
        blocks = [_rand_blocks(rng, n_mcu, lb)] + [
            _rand_blocks(rng, n_mcu, 1) for _ in range(nc - 1)]
        jpg = _jpeg_bytes(blocks, [q] * nc, w, h, smp, dri=dri)
        got = multimodal.decode_jpeg_np(jpg)
        want = _jpeg_oracle(blocks, [q] * nc, w, h, smp)
        assert got is not None and got.shape == want.shape
        assert (got == want).all()

    check()


def test_decode_jpeg_real(spark):
    """The from-scratch baseline JPEG decoder against the independent
    encoder + direct-IDCT oracle: grayscale, 4:4:4 color, 4:2:0 color,
    non-multiple-of-8 crops, restart intervals, and the reject matrix
    (progressive, 12-bit, 16-bit quantizers, truncation, garbage)."""
    import numpy as np

    rng = np.random.RandomState(11)
    q_lum = [16] * 64
    q_chroma = [24] * 64

    # grayscale 24x13 (width pads to 3 MCUs, height crops mid-block)
    w, h = 24, 13
    blocks = [_rand_blocks(rng, 3 * 2, 1)]
    jpg = _jpeg_bytes(blocks, [q_lum], w, h, [(1, 1)])
    got = multimodal.decode_jpeg_np(jpg)
    want = _jpeg_oracle(blocks, [q_lum], w, h, [(1, 1)])
    assert got is not None and got.shape == (h, w, 1)
    assert (got == want).all()

    # 4:4:4 color 16x8: 2 MCUs, one block per component each
    w, h = 16, 8
    smp = [(1, 1), (1, 1), (1, 1)]
    blocks = [_rand_blocks(rng, 2, 1) for _ in range(3)]
    jpg = _jpeg_bytes(blocks, [q_lum, q_chroma], w, h, smp)
    got = multimodal.decode_jpeg_np(jpg)
    want = _jpeg_oracle(blocks, [q_lum, q_chroma], w, h, smp)
    assert got is not None and got.shape == (h, w, 3)
    assert (got == want).all()

    # 4:2:0 color 21x19: 2x2 MCUs, luma 4 blocks/MCU, chroma 1
    w, h = 21, 19
    smp = [(2, 2), (1, 1), (1, 1)]
    blocks = [_rand_blocks(rng, 4, 4),
              _rand_blocks(rng, 4, 1), _rand_blocks(rng, 4, 1)]
    jpg = _jpeg_bytes(blocks, [q_lum, q_chroma], w, h, smp)
    got = multimodal.decode_jpeg_np(jpg)
    want = _jpeg_oracle(blocks, [q_lum, q_chroma], w, h, smp)
    assert got is not None and got.shape == (h, w, 3)
    assert (got == want).all()

    # 4:2:2 color 18x8: 2 MCUs, luma 2 blocks/MCU (2x1), chroma 1
    w, h = 18, 8
    smp = [(2, 1), (1, 1), (1, 1)]
    blocks = [_rand_blocks(rng, 2, 2),
              _rand_blocks(rng, 2, 1), _rand_blocks(rng, 2, 1)]
    jpg = _jpeg_bytes(blocks, [q_lum, q_chroma], w, h, smp)
    got = multimodal.decode_jpeg_np(jpg)
    want = _jpeg_oracle(blocks, [q_lum, q_chroma], w, h, smp)
    assert got is not None and got.shape == (h, w, 3)
    assert (got == want).all()

    # restart interval DRI=1 on the grayscale case: RST markers between
    # every MCU, DC predictors reset per segment
    w, h = 32, 8
    blocks = [_rand_blocks(rng, 4, 1)]
    jpg = _jpeg_bytes(blocks, [q_lum], w, h, [(1, 1)], dri=1)
    assert b"\xFF\xD0" in jpg or b"\xFF\xD1" in jpg
    got = multimodal.decode_jpeg_np(jpg)
    want = _jpeg_oracle(blocks, [q_lum], w, h, [(1, 1)])
    assert got is not None and (got == want).all()

    # T.81 B.1.1.2: fill 0xFF bytes may precede any marker — a fill
    # byte before the first RSTn must not end the scan (round-5
    # review: the FF FF pair was treated as end-of-scan and the whole
    # valid image dead-lettered)
    first_rst = min(i for i in (jpg.find(b"\xFF\xD0"), jpg.find(b"\xFF\xD1"))
                    if i >= 0)
    padded = jpg[:first_rst] + b"\xFF" + jpg[first_rst:]
    got = multimodal.decode_jpeg_np(padded)
    assert got is not None and (got == want).all()

    # rejects: progressive SOF2, 12-bit, 16-bit DQT, truncated entropy,
    # not a JPEG, None
    base = [_rand_blocks(rng, 1, 1)]
    assert multimodal.decode_jpeg_np(
        _jpeg_bytes(base, [q_lum], 8, 8, [(1, 1)], sof=0xC2)) is None
    assert multimodal.decode_jpeg_np(
        _jpeg_bytes(base, [q_lum], 8, 8, [(1, 1)], precision=12)) is None
    assert multimodal.decode_jpeg_np(
        _jpeg_bytes(base, [q_lum], 8, 8, [(1, 1)], pq=1)) is None
    # truncate INSIDE the entropy stream of a 4-MCU image: guaranteed
    # to exhaust the bit reader -> dead letter
    big = _jpeg_bytes([_rand_blocks(rng, 4, 1)], [q_lum], 32, 8, [(1, 1)])
    assert multimodal.decode_jpeg_np(big[:big.index(b"\xFF\xDA") + 20]) is None
    assert multimodal.decode_jpeg_np(b"GIF89a" + b"\x00" * 32) is None
    assert multimodal.decode_jpeg_np(None) is None

    # Spark plumbing: format='jpeg' through decode_image
    w, h = 16, 8
    blocks = [_rand_blocks(rng, 2, 1)]
    good = _jpeg_bytes(blocks, [q_lum], w, h, [(1, 1)])
    want = _jpeg_oracle(blocks, [q_lum], w, h, [(1, 1)])
    rows = [(1, good), (2, b"\xFF\xD8junk"), (3, None)]
    df = spark.createDataFrame(rows, "pkey long, html binary")
    out = {r.pkey: r.pixels for r in
           multimodal.decode_image(df, "html", format="jpeg")
           .select("pkey", "pixels").collect()}
    assert list(out[1].pixels) == [float(v) for v in want.ravel()]
    assert out[1].width == w and out[1].height == h and out[1].channels == 1
    assert out[2].pixels is None and out[3].pixels is None


def test_jpeg_single_component_ignores_sampling_factors():
    """T.81 A.2: a single-component scan is non-interleaved — blocks
    arrive in raster order over the full-resolution 8x8 grid and the
    SOF's declared sampling factors do NOT group them into MCUs.
    `jpegtran -grayscale` output keeps the source luma factors (e.g.
    2x2), so honoring them would silently decode swapped 8x8 tiles."""
    import numpy as np

    rng = np.random.RandomState(7)
    q = [16] * 64
    # 32x16 with declared 2x2 factors: spec order is 8 raster blocks;
    # MCU-interleaved order would place them as two 2x2 groups
    blocks = [_rand_blocks(rng, 8, 1)]
    jpg = _jpeg_bytes(blocks, [q], 32, 16, sampling=[(2, 2)])
    want = _jpeg_oracle(blocks, [q], 32, 16, [(1, 1)])
    got = multimodal.decode_jpeg_np(jpg)
    assert got is not None and got.shape == want.shape
    assert (got == want).all()

    # non-multiple-of-16 dims with 2x1 factors previously desynced the
    # bit reader (wrong block count); spec order needs exactly
    # ceil(24/8) * ceil(13/8) = 6 blocks
    blocks = [_rand_blocks(rng, 6, 1)]
    jpg = _jpeg_bytes(blocks, [q], 24, 13, sampling=[(2, 1)])
    want = _jpeg_oracle(blocks, [q], 24, 13, [(1, 1)])
    got = multimodal.decode_jpeg_np(jpg)
    assert got is not None and (got == want).all()


def _tiff_bytes(img, bo="<", photometric=None, rows_per_strip=None,
                compression=1, planar=1, bits=None, extra=()):
    """Minimal independent TIFF6 writer: header, strip data, one IFD
    (entries tag-sorted per spec), out-of-line values after the IFD.
    ``img`` is (h, w, spp) uint8; photometric 0 stores inverted pixels
    so a correct decoder returns ``img`` unchanged."""
    import struct

    import numpy as np

    h, w, spp = img.shape
    if photometric is None:
        photometric = 2 if spp == 3 else 1
    rps = rows_per_strip or h
    bits = list(bits) if bits is not None else [8] * spp
    pix = (255 - img) if photometric == 0 else img
    flat = np.ascontiguousarray(pix).tobytes()
    row_bytes = w * spp
    strips = [flat[y0 * row_bytes:(y0 + min(rps, h - y0)) * row_bytes]
              for y0 in range(0, h, rps)]
    header = (b"II" if bo == "<" else b"MM") + struct.pack(bo + "H", 42)
    pos, body, strip_offsets = 8, b"", []
    for s in strips:
        strip_offsets.append(pos)
        body += s
        pos += len(s)
    ifd_off = pos
    header += struct.pack(bo + "I", ifd_off)
    entries = [(256, 4, [w]), (257, 4, [h]), (258, 3, bits),
               (259, 3, [compression]), (262, 3, [photometric]),
               (273, 4, strip_offsets), (277, 3, [spp]),
               (278, 4, [rps]), (279, 4, [len(s) for s in strips]),
               (284, 3, [planar])] + list(extra)
    entries.sort()
    n = len(entries)
    ext_off = ifd_off + 2 + 12 * n + 4
    ifd, ext = struct.pack(bo + "H", n), b""
    fmt = {3: "H", 4: "I"}
    for tag, typ, values in entries:
        raw = b"".join(struct.pack(bo + fmt[typ], v) for v in values)
        if len(raw) <= 4:
            val = raw + b"\x00" * (4 - len(raw))
        else:
            val = struct.pack(bo + "I", ext_off + len(ext))
            ext += raw
        ifd += struct.pack(bo + "HHI", tag, typ, len(values)) + val
    ifd += struct.pack(bo + "I", 0)  # next-IFD pointer: none
    return header + body + ifd + ext


def test_decode_tiff_real(spark):
    """From-scratch baseline TIFF: RGB and grayscale round-trip exact
    through the independent IFD writer in BOTH byte orders, multi-strip
    assembly, WhiteIsZero inversion, the reject matrix (compression,
    planar, tiles, depth, palette), and the Spark surfaces."""
    import numpy as np

    rng = np.random.RandomState(11)
    rgb = rng.randint(0, 256, size=(7, 5, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, size=(7, 5, 1)).astype(np.uint8)

    # little-endian RGB, single strip
    got = multimodal.decode_tiff_np(_tiff_bytes(rgb))
    assert got is not None and (got == rgb).all()
    # big-endian grayscale, multi-strip (3 rows/strip over h=7)
    got = multimodal.decode_tiff_np(_tiff_bytes(gray, bo=">",
                                                rows_per_strip=3))
    assert got is not None and got.shape == (7, 5, 1) and (got == gray).all()
    # WhiteIsZero: stored inverted, decoder re-inverts
    got = multimodal.decode_tiff_np(_tiff_bytes(gray, photometric=0))
    assert (got == gray).all()

    # rejects: LZW compression, planar=2, 16-bit, palette photometric,
    # tiled layout, truncated strip data, garbage, None
    assert multimodal.decode_tiff_np(_tiff_bytes(rgb, compression=5)) is None
    assert multimodal.decode_tiff_np(_tiff_bytes(rgb, planar=2)) is None
    assert multimodal.decode_tiff_np(
        _tiff_bytes(rgb, bits=[16, 16, 16])) is None
    assert multimodal.decode_tiff_np(
        _tiff_bytes(gray, photometric=3)) is None
    assert multimodal.decode_tiff_np(
        _tiff_bytes(rgb, extra=[(322, 4, [16]), (323, 4, [16])])) is None
    whole = _tiff_bytes(rgb)
    assert multimodal.decode_tiff_np(whole[:20]) is None
    assert multimodal.decode_tiff_np(b"II*\x00" + b"\xff" * 40) is None
    assert multimodal.decode_tiff_np(b"abcdefgh") is None
    assert multimodal.decode_tiff_np(None) is None

    # DoS guard: an IFD declaring 64 x 4M-value arrays must not pin
    # the task — unneeded tags are skipped without materializing,
    # and the same counts on a NEEDED tag hit the value-byte budget
    import struct
    import time

    def hostile(tag):
        header = b"II*\x00" + struct.pack("<I", 8)
        ifd = struct.pack("<H", 64)
        for _ in range(64):  # every entry points into the padding
            ifd += struct.pack("<HHII", tag, 4, 1 << 20, 8)
        ifd += struct.pack("<I", 0)
        return header + ifd + b"\x00" * (1 << 22)

    t0 = time.monotonic()
    assert multimodal.decode_tiff_np(hostile(40000)) is None  # skipped
    assert multimodal.decode_tiff_np(hostile(273)) is None    # budget
    assert time.monotonic() - t0 < 10.0

    # Spark surfaces: decode_image(format='tiff') + the decode_any
    # router sniffing both byte orders
    rows = [(1, _tiff_bytes(rgb)), (2, _tiff_bytes(gray, bo=">")),
            (3, b"II*\x00garbage"), (4, None)]
    df = spark.createDataFrame(rows, "pkey long, html binary")
    out = {r.pkey: r.pixels for r in
           multimodal.decode_image(df, "html", format="tiff")
           .select("pkey", "pixels").collect()}
    assert list(out[1].pixels) == [float(v) for v in rgb.ravel()]
    assert out[1].channels == 3 and out[2].channels == 1
    assert out[3].pixels is None and out[4].pixels is None

    routed = {r.pkey: r.image for r in
              multimodal.decode_any(df, "html")
              .select("pkey", "image").collect()}
    assert routed[1].format == "tiff" and routed[2].format == "tiff"
    assert list(routed[2].pixels) == [float(v) for v in gray.ravel()]
    # corrupt payload keeps the sniffed container, NULL pixels
    assert routed[3].format == "tiff" and routed[3].pixels is None
    assert routed[4].format is None


def test_decoders_never_raise_on_garbage():
    """Hostile-input contract shared by every from-scratch decoder:
    arbitrary bytes and bit-flipped VALID files must dead-letter
    (return None or a well-formed result), never raise — at 10^12
    rows a single unhandled codec exception kills the whole stage.
    Random garbage plus single-bit mutations of one valid file per
    format, all fully seeded."""
    import numpy as np

    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, size=(6, 5, 3)).astype(np.uint8)
    pal = rng.randint(0, 256, size=(8, 3)).astype(np.uint8)
    idx = rng.randint(0, 8, size=(6, 5))
    rng.rand(16, 1)  # spent draw: keeps the jpeg/gif fixtures below unchanged
    valid = {
        "bmp": _bmp_bytes(img),
        "pnm": b"P6\n5 6\n255\n" + img.tobytes(),
        "png": _png_bytes(img, 2, filters=[0, 1, 2, 3, 4]),
        "jpeg": _jpeg_bytes([_rand_blocks(rng, 1, 1)], [[16] * 64],
                            8, 8, [(1, 1)]),
        "gif": _gif_bytes(5, 6, pal, [(0, 0, 5, 6, idx, None, 0)]),
        "tiff": _tiff_bytes(img),
    }
    decoders = {
        "bmp": multimodal.decode_bmp_np,
        "pnm": multimodal.decode_pnm_np,
        "png": multimodal.decode_png_np,
        "jpeg": multimodal.decode_jpeg_np,
        "gif": multimodal.decode_gif_np,
        "tiff": multimodal.decode_tiff_np,
    }
    for fmt, dec in decoders.items():
        assert dec(valid[fmt]) is not None, f"{fmt}: fixture must decode"
        magic = valid[fmt][:2]
        # random garbage behind the right magic (reaches past the
        # signature check into the real parser)
        for ln in (0, 1, 7, 64, 500):
            blob = magic + bytes(rng.randint(0, 256, size=ln, dtype=np.uint8))
            dec(blob)  # any return is fine; an exception fails the test
        # every truncation point of the valid file
        v = valid[fmt]
        for cut in range(0, len(v), max(1, len(v) // 40)):
            dec(v[:cut])
        # 300 seeded single-bit flips of the valid file
        arr = np.frombuffer(v, dtype=np.uint8).copy()
        for _ in range(300):
            i = int(rng.randint(0, len(arr)))
            b = int(rng.randint(0, 8))
            arr[i] ^= 1 << b
            out = dec(arr.tobytes())
            if out is not None and fmt == "gif":
                assert isinstance(out, list)
            arr[i] ^= 1 << b  # restore


def test_decode_any_mixed_corpus(spark):
    """One vectorized pass over a MIXED-format column: every payload
    is decoded by its sniffed container (bmp/pnm/png/jpeg/gif), the
    format column distinguishes unknown-container from corrupt-payload
    failures, and the magic map in binary_meta agrees with the
    router's sniff."""
    import numpy as np

    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, size=(4, 3, 3)).astype(np.uint8)
    pal = rng.randint(0, 256, size=(4, 3)).astype(np.uint8)
    gidx = rng.randint(0, 4, size=(4, 3))
    jblocks = [_rand_blocks(rng, 1, 1)]
    payloads = {
        "bmp": (_bmp_bytes(img.tolist()), img.astype(np.float64)),
        "pnm": (b"P6\n3 4\n255\n" + img.tobytes(), img.astype(np.float64)),
        "png": (_png_bytes(img, 2, filters=[0, 1, 2]),
                img.astype(np.float64)),
        "jpeg": (_jpeg_bytes(jblocks, [[16] * 64], 8, 8, [(1, 1)]),
                 _jpeg_oracle(jblocks, [[16] * 64], 8, 8,
                              [(1, 1)]).astype(np.float64)),
        "gif": (_gif_bytes(3, 4, pal, [(0, 0, 3, 4, gidx, None, 0)]),
                pal[gidx].astype(np.float64)),
    }
    rows = [(i, p) for i, (p, _) in enumerate(payloads.values())]
    rows.append((97, b"\x89PNG\r\n\x1a\ncorrupt"))  # sniffs, won't decode
    rows.append((98, b"<html>hi</html>"))           # unknown container
    rows.append((99, None))
    df = spark.createDataFrame(rows, "pkey long, html binary")
    got = {r.pkey: r.image for r in
           multimodal.decode_any(df).select("pkey", "image").collect()}
    for i, (fmt, (_, want)) in enumerate(payloads.items()):
        g = got[i]
        assert g.format == fmt
        assert (g.height, g.width, g.channels) == want.shape
        assert list(g.pixels) == [float(v) for v in want.ravel()]
    assert got[97].format == "png" and got[97].pixels is None
    assert got[98].format is None and got[98].pixels is None
    assert got[99].format is None

    # Column-space modality map stays consistent with the sniff
    meta = {r.pkey: r.modality for r in
            pages_src.binary_meta(df, "html").select("pkey", "modality").collect()}
    want_mod = {0: "image/bmp", 1: "image/pnm", 2: "image/png",
                3: "image/jpeg", 4: "image/gif",
                97: "image/png", 98: "html"}
    for k, v in want_mod.items():
        assert meta[k] == v, (k, meta[k])
