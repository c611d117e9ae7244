"""WARC source tests: round-trip through the independent encoder,
dead-letter taxonomy with resynchronization, the never-raise fuzz
contract, and the Spark plumbing (one narrow stage, input_hint
parity with the table source)."""
from __future__ import annotations

import random
import zlib

import pytest
from pyspark.sql import functions as F

from jgdtrans_rs_spark.sources.warc import (
    encode_warc_bytes, pages_from_warc, parse_warc_bytes, read_warc)


def _recs():
    return [
        {"rec_type": "warcinfo", "payload": b"software: test\r\n"},
        {"rec_type": "request", "url": "http://x.example/a",
         "ts": "2024-01-02T03:04:05Z", "payload": b"GET /a HTTP/1.1\r\n"},
        {"rec_type": "response", "url": "http://x.example/a",
         "ts": "2024-01-02T03:04:05Z", "lang": "ja",
         "payload": b"<html><body>hello warc</body></html>"},
        {"rec_type": "response", "url": "http://x.example/b",
         "ts": "2024-01-02T03:04:06Z", "chunked": True,
         "payload": b"<html><body>chunked page body</body></html>"},
        {"rec_type": "metadata", "url": "http://x.example/a",
         "payload": b"fetchTimeMs: 17\r\n"},
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_warc_roundtrip(gz):
    buf = encode_warc_bytes(_recs(), gzip_members=gz)
    out = parse_warc_bytes(buf)
    assert [r["status"] for r in out] == ["ok"] * 5
    assert [r["rec_type"] for r in out] == [
        "warcinfo", "request", "response", "response", "metadata"]
    # non-response records carry identity but no payload
    assert out[1]["url"] == "http://x.example/a" and out[1]["html"] is None
    # plain response: body + Content-Language
    assert out[2]["html"] == b"<html><body>hello warc</body></html>"
    assert out[2]["lang"] == "ja" and out[2]["ts"] == "2024-01-02T03:04:05Z"
    # chunked response de-chunks to the original body
    assert out[3]["html"] == b"<html><body>chunked page body</body></html>"
    assert out[3]["lang"] is None


def test_warc_dead_letters_resync():
    good = encode_warc_bytes([_recs()[2]])
    # garbage before a good record: one bad_record_magic, then the record
    out = parse_warc_bytes(b"NOT A WARC FILE" + b"\r\n\r\n" + good)
    assert [r["status"] for r in out] == ["bad_record_magic", "ok"]
    assert out[1]["html"] == b"<html><body>hello warc</body></html>"

    # bad Content-Length: dead letter, resync onto the NEXT record
    bad = good.replace(b"Content-Length: ", b"Content-Length: x")
    out = parse_warc_bytes(bad + good)
    assert [r["status"] for r in out] == ["bad_content_length", "ok"]

    # negative Content-Length is equally malformed
    neg = (b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -4"
           + b"\r\n\r\n" + good)
    assert parse_warc_bytes(neg)[0]["status"] == "bad_content_length"

    # record truncated mid-content: named, walk stops (nothing to resync)
    out = parse_warc_bytes(good[:-20])
    assert out[-1]["status"] == "record_truncated"

    # header block never terminated
    out = parse_warc_bytes(b"WARC/1.0\r\nWARC-Type: response\r\n")
    assert out == [dict(rec_type=None, url=None, ts=None, html=None,
                        lang=None, charset=None,
                        status="header_unterminated")]

    # HTTP-level defects: named per-record, record stream continues
    resp = _recs()[2]
    raw = encode_warc_bytes([
        {**resp, "payload": b"x"},  # will corrupt below
        resp,
    ])
    raw = raw.replace(b"HTTP/1.1 200 OK", b"JUNK/1.1 200 OK", 1)
    out = parse_warc_bytes(raw)
    assert [r["status"] for r in out] == ["http_bad_status_line", "ok"]

    chunked = encode_warc_bytes([{**resp, "chunked": True}])
    bad_chunk = chunked.replace(b"7\r\n", b"q\r\n", 1)
    assert parse_warc_bytes(bad_chunk)[0]["status"] == "http_bad_chunking"


def test_warc_negative_chunk_size_terminates():
    """int(b'-07', 16) parses — a crafted negative chunk size must
    dead-letter, not walk the cursor backward forever (task hang)."""
    resp = _recs()[2]
    chunked = encode_warc_bytes([{**resp, "chunked": True}])
    out = parse_warc_bytes(chunked.replace(b"7\r\n", b"-7\r\n", 1))
    assert out[0]["status"] == "http_bad_chunking"  # and it RETURNED


def test_warc_content_encoding():
    resp = _recs()[2]
    body = resp["payload"]
    # gzip and deflate bodies inflate back to the original
    for enc in ("gzip", "deflate"):
        out = parse_warc_bytes(encode_warc_bytes(
            [{**resp, "content_encoding": enc}]))
        assert out[0]["status"] == "ok" and out[0]["html"] == body, enc
    # unsupported coding dead-letters by name (compressed bytes must
    # never flow downstream marked ok)
    out = parse_warc_bytes(encode_warc_bytes(
        [{**resp, "content_encoding": "br"}]))
    assert out[0]["status"] == "http_unsupported_content_encoding"
    # corrupt compressed body (deflate data overwritten mid-stream):
    # zlib either raises or never reaches eof — both dead-letter
    raw = encode_warc_bytes([{**resp, "content_encoding": "gzip"}])
    pos = raw.find(b"\r\n\r\n", raw.find(b"HTTP/1.1")) + 14
    corrupt = raw[:pos] + b"\xff\xff\xff\xff" + raw[pos + 4:]
    assert parse_warc_bytes(corrupt)[0]["status"] == \
        "http_bad_content_encoding"
    # body-level decompression bomb: bounded by the same budget
    bomb = encode_warc_bytes(
        [{**resp, "content_encoding": "gzip", "payload": b"\x00" * 60000}])
    assert parse_warc_bytes(bomb, budget=1024)[0]["status"] == \
        "http_body_over_budget"


def test_warc_gzip_budget_and_truncation():
    buf = encode_warc_bytes(_recs(), gzip_members=True)
    # truncated gzip stream: complete members still parse + one dead letter
    cut = buf[: len(buf) - 10]
    out = parse_warc_bytes(cut)
    assert out[-1]["status"] == "gzip_truncated_or_over_budget"
    assert sum(r["status"] == "ok" for r in out) >= 4

    # decompression bomb: tiny compressed stream declaring far more than
    # the budget inflates only budget bytes and dead-letters
    c = zlib.compressobj(9, zlib.DEFLATED, zlib.MAX_WBITS | 16)
    bomb = c.compress(b"\x00" * (1 << 20)) + c.flush()
    assert len(bomb) < 4096
    out = parse_warc_bytes(bomb, budget=1024)
    assert any(r["status"] == "gzip_truncated_or_over_budget" for r in out)


def test_warc_roundtrip_property():
    """Hypothesis: arbitrary record stacks (types, urls, payload bytes,
    chunked/plain, per-record gzip, declared charsets) survive
    encode -> parse with identity on every ok record."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rec_strategy = st.fixed_dictionaries({
        "rec_type": st.sampled_from(["response", "request", "metadata"]),
        "url": st.from_regex(r"http://[a-z]{1,8}\.example/[a-z0-9]{0,12}",
                             fullmatch=True),
        "ts": st.just("2024-01-02T03:04:05Z"),
        # adversarial payloads included: record-boundary and HTTP
        # magic INSIDE a body must not desync the walk (Content-Length
        # framing, not sentinel scanning)
        "payload": st.one_of(
            st.binary(max_size=200),
            st.sampled_from([b"\r\n\r\nWARC/1.0\r\n\r\n",
                             b"HTTP/1.1 200 OK\r\n\r\n\x00",
                             b"Content-Length: 99\r\n\r\n"])),
        "chunked": st.booleans(),
    })

    @settings(max_examples=60, deadline=None)
    @given(recs=st.lists(rec_strategy, min_size=1, max_size=6),
           gz=st.booleans())
    def run(recs, gz):
        out = parse_warc_bytes(
            encode_warc_bytes(recs, gzip_members=gz), transcode=False)
        assert len(out) == len(recs)
        for want, got in zip(recs, out):
            assert got["status"] == "ok"
            assert got["rec_type"] == want["rec_type"]
            assert got["url"] == want["url"]
            if want["rec_type"] == "response":
                assert got["html"] == want["payload"]
            else:
                assert got["html"] is None

    run()


def test_warc_never_raises_on_garbage():
    rng = random.Random(20240818)
    base = encode_warc_bytes(_recs())
    base_gz = encode_warc_bytes(_recs(), gzip_members=True)
    corpora = [b"", b"\x1f\x8b", b"WARC/1.0", bytes(rng.randbytes(4096))]
    for src in (base, base_gz):
        for _ in range(150):
            b = bytearray(src)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            corpora.append(bytes(b))
        for cut in range(0, len(src), 97):
            corpora.append(src[:cut])
    for buf in corpora:
        for rec in parse_warc_bytes(buf, budget=1 << 22):
            assert rec["status"] is not None  # parsed, never raised


def test_warc_charset_transcoding():
    """CCNet-style charset recovery: declared non-UTF-8 pages re-encode
    to UTF-8 with the source charset recorded; undeclared or lying
    declarations keep raw bytes (visible quarantine, never mojibake)."""
    jp = "<html><body>日本語テキスト</body></html>"

    def one(payload, content_type="text/html", transcode=True):
        buf = encode_warc_bytes([{"rec_type": "response",
                                  "url": "http://cs.example/",
                                  "content_type": content_type,
                                  "payload": payload}])
        return parse_warc_bytes(buf, transcode=transcode)[0]

    # meta-tag declaration
    sjis = ('<html><head><meta charset="shift_jis"></head>'
            "<body>日本語テキスト</body></html>").encode("shift_jis")
    r = one(sjis)
    assert r["status"] == "ok" and r["charset"] == "shift_jis"
    assert "日本語テキスト".encode() in r["html"]

    # Content-Type parameter declaration
    r = one(jp.encode("euc_jp"), "text/html; charset=EUC-JP")
    assert r["charset"] == "euc_jp"
    assert r["html"] == jp.encode()

    # BOM declaration (no header, no meta)
    import codecs
    r = one(codecs.BOM_UTF16_LE + jp.encode("utf-16-le"))
    assert r["charset"] == "utf-16" and r["html"] == jp.encode()

    # valid UTF-8 passes through untouched even when mislabeled
    r = one(jp.encode(), "text/html; charset=shift_jis")
    assert r["charset"] is None and r["html"] == jp.encode()

    # unknown charset name: raw bytes kept, no guessing
    raw = jp.encode("euc_jp")
    r = one(raw, "text/html; charset=x-martian")
    assert r["charset"] is None and r["html"] == raw

    # LYING total codec (the classic real-crawl misconfiguration):
    # latin-1 decodes ANY bytes, but Shift_JIS bytes land in the C1
    # range — the mojibake filter must keep the raw bytes
    r = one(jp.encode("shift_jis"), "text/html; charset=iso-8859-1")
    assert r["charset"] is None and r["html"] == jp.encode("shift_jis")

    # a codec that strictly decodes to a lone surrogate must not raise
    # out of the parser (UnicodeEncodeError at re-encode time)
    r = one(b'<meta charset="unicode_escape">\xff \\ud800')
    assert r["status"] == "ok" and r["charset"] is None

    # UTF-32 BOM routes to utf-32, not mis-sniffed as utf-16
    r = one(jp.encode("utf-32"))  # utf-32 prefixes its own BOM
    assert r["charset"] == "utf-32" and r["html"] == jp.encode()

    # archival mode: bytes preserved exactly
    r = one(sjis, transcode=False)
    assert r["charset"] is None and r["html"] == sjis


def test_pages_from_warc_transcoded_text(spark, tmp_path):
    """A declared Shift_JIS page flows through pages_from_warc with its
    body text recovered (the r04 behavior was NULL-text quarantine for
    EVERY non-UTF-8 page; declared ones now survive)."""
    d = tmp_path / "crawl_sjis"
    d.mkdir()
    sjis = ('<html><head><meta charset="Shift-JIS"></head>'
            "<body>日本語</body></html>").encode("shift_jis")
    (d / "f.warc.gz").write_bytes(encode_warc_bytes([
        {"rec_type": "response", "url": "http://cs.example/jp",
         "ts": "2024-01-02T03:04:05Z", "payload": sjis},
    ], gzip_members=True))
    row = pages_from_warc(spark, str(d)).collect()[0]
    assert row.text == "日本語"


def test_read_warc_spark(spark, tmp_path):
    d = tmp_path / "crawl"
    d.mkdir()
    (d / "seg-00000.warc.gz").write_bytes(
        encode_warc_bytes(_recs(), gzip_members=True))
    (d / "seg-00001.warc").write_bytes(
        b"JUNK" + b"\r\n\r\n" + encode_warc_bytes([_recs()[2]]))

    base = read_warc(spark, str(d))
    # narrow plan: binaryFile scan -> one mapInPandas stage, zero shuffles
    plan = base._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" in plan

    df = base.orderBy("warc_file", "rec_index")
    rows = df.collect()
    assert len(rows) == 7  # 5 + (dead letter + 1 ok)
    # positional addressability: file + rec_index name the dead letter
    dead = [r for r in rows if r.status != "ok"]
    assert len(dead) == 1 and dead[0].rec_index == 0
    assert dead[0].warc_file.endswith("seg-00001.warc")
    assert dead[0].status == "bad_record_magic"
    # WARC-Date parsed to a real timestamp (UTC session tz)
    ok_resp = [r for r in rows if r.status == "ok"
               and r.rec_type == "response" and r.lang == "ja"]
    assert str(ok_resp[0].warc_ts) == "2024-01-02 03:04:05"


def test_pages_from_warc_hostile_payloads(spark, tmp_path):
    """Non-UTF-8 captures and fractional WARC-Dates: under Spark 4's
    ANSI mode a bare decode() would abort the whole job on the first
    Shift_JIS page; the guarded decode NULLs text instead (the
    quarantine signal) and the row survives with its raw bytes."""
    from jgdtrans_rs_spark.sources.pages import extract_geotags

    d = tmp_path / "crawl_hostile"
    d.mkdir()
    sjis = "<html><body>日本語</body></html>".encode("shift_jis")
    (d / "f.warc.gz").write_bytes(encode_warc_bytes([
        {"rec_type": "response", "url": "http://x.example/sjis",
         "ts": "2024-01-02T03:04:05.123456Z", "payload": sjis},
        {"rec_type": "response", "url": "http://x.example/utf8",
         "ts": "2024-01-02T03:04:05Z",
         "payload": b"<html><body>ok</body></html>"},
    ], gzip_members=True))

    rows = {r.url: r for r in pages_from_warc(spark, str(d)).collect()}
    assert rows["http://x.example/sjis"].text is None       # quarantined
    assert rows["http://x.example/sjis"].html == sjis       # bytes kept
    assert rows["http://x.example/utf8"].text == "ok"
    # WARC 1.1 sub-second dates parse instead of NULLing
    assert rows["http://x.example/sjis"].warc_ts.microsecond == 123456

    # the downstream table-source extractor shares the guard: the same
    # frame flows through extract_geotags without a job abort
    g = {r.url: r for r in extract_geotags(
        pages_from_warc(spark, str(d))).collect()}
    assert g["http://x.example/sjis"].lat is None            # quarantine
    assert g["http://x.example/utf8"].text == "ok"


def test_pages_from_warc_matches_table_extraction(spark, tmp_path):
    from jgdtrans_rs_spark.sources.pages import extract_geotags

    html = (b'<html><head><meta name="geo.position" '
            b'content="36.1;140.08"></head>'
            b"<body>w1 w2 w3</body></html>")
    d = tmp_path / "crawl2"
    d.mkdir()
    (d / "f.warc.gz").write_bytes(encode_warc_bytes([
        {"rec_type": "response", "url": "http://x.example/p",
         "ts": "2024-03-04T05:06:07Z", "lang": "ja", "payload": html},
    ], gzip_members=True))

    pages = pages_from_warc(spark, str(d))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    row = pages.collect()[0]
    assert row.text == "w1 w2 w3" and row.html == html

    # the SAME frame feeds extract_geotags exactly like the table source
    g = extract_geotags(pages).collect()[0]
    assert g.text == "w1 w2 w3"
    assert g.lat == pytest.approx(36.1) and g.lon == pytest.approx(140.08)


def _crawl_html(lat, lon, body):
    geo = (b'<meta name="geo.position" content="%r;%r">' % (lat, lon)
           if lat is not None else b"")
    return (b'<html><head>' + geo + b"</head><body>"
            + body.encode() + b"</body></html>")


def test_warc_crawl_near_dup_detection(spark, tmp_path):
    """Crawl -> training-data side: pages_from_warc feeds the dedup
    operators through a plain view, and a page re-crawled under a new
    url (exact copy) or lightly edited (near copy) is caught across
    FILES — the cross-shard case a per-file tool cannot see."""
    import random

    from jgdtrans_rs_spark.operators import dedup as dedup_ops
    from jgdtrans_rs_spark.plans import webops
    from jgdtrans_rs_spark.plans.textsql import SPARK

    rng = random.Random(7)
    texts = {}
    base = " ".join(f"w{rng.randrange(100)}q{i}z{rng.randrange(9)}"
                    for i in range(40))
    texts[0] = base
    texts[1] = base                                   # exact re-crawl
    near = base.split()
    near[21] = "edited21y"
    texts[2] = " ".join(near)                         # near copy
    for i in range(3, 10):                            # unrelated docs
        texts[i] = " ".join(
            f"u{i}k{rng.randrange(100)}m{j}" for j in range(40))

    d = tmp_path / "crawl_dup"
    d.mkdir()
    for part in (0, 1):  # copies deliberately land in DIFFERENT files
        recs = [{"rec_type": "response",
                 "url": f"http://dup.example/{i:04d}",
                 "ts": "2024-06-01T00:00:00Z",
                 "payload": (b"<html><body>" + texts[i].encode()
                             + b"</body></html>")}
                for i in sorted(texts) if i % 2 == part]
        (d / f"shard-{part}.warc.gz").write_bytes(
            encode_warc_bytes(recs, gzip_members=True))

    pages_from_warc(spark, str(d)).selectExpr(
        "CAST(substring(url, -4, 4) AS BIGINT) AS doc_id", "text"
    ).createOrReplaceTempView("_warc_dedup_src")
    try:
        # the builders augment the corpus with their own +1000000 /
        # +2000000 fixture copies; assert over the raw crawl ids only
        ex = {r.doc_id: (r.canonical_id, r.group_size)
              for r in spark.sql(webops.dedup_exact_sql(
                  SPARK, docs="_warc_dedup_src")).collect()
              if r.doc_id < 1_000_000}
        assert ex[1][0] == 0 and ex[1][1] >= 2  # re-crawl -> doc 0
        assert all(ex[i][0] == i for i in range(2, 10))
        pairs = {(r.doc_a, r.doc_b) for r in dedup_ops.minhash_lsh_pairs(
            spark, docs="_warc_dedup_src").collect()
            if r.doc_a < 1_000_000 and r.doc_b < 1_000_000}
        assert pairs == {(0, 1), (0, 2), (1, 2)}
    finally:
        spark.catalog.dropTempView("_warc_dedup_src")


def test_warc_crawl_to_sink_end_to_end(spark, semidyna_grid, tmp_path):
    """The full crawl story: raw .warc.gz files -> input_hint pages ->
    geotag extraction -> fused transform+tile -> checkpointed sink.
    A user swapping the page TABLE for the raw crawl archive must get
    the identical corpus — the source frames are row-identical and the
    downstream chain is literally the same code."""
    from jgdtrans_rs_spark.engine import Engine
    from jgdtrans_rs_spark.sources import sink
    from jgdtrans_rs_spark.sources.pages import extract_geotags

    # 30 pages inside the fixture grid cell (page 0 = the reference's
    # bit-exact point, transformer.rs:301-305), 6 with no geo tag, 4 OOB
    pages_spec = []
    for i in range(30):
        lat, lon = 36.1030 + i * 2e-5, 140.0880 + i * 3e-5
        if i == 0:
            lat, lon = 36.10377479, 140.087855041
        pages_spec.append((f"http://c.example/{i:04d}", lat, lon,
                           f"body tokens {i}"))
    for i in range(30, 36):
        pages_spec.append((f"http://c.example/{i:04d}", None, None,
                           f"untagged {i}"))
    for i in range(36, 40):
        pages_spec.append((f"http://c.example/{i:04d}", 95.0, 300.0,
                           f"oob {i}"))

    d = tmp_path / "crawl_e2e"
    d.mkdir()
    for part in range(2):  # two files -> two parallel tasks
        recs = []
        for url, lat, lon, body in pages_spec[part * 20:(part + 1) * 20]:
            recs.append({"rec_type": "request", "url": url,
                         "ts": "2024-05-01T00:00:00Z", "payload": b"GET"})
            recs.append({"rec_type": "response", "url": url,
                         "ts": "2024-05-01T00:00:00Z", "lang": "ja",
                         "payload": _crawl_html(lat, lon, body)})
        (d / f"part-{part}.warc.gz").write_bytes(
            encode_warc_bytes(recs, gzip_members=True))

    warc_pages = pages_from_warc(spark, str(d))

    # source interchangeability: the table-shaped twin of the same crawl
    table_pages = spark.createDataFrame(
        [(u, _crawl_html(la, lo, b)) for u, la, lo, b in pages_spec],
        "url string, html binary").selectExpr(
        "url", "timestamp'2024-05-01 00:00:00' AS warc_ts", "html",
        "'ja' AS lang")
    a = warc_pages.select("url", "warc_ts", "html", "lang") \
        .orderBy("url").collect()
    b = table_pages.select("url", "warc_ts", "html", "lang") \
        .orderBy("url").collect()
    assert a == b

    eng = Engine(spark, semidyna_grid)
    tf = eng.transform_and_tile(extract_geotags(warc_pages),
                                lat="lat", lon="lon", alt=None)

    out_dir = str(tmp_path / "corpus_out")
    manifests = sink.run_checkpointed(tf, out_dir, n_groups=4)
    assert manifests  # groups written this run
    got = sink.read_resumed(spark, out_dir)
    assert got.count() == 40  # every page got a verdict row
    assert got.filter(F.col("status") == 0).count() == 30
    assert got.filter(F.col("status") != 0).count() == 10  # quarantined

    # page 0 carries the reference's bit-exact forward constants
    r0 = got.filter(F.col("url") == "http://c.example/0000").collect()[0]
    assert r0.out_lat == 36.103773017086695
    assert r0.out_lon == 140.08785924333452
    # extracted text survives the whole pipeline byte-identical
    assert got.filter(F.col("url") == "http://c.example/0007") \
        .collect()[0].text == "body tokens 7"
