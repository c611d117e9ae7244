"""From-scratch WARC source: Common Crawl's native on-disk format.

The north rule's production input is an Iceberg table of
Common-Crawl-style pages, but upstream of that table the crawl
archive itself is WARC (ISO 28500): a file is a sequence of records —
a CRLF-line header block (``WARC/1.0`` version line + ``Name: value``
fields), a blank line, ``Content-Length`` bytes of content, and a
``CRLF CRLF`` record separator.  Common Crawl ships each record as
its own gzip member, concatenated into ~1 GB ``.warc.gz`` files; a
``response`` record's content is a raw HTTP/1.1 response whose body
is the captured page.  This module turns those files into exactly the
engine's input_hint table shape with no codec or parsing library:

* ``parse_warc_bytes`` — the per-file kernel: multi-member gzip
  inflation (stdlib zlib, bounded by an explicit budget — the GIF
  decompression-bomb lesson), record walk, per-record HTTP parse with
  ``Transfer-Encoding: chunked`` de-chunking.  Errors are data: a
  malformed record dead-letters with a status naming the defect and
  the walk resynchronizes on the next record boundary; the function
  never raises on arbitrary bytes (fuzz-pinned).
* ``read_warc`` — the distributed reader: ``binaryFile`` scan ->
  ``mapInPandas`` (one Arrow batch of files in, record rows out).
  Parallelism is per FILE, which is the real-world plan too: gzip
  members are not splittable mid-stream, Common Crawl sizes files
  (~1 GB) so one file is one sane task, and a 100 TB crawl is ~10^5
  files — far more tasks than executors.  The stage is narrow (zero
  shuffles); everything downstream prunes columns before any wide op.
* ``pages_from_warc`` — composition to the input_hint schema
  ``(url, warc_ts, html, text, lang)``: ok-response records +
  ``pages.extract_geotags``'s Column-space body extraction, so the
  per-row invariant (byte-identical extracted text per url) holds for
  WARC-sourced pages exactly as for table-sourced ones.
* ``transcode_to_utf8`` — CCNet-style charset recovery: declared
  Shift_JIS/EUC-JP/cp1252/… pages strictly re-encode to UTF-8 (the
  ``charset`` column records the source); lying or undeclared
  encodings keep raw bytes so the quarantine stays visible.
* ``encode_warc_bytes`` — an independent test encoder (plain or
  per-record-gzip-member), so round-trip tests do not reuse the
  parser's own conventions.

Reference parity note: this is the web-corpus sibling of the par-file
parser (grid.parse_par) — same contract of positional, named errors
for a byte-level wire format (par.rs:744-859's discipline), applied
to the crawl side of the graft.
"""

from __future__ import annotations

import codecs
import re
import zlib

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

__all__ = [
    "parse_warc_bytes", "read_warc", "pages_from_warc",
    "encode_warc_bytes", "transcode_to_utf8",
]

_CRLF2 = b"\r\n\r\n"
# per-file inflation budget (bytes of DECOMPRESSED data).  A hostile
# ~1 KB gzip stream can declare gigabytes; the reader must bound its
# own memory like decode_gif_np bounds frames.  1 GiB covers Common
# Crawl's standard file size with headroom.
DEFAULT_BUDGET = 1 << 30


def _gunzip_members(buf: bytes, budget: int) -> tuple[bytes, bool]:
    """Inflate concatenated gzip members (Common Crawl: one member per
    record).  Returns (data, truncated): ``truncated`` is True when
    the budget cut inflation short OR a member was corrupt mid-stream
    (everything inflated so far is still parsed — partial files yield
    their complete records plus one dead letter, not nothing)."""
    out = bytearray()
    data = buf
    while data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(zlib.MAX_WBITS | 16)
        try:
            out += d.decompress(data, budget - len(out) + 1)
            if len(out) > budget:
                return bytes(out[:budget]), True
            out += d.flush()
        except zlib.error:
            return bytes(out), True
        if not d.eof:  # member truncated mid-stream
            return bytes(out), True
        data = d.unused_data
    if not out:  # not gzip at all: treat as plain WARC bytes
        return buf, False
    # trailing non-gzip garbage after the last member
    return bytes(out), bool(data.strip(b"\x00"))


def _parse_header_block(block: bytes) -> dict:
    """CRLF-line ``Name: value`` fields -> dict keyed lowercase.
    Obs-fold continuation lines append to the previous field."""
    hdrs: dict[bytes, bytes] = {}
    last = None
    for ln in block.split(b"\r\n"):
        if not ln:
            continue
        if ln[:1] in (b" ", b"\t") and last is not None:
            hdrs[last] += b" " + ln.strip()
            continue
        k, sep, v = ln.partition(b":")
        if not sep:
            continue
        last = k.strip().lower()
        hdrs[last] = v.strip()
    return hdrs


def _dechunk(body: bytes):
    """HTTP/1.1 chunked transfer decoding; None on malformed framing
    (the caller dead-letters).  Trailer section after the 0-chunk is
    discarded per the spec."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            return None
        try:
            size = int(body[pos:nl].split(b";")[0], 16)
        except ValueError:
            return None
        if size < 0:
            # int(b'-07', 16) parses; without this check the cursor
            # arithmetic below can step BACKWARD onto the same token
            # forever — a crafted record must not hang the task
            return None
        if size == 0:
            return bytes(out)
        chunk = body[nl + 2:nl + 2 + size]
        if len(chunk) < size:
            return None
        out += chunk
        pos = nl + 2 + size + 2


_META_CHARSET = re.compile(
    rb'<meta[^>]+charset\s*=\s*["\']?\s*([A-Za-z0-9_.:\-]+)', re.I)
_CT_CHARSET = re.compile(rb'charset\s*=\s*"?([A-Za-z0-9_.:\-]+)', re.I)


def _declared_charset(content_type, body: bytes):
    """The charset a capture declares: Content-Type parameter wins,
    then a BOM, then an HTML meta tag in the first 1024 bytes; None
    when undeclared (the common case for modern UTF-8 pages)."""
    if content_type:
        m = _CT_CHARSET.search(content_type)
        if m:
            return m.group(1).decode("ascii", "replace")
    if body[:3] == codecs.BOM_UTF8:
        return "utf-8-sig"
    # UTF-32 first: its LE BOM (ff fe 00 00) STARTS with the UTF-16 LE
    # BOM, so the 2-byte check would mis-route it
    if body[:4] in (codecs.BOM_UTF32_LE, codecs.BOM_UTF32_BE):
        return "utf-32"
    if body[:2] in (codecs.BOM_UTF16_LE, codecs.BOM_UTF16_BE):
        return "utf-16"
    m = _META_CHARSET.search(body[:1024])
    if m:
        return m.group(1).decode("ascii", "replace")
    return None


# a CORRECT decode of real web text never yields C0/C1 control
# characters (beyond tab/newline), NULs, or replacement chars; a
# wrong-but-total codec (latin-1 over Shift_JIS bytes, utf-16 over
# binary) almost always does — the classic mislabel leaves 0x80-0x9f
# C1 codepoints.  Rejecting such decodes keeps the raw bytes instead
# of committing mojibake to the corpus.
_SUSPECT_DECODE = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f\x80-\x9f�]")


def transcode_to_utf8(body: bytes, charset):
    """(utf8_bytes, source_charset|None) — the CCNet-style charset
    recovery step: a page that is already valid UTF-8 passes through
    untouched (the fast path — one validation scan); otherwise the
    DECLARED charset is tried strictly via stdlib codecs (shift_jis,
    euc_jp, cp1252, gb2312, big5, utf-16, …).  An unknown name, a body
    that does not strictly decode, or a decode showing mojibake
    symptoms (control/replacement codepoints — the signature of a
    lying-but-total codec like latin-1 over Shift_JIS bytes) keeps the
    raw bytes with charset None — downstream the NULL-text quarantine
    stays visible.  Every conversion is attributed in the ``charset``
    column, never silent."""
    if not charset:
        # undeclared (the common case): raw bytes pass through either
        # way, so skip the UTF-8 validation scan entirely — no point
        # paying a full-body probe per page in the ingest hot path
        return body, None
    try:
        body.decode("utf-8")
        return body, None
    except (UnicodeDecodeError, ValueError):
        pass
    try:
        name = codecs.lookup(charset).name
        if name in ("utf-8", "ascii"):
            return body, None  # declared utf-8 but invalid: keep raw
        dec = body.decode(name)
        if _SUSPECT_DECODE.search(dec):
            return body, None
        # encode INSIDE the try: a codec that strictly decodes to lone
        # surrogates would otherwise raise UnicodeEncodeError out of
        # the never-raises parser
        return dec.encode("utf-8"), name
    except (LookupError, UnicodeDecodeError, ValueError):
        return body, None


def _http_payload(content: bytes, budget: int = DEFAULT_BUDGET):
    """(payload bytes, lang, content_type, err) from a raw HTTP response capture.
    ``lang`` is the first ``Content-Language`` token when present.
    ``Content-Encoding: gzip/deflate`` bodies are inflated (budget-
    bounded, same bomb discipline as the file-level gunzip); other
    encodings (br, zstd, …) dead-letter by name rather than flowing
    compressed bytes downstream marked ok."""
    if not content.startswith(b"HTTP/"):
        return None, None, None, "http_bad_status_line"
    sep = content.find(_CRLF2)
    if sep < 0:
        return None, None, None, "http_headers_unterminated"
    hdrs = _parse_header_block(content[content.find(b"\r\n") + 2:sep])
    body = content[sep + 4:]
    if b"chunked" in hdrs.get(b"transfer-encoding", b"").lower():
        body = _dechunk(body)
        if body is None:
            return None, None, None, "http_bad_chunking"
    enc = hdrs.get(b"content-encoding", b"identity").strip().lower()
    if enc in (b"gzip", b"x-gzip", b"deflate"):
        wbits = zlib.MAX_WBITS | 16 if enc != b"deflate" else zlib.MAX_WBITS
        d = zlib.decompressobj(wbits)
        try:
            body = d.decompress(body, budget + 1)
        except zlib.error:
            return None, None, None, "http_bad_content_encoding"
        if len(body) > budget:
            return None, None, None, "http_body_over_budget"
        if not d.eof:  # truncated stream: don't pass partial html as ok
            return None, None, None, "http_bad_content_encoding"
    elif enc not in (b"identity", b""):
        return None, None, None, "http_unsupported_content_encoding"
    lang = hdrs.get(b"content-language")
    if lang:
        lang = lang.split(b",")[0].strip().decode("ascii", "replace")
    return body, lang or None, hdrs.get(b"content-type"), None


def parse_warc_bytes(buf: bytes, budget: int = DEFAULT_BUDGET,
                     transcode: bool = True) -> list[dict]:
    """Walk one WARC file's bytes (gzipped or plain) into record dicts:
    ``{rec_type, url, ts, html, lang, charset, status}``.

    ``transcode=True`` (default) recovers non-UTF-8 pages the CCNet
    way: a response body that is not valid UTF-8 but DECLARES a known
    charset (Content-Type parameter, BOM, or meta tag) is strictly
    re-encoded to UTF-8 and ``charset`` records the source encoding;
    an unknown or lying declaration keeps the raw bytes (``charset``
    NULL) so downstream text extraction quarantines visibly instead
    of producing mojibake.  ``transcode=False`` preserves archival
    bytes exactly.

    status 'ok' rows are well-formed records (``html``/``lang`` only
    populated for HTTP responses; other types carry their headers'
    identity with NULL payload).  Malformed stretches yield ONE
    dead-letter row naming the defect, then the walk resynchronizes at
    the next ``CRLF CRLF WARC/`` boundary — one bad record must not
    swallow the rest of a 1 GB file.  Never raises on arbitrary bytes.
    """
    # normalize bytes-like input (Arrow hands numpy/memoryview) without
    # copying a buffer that is already bytes — at ~1 GB the copy matters
    if not isinstance(buf, bytes):
        buf = bytes(buf)
    data, truncated = _gunzip_members(buf, budget)
    records: list[dict] = []

    def dead(status: str) -> dict:
        return {"rec_type": None, "url": None, "ts": None, "html": None,
                "lang": None, "charset": None, "status": status}

    pos = 0
    n = len(data)
    while pos < n:
        while data.startswith(b"\r\n", pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            records.append(dead("bad_record_magic"))
            nxt = data.find(b"\r\n\r\nWARC/", pos)
            if nxt < 0:
                break
            pos = nxt + 4
            continue
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            records.append(dead("header_unterminated"))
            break
        hdrs = _parse_header_block(data[data.find(b"\r\n", pos) + 2:hdr_end])
        body_start = hdr_end + 4
        try:
            clen = int(hdrs[b"content-length"])
            if clen < 0:
                raise ValueError
        except (KeyError, ValueError):
            records.append(dead("bad_content_length"))
            nxt = data.find(b"\r\n\r\nWARC/", body_start)
            if nxt < 0:
                break
            pos = nxt + 4
            continue
        content = data[body_start:body_start + clen]
        pos = body_start + clen
        if len(content) < clen:
            records.append(dead("record_truncated"))
            break
        rec_type = hdrs.get(b"warc-type", b"").decode("ascii", "replace")
        url = hdrs.get(b"warc-target-uri")
        url = url.decode("utf-8", "replace") if url else None
        ts = hdrs.get(b"warc-date")
        ts = ts.decode("ascii", "replace") if ts else None
        rec = {"rec_type": rec_type or None, "url": url, "ts": ts,
               "html": None, "lang": None, "charset": None,
               "status": "ok"}
        if rec_type == "response":
            payload, lang, ctype, err = _http_payload(content, budget)
            if err is not None:
                rec["status"] = err
            else:
                if transcode and payload:
                    payload, rec["charset"] = transcode_to_utf8(
                        payload, _declared_charset(ctype, payload))
                rec["html"], rec["lang"] = payload, lang
        records.append(rec)
    if truncated:
        records.append(dead("gzip_truncated_or_over_budget"))
    return records


_WARC_SCHEMA = StructType([
    StructField("warc_file", StringType(), True),
    StructField("rec_type", StringType(), True),
    StructField("url", StringType(), True),
    StructField("warc_ts_raw", StringType(), True),
    StructField("html", BinaryType(), True),
    StructField("lang", StringType(), True),
    StructField("charset", StringType(), True),
    StructField("status", StringType(), True),
    StructField("rec_index", IntegerType(), True),
])


def read_warc(spark: SparkSession, path: str,
              budget: int = DEFAULT_BUDGET,
              transcode: bool = True) -> DataFrame:
    """Distributed WARC scan: every record of every file under
    ``path`` (glob ok) as rows ``(warc_file, rec_type, url, warc_ts,
    html, lang, status, rec_index)``.

    Plan shape: ``binaryFile`` scan -> ONE ``mapInPandas`` stage, one
    task per file (gzip members are not splittable; Common Crawl
    sizes files so that is the right granularity), zero shuffles.
    ``rec_index`` preserves each record's position in its file so a
    dead letter is addressable ('file X, record 1047') — the same
    positional-error discipline as the par reader.  ``warc_ts`` is a
    real TIMESTAMP; the raw WARC-Date string survives parsing via
    ``try_to_timestamp`` (an unparseable date yields NULL, never a
    task failure).

    Task granularity is governed by ``spark.sql.files.maxPartitionBytes``:
    the binaryFile scan packs WHOLE files into partitions up to that
    size, so production-sized crawl files (~1 GB > the 128 MB default)
    get one task each with no tuning, while a directory of tiny test
    files coalesces into few tasks — lower the conf (as
    scripts/probe_warc.py does) when benchmarking on small files."""
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    cols = [f.name for f in _WARC_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            # one yielded frame per FILE, not per Arrow batch: a batch
            # can pack several files each inflating to the budget, and
            # a single multi-GiB binary column would overflow Arrow's
            # int32 offsets; per-file frames bound memory to one file
            for fpath, content in zip(pdf["path"], pdf["content"]):
                rows = [
                    (fpath, rec["rec_type"], rec["url"], rec["ts"],
                     rec["html"], rec["lang"], rec["charset"],
                     rec["status"], i)
                    for i, rec in enumerate(
                        parse_warc_bytes(content, budget, transcode))
                ]
                yield pd.DataFrame(rows, columns=cols)

    return (
        files.mapInPandas(gen, _WARC_SCHEMA)
        # pattern-free try_to_timestamp: accepts both second- and
        # fractional-second WARC-Dates (WARC 1.1 allows sub-second);
        # anything unparseable yields NULL, never a task failure
        .withColumn("warc_ts", F.try_to_timestamp(F.col("warc_ts_raw")))
        .drop("warc_ts_raw")
    )


def pages_from_warc(spark: SparkSession, path: str,
                    budget: int = DEFAULT_BUDGET,
                    transcode: bool = True) -> DataFrame:
    """The input_hint table ``(url, warc_ts, html, text, lang)`` from
    raw WARC files: ok HTTP-response records only (the audit trail —
    dead letters, request/metadata records — stays available via
    ``read_warc``), body text extracted with the same Column-space
    regex stage as the table source (``pages.extract_geotags``
    semantics), so WARC-sourced and table-sourced pages satisfy the
    byte-identical-text-per-url invariant through one code path."""
    from . import pages as _pages

    recs = read_warc(spark, path, budget, transcode)
    ok = recs.where((F.col("status") == "ok")
                    & (F.col("rec_type") == "response")
                    & F.col("html").isNotNull())
    # lenient decode: under Spark 4's default ANSI mode a bare decode()
    # ABORTS THE JOB on the first non-UTF-8 capture (Shift_JIS pages,
    # truncated multibyte); try_validate_utf8 turns those into NULL
    # text — the quarantine signal — in one JVM-side function call
    doc = F.try_validate_utf8("html")
    return ok.select(
        "url", "warc_ts", "html",
        F.regexp_extract(doc, _pages.BODY_RE, 1).alias("text"),
        "lang",
    )


def encode_warc_bytes(records: list[dict], gzip_members: bool = False) -> bytes:
    """Independent WARC writer for tests: each record dict may carry
    ``rec_type`` (default 'response'), ``url``, ``ts``, ``payload``
    (bytes — wrapped in an HTTP/1.1 200 response for response
    records, raw content otherwise), ``lang`` and ``chunked`` (emit
    the HTTP body chunked-encoded).  ``gzip_members=True`` compresses
    every record as its own gzip member, the Common Crawl layout."""
    out = bytearray()
    for r in records:
        rec_type = r.get("rec_type", "response")
        payload = r.get("payload", b"")
        if rec_type == "response":
            ce = b""
            enc = r.get("content_encoding")
            if enc:
                if enc in ("gzip", "deflate"):
                    wb = zlib.MAX_WBITS | (16 if enc == "gzip" else 0)
                    c = zlib.compressobj(9, zlib.DEFLATED, wb)
                    payload = c.compress(payload) + c.flush()
                # other names (br, …) keep the payload opaque — the
                # parser must dead-letter them by name
                ce = b"Content-Encoding: " + enc.encode() + b"\r\n"
            if r.get("chunked"):
                body = bytearray()
                for i in range(0, len(payload), 7):
                    part = payload[i:i + 7]
                    body += b"%x\r\n%s\r\n" % (len(part), part)
                body += b"0\r\n\r\n"
                te = b"Transfer-Encoding: chunked\r\n"
            else:
                body, te = payload, b""
            lang = r.get("lang")
            ll = (b"Content-Language: %s\r\n" % lang.encode()) if lang else b""
            ct = r.get("content_type", "text/html").encode()
            content = (b"HTTP/1.1 200 OK\r\nContent-Type: " + ct + b"\r\n"
                       + te + ce + ll + b"\r\n" + bytes(body))
        else:
            content = payload
        hdr = [b"WARC/1.0", b"WARC-Type: " + rec_type.encode()]
        if r.get("url"):
            hdr.append(b"WARC-Target-URI: " + r["url"].encode())
        if r.get("ts"):
            hdr.append(b"WARC-Date: " + r["ts"].encode())
        hdr.append(b"Content-Length: %d" % len(content))
        rec = b"\r\n".join(hdr) + _CRLF2 + content + _CRLF2
        if gzip_members:
            c = zlib.compressobj(9, zlib.DEFLATED, zlib.MAX_WBITS | 16)
            rec = c.compress(rec) + c.flush()
        out += rec
    return bytes(out)
