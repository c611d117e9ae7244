"""Synthetic Common-Crawl-style web-page source (BASELINE input_hint).

Builds the deterministic ``pages`` table — (url:string,
warc_ts:timestamp, html:binary, text:string, lang:string) — from the
driver-provided ``orders`` parquet so every engine (Spark, DuckDB)
derives identical rows from identical inputs; no external data.

The geotag rides inside ``html`` as a ``geo.position`` meta tag;
``extract_geotags`` recovers (lat, lon) and the body text with pure
Column regexes (JVM-side, whole-stage codegen) — the per-row invariant
is byte-identical extracted ``text`` per ``url``.  ``binary_meta``
tags the raw payload column with its length, magic prefix and
modality, also as pure Column ops.

At 100 TB scale this module's real-world counterpart is an Iceberg
scan (``spark.read.format("iceberg")``); the sandbox substitutes
parquet.  The extraction stage is a narrow map — no shuffle — and
prunes to (url, html) only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.oracle import points_sql
from ..plans.spark_sql import sql_with

# token vocabulary for deterministic body text (no external data)
_WORDS = [
    "tokyo", "osaka", "kyoto", "mesh", "grid", "geodetic", "datum",
    "transform", "crawl", "page", "shrine", "station", "river", "park",
]


def synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pages table keyed by url; geotag embedded in html.

    Row i derives from o_orderkey=i of ``{sf_dir}/orders.parquet``:
    the lat/lon distribution follows plans/oracle.points_sql (70%
    SemiDynaEXE fixture cell, 10% param-miss area, 10% hot cell, 10%
    out-of-domain).
    """
    # the orders frame is a sql_with argument: a source constructor
    # leaves the caller's session catalog as it found it
    pts = sql_with(spark, points_sql("__ORDERS__"),
                   ORDERS=spark.read.parquet(f"{sf_dir}/orders.parquet"))
    w = [F.lit(x) for x in _WORDS]
    nw = len(_WORDS)
    # deterministic 8-token body: word[(k * p_j) % nw] for primes p_j
    toks = [
        F.element_at(
            F.array(*w), (F.col("pkey") * F.lit(p) % F.lit(nw)).cast("int") + F.lit(1)
        )
        for p in (3, 5, 7, 11, 13, 17, 19, 23)
    ]
    body = F.concat_ws(" ", *toks)
    return pts.select(
        # 12-digit pad: Spark lpad TRUNCATES strings longer than the
        # pad width, so 8 digits would collide order keys beyond 1e8
        # (reached near SF17) and break the unique-url invariant; 12
        # covers every conceivable SF
        F.concat(F.lit("https://example.jp/doc/"),
                 F.lpad(F.col("pkey").cast("string"), 12, "0")).alias("url"),
        (F.to_timestamp(F.lit("2023-01-01 00:00:00"))
         + F.make_interval(secs=F.col("pkey").cast("double"))).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit('<html><head><meta name="geo.position" content="'),
                F.format_string("%.17g", F.col("lat")),
                F.lit(";"),
                F.format_string("%.17g", F.col("lon")),
                F.lit('"></head><body>'),
                body,
                F.lit("</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        body.alias("text"),
        F.element_at(
            F.array(F.lit("ja"), F.lit("en"), F.lit("ja"), F.lit("ja"), F.lit("es")),
            (F.col("pkey") % 5).cast("int") + F.lit(1),
        ).alias("lang"),
        F.col("pkey"),
        F.col("lat").alias("true_lat"),
        F.col("lon").alias("true_lon"),
        F.col("alt").alias("true_alt"),
    )


# the body-text extraction regex: shared with sources/warc.py so
# WARC-sourced and table-sourced pages extract text through the
# SAME expression (byte-identical-text-per-url invariant)
BODY_RE = r"<body>(.*)</body>"


def extract_geotags(pages: DataFrame) -> DataFrame:
    """Vectorized geotag + body extraction from raw ``html`` bytes.

    Pure Column ops (decode + regexp_extract): stays in whole-stage
    codegen, scales linearly, no Python in the hot path.  Returns
    (url, warc_ts, lang, text, lat, lon); ``text`` must be
    byte-identical to the source's text column per url.
    """
    # lenient decode: under Spark 4's default ANSI mode a bare decode()
    # aborts the job on the first malformed-UTF-8 html payload;
    # try_validate_utf8 yields NULL instead — exactly the existing
    # quarantine route (NULL coordinates) — in ONE function call (a
    # when(is_valid_utf8, decode) guard doubles the expression tree
    # and pushed entry()'s codegen method past janino's 64 KB limit).
    # The synthetic corpus is all-valid, so oracle parity is untouched.
    doc = F.try_validate_utf8("html")
    geo = r'<meta name="geo\.position" content="([^;]+);([^"]+)">'
    return pages.select(
        "url",
        "warc_ts",
        "lang",
        F.regexp_extract(doc, BODY_RE, 1).alias("text"),
        # try_cast, NOT cast: under Spark 4's default ANSI mode a page
        # with no geo tag (regexp_extract -> '') would otherwise abort
        # the whole job with CAST_INVALID_INPUT; the dead-letter
        # contract wants NULL coordinates -> quarantine instead
        F.regexp_extract(doc, geo, 1).try_cast("double").alias("lat"),
        F.regexp_extract(doc, geo, 2).try_cast("double").alias("lon"),
    )


def binary_meta(df: DataFrame, col: str = "html") -> DataFrame:
    """Adds n_bytes / magic / modality columns (pure Column ops)."""
    b = F.col(col)
    # ISO-8859-1 maps every byte, so arbitrary binary never throws
    # (ANSI decode errors on invalid UTF-8)
    magic = F.decode(F.substring(b, 1, 6), "ISO-8859-1")
    # RIFF is a CONTAINER magic shared by WAV, WebP, and AVI: the form
    # type at bytes 9-12 decides the modality
    riff_form = F.decode(F.substring(b, 9, 4), "ISO-8859-1")
    modality = (
        F.when(magic.startswith("<html"), "html")
        .when(magic.startswith("\x89PNG"), "image/png")
        .when(magic.startswith("\xff\xd8"), "image/jpeg")
        .when(magic.startswith("GIF8"), "image/gif")
        .when(magic.startswith("BM"), "image/bmp")
        .when(magic.rlike("^P[2356][ \t\r\n]"), "image/pnm")
        .when(magic.startswith("II*\x00") | magic.startswith("MM\x00*"),
              "image/tiff")
        .when(magic.startswith("RIFF") & (riff_form == "WAVE"), "audio/wav")
        .when(magic.startswith("RIFF") & (riff_form == "WEBP"), "image/webp")
        .when(magic.startswith("RIFF") & (riff_form == "AVI "), "video/avi")
        .otherwise("unknown")
    )
    return df.withColumn("n_bytes", F.length(b).cast("long")) \
             .withColumn("magic", magic) \
             .withColumn("modality", modality)
