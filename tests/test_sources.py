"""Source-layer tests: par files on disk (load_par),
table reader, sink, geotag extraction, binary payload metadata."""

from pyspark.sql import functions as F

from jgdtrans_rs_spark.engine import Engine
from jgdtrans_rs_spark.grid import ParseParError, load_par, parse_par
from jgdtrans_rs_spark.sources import pages as pages_src
from tests.conftest import SEMIDYNA, SF_TINY

PAR_TEXT = (
    "\n" * 15
    + "MeshCode dB(sec)  dL(sec) dH(m)\n"
    + "".join(
        f"{c:8d} {a:9.5f} {b:9.5f} {h:9.5f}\n"
        for c, (a, b, h) in sorted(SEMIDYNA.items())
    )
)


def test_engine_from_par(spark, tmp_path):
    """``Transformer::from_str`` on a file: ``load_par`` + ``Engine``."""
    p = tmp_path / "semidyna.par"
    p.write_text(PAR_TEXT)
    eng = Engine(spark, load_par(str(p), "SemiDynaEXE"))
    df = spark.createDataFrame(
        [(1, 36.10377479, 140.087855041, 2.34)], "pkey long, lat double, lon double, alt double"
    )
    row = eng.forward(df).collect()[0]
    # transformer.rs:301-305 bit-exact constants
    assert row.out_lat == 36.103773017086695
    assert row.out_lon == 140.08785924333452
    assert row.out_alt == 2.4363138578103


def test_tables_reader_parquet_fallback(spark):
    """Capability-gated table reader: no Iceberg runtime here, so
    parquet paths read directly, catalog identifiers raise with a
    clear message, and time travel is refused on plain parquet."""
    import pytest

    from jgdtrans_rs_spark.sources import tables

    assert not tables.iceberg_available(spark)
    df = tables.read_table(spark, "/root/testdata/sf0.001/orders.parquet")
    assert df.count() > 0
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        tables.read_table(spark, "warehouse.pages")
    with pytest.raises(ValueError, match="time travel"):
        tables.read_table(spark, "/root/testdata/sf0.001/orders.parquet",
                          snapshot_version=3)


def test_sink_all_empty_pending_write(spark, tmp_path):
    """A fresh checkpoint run over an empty input must write zero-row
    manifests, not crash on schema inference of an empty directory."""
    from jgdtrans_rs_spark.sources import sink

    df = spark.createDataFrame([], "pkey long, meshcode long, status int")
    m = sink.run_checkpointed(df, str(tmp_path / "empty_out"), n_groups=4)
    assert [x["bucket_group"] for x in m] == [0, 1, 2, 3]
    assert all(x["n_rows"] == 0 for x in m)


def test_extract_geotags_missing_tag_dead_letters(spark):
    """A page without a geo tag (or with a garbage coordinate) must
    yield NULL lat/lon — under Spark 4's default ANSI mode a plain
    cast('') would abort the whole job with CAST_INVALID_INPUT."""
    from jgdtrans_rs_spark.sources.pages import extract_geotags

    rows = [
        (1, "https://x/1", "<html><head></head><body>no tag here</body></html>"),
        (2, "https://x/2", '<html><head><meta name="geo.position" '
                           'content="36.5;140.25"></head><body>ok</body></html>'),
    ]
    df = spark.createDataFrame(rows, "pkey long, url string, html_s string") \
        .select("pkey", "url", F.lit("2023-01-01").cast("timestamp").alias("warc_ts"),
                F.lit("en").alias("lang"), F.encode("html_s", "UTF-8").alias("html"))
    got = {r.pkey: (r.lat, r.lon) for r in
           extract_geotags(df).withColumn("pkey", F.col("url").substr(-1, 1).cast("long")).collect()}
    assert got[1] == (None, None)
    assert got[2] == (36.5, 140.25)


def test_binary_meta(spark):
    pages = pages_src.synth_pages(spark, SF_TINY).limit(50)
    rows = pages_src.binary_meta(pages, "html").select(
        "n_bytes", "magic", "modality").collect()
    assert all(r.modality == "html" for r in rows)
    assert all(r.magic == "<html>" for r in rows)
    assert all(r.n_bytes > 50 for r in rows)


def test_binary_meta_magic_detection(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG\r\n\x1a\n1234")),
         (2, bytearray(b"RIFF1234WAVE")),
         (3, bytearray(b"garbage")),
         # RIFF is a container: the form type decides the modality,
         # so WebP and AVI payloads are not tagged as audio
         (4, bytearray(b"RIFF1234WEBPVP8 ")),
         (5, bytearray(b"RIFF1234AVI LIST")),
         (6, bytearray(b"RIFF1234JUNK"))],
        "id long, html binary",
    )
    rows = {r.id: r.modality for r in pages_src.binary_meta(df, "html").collect()}
    assert rows[1] == "image/png"
    assert rows[2] == "audio/wav"
    assert rows[3] == "unknown"
    assert rows[4] == "image/webp"
    assert rows[5] == "video/avi"
    assert rows[6] == "unknown"


def test_par_strict_rejects_java_float_suffix():
    """Java-style '1.5d'/'2f' suffixes are not Rust f64::from_str
    syntax: parse_par raises ParseFloat on them (round-5 review), while
    plain floats/exponents still parse."""
    import pytest

    # TKY2JGD layout: code 0..8, lat 9..18, lon 19..28 — place the
    # suffix INSIDE the lat field window
    line = "46303582" + " " + "11.491d".ljust(9) + " " + "-9.88759".ljust(9)
    with pytest.raises(ParseParError) as e:
        parse_par("JGD2000\nheader\n" + line + "\n", "TKY2JGD")
    assert e.value.kind == "ParseFloat" and e.value.column == "Latitude"

    ok_line = ("46303582" + " " + "1.15e+01".ljust(9) + " "
               + "-9.88759".ljust(9))
    g = parse_par("JGD2000\nheader\n" + ok_line + "\n", "TKY2JGD")
    assert g.dlat_sec[0] == 11.5


def test_par_bare_cr_is_not_a_line_break(tmp_path):
    """Universal-newline reads split on a bare \\r; the reference's
    str::lines does not — a stray CR mid-line must stay ONE line with
    the reference's line numbering, so load_par on the file equals
    parse_par on its text (round-5 review)."""
    text = ("JGD2000\n"
            "header\n"
            "46303582  11.49105\r  -9.88759\n"   # CR mid-line
            "46303592  11.49099   -9.88994\n")
    p = tmp_path / "cr.par"
    p.write_bytes(text.encode())
    ref = parse_par(text, "TKY2JGD")
    got = load_par(str(p), "TKY2JGD")
    assert len(got) == len(ref) == 2
    assert got.codes.tolist() == ref.codes.tolist()
    for col in ("dlat_sec", "dlon_sec", "dalt_m"):
        assert getattr(got, col).tolist() == getattr(ref, col).tolist()
    assert got.description == ref.description

    # CRLF files: the trailing \r is stripped per line, description too
    crlf = tmp_path / "crlf.par"
    crlf.write_bytes(b"JGD2000\r\nheader\r\n"
                     b"46303582  11.49105  -9.88759\r\n"
                     b"46303592  11.49099  -9.88994\r\n")
    g = load_par(str(crlf), "TKY2JGD")
    assert g.codes.tolist() == [46303582, 46303592]
    assert g.dlon_sec.tolist() == [-9.88759, -9.88994]
    assert g.description == "JGD2000\nheader\n"


def test_rasterize_nan_value_does_not_abort(spark):
    """Under ANSI mode a NaN value CAST_OVERFLOW-aborted the whole
    rasterize aggregation; try_cast turns it into a NULL-cents row —
    visible, not fatal (round-5 review)."""
    from jgdtrans_rs_spark.operators import raster as raster_ops

    pts = spark.createDataFrame(
        [(1, 54401005, 2.0), (2, 54401005, float("nan")),
         (3, 54401010, 4.0)],
        "pkey long, meshcode long, v double")
    rows = {r.meshcode: r for r in
            raster_ops.rasterize(pts, "v").collect()}
    assert rows[54401005].n_points == 2          # row still counted
    # the NaN row contributes NULL cents, which SUM skips: the finite
    # part survives and n_points > contributing rows exposes the gap
    assert rows[54401005].value_cents == 200
    assert rows[54401010].value_cents == 400


def test_vectorize_rejects_unit_misaligned_codes(spark):
    """A unit-1 meshcode vectorized at unit=5 used to fabricate a
    pseudo-cell via out-of-range digit carries; it must NaN-quarantine
    like every other invalid code (coord.rs:409-463 rejects
    unit-misaligned coordinates)."""
    import math

    from jgdtrans_rs_spark.operators import raster as raster_ops

    df = spark.createDataFrame([(53394526,), (53394500,)], "meshcode long")
    out = {r.meshcode: r for r in
           raster_ops.vectorize(df, unit=5).collect()}
    bad = out[53394526].sw_lat                   # third digits 2,6
    assert bad is None or math.isnan(bad)
    ok = out[53394500].sw_lat                    # aligned: 0,0
    assert ok is not None and not math.isnan(ok)
