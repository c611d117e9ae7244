"""Source-layer tests: par files on disk (load_par, Engine.from_par),
streaming transform, table reader, sink, binary payload metadata."""

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
    p = tmp_path / "semidyna.par"
    p.write_text(PAR_TEXT)
    eng = Engine.from_par(spark, str(p), "SemiDynaEXE")
    df = spark.createDataFrame(
        [(1, 36.10377479, 140.087855041, 2.34)], "pkey long, lat double, lon double, alt double"
    )
    row = eng.forward(df).collect()[0]
    # transformer.rs:301-305 bit-exact constants
    assert row.out_lat == 36.103773017086695
    assert row.out_lon == 140.08785924333452
    assert row.out_alt == 2.4363138578103


def test_streaming_pages_transform(spark, semidyna_grid, tmp_path):
    """Stateless streaming transform: one availableNow micro-batch of
    extracted pages produces the same rows as the batch path."""
    from jgdtrans_rs_spark.streaming.ingest import stream_pages_transform

    eng = Engine(spark, semidyna_grid)
    batch = pages_src.extract_geotags(
        pages_src.synth_pages(spark, "/root/testdata/sf0.001")
    ).select("url", "lat", "lon").unionByName(spark.createDataFrame(
        # dead-letter fixtures: NULL and out-of-range coordinates must
        # come out as status rows, not vanish from the stream
        [("bad://null", None, None), ("bad://oob", 12.0, 3.0)],
        "url string, lat double, lon double"))
    src_dir = str(tmp_path / "pages_src")
    batch.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    out = stream_pages_transform(eng, stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("pages_tf")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, "
        "sum(CASE WHEN status = 0 THEN 1 ELSE 0 END) AS ok, "
        "sum(CASE WHEN status <> 0 THEN 1 ELSE 0 END) AS bad "
        "FROM pages_tf").collect()[0]
    exp = eng.forward(batch, "lat", "lon", None)
    assert got.n == exp.count() == batch.count()
    assert got.ok == exp.filter(F.col("status") == 0).count()
    assert got.bad >= 2  # the injected dead-letter rows are visible


def test_streaming_transform_tile_counts(spark, semidyna_grid, tmp_path):
    """Streaming fused twin (transform + tile + windowed counts):
    availableNow over a file source must reproduce the batch
    groupBy(window, meshcode) counts exactly."""
    from jgdtrans_rs_spark.streaming.ingest import stream_transform_tile_counts

    eng = Engine(spark, semidyna_grid)
    batch = pages_src.extract_geotags(
        pages_src.synth_pages(spark, "/root/testdata/sf0.001")
    ).select("url", "warc_ts", "lat", "lon")
    src_dir = str(tmp_path / "pages_tile_src")
    batch.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema).parquet(src_dir)
    out = stream_transform_tile_counts(eng, stream)
    assert out.isStreaming
    q = (
        # complete mode: append would hold back windows the watermark
        # hasn't closed by stream end; complete emits every window, so
        # the batch twin comparison is exact
        out.writeStream.format("memory").queryName("tile_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    # batch twin, same operators without the stream wrapper — failed
    # rows aggregate under meshcode -1 with n_failed, not dropped
    b = batch.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    tiled = eng.assign_tiles(eng.forward(b, "lat", "lon", None),
                             lat="out_lat", lon="out_lon")
    exp = (
        tiled.groupBy(F.window("warc_ts", "1 hour"), "meshcode")
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.when(F.col("status") != 0, 1).otherwise(0))
             .cast("long").alias("n_failed"))
    )
    got = {(r.window.start, r.meshcode): (r.n_pages, r.n_failed)
           for r in spark.table("tile_counts").collect()}
    want = {(r.window.start, r.meshcode): (r.n_pages, r.n_failed)
            for r in exp.collect()}
    assert got == want and len(want) > 0


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


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on meshcode join with zero Exchange in the
    physical plan (the pay-once co-location layout)."""
    from pyspark.sql import functions as F

    from jgdtrans_rs_spark.sources.sink import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.range(1000).select(
            F.col("id").alias("pkey"),
            (F.col("id") % 97).alias("meshcode"),
            (F.col("id") * 2).alias("payload"),
        )
        write_bucketed_table(df, "pts_a", n_buckets=8)
        write_bucketed_table(df.withColumnRenamed("payload", "other"), "pts_b",
                             n_buckets=8)
        j = spark.table("pts_a").join(spark.table("pts_b"), "meshcode")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS pts_a")
        spark.sql("DROP TABLE IF EXISTS pts_b")


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


def test_streaming_restart_from_checkpoint_exactly_once(
        spark, semidyna_grid, tmp_path):
    """Checkpointed streaming recovery — the property a 100-TB ingest
    leans on: a stopped (or killed) query restarted with the SAME
    checkpointLocation must resume from the recorded source offsets and
    the file sink's commit log must keep the output exactly-once.
    Drive: run availableNow over batch A, stop; append batch B to the
    source; restart the identical query.  The restart must process
    ONLY B (offsets prove the checkpoint was read), the sink must hold
    A union B with every url exactly once, and a third restart with no
    new data must add nothing."""
    from jgdtrans_rs_spark.streaming.ingest import stream_pages_transform

    eng = Engine(spark, semidyna_grid)
    ex = pages_src.extract_geotags(
        pages_src.synth_pages(spark, "/root/testdata/sf0.001")
    ).select("url", "lat", "lon")
    half_a = ex.filter(F.crc32(F.col("url")) % 2 == 0).cache()
    half_b = ex.filter(F.crc32(F.col("url")) % 2 == 1).cache()
    n_a, n_b = half_a.count(), half_b.count()
    assert n_a > 0 and n_b > 0

    src_dir = str(tmp_path / "restart_src")
    out_dir = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")
    half_a.write.mode("overwrite").parquet(src_dir)

    def run_once():
        stream = spark.readStream.schema(half_a.schema).parquet(src_dir)
        q = (
            stream_pages_transform(eng, stream)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out_dir)
            .outputMode("append").trigger(availableNow=True).start()
        )
        finished = q.awaitTermination(120)
        if not finished:  # timed-out query must not masquerade as a
            q.stop()      # partial-progress "result" (noisy host)
            raise AssertionError(
                "availableNow batch did not finish within 120s — "
                "host stall, not an exactly-once regression")
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert run_once() == n_a
    out1 = spark.read.parquet(out_dir)
    assert out1.count() == n_a

    # "crash" happened after commit; new data lands, query restarts
    half_b.write.mode("append").parquet(src_dir)
    assert run_once() == n_b  # ONLY the new files — offsets resumed
    out2 = spark.read.parquet(out_dir).cache()
    assert out2.count() == n_a + n_b
    # exactly-once: every url appears once, nothing reprocessed/lost
    assert out2.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    assert (set(r.url for r in out2.select("url").collect())
            == set(r.url for r in ex.select("url").collect()))

    # idle restart: checkpoint says everything is done
    assert run_once() == 0
    assert spark.read.parquet(out_dir).count() == n_a + n_b
    for df in (half_a, half_b, out2):
        df.unpersist()


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
