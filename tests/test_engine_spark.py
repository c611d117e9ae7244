"""Spark-layer end-to-end tests: entry pipeline, extraction invariant,
DataFrame kernels vs numpy, spatial operators, checkpoint/resume."""

import itertools
import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from jgdtrans_rs_spark import kernel
from jgdtrans_rs_spark.engine import Engine
from jgdtrans_rs_spark.operators import spatial
from jgdtrans_rs_spark.plans import oracle
from jgdtrans_rs_spark.sources import pages as pages_src
from jgdtrans_rs_spark.sources import sink
from tests.conftest import SF_TINY, max_method_bytes


@pytest.fixture(scope="module")
def engine(spark, semidyna_grid):
    return Engine(spark, semidyna_grid)


@pytest.fixture(scope="module")
def points(spark):
    spark.read.parquet(f"{SF_TINY}/orders.parquet").createOrReplaceTempView("orders")
    return spark.sql(oracle.points_sql("orders")).cache()


def test_entry_runs(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.limit(10).collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"url", "out_lat", "out_lon", "status", "meshcode", "quadkey"}


def test_engine_cache_evicts_only_stopped_sessions(spark):
    """The contract's engine cache must keep entries of OTHER
    still-live sessions (clearing the whole dict made alternating
    calls across two live sessions re-broadcast the grid every call —
    ADVICE r02) while dropping entries whose context stopped."""
    from types import SimpleNamespace

    import __spark_entry__ as entry_mod

    live = entry_mod._engine(spark)
    key = spark.sparkContext.applicationId
    dead = SimpleNamespace(
        spark=SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None)))
    other_live = SimpleNamespace(spark=spark)  # another live session's engine
    entry_mod._ENGINES["dead-app"] = dead
    entry_mod._ENGINES["other-live-app"] = other_live
    del entry_mod._ENGINES[key]  # force the rebuild path (which evicts)
    try:
        rebuilt = entry_mod._engine(spark)
        assert "dead-app" not in entry_mod._ENGINES
        assert entry_mod._ENGINES.get("other-live-app") is other_live
        assert rebuilt is not live  # rebuilt for this session
        assert entry_mod._engine(spark) is rebuilt  # and now cached
    finally:
        entry_mod._ENGINES.pop("other-live-app", None)


def test_pages_text_invariant(spark):
    """Byte-identical extracted text per url (BASELINE input_hint)."""
    pages = pages_src.synth_pages(spark, SF_TINY)
    ex = pages_src.extract_geotags(pages)
    j = pages.select("url", "text", "true_lat", "true_lon").join(
        ex.select("url", F.col("text").alias("text_ex"), "lat", "lon"), "url")
    bad_text = j.filter(F.col("text") != F.col("text_ex")).count()
    assert bad_text == 0
    # geotag round-trips through the %.17g embedding bit-exactly
    bad_geo = j.filter(
        (F.col("true_lat") != F.col("lat")) | (F.col("true_lon") != F.col("lon"))
    ).count()
    assert bad_geo == 0


def test_forward_df_matches_numpy(engine, points, semidyna_grid):
    pdf = points.toPandas().sort_values("pkey")
    la = pdf["lat"].to_numpy()
    lo = pdf["lon"].to_numpy()
    al = pdf["alt"].to_numpy()
    exp_lat, exp_lon, exp_alt, exp_c = kernel.forward(la, lo, al, semidyna_grid)

    out = engine.forward(points, "lat", "lon", "alt").toPandas().sort_values("pkey")
    ok = exp_c.status == 0
    got_lat = out["out_lat"].to_numpy()
    assert (got_lat[ok] == exp_lat[ok]).all()
    assert (out["status"].to_numpy() == exp_c.status).all()
    assert (out["err_corner"].to_numpy() == exp_c.err_corner).all()


def test_validate_split(engine, points):
    valid, quarantine = engine.validate(points, "lat", "lon")
    assert valid.count() + quarantine.count() == points.count()
    assert quarantine.count() == 0  # generated points are in [-90, 90]
    wild = points.withColumn("lat", F.col("lat") + 200.0)
    v2, q2 = engine.validate(wild, "lat", "lon")
    assert v2.count() == 0


def test_validate_null_coordinates_quarantined(engine, spark):
    """A failed geotag extraction yields NULL coordinates; those rows
    must land in quarantine — a NULL predicate would drop them from
    BOTH filter halves (silent data loss)."""
    df = spark.createDataFrame(
        [(1, 36.1, 140.1), (2, None, 140.1), (3, 36.1, None), (4, None, None)],
        "pkey long, lat double, lon double")
    valid, quarantine = engine.validate(df, "lat", "lon")
    assert valid.count() == 1
    assert quarantine.count() == 3  # nothing vanishes
    assert {r["pkey"] for r in quarantine.collect()} == {2, 3, 4}


def _six_conjunct_valid_point(lat, lon):
    """The earlier form of ``Engine.valid_point``, kept as the
    reference of the differential test below."""
    lat, lon = F.col(lat), F.col(lon)
    return (lat.isNotNull() & lon.isNotNull()
            & lat.between(-90.0, 90.0) & lon.between(-180.0, 180.0)
            & ~F.isnan(lat) & ~F.isnan(lon))


def test_valid_point_matches_six_conjunct_reference(engine, spark):
    """Same valid and quarantine splits as the six-conjunct predicate on
    every double class: NULL, NaN, ±inf, ±0.0, the bounds, the next
    double beyond each bound, the smallest subnormal and a huge
    value, in every (lat, lon) combination."""
    import math

    inf = float("inf")
    edge = [None, float("nan"), inf, -inf, 0.0, -0.0, 5e-324, -5e-324, 1e308, -1e308]
    lats = edge + [90.0, -90.0, math.nextafter(90.0, inf), math.nextafter(-90.0, -inf)]
    lons = edge + [180.0, -180.0, math.nextafter(180.0, inf), math.nextafter(-180.0, -inf)]
    rows = [(i, la, lo) for i, (la, lo) in enumerate(itertools.product(lats, lons))]
    df = spark.createDataFrame(rows, "pkey long, lat double, lon double")

    def keys(frame):
        return sorted(r.pkey for r in frame.select("pkey").collect())

    valid, quarantine = engine.validate(df, "lat", "lon")
    ref = _six_conjunct_valid_point("lat", "lon")
    assert keys(valid) == keys(df.filter(ref))
    assert keys(quarantine) == keys(df.filter(~ref))
    assert len(keys(valid)) + len(keys(quarantine)) == len(rows)
    assert 0 < len(keys(valid)) < len(rows)


def test_validate_filter_extracts_each_coordinate_once(engine, spark):
    """The filter pushed above ``extract_geotags`` holds one regex
    extraction per coordinate, on both splits: Catalyst copies the
    ``lat``/``lon`` aliases into every reference of the predicate, and
    the six-conjunct form evaluated the extraction 8 times per page."""
    pages = spark.createDataFrame(
        [("u1", 0, "ja", bytearray(b'<meta name="geo.position" content="36.1;140.1">'))],
        "url string, warc_ts long, lang string, html binary")
    for split in engine.validate(pages_src.extract_geotags(pages), "lat", "lon"):
        plan = split._jdf.queryExecution().optimizedPlan().toString()
        filters = [line for line in plan.splitlines() if line.lstrip(" :+-").startswith("Filter")]
        assert len(filters) == 1, plan
        assert filters[0].count("regexp_extract(") == 2, plan


def test_salted_join_equals_broadcast(engine, points):
    polys = [
        ("p0", [(36.0833, 140.0625), (36.0833, 140.125), (36.125, 140.125), (36.125, 140.0625)]),
        ("p1", [(24.76, 141.29), (24.76, 141.34), (24.80, 141.34), (24.80, 141.29)]),
    ]
    a = spatial.point_in_polygon(points, polys).toPandas()
    tiled = engine.assign_tiles(points)
    b = spatial.bucketed_spatial_join(tiled, polys, 5).toPandas()
    sa = set(map(tuple, a[["pkey", "poly_id"]].itertuples(index=False)))
    sb = set(map(tuple, b[["pkey", "poly_id"]].itertuples(index=False)))
    assert sa == sb and len(sa) > 0


def _star(n: int, lat: float, lon: float, r_in: float, r_out: float):
    t = np.arange(n) * (2 * np.pi / n)
    r = np.where(np.arange(n) % 2 == 0, r_out, r_in)
    return [(float(a), float(b)) for a, b in zip(lat + r * np.sin(t), lon + r * np.cos(t))]


def _ulp_quad(lat0: float, lon0: float):
    """A quadrilateral whose vertices sit 1 ulp off unit-1 mesh nodes,
    so their literals need 16-17 significant digits; two of its edges
    are 2 ulps short of horizontal."""
    up, dn = np.inf, -np.inf
    nodes = [(lat0, lon0, up, dn), (lat0, lon0 + 3 / 80, dn, up),
             (lat0 + 3 / 120, lon0 + 2 / 80, up, dn), (lat0 + 3 / 120, lon0, dn, up)]
    return [(float(np.nextafter(a, da)), float(np.nextafter(b, db))) for a, b, da, db in nodes]


def _edge_points(ring, rng, n: int = 400):
    """n points on the ring's edges (on the crossing formula's
    intercept where the edge is not horizontal), each with its 8
    neighbours 1 ulp off in lat and/or lon."""
    r = np.asarray(ring)
    i = rng.integers(len(ring), size=n)
    (y1, x1), (y2, x2) = r[i].T, r[(i + 1) % len(ring)].T
    t = rng.uniform(0.0, 1.0, n)
    lat = y1 + t * (y2 - y1)
    with np.errstate(divide="ignore", invalid="ignore"):
        lon = np.where(y1 == y2, x1 + t * (x2 - x1), (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
    steps = (lambda v: np.nextafter(v, -np.inf), lambda v: v, lambda v: np.nextafter(v, np.inf))
    return (np.concatenate([f(lat) for f in steps for _ in steps]),
            np.concatenate([g(lon) for _ in steps for g in steps]))


@pytest.mark.parametrize("ring,unit", [
    # mesh-aligned unit-1 rectangle: the bbox float sampling of the
    # cover used to land on cell boundaries and drop a third of its cells
    ([(37.68333333333333, 132.1125), (37.68333333333333, 132.1875),
      (37.74166666666666, 132.1875), (37.74166666666666, 132.1125)], 1),
    # 600 edges in one ring
    (_star(600, 36.1, 140.1, 0.05, 0.09), 5),
    # vertices 1 ulp off mesh nodes: the edge literals must carry every
    # significant digit
    (_ulp_quad(36 + 5 / 120, 140 + 3 / 80), 1),
    # rings across the JGD mesh domain's west and south edges, and one
    # wholly outside it: the hits outside the domain have no mesh cell
    (_star(16, 36.1, 100.0, 0.03, 0.06), 5),
    (_star(16, 0.0, 140.1, 0.03, 0.06), 5),
    (_star(16, 70.0, 50.0, 0.03, 0.06), 5),
], ids=["aligned_rect_unit1", "star600", "ulp_quad_unit1",
        "lon100_straddle", "lat0_straddle", "outside_domain"])
def test_salted_join_equals_broadcast_on_edge_rings(spark, ring, unit):
    """bucketed_spatial_join returns exactly point_in_polygon's hits on
    rings that stress the candidate step and the refine, over uniform
    points plus points on the edges and 1 ulp off them, with no Python
    stage in its plan.  The points carry the meshcode column
    ``Engine.assign_tiles`` gives them (-1 outside the mesh domain),
    which the join does not read."""
    import pandas as pd
    from jgdtrans_rs_spark import mesh

    rng = np.random.default_rng(7)
    la0, la1 = min(p[0] for p in ring), max(p[0] for p in ring)
    lo0, lo1 = min(p[1] for p in ring), max(p[1] for p in ring)
    e_la, e_lo = _edge_points(ring, rng)
    la = np.concatenate([rng.uniform(la0, la1, 3000), e_la])
    lo = np.concatenate([rng.uniform(lo0, lo1, 3000), e_lo])
    lat_d, lon_d, valid = mesh.point_to_digits(la, lo, unit)
    pts = spark.createDataFrame(pd.DataFrame({
        "pkey": np.arange(la.size), "lat": la, "lon": lo,
        "meshcode": np.where(valid, mesh.digits_to_meshcode(lat_d, lon_d), -1)}))
    polys = [("p", ring)]
    want = {tuple(r) for r in spatial.point_in_polygon(pts, polys).collect()}
    out = spatial.bucketed_spatial_join(pts, polys, unit)
    assert "Python" not in out._jdf.queryExecution().executedPlan().toString()
    got = {tuple(r) for r in out.collect()}
    assert got == want and len(want) > 1000


@pytest.mark.parametrize("n_polys", [2, 8, 47], ids=["16_edges", "64_edges", "376_edges"])
def test_bucketed_join_method_size_flat_in_edges(spark, n_polys):
    """The refine's generated code does not grow with the polygons:
    over 1,000 tiled points its largest method stays under HotSpot's
    8,000-byte JIT limit at the pages_pipeline shape (8 octagons) and
    the national one (47), with no Python stage and the numpy
    kernel's hits."""
    import pandas as pd
    from jgdtrans_rs_spark import mesh

    polys = [(f"p{k}", _star(8, 36.0 + 0.1 * (k // 8), 140.0 + 0.1 * (k % 8), 0.03, 0.06))
             for k in range(n_polys)]
    rng = np.random.default_rng(5)
    la = rng.uniform(35.95, 36.05 + 0.1 * ((n_polys - 1) // 8), 1000)
    lo = rng.uniform(139.95, 140.05 + 0.1 * min(n_polys - 1, 7), 1000)
    lat_d, lon_d, _ = mesh.point_to_digits(la, lo, 5)
    pts = spark.createDataFrame(pd.DataFrame({
        "pkey": np.arange(la.size), "lat": la, "lon": lo,
        "meshcode": mesh.digits_to_meshcode(lat_d, lon_d)}))
    assert max_method_bytes(lambda: spatial.bucketed_spatial_join(pts, polys, 5)) < 8000
    out = spatial.bucketed_spatial_join(pts, polys, 5)
    assert "Python" not in out._jdf.queryExecution().executedPlan().toString()
    got = {tuple(r) for r in out.collect()}
    assert got == {tuple(r) for r in spatial.point_in_polygon(pts, polys).collect()}
    assert len(got) > 50


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_refine_pairs_matches_numpy_crossings_on_extreme_vertices(spark):
    """The literal edge array carries every vertex bit for bit and the
    fold computes ``_crossings``' float64 formula: vertices at -0.0,
    5e-324 and 1e+300, a ring of horizontal edges only (a typed empty
    edge array) and an edge whose x2 - x1 overflows to inf (its
    intercept is +inf).  Where that overflow meets lat == y1 (the
    point (0.0, 0.5) of the second ring) the intercept is
    inf * 0 = NaN, which Spark and ``_crossings`` both rank above
    every double, as DuckDB does, and ``_crossings`` raises no
    RuntimeWarning on the way."""
    rings = [
        [(-0.0, 0.0), (1.0, -0.0), (1.0, 1.0), (5e-324, 1.0)],
        [(0.0, -1e308), (1.0, 1e308), (2.0, 0.0)],
        [(0.25, -1e308), (1.25, 1e308), (2.0, 0.0)],
        [(3.0, 0.0), (3.0, 1.0), (3.0, 2.0)],
        [(1e300, -1e300), (-1e300, 0.0), (0.0, 1e300)],
    ]
    lats = [-0.0, 0.0, 5e-324, 1e-300, 0.5, 0.75, 1.0, 1.5, 3.0, 1e299, -5e299]
    lons = [-0.0, 0.0, 5e-324, 0.5, 1.0, 2.0, -1e307, 1e307, 1e298]
    rows = [(k, la, lo, i, f"r{i}") for k, (la, lo, i) in
            enumerate(itertools.product(lats, lons, range(len(rings))))]
    pairs = spark.createDataFrame(
        rows, "pkey long, lat double, lon double, poly_idx int, poly_id string")
    got = {r.pkey for r in spatial.refine_pairs(pairs, rings, "pkey", "lat", "lon").collect()}
    key, la, lo, idx = (np.array(c) for c in list(zip(*rows))[:4])
    want = set()
    for i, ring in enumerate(rings):
        m = idx == i
        want |= set(key[m][spatial._crossings(la[m], lo[m], ring)].tolist())
    assert got == want and len(want) > 50


def test_knn_spark_matches_numpy_kernel(points):
    """The Spark operator (pandas_udf + posexplode) emits exactly the
    numpy kernel's kept slots, in order — which test_properties pins to the
    all-nodes brute force."""
    import numpy as np

    src = points.limit(200).toPandas().sort_values("pkey")
    out = spatial.knn_mesh_nodes(points.limit(200), 5, 3).toPandas()
    top, keep = spatial.knn_topk_np(
        src["lat"].to_numpy(np.float64), src["lon"].to_numpy(np.float64), 5, 3)
    expect = {
        (int(pk), r + 1): int(code)
        for pk, codes, ok in zip(src["pkey"], top, keep)
        for r, code in enumerate(codes[ok])
    }
    got = {
        (int(row.pkey), int(row.rank)): int(row.node_code)
        for row in out.itertuples(index=False)
    }
    assert got == expect and len(got) > 0


def test_checkpoint_resume(engine, points, tmp_path):
    out_dir = str(tmp_path / "ckpt")
    df = engine.assign_tiles(engine.forward(points, "lat", "lon", "alt"), "lat", "lon")
    m1 = sink.run_checkpointed(df, out_dir, n_groups=4)
    assert len(m1) == 4
    assert sum(m["n_rows"] for m in m1) == points.count()
    # simulate a killed job: drop one manifest, rerun -> only 1 group redone
    os.remove(os.path.join(out_dir, sink.MANIFEST_DIR, "part-2.json"))
    m2 = sink.run_checkpointed(df, out_dir, n_groups=4)
    assert [m["bucket_group"] for m in m2] == [2]
    # fully resumed: nothing pending
    m3 = sink.run_checkpointed(df, out_dir, n_groups=4)
    assert m3 == []
    total = sink.read_resumed(engine.spark, out_dir).count()
    assert total == points.count()


def test_checkpoint_resume_hadoop_fs_uri(engine, points, tmp_path):
    """The manifest layer must work against a Hadoop FileSystem URI
    (here ``file:``) — on the 100 TB target out_dir is object storage
    (s3a://...), where driver-local os.listdir/open silently diverged
    from the data location (VERDICT r02).  Exercises completed_groups
    + _write_manifest end-to-end through the Hadoop FS API, including
    the killed-job resume path."""
    out_dir = f"file://{tmp_path}/ckpt_uri"
    df = engine.assign_tiles(engine.forward(points, "lat", "lon", "alt"), "lat", "lon")
    m1 = sink.run_checkpointed(df, out_dir, n_groups=4)
    assert len(m1) == 4
    assert sink.completed_groups(out_dir, engine.spark) == {0, 1, 2, 3}
    # simulate a killed job through the FS API itself (no POSIX escape
    # hatch): drop one manifest, rerun -> only that group is redone
    jvm, fs, mdir = sink._hadoop(engine.spark, f"{out_dir}/{sink.MANIFEST_DIR}")
    assert fs.delete(jvm.org.apache.hadoop.fs.Path(mdir, "part-1.json"), False)
    assert sink.completed_groups(out_dir, engine.spark) == {0, 2, 3}
    m2 = sink.run_checkpointed(df, out_dir, n_groups=4)
    assert [m["bucket_group"] for m in m2] == [1]
    assert sink.run_checkpointed(df, out_dir, n_groups=4) == []
    assert sink.read_resumed(engine.spark, out_dir).count() == points.count()


def test_checkpoint_resume_after_partial_failure(engine, points, tmp_path):
    """Fault injection (VERDICT r04 #1): a job killed MID-WRITE leaves
    a bucket-group data directory in an arbitrary broken state — some
    task files missing, a stray half-written extra file — and no
    committed manifest.  Resume must (a) recompute exactly the
    manifest-less groups, (b) fully REPLACE the broken partition
    directory (dynamic partition overwrite — leftover garbage must not
    survive into the read path), and (c) produce output identical to a
    clean single-pass run."""
    df = engine.assign_tiles(
        engine.forward(points, "lat", "lon", "alt"), "lat", "lon")

    # ground truth: one clean uninterrupted run
    clean_dir = str(tmp_path / "clean")
    sink.run_checkpointed(df, clean_dir, n_groups=4)
    expect = sorted(
        (r.pkey, r.meshcode, r.status)
        for r in sink.read_resumed(engine.spark, clean_dir)
        .select("pkey", "meshcode", "status").collect()
    )

    # the run we will injure
    out_dir = str(tmp_path / "chaos")
    m1 = sink.run_checkpointed(df, out_dir, n_groups=4)
    assert len(m1) == 4

    # kill scenario, via POSIX on the partition dir the way a real
    # mid-job SIGKILL would leave it.  Injure the largest non-empty
    # group (the fixture's meshcodes need not hit every residue class).
    g = max(m1, key=lambda m: m["n_rows"])["bucket_group"]
    assert max(m["n_rows"] for m in m1) > 0
    gdir = os.path.join(out_dir, sink.DATA_DIR, f"bucket_group={g}")
    parts = sorted(f for f in os.listdir(gdir) if f.endswith(".parquet"))
    assert parts, f"fixture must produce at least one file in group {g}"
    # (1) a stray half-written task attempt survives (valid parquet
    # bytes under an uncommitted name — the worst case: readable
    # garbage that would DOUBLE rows if merged instead of replaced)
    stray = os.path.join(gdir, "part-99999-stray-attempt.c000.snappy.parquet")
    with open(os.path.join(gdir, parts[-1]), "rb") as fsrc, open(stray, "wb") as fdst:
        fdst.write(fsrc.read())
    # (2) half the committed files vanish (all of them if only one)
    for f in parts[: max(1, len(parts) // 2)]:
        os.remove(os.path.join(gdir, f))
    # (3) the group's manifest was never committed
    os.remove(os.path.join(out_dir, sink.MANIFEST_DIR, f"part-{g}.json"))

    # resume: exactly the injured group recomputes
    m2 = sink.run_checkpointed(df, out_dir, n_groups=4)
    assert [m["bucket_group"] for m in m2] == [g]
    assert not os.path.exists(stray), "partition dir must be replaced, not merged"
    # third run: nothing pending
    assert sink.run_checkpointed(df, out_dir, n_groups=4) == []

    got = sorted(
        (r.pkey, r.meshcode, r.status)
        for r in sink.read_resumed(engine.spark, out_dir)
        .select("pkey", "meshcode", "status").collect()
    )
    assert got == expect
    # the recomputed manifest matches the clean run's for that group
    clean_m2 = [m for m in sink.run_checkpointed(df, str(tmp_path / "c2"), n_groups=4)
                if m["bucket_group"] == g][0]
    assert m2[0]["n_rows"] == clean_m2["n_rows"]
    assert m2[0]["status_counts"] == clean_m2["status_counts"]


def test_checkpoint_sink_single_pass(spark, points, tmp_path):
    """The sink must consume its input exactly once (the partitioned
    write), not once per bucket group: an accumulator inside a
    pass-through pandas_udf counts how many input rows flow through
    the upstream stage."""
    import pandas as pd
    from pyspark.sql import functions as F

    n = points.count()
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("double")
    def counted(x: pd.Series) -> pd.Series:
        acc.add(len(x))
        return x

    df = (points.withColumn("lat", counted(F.col("lat")))
          .withColumn("meshcode", (F.col("pkey") % 7).cast("long"))
          .withColumn("status", F.lit(0)))
    sink.run_checkpointed(df, str(tmp_path / "once"), n_groups=7)
    assert acc.value == n, f"input scanned {acc.value / n:.1f}x"


def test_explain_no_shuffle_in_transform(engine, points):
    """The transform chain must be one narrow stage: no Exchange in the
    physical plan."""
    df = engine.assign_tiles(engine.forward(points, "lat", "lon", "alt"), "lat", "lon")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_dms_column_parser_matches_scalar(spark):
    """functions.columns.dms_to_degree (pure Column, zero Python) must
    equal dms.dms_to_degree_scalar on every grammar case, including
    FromStr's permissive out-of-range minutes/seconds and the NaN
    error paths."""
    import math

    from pyspark.sql import functions as F

    from tests import dms_reference as dms
    from jgdtrans_rs_spark.functions import columns as C

    corpus = [
        "360613.58925", "-360613.58925", "1400516.27815", "1.2", "1", "+1.",
        "-.2", ".5", "36_06_13.5", "1_2_.5_", "9099", "366113.0", "1810000",
        "2550000", "2560000", "1800001", "0", "-0", "000360613.5", "",
        "_1", "1._5", "abc", "1.2.3", "+", "-", ".", "99999999999999999999999",
        "180", "0.000001", None,
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "s string")
    got = {r["s"]: r["v"] for r in df.select("s", C.dms_to_degree(F.col("s")).alias("v")).collect()}
    plan = df.select(C.dms_to_degree(F.col("s")).alias("v"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan  # stays in codegen
    for s in corpus:
        want = dms.dms_to_degree_scalar(s) if s is not None else None
        have = got[s]
        if want is None:
            assert have is None, s
        elif math.isnan(want):
            assert have is not None and math.isnan(have), (s, have)
        else:
            assert have == want, (s, have, want)  # bit-exact


@pytest.mark.parametrize("op", ["transform_tile_pip", "transform_and_tile"])
def test_fused_fields_pruning(spark, semidyna_grid, engine, points, op):
    """fields= must (a) reject unknown names, (b) emit the kept fields
    in the caller's order, (c) produce values identical to the full
    output on the kept columns; transform_tile_pip must also (d)
    enforce the 63-bit mask bound, as point_in_polygon does, while
    SqlEngine.transform_pip, which keeps no mask, returns the same
    hits for 64 polygons as for one."""
    import __spark_entry__ as entry_mod
    from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

    polys = entry_mod.POLYGONS
    pip = op == "transform_tile_pip"
    args = (polys,) if pip else ()
    run = getattr(engine, op)
    with pytest.raises(ValueError, match="unknown output fields"):
        run(points, *args, fields=["nope"])
    if pip:
        many = [(f"p{i}", polys[0][1]) for i in range(64)]
        for build in (lambda: engine.transform_tile_pip(points, many),
                      lambda: spatial.point_in_polygon(points, many)):
            with pytest.raises(ValueError, match="63-bit"):
                build()
        fwd = engine.forward(points).filter(F.col("status") == 0)
        one = {r.pkey for r in spatial.point_in_polygon(
            fwd, polys[:1], lat="out_lat", lon="out_lon").collect()}
        got = {(r.pkey, r.poly_id) for r in
               SqlEngine(spark, semidyna_grid).transform_pip(points, many).collect()}
        assert one and got == {(k, pid) for k in one for pid, _ in many}

    kept = ["poly_mask" if pip else "quadkey", "status"]  # not schema order
    pts = points.limit(500)
    full = run(pts, *args, "lat", "lon", "alt")
    pruned = run(pts, *args, "lat", "lon", "alt", fields=kept)
    assert pruned.columns == pts.columns + kept
    a = {r.pkey: tuple(r[k] for k in kept)
         for r in full.select("pkey", *kept).collect()}
    b = {r.pkey: tuple(r[k] for k in kept)
         for r in pruned.select("pkey", *kept).collect()}
    assert a == b and len(a) == 500


def test_poly_mask_rows_matches_explode_semantics(engine, points, spark):
    """poly_mask_rows == explode_outer over the decoded index list:
    multi-hit rows fan out, zero-hit rows keep one NULL row."""
    import __spark_entry__ as entry_mod

    polys = entry_mod.POLYGONS
    fused = engine.transform_tile_pip(
        points.limit(2000), polys, fields=["status", "poly_mask"])
    via_join = Engine.poly_mask_rows(fused, polys)
    got = {(r.pkey, r.poly_idx) for r in via_join.select("pkey", "poly_idx").collect()}
    # reference expansion driver-side from the mask bits
    exp = set()
    for r in fused.select("pkey", "poly_mask").collect():
        idxs = [i for i in range(len(polys)) if (r.poly_mask >> i) & 1]
        if idxs:
            exp.update((r.pkey, i) for i in idxs)
        else:
            exp.add((r.pkey, None))
    assert got == exp and any(i is not None for _, i in got)


def _pip(engine, points):
    import __spark_entry__ as entry_mod

    return engine.transform_tile_pip(points, entry_mod.POLYGONS,
                                     fields=["status", "poly_mask"])


def _q4_chain(engine, points):
    """The headline join chain: pruned fused UDF -> broadcast bit-test
    join."""
    import __spark_entry__ as entry_mod

    return Engine.poly_mask_rows(
        _pip(engine, points).filter(F.col("status") == 0).select("pkey", "poly_mask"),
        entry_mod.POLYGONS,
    ).select("pkey", "poly_idx")


_OK = "status = 0"
# (operator chain, input-column count of every planned kernel UDF)
_PLAN_CASES = {
    "forward": (lambda e, p: e.forward(p).filter(_OK).select("pkey", "out_lat"), [3]),
    "backward": (lambda e, p: e.backward(p).filter(_OK).select("pkey", "out_lon"), [3]),
    "forward_corr": (lambda e, p: e.forward_corr(p).filter(_OK).select("pkey", "dlat_deg"),
                     [2]),
    "assign_tiles": (lambda e, p: e.assign_tiles(p).filter("meshcode != -1")
                     .select("pkey", "quadkey"), [2]),
    "transform_and_tile": (lambda e, p: e.transform_and_tile(p).filter(_OK)
                           .select("pkey", "meshcode"), [3]),
    "transform_tile_pip": (lambda e, p: _pip(e, p).filter(_OK).select("pkey", "poly_mask"),
                           [3]),
    # the verdict UDF reads no altitude; an unread coordinates UDF is
    # dropped, a read one runs beside it
    "roundtrip_verdict": (lambda e, p: e.roundtrip_verify(p).filter(_OK)
                          .select("pkey", "roundtrip_exact"), [2]),
    "roundtrip_full": (lambda e, p: e.roundtrip_verify(p).filter(_OK)
                       .select("pkey", "out_lat", "roundtrip_exact"), [2, 3]),
    "q4_chain": (_q4_chain, [3]),
}


@pytest.mark.parametrize("case", list(_PLAN_CASES))
def test_kernel_plan_shape(engine, points, case):
    """Every Engine kernel operator, filtered on its own output and
    projected, plans each kernel UDF exactly once (_no_duplicate: no
    copy pushed into the filter) and ships only the 2-3 coordinate
    columns through Arrow (``points`` is cached, so the UDF arguments
    print as plain attributes).  The q4 chain additionally plans a
    broadcast nested-loop probe and NO shuffle exchange."""
    build, want_inputs = _PLAN_CASES[case]
    plan = build(engine, points)._jdf.queryExecution().executedPlan().toString()
    calls = [args
             for line in plan.splitlines() if "ArrowEvalPython" in line
             for args in re.findall(r"\w+\(([^()]*)\)#\d+",
                                    re.search(r"ArrowEvalPython \[(.*?)\], \[", line)[1])]
    assert sorted(len(a.split(", ")) for a in calls) == want_inputs, plan
    assert plan.count("ArrowEvalPython") == len(want_inputs), plan
    if case == "q4_chain":
        assert "BroadcastNestedLoopJoin" in plan, plan
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "BroadcastExchange" in line, plan


def test_expand_struct_preserves_underscore_r_column(engine, spark):
    """A passthrough column literally named `_r` must survive a kernel
    transform unchanged (the internal struct temp name is chosen
    collision-free)."""
    df = spark.createDataFrame(
        [(1, 36.09, 140.08, 10.0, "keepme")],
        "pkey long, lat double, lon double, alt double, _r string")
    row = engine.forward(df).collect()[0]
    assert row["_r"] == "keepme"
    assert row["status"] == 0 and row["out_lat"] is not None


def test_tile_bounds_node_mode_reference_parity(spark, semidyna_grid):
    """Tile assignment under strict_bounds=False follows
    MeshNode::try_from_point (node-level bounds): longitude exactly
    180.0 gets the (80,0,0) maximum node and a top-latitude-cell point
    gets its valid sw node, while the strict default keeps lon 180.0
    out of domain.  The transform kernels in the SAME parity engine
    still fail those points (cell-level bounds) — matching the
    reference, where node construction succeeds and cell construction
    fails."""
    ref = Engine(spark, semidyna_grid, strict_bounds=False)
    strict = Engine(spark, semidyna_grid)
    df = spark.createDataFrame(
        [(1, 36.09, 180.0, 0.0), (2, 66.63, 140.1, 0.0), (3, 36.09, 140.08, 0.0)],
        "pkey long, lat double, lon double, alt double")
    t_ref = {r.pkey: r.meshcode for r in ref.assign_tiles(df).collect()}
    t_strict = {r.pkey: r.meshcode for r in strict.assign_tiles(df).collect()}
    # lon 180.0: node (80,0,0) under parity mode, out of domain strictly
    assert t_strict[1] == -1
    lon1 = (t_ref[1] // 10_000) % 100
    lon2 = (t_ref[1] // 100) % 10
    lon3 = t_ref[1] % 10
    assert (lon1, lon2, lon3) == (80, 0, 0)
    # top latitude cell: valid sw node in BOTH modes (strict accepts
    # v < 100 here too); in-grid point identical in both
    assert t_ref[2] == t_strict[2] != -1
    assert t_ref[3] == t_strict[3] != -1
    # but the parity engine's TRANSFORM still rejects both boundary
    # points (cell-level inclusive bounds: lon_max node / top-lat cell
    # -> OutOfBounds), while the in-grid point transforms fine
    s_ref = {r.pkey: r.status for r in ref.forward_corr(df).collect()}
    assert s_ref[1] == 1 and s_ref[2] == 1 and s_ref[3] == 0


def test_salted_join_zero_extra_passes_with_stats(spark, engine, points):
    """bucketed_spatial_join consumes its input exactly ONCE (the
    broadcast join itself), with or without ``hot_codes``: no skew
    detection aggregation runs.  Counted with an accumulator inside a
    pass-through pandas_udf on the lat column (the box test reads that
    column, so pruning cannot skip the probe)."""
    import pandas as pd

    polys = [("p0", [(36.0833, 140.0625), (36.0833, 140.125),
                     (36.125, 140.125), (36.125, 140.0625)])]
    tiled = engine.assign_tiles(points)
    n = tiled.count()

    def passes(hot_codes):
        acc = spark.sparkContext.accumulator(0)

        @F.pandas_udf("double")
        def counted(x: pd.Series) -> pd.Series:
            acc.add(len(x))
            return x

        probe = tiled.withColumn("lat", counted.asNondeterministic()(F.col("lat")))
        rows = spatial.bucketed_spatial_join(
            probe, polys, 5, hot_codes=hot_codes).count()
        return acc.value / n, rows

    (with_stats, rows_with), (without, rows_without) = passes([54401005]), passes(None)
    assert with_stats == 1.0, f"{with_stats:.1f} passes with hot_codes"
    assert without == 1.0, f"{without:.1f} passes without hot_codes"
    assert rows_with == rows_without > 0


def test_hot_codes_from_manifests_feeds_salted_join(spark, engine, points, tmp_path):
    """End-to-end statistics feeder: run_checkpointed records per-group
    top-tile counts in the manifests; hot_codes_from_manifests reads
    them back (zero passes over the corpus) and the salted join fed
    with them reproduces the broadcast PIP oracle exactly."""
    polys = [("p0", [(36.0833, 140.0625), (36.0833, 140.125),
                     (36.125, 140.125), (36.125, 140.0625)])]
    tiled = engine.assign_tiles(
        engine.forward(points, "lat", "lon", "alt"), "lat", "lon")
    out_dir = str(tmp_path / "stats_sink")
    ms = sink.run_checkpointed(tiled, out_dir, n_groups=4)
    assert all("top_tiles" in m for m in ms)
    assert any(m["top_tiles"] for m in ms)
    # recorded counts are real row counts per code
    recorded = {c: k for m in ms for c, k in m["top_tiles"]}
    sample_code = max(recorded, key=recorded.get)
    true_n = tiled.filter(F.col("meshcode") == sample_code).count()
    assert recorded[sample_code] == true_n

    hot = sink.hot_codes_from_manifests(out_dir, spark, threshold=10)
    assert hot and -1 not in hot
    got = spatial.bucketed_spatial_join(
        engine.assign_tiles(points), polys, 5, hot_codes=hot).toPandas()
    want = spatial.point_in_polygon(points, polys).toPandas()
    assert (set(map(tuple, got[["pkey", "poly_id"]].itertuples(index=False)))
            == set(map(tuple, want[["pkey", "poly_id"]].itertuples(index=False))))


def test_hot_codes_truncation_is_loud(spark, tmp_path):
    """The manifests' top-N tile cap must never be a SILENT performance
    cliff: when a group records fewer tiles than it holds (n_tiles >
    len(top_tiles)) AND every recorded count is above the read-side
    threshold, hotter-than-threshold tiles may be hidden — exactly that
    condition warns.  When the recorded floor is <= threshold the hot
    set is provably complete (hidden tiles are all <= the floor) and no
    warning fires."""
    import warnings

    # TOP_TILES + 2 tiles, all congruent mod 4 -> one group holds all
    # of them; the cap must truncate and say so (counts 40, 38, ... rows)
    rows = [(i, 54400000 + 4 * t, 0) for t in range(sink.TOP_TILES + 2)
            for i in range(40 - 2 * t)]
    tiled = spark.createDataFrame(
        rows, "pkey long, meshcode long, status int")
    out_dir = str(tmp_path / "trunc_sink")
    ms = sink.run_checkpointed(tiled, out_dir, n_groups=4)
    assert all("n_tiles" in m for m in ms)
    assert any(m["n_tiles"] > len(m["top_tiles"]) for m in ms)
    # threshold below every recorded count -> incomplete-set hazard
    with pytest.warns(UserWarning, match="truncated at top_tiles"):
        sink.hot_codes_from_manifests(out_dir, spark, threshold=0)
    # threshold at/above the recorded floor -> provably complete, quiet
    floor = min(n for m in ms for _, n in m["top_tiles"])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sink.hot_codes_from_manifests(out_dir, spark, threshold=floor)


def test_sink_tile_stats_exclude_error_sentinel(spark, tmp_path):
    """meshcode -1 (dead-lettered rows) is never a join key, so it must
    not occupy a top_tiles slot, count toward n_tiles, or poison the
    truncation proof: a group whose dominant 'tile' is the error bucket
    must still record its real tiles and stay warning-free, with the
    error volume visible in status_counts instead."""
    import warnings

    rows = ([(i, -1, 1) for i in range(50)]          # dominant error mass
            + [(100 + i, 54400000, 0) for i in range(8)]
            + [(200 + i, 54400004, 0) for i in range(3)])
    tiled = spark.createDataFrame(
        rows, "pkey long, meshcode long, status int")
    out_dir = str(tmp_path / "sentinel_sink")
    ms = sink.run_checkpointed(tiled, out_dir, n_groups=1)
    (m,) = ms
    assert [c for c, _ in m["top_tiles"]] == [54400000, 54400004]
    assert m["n_tiles"] == 2                     # sentinel not a tile
    assert m["status_counts"].get("1", m["status_counts"].get(1)) == 50
    # sentinel-heavy group must not trip the truncation warning: the
    # recorded set IS complete over real tiles
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        hot = sink.hot_codes_from_manifests(out_dir, spark, threshold=5)
    assert hot == [54400000]


def test_sink_null_meshcode_and_status_accounting(spark, tmp_path):
    """NULL-tolerant sink accounting (round-5 review): NULL meshcodes
    (a left-joined or nullable tile column) must land in a real bucket
    group — pmod(NULL) is NULL and previously fell out of the pending
    filter, vanishing from data AND manifests — and a NULL status must
    count under the -1 key instead of raising int(None) after the
    data write already committed."""
    df = spark.createDataFrame(
        [(1, 54400000, 0), (2, 54400001, 0),
         (3, None, 1),                      # NULL meshcode
         (4, 54400002, None)],              # NULL status
        "pkey long, meshcode long, status int")
    out_dir = str(tmp_path / "null_sink")
    ms = sink.run_checkpointed(df, out_dir, n_groups=2)
    assert sum(m["n_rows"] for m in ms) == 4       # nothing dropped
    assert sink.read_resumed(spark, out_dir).count() == 4
    merged: dict = {}
    for m in ms:
        for k, v in m["status_counts"].items():
            merged[k] = merged.get(k, 0) + v
    # string keys, identical live and after a json round-trip
    assert merged == {"0": 2, "1": 1, "-1": 1}
    reread: dict = {}
    for m in sink.read_manifests(out_dir, spark):
        for k, v in m["status_counts"].items():
            reread[k] = reread.get(k, 0) + v
    assert reread == merged


def _sink_edge_rows():
    """Group 0 of 2 (even codes): ten tiles, more than TOP_TILES, with
    tied counts on both sides of the cut and a NULL status; group 1
    (odd codes): -1 tiles, a NULL meshcode, two tied tiles and a NULL
    status."""
    rows = []
    for t, n in enumerate([5, 4, 4, 3, 3, 3, 2, 2, 2, 1]):
        code = 54400000 + 2 * (9 - t)   # descending codes: ties break ascending
        rows += [(code, 0 if j else 2) for j in range(n)]
    rows += [(54400002, None)] + [(-1, 1)] * 4 + [(None, 1)]
    rows += [(54400003, 0)] * 3 + [(54400001, 0)] * 2 + [(54400001, None)]
    return [(k, code, status) for k, (code, status) in enumerate(rows)]


def test_sink_manifests_pinned_on_edge_input(spark, tmp_path):
    """NULL status, NULL meshcode, -1 tiles, tied tile counts (meshcode
    ascending breaks the tie) and a group truncated at TOP_TILES: the
    manifests, less ``wall_ts``, are pinned literals (the ones the
    persisted two-collect read-back wrote)."""
    df = spark.createDataFrame(_sink_edge_rows(), "pkey long, meshcode long, status int")
    out_dir = str(tmp_path / "edge_sink")
    ms = sink.run_checkpointed(df, out_dir, n_groups=2)
    want = [
        {"bucket_group": 0, "n_rows": 30, "n_ok": 19,
         "status_counts": {"-1": 1, "0": 19, "2": 10},
         "top_tiles": [[54400018, 5], [54400014, 4], [54400016, 4], [54400002, 3],
                       [54400008, 3], [54400010, 3], [54400012, 3], [54400004, 2]],
         "n_tiles": 10},
        {"bucket_group": 1, "n_rows": 11, "n_ok": 5,
         "status_counts": {"-1": 1, "0": 5, "1": 5},
         "top_tiles": [[54400001, 3], [54400003, 3]],
         "n_tiles": 2},
    ]
    assert [{k: v for k, v in m.items() if k != "wall_ts"} for m in ms] == want
    reread = sorted(sink.read_manifests(out_dir, spark), key=lambda m: m["bucket_group"])
    assert reread == ms


def test_sink_readback_job_count(spark, tmp_path, monkeypatch):
    """After the data write, ``run_checkpointed`` derives every
    manifest from one read-back query: at most 4 Spark jobs (a
    persisted base aggregate with two collects took 7).  Jobs are
    counted through the status tracker, under a job group set as soon
    as the parquet write returns."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    write = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        write(self, *args, **kwargs)
        sc.setJobGroup("sink-readback", "manifest read-back")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    df = spark.createDataFrame(_sink_edge_rows(), "pkey long, meshcode long, status int")
    try:
        ms = sink.run_checkpointed(df, str(tmp_path / "jobs_sink"), n_groups=2)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sum(m["n_rows"] for m in ms) == 41
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("sink-readback")
    assert 0 < len(jobs) <= 4, jobs


def test_bucketed_join_rejects_duplicate_poly_ids(spark):
    """Two rings with one poly_id would give (key, poly_id) rows that
    cannot tell them apart — must fail loudly (round-5 review), also
    for rings outside the mesh domain."""
    pts = spark.createDataFrame([(1, 36.1, 140.09, 54401005)],
                                "pkey long, lat double, lon double, "
                                "meshcode long")
    ring = [(36.0, 140.0), (36.2, 140.0), (36.2, 140.2), (36.0, 140.2)]
    south = [(-2.0, 140.0), (-1.0, 140.0), (-1.0, 140.2), (-2.0, 140.2)]
    for r in (ring, south):
        with pytest.raises(ValueError, match="duplicate poly_id"):
            spatial.bucketed_spatial_join(pts, [("A", r), ("A", r)], unit=1)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_vertex_raises_on_every_path(spark, semidyna_grid, engine, points, bad):
    """A non-finite vertex is malformed input: numpy compares NaN false
    while Spark sorts it above every double, so the Arrow and JVM
    containment paths would return different pairs for the same ring.
    Every path must reject it, naming the polygon."""
    from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

    polys = [("ok", [(36.05, 140.05), (36.05, 140.15), (36.15, 140.15)]),
             ("bad", [(36.05, 140.05), (36.05, 140.15), (bad, 140.15), (36.15, 140.05)]),
             ("bad_lon", [(36.05, 140.05), (36.05, bad), (36.15, 140.05)])]
    tiled = engine.assign_tiles(points)
    for polygons, name in ((polys[:2], "'bad'"), (polys[::2], "'bad_lon'")):
        for build in (
                lambda: spatial.point_in_polygon(points, polygons),
                lambda: engine.transform_tile_pip(points, polygons),
                lambda: spatial.bucketed_spatial_join(tiled, polygons, semidyna_grid.mesh_unit),
                lambda: SqlEngine(spark, semidyna_grid).transform_pip(points, polygons)):
            with pytest.raises(ValueError, match=f"polygon {name} has a non-finite vertex"):
                build()


def test_raster_roundtrip(engine, points, semidyna_grid):
    """rasterize -> vectorize: every point lies inside its cell's
    recovered corner geometry."""
    from jgdtrans_rs_spark.operators import raster

    tiled = engine.assign_tiles(points)
    r = raster.rasterize(tiled, "alt")
    v = raster.vectorize(r.select("meshcode"), semidyna_grid.mesh_unit)
    j = tiled.filter(F.col("meshcode") != -1).join(v, "meshcode")
    outside = j.filter(
        (F.col("lat") < F.col("sw_lat")) | (F.col("lat") >= F.col("ne_lat"))
        | (F.col("lon") < F.col("sw_lon")) | (F.col("lon") >= F.col("ne_lon"))
    ).count()
    assert outside == 0
    assert r.count() > 0
