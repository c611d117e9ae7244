"""The JVM-only SQL engine variant must be bit-identical to the Arrow
kernel path on fixture inputs, and its plan must be pure codegen:
broadcast joins for the grid probe, no Python stage."""

import re

import numpy as np
import pytest

from jgdtrans_rs_spark.engine import Engine
from jgdtrans_rs_spark.plans import oracle
from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

from tests.conftest import SF_SMALL, SF_TINY, max_method_bytes


@pytest.fixture(scope="module")
def engines(spark, semidyna_grid):
    return Engine(spark, semidyna_grid), SqlEngine(spark, semidyna_grid)


@pytest.fixture(scope="module")
def pts(spark):
    spark.read.parquet(f"{SF_TINY}/orders.parquet").createOrReplaceTempView("orders")
    return spark.sql(oracle.points_sql("orders")).persist()


def _masked(df, cols):
    """NaN (kernel) vs NULL (SQL) for non-OK lanes -> align on status."""
    pdf = df.toPandas().sort_values("pkey").reset_index(drop=True)
    bad = pdf["status"] != 0
    for c in cols:
        pdf.loc[bad, c] = np.nan
    return pdf


@pytest.mark.parametrize("op,cols", [
    ("forward", ("out_lat", "out_lon", "out_alt")),
    ("backward", ("out_lat", "out_lon", "out_alt")),
])
def test_sql_engine_bit_identical_to_kernel(spark, engines, pts, op, cols):
    """Also over a NULL latitude and a NULL longitude: the kernel reads
    NULL as NaN (OutOfBounds, -1, -1), and the SQL verdict must too."""
    eng, sql_eng = engines
    nulls = spark.createDataFrame(
        [(-1, None, 140.1, 0.0), (-2, 36.1, None, 0.0)], pts.schema)
    src = pts.unionByName(nulls)
    a = _masked(getattr(eng, op)(src, "lat", "lon", "alt")
                .select("pkey", *cols, "status", "err_meshcode", "err_corner"), cols)
    b = _masked(getattr(sql_eng, op)(src), cols)
    assert len(a) == len(b) and len(a) > 0
    assert (a.loc[a["pkey"] < 0, "status"] == 1).all()
    for c in ["pkey", *cols, "status", "err_meshcode", "err_corner"]:
        x = a[c].to_numpy()
        y = b[c].to_numpy()
        if x.dtype.kind == "f":
            y = y.astype(np.float64)
            nx, ny = np.isnan(x), np.isnan(y)
            assert (nx == ny).all(), (op, c)
            assert (x[~nx] == y[~ny]).all(), (op, c)  # bit-exact
        else:
            assert (x == y.astype(x.dtype)).all(), (op, c)


def test_sql_engine_tiles_match_kernel(engines, pts):
    eng, sql_eng = engines
    a = eng.assign_tiles(pts).select("pkey", "meshcode", "quadkey") \
        .toPandas().sort_values("pkey").reset_index(drop=True)
    b = sql_eng.assign_tiles(pts).toPandas().sort_values("pkey").reset_index(drop=True)
    assert (a["meshcode"].to_numpy() == b["meshcode"].to_numpy()).all()
    assert (a["quadkey"].to_numpy() == b["quadkey"].to_numpy()).all()


def test_sql_engine_plan_is_jvm_only(engines, pts):
    """No Python/Arrow stage anywhere; grid probes are broadcast-hash
    joins (no shuffle exchange in the forward transform)."""
    _, sql_eng = engines
    plan = sql_eng.forward(pts)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "PythonUDF" not in plan
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning" not in plan  # no shuffle exchange


def test_transform_pip_jvm_only_and_matches_arrow_chain(engines, pts):
    """The fused SQL transform+PIP must plan as one broadcast
    nested-loop join against the polygon bounding-box LocalRelation,
    with no Python stage, no persisted stage and no per-polygon Union,
    and its hit set must equal the Arrow engine's broadcast PIP over
    the same transformed points."""
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from jgdtrans_rs_spark.operators import spatial

    eng, sql_eng = engines
    spark = pts.sparkSession
    # the fixture is persisted (and Spark swaps its cache in for any
    # equal plan), so feed its rows as a fresh frame: any InMemory
    # node left in the plan is one transform_pip added
    src = spark.createDataFrame(pts.collect(), pts.schema)
    out = sql_eng.transform_pip(src, entry_mod.POLYGONS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    # the box test runs ahead of the interpreted refine fold
    assert re.search(r"BroadcastNestedLoopJoin BuildRight, \w+, \(coalesce\(", plan), plan
    assert re.search(r"LocalTableScan \[poly_idx#\d+, poly_id#\d+, lat_min#", plan), plan
    assert "InMemory" not in plan and "Union" not in plan, plan
    assert "Python" not in plan, plan
    # under HotSpot's 8,000-byte JIT limit on this input and on the one
    # the fused_pip_sqlonly query feeds it (sf0.01 contract points)
    assert max_method_bytes(lambda: sql_eng.transform_pip(src, entry_mod.POLYGONS)) < 8000
    spark.read.parquet(f"{SF_SMALL}/orders.parquet").createOrReplaceTempView("orders_small")
    assert max_method_bytes(lambda: sql_eng.transform_pip(
        spark.sql(oracle.points_sql("orders_small")), entry_mod.POLYGONS)) < 8000
    got = {(r.pkey, r.poly_id) for r in out.collect()}

    fwd = eng.forward(pts, "lat", "lon", None).filter(F.col("status") == 0)
    want = {(r.pkey, r.poly_id) for r in spatial.point_in_polygon(
        fwd, entry_mod.POLYGONS, lat="out_lat", lon="out_lon").collect()}
    assert got == want and len(got) > 0


def test_forward_and_tiles_stay_under_jit_limit(spark, engines, tmp_path):
    """forward and assign_tiles over a parquet-read input keep every
    whole-stage method under HotSpot's 8,000-byte JIT limit (a method
    above it runs interpreted, 3-10x slower).  Two input shapes: the
    sink rows perfbench's sql_forward op reads (url key, alt a literal
    0.0) and the contract points the bench q1s/q3s leaves read (pkey
    key).  The margin is thin: 7,934 bytes for the url-keyed forward."""
    from pyspark.sql import functions as F

    _, sql_eng = engines
    spark.read.parquet(f"{SF_SMALL}/orders.parquet").createOrReplaceTempView("orders_small")
    spark.sql(oracle.points_sql("orders_small")) \
        .withColumn("url", F.concat(F.lit("u"), "pkey")).write.parquet(str(tmp_path / "rows"))
    rows = spark.read.parquet(str(tmp_path / "rows"))
    pts = rows.select("pkey", "lat", "lon", "alt")
    pages = rows.select("url", "lat", "lon", F.lit(0.0).alias("alt"))
    for build in (lambda: sql_eng.forward(pages, key="url"),
                  lambda: sql_eng.assign_tiles(pages, key="url"),
                  lambda: sql_eng.forward(pts), lambda: sql_eng.assign_tiles(pts)):
        assert max_method_bytes(build) < 8000


def test_transform_pip_large_ring_stays_jvm_only(spark, engines):
    """A 600-edge ring keeps the plan free of Python stages, and
    transform_pip still returns exactly the Arrow chain's hits."""
    import pandas as pd
    from pyspark.sql import functions as F
    from jgdtrans_rs_spark.operators import spatial

    eng, sql_eng = engines
    t = np.arange(600) * (2 * np.pi / 600)
    r = np.where(np.arange(600) % 2 == 0, 0.015, 0.008)
    ring = [(float(a), float(b)) for a, b in
            zip(36.104 + r * np.sin(t), 140.094 + r * np.cos(t))]
    rng = np.random.default_rng(3)
    pts = spark.createDataFrame(pd.DataFrame({
        "pkey": np.arange(3000), "lat": rng.uniform(36.089, 36.119, 3000),
        "lon": rng.uniform(140.079, 140.109, 3000), "alt": np.zeros(3000)}))
    polys = [("star", ring)]
    out = sql_eng.transform_pip(pts, polys)
    assert "Python" not in out._jdf.queryExecution().executedPlan().toString()
    got = {(r.pkey, r.poly_id) for r in out.collect()}
    fwd = eng.forward(pts).filter(F.col("status") == 0)
    want = {(r.pkey, r.poly_id) for r in spatial.point_in_polygon(
        fwd, polys, lat="out_lat", lon="out_lon").collect()}
    assert got == want and len(want) > 500


def test_forward_normalizes_output_across_lon_wrap(spark):
    """Point + Correction is a WRAPPING add (point.rs:90-151): a cell
    at the lon-180 edge with a +0.02 deg correction must come out at
    -179.99..., not 180.01 — in the Arrow kernel AND the SQL twin,
    bit-identically (the SQL twins run every output add through
    oracle.norm_lat_expr/norm_lon_expr)."""
    from jgdtrans_rs_spark.grid import MeshGrid

    # unit-one cell whose east corners sit exactly on the (80,0,0)
    # maximum node; dlon = +72 sec = +0.02 deg pushes points past 180
    grid = MeshGrid.from_dict({
        54791729: (0.0, 72.0, 0.0), 54801020: (0.0, 72.0, 0.0),
        54791739: (0.0, 72.0, 0.0), 54801030: (0.0, 72.0, 0.0),
    }, "TKY2JGD")
    eng, sql_eng = Engine(spark, grid), SqlEngine(spark, grid)
    df = spark.createDataFrame(
        [(1, 36.1, 179.99, 0.0)], "pkey long, lat double, lon double, alt double")
    k = eng.forward(df).collect()[0]
    s = sql_eng.forward(df).collect()[0]
    assert k.status == 0 and s.status == 0
    assert k.out_lon < -179.9  # wrapped, not 180.01
    assert s.out_lon == k.out_lon and s.out_lat == k.out_lat  # bit-exact


def test_forward_corr_keeps_negative_zero(spark):
    """A par value ``-0.00000`` parses to -0.0, as in Rust.  On a cell
    whose four corners are all -0.0 the correction is -0.0 in the
    kernel, in SqlEngine's grid relation and in the oracle SQL over
    ``oracle.grid_values`` in both dialects — a bare ``CAST(-0.0 AS
    DOUBLE)`` literal is a DECIMAL first, so DuckDB read +0.0."""
    import struct

    import duckdb

    from jgdtrans_rs_spark import kernel
    from jgdtrans_rs_spark.grid import parse_par

    cell = (54401027, 54401028, 54401037, 54401038)
    grid = parse_par("h\nh\n" + "".join(f"{c}  -0.00000  -0.00000\n" for c in cell),
                     "TKY2JGD")
    lat, lon = 36.1003, 140.0878  # inside the cell
    c = kernel.forward_corr(np.array([lat]), np.array([lon]), grid)
    want = [struct.pack("<d", x[0]) for x in (c.dlat, c.dlon, c.dalt)]
    assert int(c.status[0]) == 0 and want[0] == struct.pack("<d", -0.0)

    src = f"(SELECT 1 AS pkey, {lat!r}e0 AS lat, {lon!r}e0 AS lon, 0.0e0 AS alt) _in"
    cols = ("dlat_deg", "dlon_deg", "dalt_m")
    eng = SqlEngine(spark, grid)
    values = oracle.grid_values(grid.to_rows())
    for name, run in (
            ("SqlEngine", lambda: spark.sql(oracle.forward_corr_only_sql(
                src, eng.grid_rel, grid.mesh_unit)).first().asDict()),
            ("Spark VALUES", lambda: spark.sql(oracle.forward_corr_only_sql(
                src, values, grid.mesh_unit)).first().asDict()),
            ("DuckDB VALUES", lambda: duckdb.sql(oracle.forward_corr_only_sql(
                src, values, grid.mesh_unit)).df().iloc[0].to_dict())):
        row = run()
        assert row["status"] == 0, name
        assert [struct.pack("<d", row[k]) for k in cols] == want, name
