"""localrel.local_rows_df — the Arrow-built LocalRelation builder
behind the zero-job broadcast builds (grid view, poly name relations,
the bucketed join's candidate side).

Pins (a) bit-exactness of the DOUBLE round trip including the values a
decimal literal would corrupt (-0.0) or reject (NaN/inf/denormals),
(b) the LocalRelation plan shape at the hot call sites, the 20,445-row
pages grid included — no ``Scan ExistingRDD`` means no per-action
broadcast-build job, and (c) the createDataFrame fallback above the
size cap."""

from __future__ import annotations

import re
import struct

import pytest

from jgdtrans_rs_spark.localrel import MAX_LOCAL_ROWS, local_rows_df


def _bits(x):
    return None if x is None else struct.pack(">d", x).hex()


def test_double_round_trip_bit_exact(spark):
    vals = [
        (-0.0,), (0.0,), (float("nan"),), (float("inf"),), (float("-inf"),),
        (0.1,), (1e-300,), (1.7976931348623157e308,), (5e-324,),
        (0.00896658,), (-0.00664,), (None,),
    ]
    df = local_rows_df(spark, vals, "v double")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    got = [r.v for r in df.collect()]
    assert [_bits(v[0]) for v in vals] == [_bits(g) for g in got]


def test_string_int_bool_and_escaping(spark):
    rows = [(1, "it's", True), (2, "back\\slash", False), (3, None, None)]
    df = local_rows_df(spark, rows, "k int, s string, b boolean")
    assert df.schema.simpleString() == "struct<k:int,s:string,b:boolean>"
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows)


def test_empty_rows_plan_as_local_relation(spark):
    """No rows is an empty LocalRelation, not ``createDataFrame([])``'s
    RDD scan (a job per action)."""
    df = local_rows_df(spark, [], "k long, s string, v double")
    assert df.schema.simpleString() == "struct<k:bigint,s:string,v:double>"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.collect() == []


def test_fallback_above_cap(spark):
    rows = [(i,) for i in range(MAX_LOCAL_ROWS + 1)]
    at_cap = local_rows_df(spark, rows[:MAX_LOCAL_ROWS], "k long")
    assert "LocalTableScan" in at_cap._jdf.queryExecution().executedPlan().toString()
    df = local_rows_df(spark, rows, "k long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert df.count() == MAX_LOCAL_ROWS + 1


def test_unsupported_type_raises(spark):
    with pytest.raises(ValueError, match="unsupported type"):
        local_rows_df(spark, [([1],)], "a array<int>")


def test_hot_call_sites_have_no_rdd_scan(spark, semidyna_grid):
    """The per-action broadcast builds the optimization targets —
    SqlEngine's grid view joins, its transform_pip bounding-box side,
    poly_mask_rows' name relation and bucketed_spatial_join's
    bounding-box side — must all plan as LocalRelation builds (no
    ExistingRDD scan = no job per build)."""
    from pyspark.sql import functions as F

    from jgdtrans_rs_spark.engine import Engine
    from jgdtrans_rs_spark.grid import MeshGrid
    from jgdtrans_rs_spark.operators import spatial
    from jgdtrans_rs_spark.plans.spark_sql import SqlEngine

    pts = spark.range(100).selectExpr(
        "id AS pkey",
        "36.084 + id / 10000.0 AS lat",
        "140.063 + id / 10000.0 AS lon",
        "CAST(id AS DOUBLE) AS alt",
    )
    polys = [("p1", [(36.0, 140.0), (36.0, 140.2), (36.2, 140.2), (36.2, 140.0)])]

    sql_eng = SqlEngine(spark, semidyna_grid)
    fwd_plan = sql_eng.forward(pts)._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in fwd_plan
    # the pages_pipeline grid's size, above the earlier 16,384-row cap
    pages_sized = MeshGrid.from_dict(
        {54400000 + i: (0.0, 0.0, 0.0) for i in range(20_445)}, "SemiDynaEXE")
    big_plan = SqlEngine(spark, pages_sized).forward(pts)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ExistingRDD" not in big_plan and "LocalTableScan" in big_plan
    q4s = sql_eng.transform_pip(pts, polys)
    assert q4s.collect()
    assert "ExistingRDD" not in q4s._jdf.queryExecution().executedPlan().toString()

    eng = Engine(spark, semidyna_grid)
    masked = eng.transform_tile_pip(pts, polys, fields=["status", "poly_mask"])
    q4 = Engine.poly_mask_rows(
        masked.filter(F.col("status") == 0).select("pkey", "poly_mask"), polys)
    assert "ExistingRDD" not in q4._jdf.queryExecution().executedPlan().toString()

    tiled = eng.transform_and_tile(
        pts, fields=["out_lat", "out_lon", "status", "meshcode"]
    ).filter(F.col("status") == 0)
    q4b = spatial.bucketed_spatial_join(
        tiled, polys, 5, lat="out_lat", lon="out_lon",
        hot_codes=[54401005])
    assert q4b.collect()
    plan = q4b._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    # executed q4b: one broadcast nested-loop join over the bounding-box
    # LocalRelation, its box test ahead of the refine's fold, no salt
    # column, no shuffle exchange on the point side
    assert re.search(r"BroadcastNestedLoopJoin BuildRight, \w+, \(coalesce\(", plan), plan
    assert re.search(r"BroadcastExchange .*\n\s*\+- LocalTableScan \[poly_idx#", plan), plan
    assert "_salt" not in plan, plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
