"""JVM-only engine variant: the dual-dialect SQL builders run directly
on Spark SQL.

The Arrow-kernel engine (engine.py) is bound by the per-JVM Arrow
channel (~30 M simple rows/s through a scalar pandas_udf on this
build — BENCH/BASELINE.md saturation notes).  This variant executes
the exact same semantics as pure Spark SQL — the generators in
plans/oracle.py were written dual-dialect from day one — so the whole
transform stays inside whole-stage codegen: zero Python workers, no
Arrow serialization, and Catalyst is free to push filters below the
transform and prune columns through it.  On a 1000-executor cluster
this is the preferred path for the forward/tile hot loop; the Arrow
kernels remain the reference implementation and the only path with
the ulp-parity bump.

Caveat (documented in plans/oracle.py): the SQL digit path omits the
ulp-parity bump of coord.rs:271-275 (no float bit view in SQL), which
can differ from the kernel only for inputs within one ulp of a mesh
node boundary.  tests/test_sql_engine.py proves bit-identity to the
Arrow kernel path on the fixture inputs.

The parameter grid rides a broadcast-hinted temp view, made once per
engine — the SQL twin of the engine's ``sc.broadcast`` HashMap probe
(par.rs:283-285): four broadcast-hash joins, no shuffle.  The input
frame and every intermediate stage reach the SQL as ``sql_with``
arguments, so a call leaves the session catalog as it found it.
``transform_pip`` decides containment with
``operators.spatial.bucketed_spatial_join`` (a broadcast bounding-box
join, then ``refine_pairs``), so the plan stays JVM-only at any
polygon edge count.
"""

from __future__ import annotations

import itertools
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import MeshGrid
from ..localrel import grid_df
from ..operators import spatial
from . import oracle

_view_ids = itertools.count()


def sql_with(spark: SparkSession, text: str, **rels: DataFrame) -> DataFrame:
    """``spark.sql(text)`` with each ``__NAME__`` token in ``text`` bound
    to the DataFrame ``rels[NAME]``, through a uuid-named temp view that
    lives for the analysis only: ``spark.sql`` analyzes eagerly, so the
    returned frame holds the plan, not the name.  The view is dropped
    from the session catalog directly.  Pyspark's own
    ``spark.sql(text, df=...)`` drops its view through
    ``spark.catalog.dropTempView``, which also uncaches every cached plan
    equal to the argument: a caller's persisted input lost its cache."""
    names = {name: f"_sql_with_{uuid.uuid4().hex}" for name in rels}
    try:
        for name, view in names.items():
            rels[name].createOrReplaceTempView(view)
            text = text.replace(f"__{name}__", view)
        return spark.sql(text)
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for view in names.values():
            catalog.dropTempView(view)


def staged_sql(spark: SparkSession, text: str, **rels: DataFrame) -> DataFrame:
    """``sql_with`` cut as a stage boundary: a lazy local checkpoint.
    Its first action materializes the stage once; every later read,
    and every reference of a self-join, scans those blocks instead of
    re-running (or re-inlining) the stage's plan.  The blocks are freed
    when the DataFrame is dropped.  The trade: a lost executor fails
    the job instead of recomputing the stage."""
    return sql_with(spark, text, **rels).localCheckpoint(eager=False)


class SqlEngine:
    """Pure-SQL twin of ``engine.Engine`` for the SQL-expressible
    operators (forward / backward Newton / tiling / fused transform +
    point-in-polygon)."""

    def __init__(self, spark: SparkSession, grid: MeshGrid):
        self.spark = spark
        self.grid = grid
        self.unit = grid.mesh_unit
        self._view = f"_mesh_grid_{next(_view_ids)}"
        # LocalRelation-backed for broadcastable grids (localrel.py):
        # each downstream ACTION rebuilds the corner-join broadcasts,
        # and over a pickled-RDD frame every build is a full job of
        # ~defaultParallelism tiny tasks — measured ~0.25 s of every
        # q1s action at local[32]; a LocalRelation build is job-free
        gdf = grid_df(spark, grid)
        # the broadcast hint is part of the view's logical plan, so every
        # corner join below becomes a BroadcastHashJoin (no shuffle)
        gdf.hint("broadcast").createOrReplaceTempView(self._view)
        self.grid_rel = (
            f"(SELECT meshcode, dlat_sec, dlon_sec, dalt_m FROM {self._view})"
        )

    def forward(self, df: DataFrame, key: str = "pkey") -> DataFrame:
        """``Transformer::forward`` (trans.rs:134-136), JVM-only."""
        return sql_with(self.spark, oracle.forward_sql(
            "__POINTS__", self.grid_rel, self.unit, key), POINTS=df)

    def backward(self, df: DataFrame, key: str = "pkey") -> DataFrame:
        """Verified Newton inverse (trans.rs:556-672) as 4 unrolled SQL
        iterations with per-lane freezing.

        Each stage reads the previous one as a ``staged_sql`` argument,
        cut by a lazy local checkpoint: the fully inlined 4-iteration
        tree exceeds Spark's analyzer fixed-point budget, and through
        purely logical views Catalyst re-inlines the whole upstream into
        each stage and spends ~12 s per action re-optimizing the
        composed tree (measured at sf0.1 in r06 — the optimizer, not the
        20 grid joins, was >90% of the query; guide §3.3 'very large
        plans: planning time itself can become the bottleneck').  The
        checkpoint materializes each iteration's ~20-column state once
        per action instead — 15.6 s -> ~1.5 s noop.  Results are
        bit-identical: the per-stage SQL is unchanged, only the plan
        boundary moves."""
        *stages, out = oracle.backward_newton_stages(
            "__POINTS__", self.grid_rel, self.unit, key)
        state = sql_with(self.spark, stages[0], POINTS=df)
        for st in stages[1:]:
            state = staged_sql(self.spark, st, STATE=state)
        return sql_with(self.spark, out, STATE=state)

    def assign_tiles(self, df: DataFrame, level: int = 15, key: str = "pkey") -> DataFrame:
        """meshcode + quadkey tile assignment, JVM-only (floor digit
        path — no ulp bump)."""
        return sql_with(self.spark, oracle.tile_sql(
            "__POINTS__", self.unit, level, key), POINTS=df)

    def transform_pip(self, df: DataFrame, polygons, key: str = "pkey") -> DataFrame:
        """JVM-only fused forward transform + point-in-polygon spatial
        join -> (key, poly_id) hit pairs: the headline chain with ZERO
        Python workers — whole-stage codegen end to end, so it rides
        the JVM scaling curve instead of the Arrow channel.

        Containment is ``operators.spatial.bucketed_spatial_join`` over
        the transformed OK points: a broadcast bounding-box join, then
        ``spatial.refine_pairs`` (the DuckDB oracle's edge formula in
        the same float64 op order).  Any number of polygons and edges,
        with no Python stage."""
        pts = self.forward(df, key).filter(F.col("status") == 0).select(
            key, F.col("out_lat").alias("lat"), F.col("out_lon").alias("lon"))
        return spatial.bucketed_spatial_join(pts, polygons, key=key)
