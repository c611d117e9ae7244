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

The parameter grid rides a broadcast-hinted temp view — the SQL twin
of the engine's ``sc.broadcast`` HashMap probe (par.rs:283-285): four
broadcast-hash joins, no shuffle.  ``transform_pip`` decides
containment as ``operators.spatial.bucketed_spatial_join`` does:
broadcast candidate pairs (here a bounding-box nested-loop join), then
the shared ``spatial.refine_pairs`` step, which keeps the plan
JVM-only at any polygon edge count.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import MeshGrid
from ..localrel import local_rows_df
from ..operators import spatial
from . import oracle

_view_ids = itertools.count()


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
        gdf = local_rows_df(
            spark, grid.to_rows(),
            schema="meshcode long, dlat_sec double, dlon_sec double, dalt_m double",
        )
        # the broadcast hint is part of the view's logical plan, so every
        # corner join below becomes a BroadcastHashJoin (no shuffle)
        gdf.hint("broadcast").createOrReplaceTempView(self._view)
        self.grid_rel = (
            f"(SELECT meshcode, dlat_sec, dlon_sec, dalt_m FROM {self._view})"
        )

    def _input_rel(self, df: DataFrame) -> str:
        # fixed per-engine name, replaced per call: spark.sql analyzes
        # (and resolves the view) eagerly, so later replacement cannot
        # disturb previously built DataFrames — and the session catalog
        # stays bounded instead of accreting one view per call
        name = f"{self._view}_in"
        df.createOrReplaceTempView(name)
        return name

    def forward(self, df: DataFrame, key: str = "pkey") -> DataFrame:
        """``Transformer::forward`` (trans.rs:134-136), JVM-only."""
        return self.spark.sql(
            oracle.forward_sql(self._input_rel(df), self.grid_rel, self.unit, key))

    def backward(self, df: DataFrame, key: str = "pkey") -> DataFrame:
        """Verified Newton inverse (trans.rs:556-672) as 4 unrolled SQL
        iterations with per-lane freezing.

        Each iteration is composed through a temp view (the fully
        inlined 4-iteration tree exceeds Spark's analyzer fixed-point
        budget) and the plan is CUT with a lazy ``localCheckpoint``
        after every iteration: through purely logical views Catalyst
        re-inlines the whole upstream into each stage and spends ~12 s
        per action re-optimizing the composed tree (measured at sf0.1
        in r06 — the optimizer, not the 20 grid joins, was >90% of the
        query; guide §3.3 'very large plans: planning time itself can
        become the bottleneck').  The checkpoint materializes each
        iteration's ~20-column state once per action instead — 15.6 s
        -> ~1.5 s noop — and block cleanup rides the ContextCleaner
        when the returned DataFrame is dropped.  Results are
        bit-identical: the per-stage SQL is unchanged, only the plan
        boundary moves."""
        stages = oracle.backward_newton_stages(
            self._input_rel(df), self.grid_rel, self.unit, key)
        state = self.spark.sql(stages[0])
        last = len(stages) - 2
        for i, st in enumerate(stages[1:]):
            name = f"{self._view}_newton_{i}"  # fixed names, see _input_rel
            state.createOrReplaceTempView(name)
            state = self.spark.sql(st.replace("__STATE__", name))
            if i < last:
                state = state.localCheckpoint(eager=False)
        return state

    def assign_tiles(self, df: DataFrame, level: int = 15, key: str = "pkey") -> DataFrame:
        """meshcode + quadkey tile assignment, JVM-only (floor digit
        path — no ulp bump)."""
        return self.spark.sql(
            oracle.tile_sql(self._input_rel(df), self.unit, level, key))

    def transform_pip(self, df: DataFrame, polygons, key: str = "pkey") -> DataFrame:
        """JVM-only fused forward transform + point-in-polygon spatial
        join -> (key, poly_id) hit pairs: the headline chain with ZERO
        Python workers — whole-stage codegen end to end, so it rides
        the JVM scaling curve instead of the Arrow channel.

        The same two steps as ``operators.spatial.bucketed_spatial_join``:
        the transformed OK points nested-loop-join a broadcast
        LocalRelation of polygon bounding boxes, and
        ``spatial.refine_pairs`` keeps the pairs inside the ring (the
        DuckDB oracle's edge formula in the same float64 op order).
        Any number of polygons and edges, with no Python stage."""
        rings = spatial._float_rings(polygons)
        boxes = local_rows_df(
            self.spark,
            [(i, pid, *spatial._bbox(ring))
             for i, ((pid, _), ring) in enumerate(zip(polygons, rings))],
            schema="poly_idx int, poly_id string, lat_min double, lat_max double, "
                   "lon_min double, lon_max double",
        )
        # The bbox test is null-tolerant, so Catalyst infers no
        # isnotnull(lat) to push below the transform as a copy of the
        # transform expression.  With that copy the fused stage's
        # largest generated method read 22,551 bytes on the contract's
        # sf0.01 points (7,853 without), past HotSpot's 8,000-byte JIT
        # limit: the stage would run interpreted.
        pts = self.forward(df, key).filter(F.col("status") == 0).select(
            key, F.col("out_lat").alias("lat"), F.col("out_lon").alias("lon"))
        lat, lon = F.col("lat"), F.col("lon")
        in_box = ((lat >= F.col("lat_min")) & (lat <= F.col("lat_max"))
                  & (lon >= F.col("lon_min")) & (lon <= F.col("lon_max")))
        pairs = pts.join(F.broadcast(boxes), F.coalesce(in_box, F.lit(False)))
        return spatial.refine_pairs(pairs, rings, key, "lat", "lon")
