"""The Spark layer: broadcast mesh grid + DataFrame -> DataFrame transforms.

Execution model (designed for 1000-executor / 100 TB scale, tested on
local[*]):

* The parameter grid (O(10^5..10^6) rows) is ``sc.broadcast`` once —
  the Spark equivalent of the reference's in-process HashMap probe
  (par.rs:283-285).  Each Python worker builds, once per broadcast, a
  block-dense meshcode slot index and a per-node neighbour table
  (``MeshGrid.rows``/``neighbours``), so a kernel resolves a cell with
  one in-UDF slot lookup on its SW code and one table row — broadcast-
  hash-join semantics with zero shuffles instead of 4 joins (one per
  cell corner).  The chained kernels (Newton, backward_compat)
  re-probe only the lanes whose cell can have changed.
* The whole transform chain (validate -> forward/backward -> tile
  assign) is one narrow stage: Scan -> Filter -> Project ->
  ArrowEvalPython -> Project.  Catalyst prunes the parquet scan down
  to the 2-3 coordinate columns; no shuffle occurs until a downstream
  aggregation/join keys on the tile.
* Kernels run as scalar pandas UDFs over Arrow record batches (one
  factory, ``_kernel_udf``) — no per-row Python anywhere.

Error semantics are dead-letter columns (status / err_meshcode /
err_corner), never task failures — mirroring trans.rs:946-999
relationally.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import kernel, mesh
from .grid import MeshGrid
from .operators import spatial

_RESULT_FIELDS = [
    StructField("status", IntegerType(), False),
    StructField("err_meshcode", LongType(), False),
    StructField("err_corner", IntegerType(), False),
]
_TILE_FIELDS = [
    StructField("meshcode", LongType(), False),
    StructField("quadkey", LongType(), False),
]


_COORD_FIELDS = [StructField(f"out_{c}", DoubleType(), True) for c in ("lat", "lon", "alt")]


def _coord_cols(lat, lon, alt) -> dict:
    return {"out_lat": lat, "out_lon": lon, "out_alt": alt}


def _no_duplicate(udf):
    """Mark a (genuinely deterministic) kernel UDF nondeterministic so
    the optimizer may not clone it.

    Without this, ``transform(...).filter(status == 0).select(other
    fields)`` plans TWO ArrowEvalPython nodes running the same kernel:
    predicate pushdown substitutes the UDF expression into the filter
    while the projection keeps its own copy — the whole transform
    executes twice per row (measured: every filtered bench chain).
    The flag only removes optimizer liberties (no pushdown through /
    no common-subexpression cloning of this projection); results are
    identical.  Consequence to document: a downstream filter on a
    PASSTHROUGH column no longer pushes below the kernel either —
    filter source columns BEFORE the transform (validate() already
    structures chains this way)."""
    return udf.asNondeterministic()


def _expand_struct(df: DataFrame, *structs: tuple[list[str], Column]) -> DataFrame:
    """Attach kernel struct columns (``(field names, struct)`` pairs)
    and expand them in order, replacing any same-named input columns.
    The temporary column names are chosen collision-free: a fixed "_r"
    would silently overwrite (and then re-emit) a user passthrough
    column named "_r"."""
    kept = [c for c in df.columns if not any(c in names for names, _ in structs)]
    stars = []
    tmp = "_r"
    for _, struct_col in structs:
        while tmp in df.columns:
            tmp += "_"
        df = df.withColumn(tmp, struct_col)
        stars.append(f"{tmp}.*")
    return df.select(*kept, *stars)


def _select_fields(all_fields: list[StructField],
                   fields: list[str] | None) -> list[StructField]:
    """The output-struct pruning contract of every kernel UDF: None =
    everything, else the named subset in the caller's order; unknown
    names raise."""
    if fields is None:
        return all_fields
    known = {f.name: f for f in all_fields}
    unknown = [f for f in fields if f not in known]
    if unknown:
        raise ValueError(f"unknown output fields {unknown}; "
                         f"choose from {sorted(known)}")
    return [known[f] for f in fields]


def _kernel_udf(compute, all_fields: list[StructField],
                fields: list[str] | None = None):
    """The one factory behind every Engine kernel UDF.

    Kernels ride a scalar pandas UDF returning a struct column (the
    ArrowEvalPython path).  On this Spark build the MapInPandas /
    MapInArrow input writer costs ~9us/row JVM-side regardless of
    width, capping at ~3.5M rows/s per JVM; the scalar-UDF writer is
    ~8x cheaper.  A scalar UDF also only ships the referenced columns
    through Python — passthrough columns (urls, payloads) stay
    JVM-side.

    ``compute(want, lat, lon[, alt])`` is the operator's numpy body.
    It gets the input columns as float64 arrays (NULL -> NaN) and the
    set of requested output names, so it can skip work nobody reads
    (the meshcode and quadkey encodes), and returns ``(columns,
    corr)``: a dict of output arrays plus the kernel's CorrResult or
    None; the factory packs the CorrResult into status / err_meshcode
    / err_corner.  Only the fields selected by ``fields`` cross Arrow
    back to the JVM: Catalyst cannot prune fields inside a UDF struct.

    Returns ``bind(df, lat, lon, *alt) -> (names, struct Column)`` for
    ``_expand_struct``; an ``alt`` that is None or not a column of
    ``df`` reads as altitude 0.0.  ``compute`` is pickled into every
    task, so it must close over the broadcast handle and plain values
    only — never the Engine (its SparkSession does not pickle) nor its
    grid (which would then ship with every task).
    """
    out_fields = _select_fields(all_fields, fields)
    names = [f.name for f in out_fields]
    want = frozenset(names)

    @_no_duplicate
    @F.pandas_udf(StructType(out_fields))
    def run(*cols: pd.Series) -> pd.DataFrame:
        out, c = compute(want, *(s.to_numpy(dtype=np.float64, na_value=np.nan) for s in cols))
        if c is not None:
            out["status"] = c.status.astype(np.int32)
            out["err_meshcode"] = c.err_meshcode
            out["err_corner"] = c.err_corner.astype(np.int32)
        return pd.DataFrame({n: out[n] for n in names})

    def bind(df: DataFrame, lat: str, lon: str, *alt: str | None):
        alt_cols = [F.col(a) if a is not None and a in df.columns else F.lit(0.0)
                    for a in alt]
        return names, run(F.col(lat), F.col(lon), *alt_cols)

    return bind


class Engine:
    """Broadcast grid + a library of DataFrame->DataFrame transforms.

    The Spark counterpart of ``Transformer<T>`` (transformer.rs:309-311):
    ``mesh_unit`` comes from the grid's format; ``get`` is the
    vectorized gather inside the kernels.
    """

    def __init__(self, spark: SparkSession, grid: MeshGrid,
                 strict_bounds: bool = True):
        self.spark = spark
        self.grid = grid
        # strict_bounds=False opts the kernels into exact reference
        # checked-path boundary error-kind parity (kernel._bounds_mode)
        self.strict_bounds = strict_bounds
        self._bc = spark.sparkContext.broadcast(grid)

    def _tile_bounds(self) -> str:
        """Bounds mode for TILE assignment: strict by default; under
        reference parity (strict_bounds=False) the checked path for a
        tile is ``MeshNode::try_from_point`` — NODE-level inclusive
        bounds (mesh.BOUNDS_NODE), which accepts the top latitude cell
        and longitude 180.0 that CELL construction (the transform
        kernels' BOUNDS_INCLUSIVE) rejects.  Without this split the
        engine would mix strict tiles with inclusive transforms."""
        return mesh.BOUNDS_STRICT if self.strict_bounds else mesh.BOUNDS_NODE

    # -- core transforms --------------------------------------------------
    #
    # Every kernel closure below captures ``self._bc`` and plain values,
    # never ``self`` (see _kernel_udf).

    def _map_kernel(self, df: DataFrame, lat: str, lon: str, alt: str | None,
                    fn_name: str) -> DataFrame:
        """Run a point->point kernel, appending out_lat, out_lon,
        out_alt + status columns."""
        bc, sb = self._bc, self.strict_bounds

        def compute(want, la, lo, al):
            out_la, out_lo, out_al, c = getattr(kernel, fn_name)(
                la, lo, al, bc.value, strict_bounds=sb)
            return _coord_cols(out_la, out_lo, out_al), c

        udf = _kernel_udf(compute, _COORD_FIELDS + _RESULT_FIELDS)
        return _expand_struct(df, udf(df, lat, lon, alt))

    def forward(self, df: DataFrame, lat: str = "lat", lon: str = "lon",
                alt: str | None = "alt") -> DataFrame:
        """``Transformer::forward`` (trans.rs:134-136) over a DataFrame."""
        return self._map_kernel(df, lat, lon, alt, "forward")

    def backward(self, df: DataFrame, lat: str = "lat", lon: str = "lon",
                 alt: str | None = "alt") -> DataFrame:
        """``Transformer::backward`` (trans.rs:233-235): verified Newton
        inverse, residual < 5e-14 deg."""
        return self._map_kernel(df, lat, lon, alt, "backward")

    def backward_compat(self, df: DataFrame, lat: str = "lat", lon: str = "lon",
                        alt: str | None = "alt") -> DataFrame:
        """``Transformer::backward_compat`` (trans.rs:179-181)."""
        return self._map_kernel(df, lat, lon, alt, "backward_compat")

    def forward_corr(self, df: DataFrame, lat: str = "lat", lon: str = "lon") -> DataFrame:
        """``forward_corr`` (trans.rs:428-451): correction columns only."""
        bc, sb = self._bc, self.strict_bounds

        def compute(want, la, lo):
            c = kernel.forward_corr(la, lo, bc.value, strict_bounds=sb)
            return {"dlat_deg": c.dlat, "dlon_deg": c.dlon, "dalt_m": c.dalt}, c

        all_fields = [StructField(n, DoubleType(), True)
                      for n in ("dlat_deg", "dlon_deg", "dalt_m")] + _RESULT_FIELDS
        return _expand_struct(df, _kernel_udf(compute, all_fields)(df, lat, lon))

    # -- tiling -----------------------------------------------------------

    def assign_tiles(self, df: DataFrame, lat: str = "lat", lon: str = "lon",
                     level: int = 15, with_position: bool = False) -> DataFrame:
        """Tile assignment: exact JGD ``meshcode`` (the reference's native
        tile id, with the ulp-parity boundary semantics of
        coord.rs:260-283) plus a ``quadkey`` S2-style quadtree id.

        meshcode = -1 for points outside the mesh domain (domain =
        strict bounds, or node-level checked-path bounds under
        ``strict_bounds=False`` — see _tile_bounds).
        """
        unit, bounds = self.grid.mesh_unit, self._tile_bounds()

        def compute(want, la, lo):
            lat_d, lon_d, valid = mesh.point_to_digits(la, lo, unit, bounds)
            out = {
                "meshcode": np.where(valid, mesh.digits_to_meshcode(lat_d, lon_d), -1),
                "quadkey": mesh.quadkey(la, lo, level),
            }
            if "pos_y" in want:
                y, x = mesh.cell_position(la, lo, lat_d, lon_d, unit)
                out["pos_y"] = np.where(valid, y, np.nan)
                out["pos_x"] = np.where(valid, x, np.nan)
            return out, None

        all_fields = _TILE_FIELDS + [StructField("pos_y", DoubleType(), True),
                                     StructField("pos_x", DoubleType(), True)]
        fields = None if with_position else ["meshcode", "quadkey"]
        return _expand_struct(df, _kernel_udf(compute, all_fields, fields)(df, lat, lon))

    def _forward_tiled(self, df: DataFrame, lat: str, lon: str, alt: str | None,
                       level: int, fields: list[str] | None,
                       poly_mask=None) -> DataFrame:
        """The shared body of transform_and_tile and transform_tile_pip:
        forward + meshcode/quadkey (+ ``poly_mask(lat, lon)``) in one
        UDF, computing only the requested tile and mask columns."""
        bc, sb = self._bc, self.strict_bounds
        unit, bounds = self.grid.mesh_unit, self._tile_bounds()
        all_fields = _COORD_FIELDS + _RESULT_FIELDS + _TILE_FIELDS
        if poly_mask is not None:
            all_fields.append(StructField("poly_mask", LongType(), False))

        def compute(want, la, lo, al):
            out_la, out_lo, out_al, c = kernel.forward(la, lo, al, bc.value, strict_bounds=sb)
            out = _coord_cols(out_la, out_lo, out_al)
            if "meshcode" in want:
                lat_d, lon_d, valid = mesh.point_to_digits(out_la, out_lo, unit, bounds)
                out["meshcode"] = np.where(valid, mesh.digits_to_meshcode(lat_d, lon_d), -1)
            if "quadkey" in want:
                out["quadkey"] = mesh.quadkey(out_la, out_lo, level)
            if "poly_mask" in want:
                out["poly_mask"] = poly_mask(out_la, out_lo)
            return out, c

        udf = _kernel_udf(compute, all_fields, fields)
        return _expand_struct(df, udf(df, lat, lon, alt))

    def transform_and_tile(self, df: DataFrame, lat: str = "lat", lon: str = "lon",
                           alt: str | None = "alt", level: int = 15,
                           fields: list[str] | None = None) -> DataFrame:
        """Fused forward-transform + tile-assignment in ONE Arrow hop.

        Chaining forward() then assign_tiles() costs two Python stages
        with a full Arrow (de)serialization between them; at scale the
        serialization dominates, so the hot pipeline fuses them.

        ``fields`` prunes the UDF output struct (same contract as
        transform_tile_pip: Catalyst cannot prune struct fields through
        a pandas UDF, so pass the projection explicitly; skipping
        ``quadkey`` also skips its encode).
        """
        return self._forward_tiled(df, lat, lon, alt, level, fields)

    poly_mask_rows = staticmethod(spatial.poly_mask_rows)

    def transform_tile_pip(self, df: DataFrame, polygons, lat: str = "lat",
                           lon: str = "lon", alt: str | None = "alt",
                           level: int = 15, fields: list[str] | None = None) -> DataFrame:
        """Fully fused hot chain for broadcast-size polygon sets:
        forward transform + tile assignment + point-in-polygon
        containment in ONE Arrow hop, emitting a ``poly_mask`` LONG
        bitmask (bit i = inside polygons[i], decided by
        ``operators.spatial.polygon_mask``; expand JVM-side with
        ``poly_mask_rows``).

        ``fields`` selects which output columns the UDF emits (default:
        all of out_lat/out_lon/out_alt/status/err_meshcode/err_corner/
        meshcode/quadkey/poly_mask).  Catalyst cannot prune struct
        fields through a pandas UDF, so a downstream ``.select`` does
        NOT stop the unused columns from being computed and shipped
        through the Arrow channel — pass the projection explicitly.
        A classification chain that keeps only status+poly_mask ships
        2 columns instead of 9, and skips the tile encode entirely;
        the Arrow write is the per-JVM shared cost that caps scaling
        on this box (BENCH/BASELINE.md), so pruning here is worth
        more than pruning after any JVM operator.

        This is the 100 TB plan for up to 63 polygons: zero shuffles,
        one Python stage.  operators.spatial.bucketed_spatial_join
        takes more, with no Python stage of its own; its box test costs
        points x polygons and is benchmarked with at most 8 polygons.
        """
        return self._forward_tiled(df, lat, lon, alt, level, fields,
                                   spatial.polygon_mask(polygons))

    def roundtrip_verify(self, df: DataFrame, lat: str = "lat", lon: str = "lon",
                         alt: str | None = "alt") -> DataFrame:
        """Fused forward + Newton inverse + bit-identity check in ONE
        Arrow hop: per row, out = forward(p), back = backward(out), and
        ``roundtrip_exact`` = (back == p) bitwise.

        The production guardrail for a 100 TB run: transform the corpus
        and prove invertibility in the same pass (the reference's
        round-trip identity tests, trans.rs:1628-1644, as a per-row
        column instead of a test suite).
        """
        bc, sb = self._bc, self.strict_bounds

        # TWO independent UDF structs so Catalyst can drop the one a
        # downstream projection never reads (it cannot prune fields
        # INSIDE one UDF struct): the verification verdict
        # (roundtrip_exact + status — the 100 TB guardrail columns, 5
        # bytes/row) separate from the transformed coordinates (24
        # bytes/row).  A guardrail-only consumer
        # (``.select(key, "roundtrip_exact", "status")``, the bench q8
        # shape) then ships one bool + one int through Arrow instead
        # of five columns; a consumer reading everything runs both
        # kernels (the duplicated forward+backward compute costs ~0.3
        # us/row — far below the Arrow write it would take to share).
        def _run(la, lo, al):
            grid = bc.value
            f_la, f_lo, f_al, fc = kernel.forward(la, lo, al, grid, strict_bounds=sb)
            b_la, b_lo, _, bc_res = kernel.backward(f_la, f_lo, f_al, grid, strict_bounds=sb)
            status = np.where(fc.status != 0, fc.status, bc_res.status).astype(np.int32)
            exact = (b_la == la) & (b_lo == lo) & (status == 0)
            return f_la, f_lo, f_al, exact, status

        def coords(want, la, lo, al):
            return _coord_cols(*_run(la, lo, al)[:3]), None

        def verdict(want, la, lo):
            # the verdict is altitude-free (status comes from the
            # lat/lon cell resolves, exactness from the lat/lon bit
            # compare; altitude is a pure passthrough sum), so this
            # UDF does not reference the alt column and a
            # guardrail-only consumer ships 2 input doubles, not 3
            _, _, _, exact, status = _run(la, lo, np.zeros(la.shape[0]))
            return {"roundtrip_exact": exact, "status": status}, None

        verdict_fields = [StructField("roundtrip_exact", BooleanType(), True),
                          StructField("status", IntegerType(), False)]
        return _expand_struct(
            df,
            _kernel_udf(coords, _COORD_FIELDS)(df, lat, lon, alt),
            _kernel_udf(verdict, verdict_fields)(df, lat, lon),
        )

    # -- validation (pure Column, JVM-side) -------------------------------

    @staticmethod
    def valid_point(lat_col, lon_col):
        """``Point::new`` bounds predicate (point.rs:212-223) as a pure
        Column — pushes down to the scan.

        One reference per column: ``coalesce(abs(c) <= bound, false)``
        for each coordinate.  A coordinate that is an alias of an
        upstream expression (``extract_geotags``' regex extraction) is
        copied by Catalyst into every reference of the pushed filter,
        so the former six conjuncts (isNotNull, between, ~isnan per
        column) evaluated the extraction 8 times per page, on the valid
        and the quarantine side alike; this form evaluates it twice.
        The truth table is the same on every double: NaN compares above
        every number in Spark, so ``abs(NaN) <= b`` is false; ±inf fail
        the bound; -0.0 passes; and a NULL coordinate makes the
        comparison NULL, which ``coalesce`` turns to FALSE (not NULL),
        so a failed-extraction row lands in the quarantine split
        instead of silently vanishing from both filter halves
        (filter(NULL) and filter(NOT NULL) each drop the row)."""
        def within(c, bound):
            return F.coalesce(F.abs(F.col(c)) <= bound, F.lit(False))

        return within(lat_col, 90.0) & within(lon_col, 180.0)

    def validate(self, df: DataFrame, lat: str = "lat", lon: str = "lon"):
        """Split into (valid, quarantine) — the validate-once-as-filter
        strategy that gates the unchecked fast kernel
        (trans.rs:247-250)."""
        pred = self.valid_point(lat, lon)
        return df.filter(pred), df.filter(~pred)

    # -- grid as a DataFrame ----------------------------------------------

    def grid_df(self) -> DataFrame:
        """The broadcast grid as a small DataFrame (for F.broadcast joins
        / coverage anti-joins).  LocalRelation-backed for broadcastable
        grids (localrel.py): zero-job broadcast builds per action."""
        from .localrel import grid_df

        return grid_df(self.spark, self.grid)

    def statistics_df(self) -> DataFrame:
        """Spark-aggregate twin of ``MeshGrid.statistics`` (SURVEY
        §2.5), the arm the contract's ``grid_statistics`` query checks
        as method='spark': the same four components over ``grid_df()``
        (built from the driver-held grid) computed with Spark
        aggregates — one shuffle on the 4-way component key.

        Caveats vs the exact path (documented, tested to agree within
        ~1e-12 relative on the fixture grids): plain double sums (not
        the reference's compensated ksum, transformer.rs:9-22);
        ``horizontal`` uses sqrt(a*a + b*b) rather than numpy's
        ulp-careful hypot.  The std keeps the reference's unusual
        total-based formula sqrt(ksum((sum - v)^2) / n)
        (transformer.rs:190-237).

        Determinism: the grid is coalesced to ONE partition so the
        sums accumulate in meshcode order — the same serial order the
        DuckDB oracle uses — making the output run-to-run stable.
        That is sound because parameter grids are small relative to
        the cluster by design (they broadcast; <= ~1M rows): a
        multi-partition window sum would be shuffle-fetch-order
        dependent and no rounding granularity truly fixes that.

        NaN grids: ``StatisticData::from_array`` early-returns all-NaN
        when the compensated total is NaN (transformer.rs:200-207).
        Spark's F.min/F.max sort NaN above every double, so without
        the explicit override below ``vmin`` would report the smallest
        *real* value of a NaN-containing component; the final select
        pins every stat of such a component to NaN for reference
        parity (ADVICE r02).
        """
        from pyspark.sql import Window

        melted = self.grid_df().coalesce(1).selectExpr(
            "stack(4, 'latitude', dlat_sec, 'longitude', dlon_sec, "
            "'altitude', dalt_m, "
            "'horizontal', sqrt(dlat_sec * dlat_sec + dlon_sec * dlon_sec)) "
            "AS (component, v)"
        )
        total = F.sum("v").over(Window.partitionBy("component"))
        agged = (
            melted.withColumn("total", total)
            .groupBy("component")
            .agg(
                F.count("v").cast("long").alias("n"),
                (F.max("total") / F.count("v")).alias("mean"),
                F.sqrt(F.sum((F.col("total") - F.col("v")) * (F.col("total") - F.col("v")))
                       / F.count("v")).alias("std"),
                (F.sum(F.abs(F.col("v"))) / F.count("v")).alias("abs_mean"),
                F.min("v").alias("vmin"),
                F.max("v").alias("vmax"),
            )
        )
        nan = F.lit(float("nan"))
        return agged.select(
            "component", "n",
            *[F.when(F.isnan(F.col("mean")), nan).otherwise(F.col(c)).alias(c)
              for c in ("mean", "std", "abs_mean", "vmin", "vmax")],
        )
