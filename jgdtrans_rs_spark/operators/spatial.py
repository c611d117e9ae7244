"""Spatial operators: point-in-polygon, meshcode-bucketed spatial join,
kNN over mesh nodes.

The reference has no joins beyond its 4-corner HashMap probe
(trans.rs:34-53); these operators are the north-rule additions, with
semantics anchored to the JGD mesh system.

Scale design:

* Containment is decided here only: one crossing-number kernel per
  backend (``_crossings`` numpy, ``_ring_parity_col`` codegen), one
  63-bit mask over them (``polygon_mask`` / ``polygon_mask_col``) and
  one bit-test expansion (``poly_mask_rows``); from scratch, no shapely.
  ``point_in_polygon`` is the broadcast path: the mask kernel in a
  scalar pandas UDF, one narrow stage, no shuffle.
* ``bucketed_spatial_join`` — the path for large polygon sets:
  polygons are exploded onto the meshcodes their bbox covers, the
  candidates are broadcast and joined on the tile column, and the
  exact containment refine runs in codegen.  No shuffle, so a dense
  cell has no reducer to overload.  Output is a set of (key, poly_id)
  pairs, identical across parallelism levels.
* ``knn_mesh_nodes`` — for a point inside a rectangular lattice cell
  the 4 nearest nodes are exactly the cell corners, so the candidate
  set is local: compute 4 distances per point in the batch kernel and
  emit the top-k — zero shuffle, unlike the naive
  explode + Window.row_number plan.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from .. import mesh
from ..localrel import local_rows_df

Polygon = tuple[str, list[tuple[float, float]]]  # (poly_id, [(lat, lon), ...])


def _float_rings(polygons: Sequence[Polygon]) -> list[list[tuple[float, float]]]:
    return [[(float(a), float(b)) for a, b in ring] for _, ring in polygons]


def _bbox(ring: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    """(lat_min, lat_max, lon_min, lon_max) of a ring.  Outside it the
    crossing parity is always even, so a bbox test may short-circuit
    the exact one without changing the verdict."""
    lats = [p[0] for p in ring]
    lons = [p[1] for p in ring]
    return min(lats), max(lats), min(lons), max(lons)


def _crossings(lat: np.ndarray, lon: np.ndarray, ring: list[tuple[float, float]]) -> np.ndarray:
    """Crossing-number parity, edge formula pinned to the SQL oracle
    (plans/oracle.py::point_in_polygon_sql): for each edge,
    ((y1 > lat) != (y2 > lat)) and lon < (x2-x1)*(lat-y1)/(y2-y1)+x1."""
    inside = np.zeros(lat.shape[0], dtype=np.int64)
    n = len(ring)
    for i in range(n):
        y1, x1 = ring[i]
        y2, x2 = ring[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses the test ray
        cross = ((y1 > lat) != (y2 > lat)) & (
            lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        )
        inside += cross
    return inside % 2


def _ring_parity_col(ring: list[tuple[float, float]], lat, lon) -> "F.Column":
    """Crossing-number parity of ONE ring as a pure Column expression
    (same edge formula as _crossings and the SQL oracle, bit-identical
    float64 ops).  Stays entirely inside whole-stage codegen."""
    crossings = None
    n = len(ring)
    for j in range(n):
        y1, x1 = ring[j]
        y2, x2 = ring[(j + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses the test ray
        hit = ((F.lit(y1) > lat) != (F.lit(y2) > lat)) & (
            lon < (x2 - x1) * (lat - F.lit(y1)) / (y2 - y1) + x1
        )
        term = F.when(hit, 1).otherwise(0)
        crossings = term if crossings is None else crossings + term
    return (crossings % 2 == 1) if crossings is not None else F.lit(False)


def _containment_col(rings: list[list[tuple[float, float]]],
                     lat, lon, pidx) -> "F.Column":
    """Per-polygon ring parity dispatched on the candidate's poly_idx."""
    out = None
    for i, ring in enumerate(rings):
        inside = _ring_parity_col(ring, lat, lon)
        out = F.when(pidx == i, inside) if out is None else out.when(pidx == i, inside)
    return F.lit(False) if out is None else out.otherwise(F.lit(False))


def _mask_polygons(polygons: Sequence[Polygon]):
    """(float ring, bbox) per polygon of a set that must fit a 63-bit
    mask."""
    if len(polygons) > 63:
        raise ValueError(
            f"{len(polygons)} polygons exceed the 63-bit containment mask; "
            "use operators.spatial.bucketed_spatial_join for large polygon sets")
    return [(ring, _bbox(ring)) for ring in _float_rings(polygons)]


def polygon_mask(polygons: Sequence[Polygon]):
    """The numpy containment kernel: an ``(lat, lon) -> int64`` closure
    whose bit i is set where the point is inside ``polygons[i]``.

    Each polygon's bbox pre-filters the batch before the exact parity
    test.  Pure vectorized numpy: a per-row index array in place of
    the mask cost a Python loop over every row (~70 s of q4's 82 s at
    18M rows) plus the Arrow list writer.  >63 polygons raises: use
    bucketed_spatial_join for large polygon sets."""
    polys = _mask_polygons(polygons)

    def mask(la: np.ndarray, lo: np.ndarray) -> np.ndarray:
        out = np.zeros(la.shape[0], dtype=np.int64)
        for i, (ring, (la0, la1, lo0, lo1)) in enumerate(polys):
            cand = (la >= la0) & (la <= la1) & (lo >= lo0) & (lo <= lo1)
            if cand.any():
                h = np.zeros(la.shape[0], dtype=bool)
                h[cand] = _crossings(la[cand], lo[cand], ring) == 1
                out |= h.astype(np.int64) << i
        return out

    return mask


def polygon_mask_col(polygons: Sequence[Polygon], lat, lon) -> "F.Column":
    """The codegen twin of ``polygon_mask``: the same 63-bit mask as a
    pure Column expression (bbox conjunct + ``_ring_parity_col`` per
    polygon, bit-identical float64 ops), so a JVM-only plan decides
    containment in one projection."""
    out = F.lit(0).cast("long")
    for i, (ring, (la0, la1, lo0, lo1)) in enumerate(_mask_polygons(polygons)):
        inside = ((lat >= la0) & (lat <= la1) & (lon >= lo0) & (lon <= lo1)
                  & _ring_parity_col(ring, lat, lon))
        out = out.bitwiseOR(F.when(inside, F.lit(1 << i).cast("long")).otherwise(0))
    return out


def poly_mask_rows(df: DataFrame, polygons: Sequence[Polygon], mask_col: str = "poly_mask",
                   how: str = "left") -> DataFrame:
    """Expand a containment bitmask into (row, poly_idx, poly_id)
    rows with a broadcast bit-test join — the JVM-side twin of
    ``explode_outer`` over an index array (a no-hit row keeps one
    output row with NULL poly columns under ``how='left'``).
    The tiny nested-loop probe (one AND per polygon per row) is
    far cheaper than shipping an array column through Arrow.
    The name relation is a LocalRelation (localrel.py): its
    broadcast rebuilds on every downstream action, and the
    LocalRelation build is job-free where a pickled-RDD frame
    costs a ~32-task job per action."""
    spark = df.sparkSession
    names = local_rows_df(
        spark,
        [(i, pid) for i, (pid, _) in enumerate(polygons)],
        schema="poly_idx int, poly_id string",
    )
    # expr form: the DataFrame shiftright() only takes a literal
    # shift, the SQL function accepts a column
    hit = F.expr(f"(shiftright({mask_col}, poly_idx) & 1) = 1")
    return df.join(F.broadcast(names), hit, how)


def point_in_polygon(df: DataFrame, polygons: Sequence[Polygon],
                     key: str = "pkey", lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Broadcast point-in-polygon join -> (key, poly_id) pairs: the
    ``polygon_mask`` kernel in a scalar pandas UDF, expanded by
    ``poly_mask_rows``.  >63 polygons raises: use
    bucketed_spatial_join for large polygon sets."""
    kernel = polygon_mask(polygons)

    @F.pandas_udf(LongType())
    def mask_udf(lat_s: pd.Series, lon_s: pd.Series) -> pd.Series:
        return pd.Series(kernel(lat_s.to_numpy(dtype=np.float64, na_value=np.nan),
                                lon_s.to_numpy(dtype=np.float64, na_value=np.nan)))

    masked = df.select(key, mask_udf(F.col(lat), F.col(lon)).alias("_pmask"))
    return poly_mask_rows(masked, polygons, "_pmask", how="inner").select(key, "poly_id")


# largest latitude / longitude whose cell point_to_digits accepts
_LAT_TOP = 66.66666666666666
_LON_TOP = float(np.nextafter(180.0, 0.0))


def polygon_mesh_cover(polygons: Sequence[Polygon], unit: int) -> list[tuple[int, str]]:
    """Explode each polygon's bbox onto the meshcodes it covers:
    (meshcode, poly_id) candidate pairs for the bucketed join.

    Every cell between the cells of the bbox's SW and NE corners is
    enumerated in digit space, widened by one cell on each side: the
    ulp-parity bump of ``mesh.point_to_digits`` is not monotone within
    an ulp of a cell boundary, so a point just inside the bbox may sit
    in the cell next to its corner's.  (Float samples of the bbox land
    on cell boundaries and drop cells.)"""
    out: list[tuple[int, str]] = []
    for pid, ring in polygons:
        la0, la1, lo0, lo1 = _bbox(ring)
        if la1 < 0.0 or la0 > _LAT_TOP or lo1 < 100.0 or lo0 > _LON_TOP:
            continue  # no point of the bbox has a cell
        lat_d, lon_d, _ = mesh.point_to_digits(
            np.clip([la0, la1], 0.0, _LAT_TOP), np.clip([lo0, lo1], 100.0, _LON_TOP), unit)
        # axis position first*80 + second*10 + third: adjacent cells are
        # `unit` apart, so -unit/+unit is next_south/next_north (west/
        # east); lat digits stop at (99, 7, x), lon at the (80, 0, 0) node
        axes = []
        for (f, sec, t), top in ((lat_d, 99 * 80 + 79), (lon_d, 80 * 80)):
            i = f * 80 + sec * 10 + t
            axes.append(np.arange(max(i[0] - unit, 0), min(i[1] + unit, top) + 1, unit))
        gl, gn = (g.ravel() for g in np.meshgrid(*axes, indexing="ij"))
        codes = mesh.digits_to_meshcode((gl // 80, gl % 80 // 10, gl % 10),
                                        (gn // 80, gn % 80 // 10, gn % 10))
        out.extend((int(c), pid) for c in codes)
    return out


def bucketed_spatial_join(points: DataFrame, polygons: Sequence[Polygon], unit: int,
                          key: str = "pkey", lat: str = "lat", lon: str = "lon",
                          mesh_col: str = "meshcode",
                          hot_threshold: int = 50_000, num_salts: int = 16,
                          hot_codes: Sequence[int] | None = None) -> DataFrame:
    """Meshcode-bucketed spatial join: candidates broadcast, refined in
    codegen.

    points must carry a ``mesh_col`` tile column (engine.assign_tiles /
    transform_and_tile).  The polygon cover ships as one broadcast
    LocalRelation (localrel.py) joined on ``mesh_col`` alone: a
    BroadcastHashJoin reads ``points`` once and shuffles nothing, so a
    dense cell has no reducer to overload.  Output rows are
    (key, poly_id), independent of parallelism.

    ``hot_threshold``, ``num_salts`` and ``hot_codes`` are accepted and
    ignored; they remain for callers written against the salted join.
    """
    # the candidate side carries BOTH the integer dispatch index (the
    # containment refine dispatches on it — int compare in codegen,
    # and the pandas fallback ships only (lat, lon, poly_idx) through
    # Arrow) and the poly_id string, so no name-reattach join is
    # needed after the refine
    pid_to_idx = {pid: i for i, (pid, _) in enumerate(polygons)}
    if len(pid_to_idx) != len(polygons):
        # a duplicate id would silently collapse onto ONE ring here
        # (last wins) while point_in_polygon bit-masks each entry
        # separately — the two strategies would return different rows
        # for identical input; fail loudly instead
        raise ValueError("bucketed_spatial_join: duplicate poly_id in "
                         "polygons — ids must be unique")
    cover = polygon_mesh_cover(polygons, unit)
    if not cover:
        # schema derived from the points frame so the empty result
        # unions cleanly with the non-empty path whatever the key type
        return points.select(key).limit(0).withColumn(
            "poly_id", F.lit(None).cast("string"))
    cand = local_rows_df(
        points.sparkSession,
        [(c, pid_to_idx[p], p) for c, p in cover],
        schema=f"{mesh_col} long, poly_idx int, poly_id string",
    )
    joined = points.join(F.broadcast(cand), mesh_col)

    # exact containment test on the surviving candidates.  The rings
    # are driver-side constants, so for normal-size polygon sets the
    # crossing-number parity compiles to a pure Column expression —
    # the whole refine step stays in codegen (no second Python stage
    # after the transform UDF).  Very large rings fall back to the
    # vectorized pandas_udf: the Column form of one 600-edge ring
    # already overflows the JVM stack at ``.filter``.
    rings = _float_rings(polygons)
    n_edges = sum(len(r) for r in rings)
    if n_edges <= 512:
        contains_col = _containment_col(
            rings, F.col(lat), F.col(lon), F.col("poly_idx"))
    else:
        @F.pandas_udf(BooleanType())
        def contains(lat_s: pd.Series, lon_s: pd.Series, pidx_s: pd.Series) -> pd.Series:
            la = lat_s.to_numpy(dtype=np.float64, na_value=np.nan)
            lo = lon_s.to_numpy(dtype=np.float64, na_value=np.nan)
            pidx = pidx_s.to_numpy(dtype=np.int32)
            keep = np.zeros(la.shape[0], dtype=bool)
            for i, ring in enumerate(rings):
                mask = pidx == i
                if mask.any():
                    keep[mask] = _crossings(la[mask], lo[mask], ring) == 1
            return pd.Series(keep)

        contains_col = contains(F.col(lat), F.col(lon), F.col("poly_idx"))

    return (
        joined.select(key, lat, lon, "poly_idx", "poly_id")
        .filter(contains_col)
        .select(key, "poly_id")
    )


def knn_candidate_rows_cols(lat_d, lon_d, unit: int):
    """The provably sufficient kNN candidate window for k <= 4: the 4x4
    node block at lat offsets {-1, 0, +1, +2} x lon offsets
    {-1, 0, +1, +2} from the cell's SW corner.

    Sufficiency (squared-degree metric, lat step h, lon step w = 1.5h —
    the JGD cell is anisotropic): every cell corner satisfies
    d2 <= h^2 + w^2 = 3.25 h^2, while any node outside the window is at
    lat distance >= 2h (d2 >= 4 h^2) or lon distance >= 2w
    (d2 >= 9 h^2) — strictly farther than all four corners, so it can
    never enter the top-4.  Neighbor stepping mirrors
    node.rs:430-558 (next_south/next_west/...), including the None on
    digit under/overflow (here: an invalid-digits mask).
    """
    rows = [mesh.next_south(lat_d, unit), lat_d, mesh.next_north(lat_d, unit)]
    rows.append(mesh.next_north(rows[2], unit))
    cols = [mesh.next_west(lon_d, unit), lon_d, mesh.next_east(lon_d, unit)]
    cols.append(mesh.next_east(cols[2], unit))
    return rows, cols


def _lat_digits_valid(d) -> np.ndarray:
    """MeshCoord bounds after a carry/borrow (coord.rs:42, 72-75):
    first in 0..=99; second/third are kept in range by the carry."""
    f, _, _ = d
    return (f >= 0) & (f <= 99)


def _lon_digits_valid(d) -> np.ndarray:
    """MeshNode longitude invariant: <= (80, 0, 0) (node.rs:89-124)."""
    f, s, t = d
    return (f >= 0) & ((f < 80) | ((f == 80) & (s == 0) & (t == 0)))


def knn_topk_np(la: np.ndarray, lo: np.ndarray, unit: int, k: int):
    """Vectorized kNN core: (top_codes (n,k) int64, keep (n,k) bool).

    ``keep[i, j]`` is True when slot j of row i holds a real neighbor
    (the point is inside the mesh domain AND the candidate node's
    digits are valid).  Valid nodes always form a prefix of each row:
    invalid candidates get d2 = inf, strictly after every finite
    distance in the lexsort.  No per-row Python — the r06 optimization
    pass replaced the list-of-arrays return (one Python list object +
    Arrow list-writer cell per row) with these two fixed-width arrays
    (guide §4.2)."""
    lat_d, lon_d, valid = mesh.point_to_digits(la, lo, unit)
    rows, cols = knn_candidate_rows_cols(lat_d, lon_d, unit)
    n = la.shape[0]
    nr, nc = len(rows), len(cols)
    # candidate matrices written column-by-column into preallocated
    # arrays; per-axis terms computed once per row/col instead of per
    # combo (the meshcode digits are axis-separable:
    # (f1*100+f2)*10^4 + (s1*10+s2)*100 + (t1*10+t2)
    #   == [f1*10^6 + s1*10^3 + t1*10] + [f2*10^4 + s2*100 + t2],
    # exact integer arithmetic — values identical to
    # digits_to_meshcode; the old list+np.stack assembly recomputed
    # the lon terms 4x and doubled the allocation traffic)
    col_code = [c[0].astype(np.int64) * 10_000 + c[1] * 100 + c[2] for c in cols]
    col_ok = [_lon_digits_valid(c) for c in cols]
    col_dx = [lo - mesh.digits_to_lon(c) for c in cols]
    codes = np.empty((n, nr * nc), dtype=np.int64)
    node_ok = np.empty((n, nr * nc), dtype=bool)
    d2 = np.empty((n, nr * nc), dtype=np.float64)
    for i, r in enumerate(rows):
        r_code = r[0].astype(np.int64) * 1_000_000 + r[1] * 1_000 + r[2] * 10
        r_ok = _lat_digits_valid(r)
        dy = la - mesh.digits_to_lat(r)
        dy2 = dy * dy
        for j in range(nc):
            idx = i * nc + j
            codes[:, idx] = r_code + col_code[j]
            node_ok[:, idx] = r_ok & col_ok[j]
            d2[:, idx] = dy2 + col_dx[j] * col_dx[j]
    d2[~node_ok] = np.inf  # invalid nodes sort last
    order = np.lexsort((codes, d2), axis=-1)[:, :k]
    top = np.take_along_axis(codes, order, axis=1)
    top_ok = np.take_along_axis(node_ok, order, axis=1)
    return top, top_ok & valid[:, None]


def knn_mesh_nodes(df: DataFrame, unit: int, k: int = 3,
                   key: str = "pkey", lat: str = "lat", lon: str = "lon") -> DataFrame:
    """k nearest existing mesh nodes per point -> (key, rank, node_code).

    Candidates are the 4x4 node window around the containing cell (see
    knn_candidate_rows_cols for the sufficiency proof — exact for
    k <= 4); nodes whose digits under/overflow the mesh domain are
    dropped, matching the reference's None-returning neighbors
    (node.rs:430-558).  Squared-degree distance, ties broken by
    meshcode.  Entirely batch-local: no shuffle, no window.
    """
    if k > 4:
        raise ValueError("knn_mesh_nodes supports k <= 4 (candidate window proof)")

    # pandas_udf emitting k fixed nullable-long columns (NULL = no
    # neighbor in that slot; valid slots are always a prefix — see
    # knn_topk_np) + JVM posexplode over the rebuilt array -> rank.
    # The r06 rewrite: the old ArrayType(LongType()) return built one
    # Python list object per row and paid the Arrow list writer;
    # these fixed-width columns stay vectorized end to end and the
    # (pos, code) expansion runs in codegen.  NULL slots explode to
    # NULL rows and are filtered JVM-side, so an out-of-domain point
    # still yields zero rows — identical output to the list form.
    out_schema = StructType([
        StructField(f"c{j}", LongType(), True) for j in range(k)
    ])

    @F.pandas_udf(out_schema)
    def knn_codes(lat_s: pd.Series, lon_s: pd.Series) -> pd.DataFrame:
        la = lat_s.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lon_s.to_numpy(dtype=np.float64, na_value=np.nan)
        top, keep = knn_topk_np(la, lo, unit, k)
        return pd.DataFrame({
            f"c{j}": pd.arrays.IntegerArray(top[:, j], mask=~keep[:, j])
            for j in range(k)
        })

    tmp = "_knn"
    while tmp in df.columns:
        tmp += "_"
    return (
        df.withColumn(tmp, knn_codes(F.col(lat), F.col(lon)))
        .select(key, F.posexplode(F.array(*[f"{tmp}.c{j}" for j in range(k)])))
        .filter(F.col("col").isNotNull())
        .select(key, (F.col("pos") + 1).cast("int").alias("rank"),
                F.col("col").alias("node_code"))
    )
