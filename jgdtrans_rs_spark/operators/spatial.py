"""Spatial operators: point-in-polygon, broadcast bounding-box spatial
join, kNN over mesh nodes.

The reference has no joins beyond its 4-corner HashMap probe
(trans.rs:34-53); these operators are the north-rule additions, with
semantics anchored to the JGD mesh system.

Scale design:

* Containment is decided here only: one crossing-number formula per
  backend (``_crossings`` numpy, ``refine_pairs`` Spark SQL), from
  scratch, no shapely, each behind the same closed-bbox prefilter.
  ``point_in_polygon`` is the broadcast path: a 63-bit numpy mask
  (``polygon_mask``) in a scalar pandas UDF, one narrow stage, no
  shuffle, expanded by one bit-test join (``poly_mask_rows``).  A
  non-finite vertex raises: numpy compares NaN false and Spark sorts
  it above every double, so the backends would disagree on it.
* ``bucketed_spatial_join`` — the JVM path, also the containment step
  of ``SqlEngine.transform_pip``: the points nested-loop-join a
  broadcast LocalRelation of polygon bounding boxes and
  ``refine_pairs`` keeps the pairs inside the ring, a fold over the
  candidate's ring held as a literal edge array, so the refine stays
  in the JVM at any edge count.  No shuffle, so a dense cell has no
  reducer to overload.  Output is a set of (key, poly_id) pairs,
  identical across parallelism levels.
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
from pyspark.sql.types import LongType, StructField, StructType

from .. import mesh
from ..localrel import _scalar, local_rows_df

Polygon = tuple[str, list[tuple[float, float]]]  # (poly_id, [(lat, lon), ...])


def _float_rings(polygons: Sequence[Polygon]) -> list[list[tuple[float, float]]]:
    """The rings as float vertices; a NaN or infinite vertex raises."""
    rings = [[(float(a), float(b)) for a, b in ring] for _, ring in polygons]
    for (pid, _), ring in zip(polygons, rings):
        if not np.isfinite(np.asarray(ring, dtype=np.float64)).all():
            raise ValueError(f"polygon {pid!r} has a non-finite vertex")
    return rings


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
    ((y1 > lat) != (y2 > lat)) and lon < (x2-x1)*(lat-y1)/(y2-y1)+x1.
    The test is written ``~(lon >= x)``: a NaN intercept (a vertex
    difference overflowed to inf, times 0 or over inf) then ranks above
    every double, as in Spark and DuckDB.  Callers' bbox prefilter never
    passes a NaN ``lon``.  The parity is a bool XOR (True = inside): an
    int64 count and ``% 2`` took 1.3-2x as long on 100k lanes."""
    inside = np.zeros(lat.shape[0], dtype=bool)
    n = len(ring)
    with np.errstate(over="ignore", invalid="ignore"):
        for i in range(n):
            y1, x1 = ring[i]
            y2, x2 = ring[(i + 1) % n]
            if y1 == y2:
                continue  # horizontal edge never crosses the test ray
            inside ^= ((y1 > lat) != (y2 > lat)) & ~(
                lon >= (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
    return inside


_EDGE = "struct<y1: double, x1: double, y2: double, x2: double>"


def _array_sql(items: list[str], elem: str) -> str:
    """A SQL array literal; an empty one is typed, so it still unifies
    with its non-empty siblings."""
    return f"array({', '.join(items)})" if items else f"CAST(array() AS array<{elem}>)"


def _edges_sql(ring: list[tuple[float, float]]) -> str:
    """One ring's edges as a SQL array of exact vertex literals,
    horizontal ones dropped as in ``_crossings`` (they never cross the
    ray).  The differences are left to the filter: a difference of two
    finite vertices may overflow to an infinity, which has no
    literal."""
    def d(v: float) -> str:
        return _scalar(v, "DOUBLE")

    n = len(ring)
    return _array_sql([
        f"named_struct('y1', {d(y1)}, 'x1', {d(x1)}, 'y2', {d(y2)}, 'x2', {d(x2)})"
        for (y1, x1), (y2, x2) in ((ring[i], ring[(i + 1) % n]) for i in range(n))
        if y1 != y2
    ], _EDGE)


def refine_pairs(pairs: DataFrame, rings: list[list[tuple[float, float]]],
                 key: str, lat: str, lon: str) -> DataFrame:
    """(key, poly_id) of the candidate ``pairs`` whose point is inside
    ``rings[poly_idx]``.  The rings ride as one literal array of edge
    arrays and the crossing parity folds over the candidate's ring with
    ``aggregate``: the ``_crossings`` formula with its float64 ops in
    the same order.  The rings are data, not code, so the generated
    method does not grow with the edge count and the refine stays in
    the JVM at any size."""
    cross = (f"CASE WHEN ((_e.y1 > `{lat}`) != (_e.y2 > `{lat}`)) AND `{lon}` < (_e.x2 - _e.x1)"
             f" * (`{lat}` - _e.y1) / (_e.y2 - _e.y1) + _e.x1 THEN 1 ELSE 0 END")
    edges = _array_sql([_edges_sql(r) for r in rings], f"array<{_EDGE}>")
    inside = F.expr(f"aggregate(element_at({edges}, poly_idx + 1), 0, "
                    f"(_n, _e) -> _n + {cross}) % 2 = 1")
    return (
        pairs.select(key, lat, lon, "poly_idx", "poly_id")
        .filter(inside)
        .select(key, "poly_id")
    )


def polygon_mask(polygons: Sequence[Polygon]):
    """The numpy containment kernel: an ``(lat, lon) -> int64`` closure
    whose bit i is set where the point is inside ``polygons[i]``.

    Each polygon's bbox pre-filters the batch before the exact parity
    test.  Pure vectorized numpy: a per-row index array in place of
    the mask cost a Python loop over every row (~70 s of q4's 82 s at
    18M rows) plus the Arrow list writer.  >63 polygons raises: use
    bucketed_spatial_join for large polygon sets, whose box test costs
    points x polygons and is benchmarked with at most 8 polygons."""
    if len(polygons) > 63:
        raise ValueError(
            f"{len(polygons)} polygons exceed the 63-bit containment mask; "
            "use operators.spatial.bucketed_spatial_join for large polygon sets")
    polys = [(ring, _bbox(ring)) for ring in _float_rings(polygons)]

    def mask(la: np.ndarray, lo: np.ndarray) -> np.ndarray:
        out = np.zeros(la.shape[0], dtype=np.int64)
        for i, (ring, (la0, la1, lo0, lo1)) in enumerate(polys):
            cand = (la >= la0) & (la <= la1) & (lo >= lo0) & (lo <= lo1)
            if cand.any():
                h = np.zeros(la.shape[0], dtype=bool)
                h[cand] = _crossings(la[cand], lo[cand], ring)
                out |= h.astype(np.int64) << i
        return out

    return mask


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


def bucketed_spatial_join(points: DataFrame, polygons: Sequence[Polygon], unit: int | None = None,
                          key: str = "pkey", lat: str = "lat", lon: str = "lon",
                          mesh_col: str = "meshcode",
                          hot_threshold: int = 50_000, num_salts: int = 16,
                          hot_codes: Sequence[int] | None = None) -> DataFrame:
    """Broadcast bounding-box spatial join -> (key, poly_id) pairs: the
    candidate step of both JVM containment paths, refined by
    ``refine_pairs``.

    The polygons' bounding boxes ship as one broadcast LocalRelation
    (localrel.py), nested-loop-joined on the closed-box test that
    ``polygon_mask`` prefilters with, so every point, inside the JGD
    mesh domain or not, gets ``point_in_polygon``'s verdict.
    ``points`` is read once and nothing is shuffled, so a dense cell
    has no reducer to overload.  Output rows are independent of
    parallelism.  Every point is box-tested against every polygon, so
    the cost grows with points x polygons; the benchmarks run it with
    at most 8 polygons.

    ``unit``, ``mesh_col``, ``hot_threshold``, ``num_salts`` and
    ``hot_codes`` are accepted and ignored; they remain for callers
    written against the salted meshcode join.
    """
    if len({pid for pid, _ in polygons}) != len(polygons):
        # the (key, poly_id) output could not tell two rings with one
        # id apart; fail loudly instead
        raise ValueError("bucketed_spatial_join: duplicate poly_id in "
                         "polygons — ids must be unique")
    rings = _float_rings(polygons)
    boxes = local_rows_df(
        points.sparkSession,
        [(i, pid, *_bbox(ring)) for i, ((pid, _), ring) in enumerate(zip(polygons, rings))],
        schema="poly_idx int, poly_id string, lat_min double, lat_max double, "
               "lon_min double, lon_max double",
    )
    # The box test is null-tolerant, so Catalyst infers no
    # isnotnull(lat) to push below an upstream transform as a copy of
    # the transform expression.  With that copy the fused stage of
    # SqlEngine.transform_pip read a 22,551-byte largest generated
    # method on the contract's sf0.01 points (7,853 without), past
    # HotSpot's 8,000-byte JIT limit: the stage would run interpreted.
    la, lo = F.col(lat), F.col(lon)
    in_box = ((la >= F.col("lat_min")) & (la <= F.col("lat_max"))
              & (lo >= F.col("lon_min")) & (lo <= F.col("lon_max")))
    # A filter, not a join condition: Catalyst folds it and then the
    # refine's filter into the join condition in that order, so the
    # interpreted fold runs on box candidates only.  Under a join
    # condition the refine's filter lands in front of it and the fold
    # runs on every (point, polygon) pair.
    pairs = points.crossJoin(F.broadcast(boxes)).filter(F.coalesce(in_box, F.lit(False)))
    return refine_pairs(pairs, rings, key, lat, lon)


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
