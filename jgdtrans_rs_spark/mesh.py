"""Vectorized JGD mesh kernels (numpy only, no Spark dependency).

Re-implements the semantics of the reference's mesh module
(/root/reference/src/mesh/{coord.rs,node.rs,cell.rs,code.rs}) as flat
int64/float64 array math.  This is the engine's tile-index layer: the
8-digit JGD meshcode plays the role H3/S2 plays in other spatial
engines.

Exactness notes (binding — the reference's tests assert bit equality):

* ``MeshCoord::try_from_latitude`` (coord.rs:260-283) computes
  ``3*lat/2`` and, when the IEEE-754 bit pattern of ``lat`` is odd,
  bumps the product one ulp up (coord.rs:271-275).  This guarantees the
  from/to identity on node latitudes.  We replicate it with an
  ``int64`` view of the float64 array.
* ``to_degree`` (coord.rs:322-326 / code.rs:69-82) is the two-step
  ``second*(1/8) + first`` then ``third*(1/80) + temp`` — NOT
  ``k*(1/80)``; the rounding differs, so the order is pinned.
* All arithmetic is plain ``a*b + c`` (the reference's non-fma path,
  lib.rs:181-188), which numpy does natively.
"""

from __future__ import annotations

import numpy as np

# Mesh units (mesh/unit.rs:3-8): One = third-order (~1 km), Five = ~5 km.
UNIT_ONE = 1
UNIT_FIVE = 5

# Bounds modes for point -> digits (see point_to_digits):
# * strict    — engine default: half-open upper bounds, every downstream
#   digit array in range by construction.
# * inclusive — reference checked-path parity (coord.rs:278-280 accepts
#   mesh value <= 100.0 and longitude <= 180.0 inclusively; cell
#   construction then fails as OutOfBounds where a corner coord cannot
#   exist — trans.rs:429-430 new_oob via coord.rs:409-427 next_up /
#   node.rs:152-160 the (80,0,0) longitude maximum).  NOTE (round 3,
#   verified against the source + by double-enumeration): a latitude
#   mesh value of EXACTLY 100.0 is unreachable — the unique double
#   with 3*lat/2 == 100.0 (66.66666666666667) has an odd bit pattern,
#   so the ulp bump (coord.rs:271-275) pushes it past the inclusive
#   bound; the (0,0,0) digit-wrap branch is faithful dead code.  The
#   REACHABLE strict-vs-reference divergence is the top latitude cell
#   (coord (99,7,bound), no next_up): strict reports
#   ParameterNotFound(99xx...), the reference OutOfBounds.
# * unchecked — MeshCode::from_point parity (code.rs:16-57): no bounds
#   at all, digits wrap modulo 100; the reference's verify step inside
#   the Newton inverse runs here (trans.rs:658).
BOUNDS_STRICT = "strict"
BOUNDS_INCLUSIVE = "inclusive"
BOUNDS_UNCHECKED = "unchecked"
# * node — MeshNode::try_from_point parity (node.rs:269-287): the
#   checked path at NODE level — inclusive coordinate bounds only, no
#   cell-corner exclusions.  A point in the top latitude cell HAS a
#   valid sw node ((99,7,bound)), and longitude exactly 180.0 IS the
#   valid maximum node (80,0,0) — both fail only when a CELL must be
#   built (BOUNDS_INCLUSIVE).  Tile assignment under reference parity
#   (Engine strict_bounds=False) uses this mode: the reference assigns
#   the tile and separately fails the transform, and so do we.
BOUNDS_NODE = "node"


def _as_f64(a) -> np.ndarray:
    return np.ascontiguousarray(np.asarray(a, dtype=np.float64))


def lat_mesh_value(lat: np.ndarray) -> np.ndarray:
    """``3*lat/2`` with the ulp-parity bump (coord.rs:265-276, code.rs:17-24)."""
    lat = _as_f64(lat)
    value = 3.0 * lat / 2.0
    odd = (lat.view(np.int64) & 1) == 1
    return np.where(odd, np.nextafter(value, np.inf), value)


_U32 = 1 << 32


def _floor_as_u32(x: np.ndarray) -> np.ndarray:
    """Rust's saturating ``f64 as u32`` of floor(x): NaN -> 0,
    negatives -> 0, above u32::MAX -> u32::MAX (int64 result)."""
    f = np.floor(x)
    f = np.where(np.isnan(f), 0.0, f)
    return np.clip(f, 0.0, 4294967295.0).astype(np.int64)


def value_to_digits(value: np.ndarray, unit: int):
    """``MeshCoord::from_degree`` (coord.rs:203-229) /
    ``MeshCode::from_point`` (code.rs:16-57), vectorized.

    ``value`` must already be the mesh-value (lat: 3*lat/2 bumped,
    lon: the longitude itself).  Returns int64 digit arrays
    (first, second, third).  Caller is responsible for bounds.

    Out-of-domain values reproduce the reference's UNCHECKED cast
    semantics exactly (a diverged Newton iterate can sit anywhere, and
    its digit-wrapped ParameterNotFound meshcode is part of the error
    contract): Rust ``f64 as u32`` saturates (negative / NaN -> 0,
    huge -> u32::MAX), the second/third arithmetic wraps in u32, and
    the final ``as u8`` narrowing truncates mod 256 — all mirrored
    below.  In-domain values (any checked mode) never touch the
    saturation or wrap branches, so checked digits are unchanged."""
    value = _as_f64(value)
    integer = _floor_as_u32(value)
    first = integer % 100
    second = (_floor_as_u32(8.0 * value) - 8 * integer) % _U32
    third = (_floor_as_u32(80.0 * value) - 80 * integer - 10 * second) % _U32
    if unit == UNIT_FIVE:
        # unit-five collapse happens on the u32 third (code.rs:48-53)
        third = np.where(third < 5, 0, 5)
    else:
        third = third % 256  # `third as u8`
    second = second % 256  # `second as u8`
    return first, second, third


def point_bounds_mask(latv: np.ndarray, lonv: np.ndarray, lat_digits, lon_digits,
                      unit: int, bounds: str = BOUNDS_STRICT) -> np.ndarray:
    """Validity mask of a point batch under a bounds mode (module
    header comment), from its mesh values (``lat_mesh_value`` and the
    longitude itself) and digits.  ``inclusive`` reproduces the
    reference checked path exactly: try_from bounds are inclusive
    (coord.rs:278-280, 313-316) and a point whose CELL cannot be built
    — the top latitude coord (99,7,bound) has no next_up
    (coord.rs:409-427), and longitude exactly 180.0 puts the east node
    past the (80,0,0) maximum (node invariant, node.rs:89-124) — is
    OutOfBounds (trans.rs:429-430)."""
    if bounds == BOUNDS_UNCHECKED:
        return np.ones(latv.shape, dtype=bool)
    if bounds == BOUNDS_NODE:
        # inclusive coordinate bounds, no cell exclusions (node.rs
        # try_from_point: only try_from_latitude/longitude can fail).
        # latv == 100.0 exactly is unreachable (module header): the
        # closed upper bound and `< 100.0` agree on every reachable
        # double, and digits stay in range without a wrap branch.
        return (
            np.isfinite(latv) & (latv >= 0.0) & (latv <= 100.0)
            & np.isfinite(lonv) & (lonv >= 100.0) & (lonv <= 180.0)
        )
    if bounds == BOUNDS_INCLUSIVE:
        valid = (
            np.isfinite(latv) & (latv >= 0.0) & (latv <= 100.0)
            & np.isfinite(lonv) & (lonv >= 100.0) & (lonv <= 180.0)
        )
        bound = 9 if unit == UNIT_ONE else 5
        top_lat = (lat_digits[0] == 99) & (lat_digits[1] == 7) & (lat_digits[2] == bound)
        lon_max = (lon_digits[0] == 80) & (lon_digits[1] == 0) & (lon_digits[2] == 0)
        return valid & ~top_lat & ~lon_max
    return (
        np.isfinite(latv) & (latv >= 0.0) & (latv < 100.0)
        & np.isfinite(lonv) & (lonv >= 100.0) & (lonv < 180.0)
    )


def point_to_digits(lat: np.ndarray, lon: np.ndarray, unit: int,
                    bounds: str = BOUNDS_STRICT):
    """``MeshCode::from_point`` (code.rs:16-57): digit triples of the
    south-west node of the cell containing each point.

    Returns ((lat1, lat2, lat3), (lon1, lon2, lon3), valid_mask).
    Digits on invalid lanes are unspecified (except BOUNDS_INCLUSIVE's
    wrapped lanes, whose digits ARE the reference's wrapped cell).

    Bounds modes (module header): the STRICT default diverges from the
    reference checked path only on the domain's top edge — documented
    since round 1 (ADVICE r01) — trading the boundary error KIND
    (everything up there fails either way) for digit arrays in range
    by construction; BOUNDS_INCLUSIVE is the exact-parity opt-in
    (kernel ``strict_bounds=False``)."""
    latv = lat_mesh_value(lat)
    lonv = _as_f64(lon)
    lat_digits = value_to_digits(latv, unit)
    lon_digits = value_to_digits(lonv, unit)
    valid = point_bounds_mask(latv, lonv, lat_digits, lon_digits, unit, bounds)
    return lat_digits, lon_digits, valid


def digits_to_meshcode(lat_digits, lon_digits) -> np.ndarray:
    """``MeshCode::to_u32`` / ``MeshNode::to_meshcode`` (code.rs:61-65,
    node.rs:372-376)."""
    (f1, s1, t1), (f2, s2, t2) = lat_digits, lon_digits
    return (f1 * 100 + f2) * 10_000 + (s1 * 10 + s2) * 100 + (t1 * 10 + t2)


def meshcode_to_digits(code: np.ndarray):
    """``MeshNode::try_from_meshcode`` (node.rs:310-347), vectorized.

    Returns (lat_digits, lon_digits, valid).  Validity: code < 10^8,
    both second digits < 8, and longitude triple <= (80, 0, 0)
    (node.rs:89-124; rejected examples node.rs:621-626).
    """
    code = np.asarray(code, dtype=np.int64)
    in_range = (code >= 0) & (code < 100_000_000)
    safe = np.where(in_range, code, 0)
    lat1 = safe // 1_000_000
    rest = safe % 1_000_000
    lon1 = rest // 10_000
    rest = rest % 10_000
    lat2 = rest // 1_000
    rest = rest % 1_000
    lon2 = rest // 100
    rest = rest % 100
    lat3 = rest // 10
    lon3 = rest % 10
    lon_ok = (lon1 < 80) | ((lon1 == 80) & (lon2 == 0) & (lon3 == 0))
    valid = in_range & (lat2 < 8) & (lon2 < 8) & lon_ok
    return (lat1, lat2, lat3), (lon1, lon2, lon3), valid


def _next_digits(first, second, third, unit: int):
    """One tile step up with digit carry (code.rs:100-140,
    coord.rs:409-463)."""
    bound = 9 if unit == UNIT_ONE else 5
    at_bound = third == bound
    carry_second = at_bound & (second == 7)
    new_third = np.where(at_bound, 0, third + unit)
    new_second = np.where(at_bound, np.where(second == 7, 0, second + 1), second)
    new_first = np.where(carry_second, first + 1, first)
    return new_first, new_second, new_third


def _prev_digits(first, second, third, unit: int):
    """One tile step down with digit borrow (coord.rs:466-514)."""
    bound = 9 if unit == UNIT_ONE else 5
    at_zero = third == 0
    borrow_second = at_zero & (second == 0)
    new_third = np.where(at_zero, bound, third - unit)
    new_second = np.where(at_zero, np.where(second == 0, 7, second - 1), second)
    new_first = np.where(borrow_second, first - 1, first)
    return new_first, new_second, new_third


def next_east(lon_digits, unit: int):
    return _next_digits(*lon_digits, unit)


def next_west(lon_digits, unit: int):
    return _prev_digits(*lon_digits, unit)


def next_north(lat_digits, unit: int):
    return _next_digits(*lat_digits, unit)


def next_south(lat_digits, unit: int):
    return _prev_digits(*lat_digits, unit)


def digits_to_lat(lat_digits) -> np.ndarray:
    """``MeshCoord::to_latitude`` (coord.rs:322-353): pinned two-step
    rounding then ``2*temp/3``."""
    f, s, t = lat_digits
    temp = s.astype(np.float64) * (1.0 / 8.0) + f.astype(np.float64)
    temp = t.astype(np.float64) * (1.0 / 80.0) + temp
    return 2.0 * temp / 3.0


def digits_to_lon(lon_digits) -> np.ndarray:
    """``MeshCoord::to_longitude`` (coord.rs:376-380): ``100 + temp``."""
    f, s, t = lon_digits
    temp = s.astype(np.float64) * (1.0 / 8.0) + f.astype(np.float64)
    temp = t.astype(np.float64) * (1.0 / 80.0) + temp
    return 100.0 + temp


def cell_position(lat, lon, lat_digits, lon_digits, unit: int):
    """``MeshCell::position`` (cell.rs:483-491 / code.rs:86-96):
    (y, x) of the point within its cell, sw corner = (0, 0)."""
    return node_offset(lat, lon, digits_to_lat(lat_digits), digits_to_lon(lon_digits), unit)


def node_offset(lat, lon, node_lat, node_lon, unit: int):
    """``cell_position`` from the SW node's latitude and longitude
    (``digits_to_lat``/``digits_to_lon`` of its digits)."""
    y = _as_f64(lat) - node_lat
    x = _as_f64(lon) - node_lon
    if unit == UNIT_ONE:
        return 120.0 * y, 80.0 * x
    return 24.0 * y, 16.0 * x


def normalize_latitude(t: np.ndarray) -> np.ndarray:
    """point.rs:9-19, vectorized; NaN passes through."""
    t = _as_f64(t)
    out = t.copy()
    need = ~(np.isnan(t) | ((t >= -90.0) & (t <= 90.0)))
    if not need.any():
        return out
    s = np.where(need, np.fmod(t, 360.0), 0.0)
    case1 = need & ~((s >= -270.0) & (s <= 270.0))
    r = np.where(case1, s - np.copysign(360.0, s), s)
    case2 = need & ~case1 & ~((s >= -90.0) & (s <= 90.0))
    r = np.where(case2, np.copysign(180.0, s) - s, r)
    return np.where(need, r, out)


def normalize_longitude(t: np.ndarray) -> np.ndarray:
    """point.rs:23-32, vectorized; NaN passes through."""
    t = _as_f64(t)
    out = t.copy()
    need = ~(np.isnan(t) | ((t >= -180.0) & (t <= 180.0)))
    if not need.any():
        return out
    s = np.where(need, np.fmod(t, 360.0), 0.0)
    case1 = need & ~((s >= -180.0) & (s < 180.0))
    r = np.where(case1, s - np.copysign(360.0, s), s)
    return np.where(need, r, out)


# ---------------------------------------------------------------------------
# Secondary tile scheme: S2-style quadtree cell id (engine addition; the
# reference has no equivalent — required by the north rule's H3/S2
# re-encode).  Pure integer bit math so it is also expressible as a SQL
# column expression (SQL twin: the quadkey terms inside plans/oracle.py::tile_sql).
# ---------------------------------------------------------------------------

def quadkey(lat: np.ndarray, lon: np.ndarray, level: int = 15) -> np.ndarray:
    """Level-``level`` quadtree cell id over the lat/lon rectangle.

    ix = floor((lon+180)/360 * 2^level), iy likewise for latitude, bits
    interleaved (lon bit low).  Deterministic, no trig — a faithful
    stand-in for an S2 cell id at fixed level.
    """
    lat = _as_f64(lat)
    lon = _as_f64(lon)
    # non-finite coords deterministically map to cell 0; finite ones
    # clamp to +-1e6 first, so the int64 cast below cannot overflow
    # (oracle.tile_sql applies the same rule)
    lat = np.where(np.isfinite(lat), np.clip(lat, -1e6, 1e6), -90.0)
    lon = np.where(np.isfinite(lon), np.clip(lon, -1e6, 1e6), -180.0)
    n = np.int64(1) << level
    ix = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    ix = np.clip(ix, 0, int(n) - 1)
    iy = np.clip(iy, 0, int(n) - 1)
    # Morton interleave via magic-mask bit spreading: 10 array passes
    # instead of the naive per-bit loop's 4*level (~60 at level 15) —
    # value-identical for any level <= 31 (the spread is the exact
    # interleave identity), measured ~5x less memory traffic on the
    # 18M-row bench batches.
    return _morton_spread(ix) | (_morton_spread(iy) << 1)


def _morton_spread(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of ``v`` onto the even bit positions
    (classic Morton encoding masks)."""
    v = (v | (v << 16)) & np.int64(0x0000FFFF0000FFFF)
    v = (v | (v << 8)) & np.int64(0x00FF00FF00FF00FF)
    v = (v | (v << 4)) & np.int64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << 2)) & np.int64(0x3333333333333333)
    v = (v | (v << 1)) & np.int64(0x5555555555555555)
    return v
