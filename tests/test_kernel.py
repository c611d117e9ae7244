"""Transform kernel tests pinned to the reference's own fixtures.

Four layers mirroring SURVEY.md §5:
1. golden values vs the GIAJ web app (1e-8 deg / 1e-3 m),
2. exact-decimal regression (bit equality on doctest constants,
   1e-13 on the FMA-generated test table),
3. round-trip identities backward(forward(p)) == p bit-exact over the
   reference's maximally-distorted grids + 40 sampled origins,
4. error taxonomy as data.
"""

import numpy as np
import pytest

from jgdtrans_rs_spark import kernel, mesh
from jgdtrans_rs_spark.grid import MeshGrid
from tests.conftest import SEMIDYNA, reference_origins, reference_table


@pytest.fixture(scope="module")
def semi():
    return MeshGrid.from_dict(SEMIDYNA, "SemiDynaEXE")


@pytest.fixture(scope="module")
def tky2jgd_web():
    # trans.rs:1038-1048
    return MeshGrid.from_dict({
        54401027: (11.49105, -11.80078, 0.0),
        54401037: (11.48732, -11.80198, 0.0),
        54401028: (11.49096, -11.80476, 0.0),
        54401038: (11.48769, -11.80555, 0.0),
        54401047: (11.48373, -11.80318, 0.0),
        54401048: (11.48438, -11.80689, 0.0),
    }, "TKY2JGD")


@pytest.fixture(scope="module")
def iwo_jima():
    # trans.rs:1340-1383 (42-node Iwo Jima TKY2JGD grid)
    return MeshGrid.from_dict(
        reference_table("pub(crate) const TKY2JGD: [(u32, (f64, f64, f64)); 42]",
                        "pub(crate) const PatchJGD: [(u32, (f64, f64, f64)); 20]"),
        "TKY2JGD",
    )


@pytest.fixture(scope="module")
def kongoji():
    # trans.rs:1386-1408 (20-node PatchJGD Kongōji grid)
    return MeshGrid.from_dict(
        reference_table("pub(crate) const PatchJGD: [(u32, (f64, f64, f64)); 20]",
                        "// randomly sampling points"),
        "PatchJGD",
    )


def _one(fn, lat, lon, alt, grid):
    la, lo, al, c = fn(np.array([lat]), np.array([lon]), np.array([alt]), grid)
    return la[0], lo[0], al[0], c


def test_forward_doctest_exact(semi):
    # transformer.rs:301-305 (bit-exact asserted constants)
    la, lo, al, c = _one(kernel.forward, 36.10377479, 140.087855041, 2.34, semi)
    assert c.status[0] == kernel.STATUS_OK
    assert la == 36.103773017086695
    assert lo == 140.08785924333452
    assert al == 2.4363138578103


def test_forward_exact_result(semi):
    # trans.rs:1149-1172 (tolerance 1e-13; constants are FMA-path)
    la, lo, al, _ = _one(kernel.forward, 36.103774791666666, 140.08785504166664, 0.0, semi)
    assert abs(la - 36.10377301875335) < 1e-13
    assert abs(lo - 140.08785924400115) < 1e-13
    assert abs(al - 0.09631385775572238) < 1e-13


def test_backward_corr_doctest_exact(semi):
    # trans.rs:542-551 non-fma constants, bit-exact
    c = kernel.backward_corr(
        np.array([36.103773017086695]), np.array([140.08785924333452]), semi)
    assert c.status[0] == kernel.STATUS_OK
    assert c.dlat[0] == 1.7729133100878255e-06
    assert c.dlon[0] == -4.202334510058886e-06
    assert c.dalt[0] == -0.09631385781030005


def test_backward_compat_corr_doctest_exact(semi):
    # trans.rs:481-486
    c = kernel.backward_compat_corr(
        np.array([36.103773017086695]), np.array([140.08785924333452]), semi)
    assert c.dlat[0] == 1.772913321983159e-06
    assert c.dlon[0] == -4.202334509042612e-06
    assert c.dalt[0] == -0.09631385823205689


def test_vs_semidyna_web_app(semi):
    # trans.rs:1123-1147, tolerance 1e-8 deg / 1e-3 m
    la, lo, al, _ = _one(kernel.forward, 36.103774791666666, 140.08785504166664, 0.0, semi)
    assert abs(36.103773019 - la) < 1e-8
    assert abs(140.087859244 - lo) < 1e-8
    assert abs(0.096 - al) < 1e-3
    la, lo, al, _ = _one(kernel.backward_compat, 36.10377301875336, 140.08785924400115, 0.0, semi)
    assert abs(36.103774792 - la) < 1e-8
    assert abs(140.087855042 - lo) < 1e-8
    assert abs(-0.096 - al) < 1e-3


def test_vs_tky2jgd_web_app(tky2jgd_web):
    # trans.rs:1070-1095 (GIAJ HQ landmark)
    la, lo, al, _ = _one(kernel.forward, 36.103774791666666, 140.08785504166664, 0.0, tky2jgd_web)
    assert abs(36.106966281 - la) < 1e-8
    assert abs(140.084576867 - lo) < 1e-8
    assert al == 0.0
    la, lo, al, _ = _one(kernel.backward_compat, 36.10696628160147, 140.08457686629436, 0.0, tky2jgd_web)
    assert abs(36.103774792 - la) < 1e-8
    assert abs(140.087855042 - lo) < 1e-8


@pytest.mark.parametrize("grid_name,origin_marker", [
    ("iwo_jima", "pub(crate) const TKY2JGD: [Point; 40]"),
    ("kongoji", "pub(crate) const PatchJGD: [Point; 40]"),
])
def test_roundtrip_identity_bitexact(request, grid_name, origin_marker):
    # trans.rs:1628-1644, 1767-1783: backward(forward(p)) == p exactly
    grid = request.getfixturevalue(grid_name)
    end = ("pub(crate) const PatchJGD: [Point; 40]"
           if grid_name == "iwo_jima" else "#[allow(non_snake_case)]\n        mod PatchJGD")
    pts = reference_origins(origin_marker, end)
    assert len(pts) == 40
    lat = np.array([p[0] for p in pts])
    lon = np.array([p[1] for p in pts])
    alt = np.zeros(40)
    fla, flo, fal, fc = kernel.forward(lat, lon, alt, grid)
    assert (fc.status == kernel.STATUS_OK).all()
    bla, blo, bal, bc = kernel.backward(fla, flo, fal, grid)
    assert (bc.status == kernel.STATUS_OK).all()
    assert (bla == lat).all()
    assert (blo == lon).all()


def test_backward_precision(semi, iwo_jima):
    """Residual of the Newton inverse < MAX_ERROR = 5e-14 deg."""
    for grid, (la0, lo0) in ((semi, (36.09, 140.08)), (iwo_jima, (24.78, 141.31))):
        rng = np.random.RandomState(7)
        lat = la0 + rng.rand(200) * 0.01
        lon = lo0 + rng.rand(200) * 0.01
        fla, flo, fal, fc = kernel.forward(lat, lon, np.zeros(200), grid)
        ok = fc.status == kernel.STATUS_OK
        bla, blo, _, bc = kernel.backward(fla[ok], flo[ok], fal[ok], grid)
        assert (bc.status == kernel.STATUS_OK).all()
        # verify the defining property q == p' + forward_corr(p')
        c2 = kernel.forward_corr(bla, blo, grid)
        assert np.abs(fla[ok] - (bla + c2.dlat)).max() < kernel.MAX_ERROR
        assert np.abs(flo[ok] - (blo + c2.dlon)).max() < kernel.MAX_ERROR


def test_error_taxonomy(semi):
    # OOB / PNF{corner} / statuses as data (trans.rs:946-999)
    lat = np.array([2.0, 36.09, 24.78, np.nan])
    lon = np.array([3.0, 140.08, 141.31, 140.0])
    c = kernel.forward_corr(lat, lon, semi)
    assert c.status.tolist() == [
        kernel.STATUS_OUT_OF_BOUNDS, kernel.STATUS_OK,
        kernel.STATUS_PARAMETER_NOT_FOUND, kernel.STATUS_OUT_OF_BOUNDS,
    ]
    assert c.err_corner[2] == kernel.CORNER_SW
    assert c.err_meshcode[2] != -1
    assert np.isnan(c.dlat[0]) and not np.isnan(c.dlat[1])


def test_parameter_not_found_corner_priority(semi):
    """A point whose cell has sw present but ne missing reports the
    first missing corner in probe order sw, se, nw, ne
    (trans.rs:76-87)."""
    partial = MeshGrid.from_dict({54401005: (-0.00622, 0.01516, 0.0946)}, "SemiDynaEXE")
    c = kernel.forward_corr(np.array([36.09]), np.array([140.08]), partial)
    assert c.status[0] == kernel.STATUS_PARAMETER_NOT_FOUND
    assert c.err_corner[0] == kernel.CORNER_SE
    assert c.err_meshcode[0] == 54401100  # the se neighbor of 54401005


# ---------------------------------------------------------------------------
# Boundary error-kind parity (round 3, VERDICT r02 #5/#6)
# ---------------------------------------------------------------------------

def _status_of(fn, lat, lon, grid, **kw):
    c = fn(np.array([lat]), np.array([lon]), grid, **kw)
    return int(c.status[0]), int(c.err_meshcode[0]), int(c.err_corner[0])


def test_boundary_error_kinds_inclusive_mode(semi):
    """Exact reference checked-path parity at the domain's top edge
    (strict_bounds=False).  Pinned from the source, not assumptions:

    * lat = 200/3 (the unique double with raw 3*lat/2 == 100.0) has an
      ODD bit pattern, so the ulp bump (coord.rs:271-275) pushes its
      mesh value past the inclusive bound -> OutOfBounds in BOTH
      modes; the reference's (0,0,0) digit-wrap is unreachable for
      latitude.
    * the top latitude CELL (coord (99,7,5) at unit five) is accepted
      by try_from_latitude but has no next_up (coord.rs:409-427) ->
      reference OutOfBounds at cell construction (trans.rs:429-430);
      strict mode reports ParameterNotFound(99xx..) instead — the one
      reachable divergence, closed by the flag.
    * lon = 180.0 -> coord (80,0,0); the east node (80,0,x) violates
      the MeshNode longitude maximum (node.rs:152-160) -> OutOfBounds
      in both modes.
    * lon just below 180 (coord (79,7,5)) builds a legal cell whose
      east nodes are (80,0,0) -> ParameterNotFound on this grid, in
      both modes, attributed to the first-probed missing corner
      (sw, trans.rs:76-87).
    """
    oob, pnf = kernel.STATUS_OUT_OF_BOUNDS, kernel.STATUS_PARAMETER_NOT_FOUND

    lat_boundary = 200.0 / 3.0  # 66.66666666666667, odd bits
    assert np.float64(lat_boundary).view(np.int64) % 2 == 1
    for sb in (True, False):
        s, code, corner = _status_of(kernel.forward_corr, lat_boundary, 140.08,
                                     semi, strict_bounds=sb)
        assert (s, code, corner) == (oob, -1, -1), (sb, s, code, corner)

    top_cell_lat = 66.66666666666666  # even bits, mesh value 99.99999999999999
    s, code, corner = _status_of(kernel.forward_corr, top_cell_lat, 140.08, semi)
    assert s == pnf and code // 1_000_000 == 99 and corner == kernel.CORNER_SW
    s, code, corner = _status_of(kernel.forward_corr, top_cell_lat, 140.08,
                                 semi, strict_bounds=False)
    assert (s, code, corner) == (oob, -1, -1)

    for sb in (True, False):
        s, code, corner = _status_of(kernel.forward_corr, 36.1, 180.0,
                                     semi, strict_bounds=sb)
        assert (s, code, corner) == (oob, -1, -1), (sb, s)

    for sb in (True, False):
        s, code, corner = _status_of(kernel.forward_corr, 36.1, 179.99,
                                     semi, strict_bounds=sb)
        assert s == pnf and corner == kernel.CORNER_SW
        assert (code // 10_000) % 100 == 79  # sw lon first digit

    # in-domain results are bit-identical across modes
    lat = np.array([36.103774791666666])
    lon = np.array([140.087855041666666])
    a = kernel.forward_corr(lat, lon, semi)
    b = kernel.forward_corr(lat, lon, semi, strict_bounds=False)
    assert a.dlat[0] == b.dlat[0] and a.dlon[0] == b.dlon[0] and a.dalt[0] == b.dalt[0]
    assert a.status[0] == b.status[0] == kernel.STATUS_OK


def test_newton_verify_unchecked_parity():
    """A Newton step that diverges out of the mesh domain must fail at
    the VERIFY step like the reference's forward_corr_unchecked
    (trans.rs:658): ParameterNotFound with a digit-WRAPPED meshcode
    (MeshCode::from_point has no bounds, code.rs:16-57) — never
    OutOfBounds (r01/r02's documented divergence, now closed).

    Grid: one unit-one cell with a huge (-137 deg) longitude
    correction; the first Newton update lands at lon ~ q+137 (~277),
    whose unchecked first digit wraps to 277 % 100 = 77."""
    grid = MeshGrid.from_dict({
        54401027: (0.0, -493200.0, 0.0),   # -137 deg * 3600 sec
        54401028: (0.0, -493200.0, 0.0),
        54401037: (0.0, -493200.0, 0.0),
        54401038: (0.0, -493200.0, 0.0),
    }, "TKY2JGD")
    c = kernel.backward_corr(np.array([36.1003]), np.array([140.0878]), grid)
    assert int(c.status[0]) == kernel.STATUS_PARAMETER_NOT_FOUND
    assert int(c.err_corner[0]) == kernel.CORNER_SW
    code = int(c.err_meshcode[0])
    assert (code // 10_000) % 100 == 77, code  # wrapped lon first digit
    assert code // 1_000_000 == 54          # latitude digits unchanged

    # the SQL twin reports the SAME diverged-lane verdict (round 5 —
    # closes the r03/r04 documented SQL-vs-kernel divergence): the
    # verify corr runs over saturate+wrap unchecked digits
    # (oracle.digits_select_unchecked), so the lane fails PNF with the
    # bit-identical wrapped meshcode, never OOB.
    import duckdb

    from jgdtrans_rs_spark.plans import oracle as osql

    gv = osql.grid_values(grid.to_rows())
    sql = osql.backward_newton_sql(
        "(SELECT 1 AS pkey, 36.1003e0 AS lat, 140.0878e0 AS lon, "
        "0.0e0 AS alt) _in", gv, grid.mesh_unit)
    row = duckdb.sql(sql).df().iloc[0]
    assert int(row["status"]) == kernel.STATUS_PARAMETER_NOT_FOUND
    assert int(row["err_meshcode"]) == code
    assert int(row["err_corner"]) == kernel.CORNER_SW


# ---------------------------------------------------------------------------
# Differential check: the one-probe resolve against the reference's four
# per-corner probes, bit for bit
# ---------------------------------------------------------------------------

def _four_probe_resolve(lat, lon, grid, bounds=mesh.BOUNDS_STRICT):
    """``MeshCell::try_from_point`` -> ``Params::new_unchecked``
    (trans.rs:56-89) as four independent ``grid.lookup`` probes, the
    first missing corner in probe order sw, se, nw, ne winning."""
    n = lat.shape[0]
    status = np.zeros(n, dtype=np.int8)
    err_code = np.full(n, -1, dtype=np.int64)
    err_corner = np.full(n, kernel.CORNER_NONE, dtype=np.int8)
    lat_d, lon_d, valid = mesh.point_to_digits(lat, lon, grid.mesh_unit, bounds)
    status[~valid] = kernel.STATUS_OUT_OF_BOUNDS
    east = mesh.next_east(lon_d, grid.mesh_unit)
    north = mesh.next_north(lat_d, grid.mesh_unit)
    p = {}
    found_all = np.ones(n, dtype=bool)
    for corner, key, la, lo in ((kernel.CORNER_NE, "ne", north, east),
                                (kernel.CORNER_NW, "nw", north, lon_d),
                                (kernel.CORNER_SE, "se", lat_d, east),
                                (kernel.CORNER_SW, "sw", lat_d, lon_d)):
        code = mesh.digits_to_meshcode(la, lo)
        dlat, dlon, dalt, found = grid.lookup(code)
        p[key] = (dlat, dlon, dalt)
        miss = valid & ~found
        status[miss] = kernel.STATUS_PARAMETER_NOT_FOUND
        err_code[miss] = code[miss]
        err_corner[miss] = corner
        found_all &= found
    y, x = mesh.cell_position(lat, lon, lat_d, lon_d, grid.mesh_unit)
    return {"status": status, "err_code": err_code, "err_corner": err_corner,
            "ok": valid & found_all, "found_all": found_all, "lat_d": lat_d,
            "lon_d": lon_d, "y": y, "x": x, "p": p}


def _four_probe_rebound(cell, lat, lon, unit, bounds):
    valid = mesh.point_bounds_mask(mesh.lat_mesh_value(lat), lon, cell["lat_d"],
                                   cell["lon_d"], unit, bounds)
    oob = ~valid
    return {**cell,
            "status": np.where(oob, kernel.STATUS_OUT_OF_BOUNDS, cell["status"]).astype(np.int8),
            "err_code": np.where(oob, -1, cell["err_code"]),
            "err_corner": np.where(oob, kernel.CORNER_NONE, cell["err_corner"]).astype(np.int8),
            "ok": cell["found_all"] & valid}


def _four_probe_corr(cell, comp):
    p = cell["p"]
    return kernel.bilinear(p["sw"][comp], p["se"][comp], p["nw"][comp], p["ne"][comp],
                           cell["y"], cell["x"])


def _four_probe_forward_corr(lat, lon, grid, strict_bounds=True):
    cell = _four_probe_resolve(lat, lon, grid, kernel._bounds_mode(strict_bounds))
    out = [_four_probe_corr(cell, 0) / kernel.SCALE, _four_probe_corr(cell, 1) / kernel.SCALE,
           _four_probe_corr(cell, 2)]
    for a in out:
        a[~cell["ok"]] = np.nan
    return kernel.CorrResult(*out, cell["status"], cell["err_code"], cell["err_corner"])


def _four_probe_backward_compat_corr(lat, lon, grid, strict_bounds=True):
    t_lat, t_lon = kernel._add_normalized(lat, lon, -kernel.DELTA, kernel.DELTA)
    c1 = _four_probe_forward_corr(t_lat, t_lon, grid, strict_bounds)
    c2 = _four_probe_forward_corr(*kernel._add_normalized(lat, lon, -c1.dlat, -c1.dlon),
                                  grid, strict_bounds)
    first = c1.status != kernel.STATUS_OK
    status = np.where(first, c1.status, c2.status).astype(np.int8)
    err_code = np.where(first, c1.err_meshcode, c2.err_meshcode)
    err_corner = np.where(first, c1.err_corner, c2.err_corner).astype(np.int8)
    out = [-c2.dlat, -c2.dlon, -c2.dalt]
    for a in out:
        a[status != kernel.STATUS_OK] = np.nan
    return kernel.CorrResult(*out, status, err_code, err_corner)


def _four_probe_backward_corr(lat, lon, grid, strict_bounds=True):
    q_lat, q_lon = lat, lon
    n = lat.shape[0]
    yn, xn = lat.copy(), lon.copy()
    out = [np.full(n, np.nan) for _ in range(3)]
    status = np.full(n, kernel.STATUS_CORRECTION_NOT_FOUND, dtype=np.int8)
    err_code = np.full(n, -1, dtype=np.int64)
    err_corner = np.full(n, kernel.CORNER_NONE, dtype=np.int8)
    active = np.ones(n, dtype=bool)

    def fail(cell):
        f = active & ~cell["ok"]
        status[f] = cell["status"][f]
        err_code[f] = cell["err_code"][f]
        err_corner[f] = cell["err_corner"][f]
        active[f] = False

    bounds = kernel._bounds_mode(strict_bounds)
    cell = _four_probe_resolve(yn, xn, grid, bounds)
    for _ in range(kernel.ITERATION):
        if not active.any():
            break
        fail(cell)
        sw, se, nw, ne = (cell["p"][k] for k in ("sw", "se", "nw", "ne"))
        fx = q_lon - (xn + _four_probe_corr(cell, 1) / kernel.SCALE)
        fy = q_lat - (yn + _four_probe_corr(cell, 0) / kernel.SCALE)
        s = kernel.SCALE
        fx_x = -1.0 - ((se[1] - sw[1]) * (1.0 - yn) + (ne[1] - nw[1]) * yn) / s
        fx_y = -((nw[1] - sw[1]) * (1.0 - xn) + (ne[1] - se[1]) * xn) / s
        fy_x = -((se[0] - sw[0]) * (1.0 - yn) + (ne[0] - nw[0]) * yn) / s
        fy_y = -1.0 - ((nw[0] - sw[0]) * (1.0 - xn) + (ne[0] - se[0]) * xn) / s
        det = fx_x * fy_y + (-fx_y) * fy_x
        with np.errstate(invalid="ignore", divide="ignore"):
            new_xn = xn - (fy_y * fx - fx_y * fy) / det
            new_yn = yn - (fx_x * fy - fy_x * fx) / det
        xn = np.where(active, new_xn, xn)
        yn = np.where(active, new_yn, yn)
        vcell = _four_probe_resolve(yn, xn, grid, mesh.BOUNDS_UNCHECKED)
        fail(vcell)
        vlat = _four_probe_corr(vcell, 0) / s
        vlon = _four_probe_corr(vcell, 1) / s
        valt = _four_probe_corr(vcell, 2)
        conv = (active & (np.abs(q_lat - (yn + vlat)) < kernel.MAX_ERROR)
                & (np.abs(q_lon - (xn + vlon)) < kernel.MAX_ERROR))
        for a, v in zip(out, (vlat, vlon, valt)):
            a[conv] = -v[conv]
        status[conv] = kernel.STATUS_OK
        active &= ~conv
        cell = _four_probe_rebound(vcell, yn, xn, grid.mesh_unit, bounds)
    return kernel.CorrResult(*out, status, err_code, err_corner)


_FOUR_PROBE = {
    "forward_corr": _four_probe_forward_corr,
    "backward_corr": _four_probe_backward_corr,
    "backward_compat_corr": _four_probe_backward_compat_corr,
}


def _holed_grid(fmt, seed, scale):
    """A node block straddling a first-level boundary on both axes (so
    east/north steps carry into the second and first digits), with
    about a quarter of the nodes dropped: every missing-corner pattern
    occurs, and the block's own east and north edge nodes have no
    neighbours beyond them.  Parameters are a fixed offset plus noise
    of ``scale`` arc seconds (metres for dalt): small noise converges
    in the Newton inverse, large noise does not."""
    unit = 1 if fmt == "TKY2JGD" else 5
    third = [7, 8, 9] if unit == 1 else [0, 5]
    lat_nodes = [(54, 6, t) for t in third] + [(54, 7, t) for t in third] \
        + [(55, 0, t) for t in third[:2]]
    lon_nodes = [(40, 6, t) for t in third] + [(40, 7, t) for t in third] \
        + [(41, 0, t) for t in third[:2]]
    rng = np.random.default_rng(seed)
    params = {}
    for la in lat_nodes:
        for lo in lon_nodes:
            if rng.random() < 0.25:
                continue
            code = int(mesh.digits_to_meshcode(tuple(np.array([d]) for d in la),
                                               tuple(np.array([d]) for d in lo))[0])
            params[code] = tuple(np.array([4.0, -7.0, 0.5]) + rng.normal(0.0, scale, 3))
    return MeshGrid.from_dict(params, fmt), lat_nodes, lon_nodes


def _ulp_ring(values, k=3):
    """``values`` and their ±1..k-ulp neighbours."""
    out = [np.asarray(values, dtype=np.float64)]
    for direction in (np.inf, -np.inf):
        v = out[0]
        for _ in range(k):
            v = np.nextafter(v, direction)
            out.append(v)
    return np.unique(np.concatenate(out))


_SPECIALS = np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 5e-324, -5e-324,
                      2.2250738585072014e-308, 1e300, -1e300])


def _differential_points(lat_nodes, lon_nodes, unit):
    """Every pairing of ±3-ulp rings of the node latitudes and
    longitudes (plus points inside cells), and the specials against an
    in-block coordinate and against each other."""
    lats = _ulp_ring(mesh.digits_to_lat(tuple(np.array(d) for d in zip(*lat_nodes))))
    lons = _ulp_ring(mesh.digits_to_lon(tuple(np.array(d) for d in zip(*lon_nodes))))
    h = (2.0 / 3.0) / (80.0 if unit == 1 else 16.0)
    w = 1.0 / (80.0 if unit == 1 else 16.0)
    lats = np.concatenate([lats, lats[::7] + 0.37 * h])
    lons = np.concatenate([lons, lons[::7] + 0.61 * w])
    la, lo = (a.ravel() for a in np.meshgrid(lats, lons))
    mid_lat, mid_lon = float(np.median(lats)), float(np.median(lons))
    la = np.concatenate([la, _SPECIALS, np.full(_SPECIALS.size, mid_lat), _SPECIALS])
    lo = np.concatenate([lo, np.full(_SPECIALS.size, mid_lon), _SPECIALS, _SPECIALS[::-1]])
    return la, lo


def _assert_same_corr(got, want, what):
    for f in ("dlat", "dlon", "dalt", "status", "err_meshcode", "err_corner"):
        a, b = getattr(got, f), getattr(want, f)
        assert a.dtype == b.dtype, (what, f)
        same = a.view(np.uint8).reshape(a.size, -1) == b.view(np.uint8).reshape(b.size, -1)
        bad = np.flatnonzero(~same.all(axis=1))
        assert bad.size == 0, (what, f, bad[:5], a[bad[:5]], b[bad[:5]])


def _diverging_case():
    """Isolated unit-one cells, each with one uniform correction of
    137 deg up to 2^33 deg: the first Newton iterate lands near q - C,
    out of the domain and, for most cells, at mesh values in
    [2^29, 2^32), whose unchecked digits are non-canonical.  The grid
    also holds the corners of the cells those iterates fall in, less
    one corner in turn (none for every fifth cell), so the verify
    resolve finds cells there and attributes misses to every corner."""
    corrections = [(0.0, -137.0), (0.0, -(2.0**29 + 5.0)), (-(2.0**30), 0.0),
                   (-(2.0**31), -(2.0**30)), (0.0, -(2.0**31 + 3.0)),
                   (-(2.0**30 + 7.0), -(2.0**29 + 9.0)), (0.0, -(2.0**33)),
                   (2.0**31, 2.0**31), (-(2.0**29 + 1.0), -(2.0**29 + 1.0)),
                   (0.0, -(2.0**32 - 2.0))]
    rng = np.random.default_rng(13)
    params, la, lo = {}, [], []
    for k, (c_lat, c_lon) in enumerate(corrections):
        sw = tuple((np.array([first + k // 8]), np.array([k % 8]), np.array([2]))
                   for first in (54, 40))
        for code in kernel._corner_codes(*sw, 1):
            params[int(code[0])] = (c_lat * 3600.0, c_lon * 3600.0, 1.0)
        f = rng.uniform(0.02, 0.98, (2, 40))
        q_lat = mesh.digits_to_lat(sw[0])[0] + f[0] * (2.0 / 3.0) / 80.0
        q_lon = mesh.digits_to_lon(sw[1])[0] + f[1] / 80.0
        la.append(q_lat)
        lo.append(q_lon)
        corners = kernel._corner_codes(mesh.value_to_digits(mesh.lat_mesh_value(q_lat - c_lat), 1),
                                       mesh.value_to_digits(q_lon - c_lon, 1), 1)
        for corner, codes in enumerate(corners):
            if corner != k % 5:
                for code in np.unique(codes[(codes >= 0) & (codes < 2**32)]):
                    params.setdefault(int(code), (0.0, 0.0, 0.0))
    return MeshGrid.from_dict(params, "TKY2JGD"), np.concatenate(la), np.concatenate(lo)


def _differential_cases():
    cases = []
    for fmt, seed, scale in (("TKY2JGD", 1, 1e-3), ("TKY2JGD", 2, 5.0),
                             ("SemiDynaEXE", 3, 1e-3), ("SemiDynaEXE", 4, 5.0)):
        grid, la_n, lo_n = _holed_grid(fmt, seed, scale)
        cases.append((f"{fmt}-{seed}", grid, *_differential_points(la_n, lo_n, grid.mesh_unit)))
    cases.append(("diverging", *_diverging_case()))
    crafted = MeshGrid.from_dict({c: (0.0, -493200.0, 0.0)
                                  for c in (54401027, 54401028, 54401037, 54401038)}, "TKY2JGD")
    la_n = [(54, 0, 2), (54, 0, 3), (54, 0, 4)]
    lo_n = [(40, 0, 7), (40, 0, 8), (40, 0, 9)]
    la, lo = _differential_points(la_n, lo_n, 1)
    cases.append(("crafted", crafted, np.append(la, 36.1003), np.append(lo, 140.0878)))
    return cases


@pytest.mark.parametrize("fn", sorted(_FOUR_PROBE))
@pytest.mark.parametrize("strict_bounds", [True, False])
def test_one_probe_matches_four_probes(fn, strict_bounds):
    """forward_corr, backward_corr and backward_compat_corr (neighbour
    table, floor-keyed carry, Newton reuse) against a copy of the
    four-probe kernels: dlat/dlon/dalt bits, status, err_meshcode and
    err_corner, on ±3-ulp rings of node coordinates, specials, holed
    grids with edge nodes, a diverging grid and the crafted unchecked
    grid of test_newton_verify_unchecked_parity."""
    for name, grid, la, lo in _differential_cases():
        with np.errstate(over="ignore", invalid="ignore"):  # inf and 1e300 inputs
            got = getattr(kernel, fn)(la, lo, grid, strict_bounds=strict_bounds)
            want = _FOUR_PROBE[fn](la, lo, grid, strict_bounds=strict_bounds)
        _assert_same_corr(got, want, (fn, name))


def test_one_probe_unchecked_saturated_digits():
    """Unchecked resolves of mesh values in [2^29, 2^32): their digits
    are non-canonical (second or third >= 10) and do not round-trip
    through the SW meshcode, so those lanes take the per-corner probes.
    The grid holds the SW codes those digits build (and some of their
    neighbours), so a table lookup on them would be wrong."""
    rng = np.random.default_rng(5)
    v = np.concatenate([np.ldexp(1.0, 29) + rng.uniform(0, 10, 64),
                        rng.uniform(2.0**29, 2.0**32, 512), [2.0**32 - 1, 2.0**32 - 0.5]])
    lon = rng.permutation(v)
    lat = v * 2.0 / 3.0
    for unit, fmt in ((1, "TKY2JGD"), (5, "SemiDynaEXE")):
        lat_d = mesh.value_to_digits(mesh.lat_mesh_value(lat), unit)
        lon_d = mesh.value_to_digits(lon, unit)
        assert ((lat_d[1] >= 10) | (lat_d[2] >= 10) | (lon_d[1] >= 10) | (lon_d[2] >= 10)).any()
        corners = kernel._corner_codes(lat_d, lon_d, unit)
        keep = rng.random((4, lat.size)) < np.array([[0.9], [0.5], [0.5], [0.5]])
        codes = np.unique(np.concatenate([c[k] for c, k in zip(corners, keep)]))
        grid = MeshGrid.from_dict({int(c): tuple(rng.normal(0, 1, 3)) for c in codes}, fmt)

        want = _four_probe_resolve(lat, lon, grid, mesh.BOUNDS_UNCHECKED)
        cell = kernel._resolve_cell(lat, lon, grid, bounds=mesh.BOUNDS_UNCHECKED)
        assert (cell.ok == want["ok"]).all()
        assert cell.ok.any() and not cell.ok.all()
        bad = np.flatnonzero(~cell.ok)
        status, code, corner = kernel._cell_errors(cell, bad, grid)
        assert (status == want["status"][bad]).all()
        assert (code == want["err_code"][bad]).all()
        assert (corner == want["err_corner"][bad]).all()
        for comp in range(3):
            np.testing.assert_array_equal(kernel._corr(cell, comp)[cell.ok],
                                          _four_probe_corr(want, comp)[cell.ok])
        # a carry from elsewhere re-probes every saturated lane it must
        carried = kernel._resolve_cell(lat[::-1].copy(), lon[::-1].copy(), grid,
                                       bounds=mesh.BOUNDS_UNCHECKED)
        again = kernel._resolve_cell(lat, lon, grid, carry=carried, bounds=mesh.BOUNDS_UNCHECKED)
        assert (again.ok == want["ok"]).all()
        np.testing.assert_array_equal(again.rows, cell.rows)
        np.testing.assert_array_equal(again.corners, cell.corners)
