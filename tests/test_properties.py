"""Property-based tests (hypothesis) for the pure-numpy layers."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from jgdtrans_rs_spark import kernel, mesh
from jgdtrans_rs_spark.grid import MeshGrid
from tests import dms_reference as dms
from tests.conftest import SEMIDYNA

finite_angle = st.floats(allow_nan=False, allow_infinity=False,
                         min_value=-1e6, max_value=1e6)


@given(st.lists(finite_angle, min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_normalize_latitude_range(vals):
    out = mesh.normalize_latitude(np.array(vals))
    assert ((out >= -90.0) & (out <= 90.0)).all()


@given(st.lists(finite_angle, min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_normalize_longitude_range(vals):
    out = mesh.normalize_longitude(np.array(vals))
    assert ((out >= -180.0) & (out <= 180.0)).all()


@given(st.floats(min_value=0.0, max_value=66.6, allow_nan=False),
       st.floats(min_value=100.0, max_value=179.99, allow_nan=False))
@settings(max_examples=300, deadline=None)
def test_meshcode_node_containment(lat, lon):
    """The decoded SW node of a point's meshcode lies at or below the
    point in both axes (greatest node <= point), within one ulp of the
    boundary semantics."""
    for unit in (1, 5):
        lat_d, lon_d, valid = mesh.point_to_digits(np.array([lat]), np.array([lon]), unit)
        if not valid[0]:
            continue
        node_lat = mesh.digits_to_lat(lat_d)[0]
        node_lon = mesh.digits_to_lon(lon_d)[0]
        # the ulp-parity bump can push points exactly on a boundary
        # into the upper cell; allow a 1-ulp tolerance
        assert node_lat <= lat + abs(np.spacing(lat)) * 2
        assert node_lon <= lon + abs(np.spacing(lon)) * 2
        step_lat = (2.0 / 3.0) / 80.0 * unit
        step_lon = (1.0 / 80.0) * unit
        assert lat < node_lat + step_lat * 1.001
        assert lon < node_lon + step_lon * 1.001


@given(st.floats(min_value=36.084, max_value=36.124, allow_nan=False),
       st.floats(min_value=140.063, max_value=140.124, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_roundtrip_property_semidyna(lat, lon):
    """backward(forward(p)) == p bit-exact on arbitrary in-cell points
    (not just the reference's 80 sampled origins)."""
    g = MeshGrid.from_dict(SEMIDYNA, "SemiDynaEXE")
    fla, flo, fal, fc = kernel.forward(np.array([lat]), np.array([lon]), np.zeros(1), g)
    assert fc.status[0] == 0
    bla, blo, _, bc = kernel.backward(fla, flo, fal, g)
    assert bc.status[0] == 0
    assert bla[0] == lat
    assert blo[0] == lon


@given(st.floats(min_value=1e-6, max_value=179.999, allow_nan=False),
       st.sampled_from([1.0, -1.0]))
@settings(max_examples=300, deadline=None)
def test_dms_roundtrip_property(mag, sign):
    # |v| >= 1e-6: for subnormal fractions the reference's own Display
    # emits scientific notation that its parser rejects (dms.rs:117-126
    # quirk), so the round-trip only holds for practical magnitudes.
    v = mag * sign
    s = dms.format_dms_scalar(v)
    back = dms.dms_to_degree_scalar(s)
    assert abs(back - v) < 1e-11, (v, s, back)


def _knn_brute(lat: float, lon: float, unit: int, k: int):
    """All-nodes brute force over a +-5-step window (a strict superset
    of the kernel's 4x4 candidate window): valid nodes sorted by
    (squared-degree distance, meshcode)."""
    from jgdtrans_rs_spark.operators import spatial

    lat_d, lon_d, valid = mesh.point_to_digits(np.array([lat]), np.array([lon]), unit)
    if not valid[0]:
        return []
    rows = [lat_d]
    cols = [lon_d]
    for _ in range(5):
        rows.insert(0, mesh.next_south(rows[0], unit))
        rows.append(mesh.next_north(rows[-1], unit))
        cols.insert(0, mesh.next_west(cols[0], unit))
        cols.append(mesh.next_east(cols[-1], unit))
    cands = []
    for r in rows:
        if not spatial._lat_digits_valid(r)[0]:
            continue
        nlat = mesh.digits_to_lat(r)[0]
        for c in cols:
            if not spatial._lon_digits_valid(c)[0]:
                continue
            nlon = mesh.digits_to_lon(c)[0]
            code = int(mesh.digits_to_meshcode(r, c)[0])
            d2 = (lat - nlat) * (lat - nlat) + (lon - nlon) * (lon - nlon)
            cands.append((d2, code))
    cands.sort()
    return [code for _, code in cands[:k]]


@given(st.floats(min_value=20.0, max_value=45.0, allow_nan=False),
       st.floats(min_value=122.0, max_value=154.0, allow_nan=False),
       st.sampled_from([1, 5]), st.integers(min_value=1, max_value=4))
@settings(max_examples=300, deadline=None)
def test_knn_window_matches_brute_force(lat, lon, unit, k):
    """The 4x4 candidate window returns exactly the true k nearest
    nodes (anisotropic cell: lon step = 1.5x lat step), including the
    anisotropy counterexamples the 4-corner candidate set misses."""
    from jgdtrans_rs_spark.operators import spatial

    top, keep = spatial.knn_topk_np(np.array([lat]), np.array([lon]), unit, k)
    got = top[keep]
    want = _knn_brute(lat, lon, unit, k)
    assert list(got) == want, (lat, lon, unit, k)


def test_knn_anisotropy_counterexample():
    """VERDICT r01: unit-5 point at cell-local (0.1h, 0.9w) — the true
    3rd-nearest node is south-of-SE (one lat step below the SE corner),
    not the SW corner.  Pins the fix."""
    from jgdtrans_rs_spark.operators import spatial

    unit = 5
    lat_d, lon_d, _ = mesh.point_to_digits(np.array([36.09]), np.array([140.07]), unit)
    h = (2.0 / 3.0) / 80.0 * unit
    w = (1.0 / 80.0) * unit
    lat = mesh.digits_to_lat(lat_d)[0] + 0.1 * h
    lon = mesh.digits_to_lon(lon_d)[0] + 0.9 * w
    top, keep = spatial.knn_topk_np(np.array([lat]), np.array([lon]), unit, 3)
    got = top[keep]
    assert list(got) == _knn_brute(lat, lon, unit, 3)
    south_of_se = mesh.digits_to_meshcode(
        mesh.next_south(lat_d, unit), mesh.next_east(lon_d, unit))[0]
    sw = mesh.digits_to_meshcode(lat_d, lon_d)[0]
    assert south_of_se in got
    assert sw not in got


@given(st.one_of(st.floats(min_value=-1e12, max_value=1e12, allow_nan=False),
                 st.just(float('nan'))),
       st.sampled_from([mesh.UNIT_ONE, mesh.UNIT_FIVE]))
@settings(max_examples=400, deadline=None)
def test_value_to_digits_matches_scalar_rust_model(v, unit):
    """The vectorized digit extraction must equal a literal scalar
    transcription of the reference's cast semantics (code.rs:16-57):
    saturating f64-as-u32 of each floor, u32-wrapping arithmetic,
    u8-truncating narrowing, unit-five collapse on the u32 third."""
    import math

    def as_u32(x):
        if math.isnan(x):
            return 0
        f = math.floor(x)
        return 0 if f < 0 else (4294967295 if f > 4294967295 else int(f))

    U = 1 << 32
    integer = as_u32(v)
    first = integer % 100
    second = (as_u32(8.0 * v) - 8 * integer) % U
    third = (as_u32(80.0 * v) - 80 * integer - 10 * second) % U
    if unit == mesh.UNIT_FIVE:
        third = 0 if third < 5 else 5
    else:
        third %= 256
    second %= 256

    f, s, t = mesh.value_to_digits(np.array([v]), unit)
    assert (int(f[0]), int(s[0]), int(t[0])) == (first, second, third), v
