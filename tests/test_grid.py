"""Par parser + MeshGrid + statistics tests.

Citations: layouts par.rs:642-653, fill-0 semantics par.rs:396-466,
description par.rs:360-366, positional errors par.rs:744-859,
statistics goldens transformer.rs:585-651.
"""

import math

import numpy as np
import pytest

from jgdtrans_rs_spark.grid import MeshGrid, ParseParError, parse_par
from tests.conftest import SEMIDYNA

# fixed-width per par.rs:647-648: meshcode 0..8, lat 9..18, lon 19..28,
# alt 29..38
SEMIDYNA_PAR = (
    "\n" * 15
    + "MeshCode dB(sec)  dL(sec) dH(m)\n"
    + "".join(
        f"{c:8d} {a:9.5f} {b:9.5f} {h:9.5f}\n"
        for c, a, b, h in [
            (54401005, -0.00622, 0.01516, 0.0946),
            (54401055, -0.00620, 0.01529, 0.08972),
            (54401100, -0.00663, 0.01492, 0.10374),
            (54401150, -0.00664, 0.01506, 0.10087),
        ]
    )
)

TKY2JGD_PAR = (
    "header line 1\nheader line 2\n"
    + f"{54401027:8d} {11.49105:9.5f} {-11.80078:9.5f}\n"
    + f"{54401028:8d} {11.49096:9.5f} {-11.80476:9.5f}\n"
)


def test_parse_semidyna():
    g = parse_par(SEMIDYNA_PAR, "SemiDynaEXE")
    assert len(g) == 4
    assert g.mesh_unit == 5
    assert g.codes.tolist() == sorted(SEMIDYNA)
    dlat, dlon, dalt, found = g.lookup(np.array([54401005, 54401150, 99999999]))
    assert found.tolist() == [True, True, False]
    assert dlat[0] == -0.00622 and dlon[1] == 0.01506 and dalt[1] == 0.10087
    assert g.description.startswith("\n") and "MeshCode" in g.description


def test_parse_tky2jgd_fills_zero_altitude():
    # TKY2JGD has no altitude column -> dalt filled 0.0 (par.rs:174-175)
    g = parse_par(TKY2JGD_PAR, "TKY2JGD")
    assert g.mesh_unit == 1
    assert (g.dalt_m == 0.0).all()
    assert g.description == "header line 1\nheader line 2\n"

    # a header line that starts with 8 digits is still header, and a
    # duplicated meshcode keeps its last line (HashMap insert)
    g = parse_par(
        "JGD2000\n"
        "12345678 this header line looks like a parameter\n"
        "46303582  11.49105  -9.88759\n"
        "46303582  99.00000  99.00000\n"
        "46303592  11.49099  -9.88994\n", "TKY2JGD")
    assert g.codes.tolist() == [46303582, 46303592]
    assert g.dlat_sec[0] == 99.0 and g.dalt_m[0] == 0.0


def test_parse_patchjgd_h_altitude_only():
    # PatchJGD_H: altitude at columns 9..18
    text = "\n" * 16 + f"{54401005:8d} {0.12345:9.5f}\n"
    g = parse_par(text, "PatchJGD_H")
    assert (g.dlat_sec == 0.0).all() and (g.dlon_sec == 0.0).all()
    assert g.dalt_m[0] == 0.12345


def test_parse_geonetf3_layout():
    # geonetF3: 18 header lines, columns at 12..21, 22..31, 32..41
    text = "\n" * 18 + f"{54401005:8d}    {-0.00622:9.5f} {0.01516:9.5f} {0.0946:9.5f}\n"
    g = parse_par(text, "geonetF3")
    assert g.dlat_sec[0] == -0.00622 and g.dlon_sec[0] == 0.01516 and g.dalt_m[0] == 0.0946
    assert g.mesh_unit == 5


def test_parse_all_formats():
    """Every format variant parses with its own layout (par.rs:642-653)."""
    from jgdtrans_rs_spark.grid import FORMAT_MESH_UNIT, PAR_LAYOUTS

    for fmt, (header, _, lat_rng, lon_rng, alt_rng) in PAR_LAYOUTS.items():
        line = [" "] * 60
        line[0:8] = f"{54401005:8d}"
        for rng, val in ((lat_rng, "-0.00622"), (lon_rng, "0.01516"), (alt_rng, "0.09460")):
            if rng:
                start, end = rng
                field = f"{float(val):>{end - start}.5f}"
                line[start:end] = field
        text = "\n" * header + "".join(line).rstrip() + "\n"
        g = parse_par(text, fmt)
        assert len(g) == 1, fmt
        assert g.mesh_unit == FORMAT_MESH_UNIT[fmt]
        assert g.dlat_sec[0] == (-0.00622 if lat_rng else 0.0), fmt
        assert g.dlon_sec[0] == (0.01516 if lon_rng else 0.0), fmt
        assert g.dalt_m[0] == (0.0946 if alt_rng else 0.0), fmt


def test_parse_errors_positional():
    with pytest.raises(ParseParError) as e:
        parse_par("only one line\n", "SemiDynaEXE")
    assert e.value.kind == "Header"
    # the range is the last line read (par.rs:744-859)
    assert (e.value.lineno, e.value.start, e.value.end) == (1, 0, 13)

    bad = "\n" * 16 + "notanint -0.00622  0.01516 0.0946\n"
    with pytest.raises(ParseParError) as e:
        parse_par(bad, "SemiDynaEXE")
    assert e.value.kind == "ParseInt"
    assert e.value.column == "Meshcode"
    assert e.value.lineno == 17
    assert (e.value.start, e.value.end) == (0, 8)

    short = "\n" * 16 + f"{54401005:8d} {-0.00622:9.5f}\n"
    with pytest.raises(ParseParError) as e:
        parse_par(short, "SemiDynaEXE")
    assert e.value.kind == "ColumnNotFound"
    assert e.value.column == "Longitude"

    # the earliest bad line wins, attributed to its own column
    two_bad = ("h1\nh2\n"
               "46303582  11.49105  xx.88759\n"   # line 3: longitude
               "46303592  yy.49099  -9.88994\n")  # line 4: latitude
    with pytest.raises(ParseParError) as e:
        parse_par(two_bad, "TKY2JGD")
    assert (e.value.kind, e.value.lineno, e.value.column) == (
        "ParseFloat", 3, "Longitude")


def test_statistics_goldens():
    # transformer.rs:593-651 (horizontal uses hypot — linux values)
    g = MeshGrid.from_dict(SEMIDYNA, "SemiDynaEXE")
    s = g.statistics()
    assert s["latitude"]["count"] == 4
    assert s["latitude"]["mean"] == -0.0064225
    assert s["latitude"]["std"] == 0.019268673410486777
    assert s["latitude"]["abs"] == 0.006422499999999999
    assert s["latitude"]["min"] == -0.00664
    assert s["latitude"]["max"] == -0.0062
    assert s["longitude"]["mean"] == 0.0151075
    assert s["longitude"]["std"] == 0.045322702644480496
    assert s["altitude"]["mean"] == 0.0972325
    assert s["altitude"]["std"] == 0.29174846730531423
    assert s["horizontal"]["min"] == 0.016326766366920303
    assert s["horizontal"]["max"] == 0.016499215132847987
    assert s["horizontal"]["mean"] == 0.016417802947905496


def test_statistics_empty_and_nan():
    # transformer.rs:653-699 (empty -> all None); NaN propagation
    g = MeshGrid.from_dict({}, "TKY2JGD")
    s = g.statistics()
    assert all(v is None for v in s["latitude"].values())

    g = MeshGrid.from_dict({54401005: (float("nan"), 1.0, 2.0)}, "SemiDynaEXE")
    s = g.statistics()
    assert s["latitude"]["count"] == 1
    assert math.isnan(s["latitude"]["mean"]) and math.isnan(s["latitude"]["std"])
    assert s["longitude"]["mean"] == 1.0


def test_statistics_df_matches_exact(spark, semidyna_grid):
    """The distributed statistics twin agrees with the exact ksum path
    within documented tolerance (plain sums vs compensated sums)."""
    from jgdtrans_rs_spark.engine import Engine

    eng = Engine(spark, semidyna_grid)
    got = {r["component"]: r for r in eng.statistics_df().collect()}
    exact = semidyna_grid.statistics()
    assert set(got) == set(exact)
    for comp, e in exact.items():
        g = got[comp]
        assert g["n"] == e["count"]
        for spark_key, exact_key in [("mean", "mean"), ("std", "std"),
                                     ("abs_mean", "abs"), ("vmin", "min"), ("vmax", "max")]:
            assert abs(g[spark_key] - e[exact_key]) <= 1e-12 + 1e-9 * abs(e[exact_key]), \
                (comp, spark_key, g[spark_key], e[exact_key])


def test_statistics_df_nan_grid_matches_reference(spark):
    """NaN-containing component: StatisticData::from_array early-returns
    all-NaN (transformer.rs:200-207).  Spark's F.min would otherwise
    report the smallest REAL value (NaN sorts above every double);
    statistics_df must pin every stat of that component to NaN."""
    from jgdtrans_rs_spark.engine import Engine

    g = MeshGrid.from_dict(
        {54401005: (float("nan"), 1.0, 2.0), 54401055: (0.5, 3.0, 4.0)},
        "SemiDynaEXE")
    eng = Engine(spark, g)
    got = {r["component"]: r for r in eng.statistics_df().collect()}
    exact = g.statistics()
    # latitude (and horizontal, which derives from it) are NaN-poisoned
    for comp in ("latitude", "horizontal"):
        assert got[comp]["n"] == exact[comp]["count"]
        for k in ("mean", "std", "abs_mean", "vmin", "vmax"):
            assert math.isnan(got[comp][k]), (comp, k, got[comp][k])
    # clean components still report real stats
    assert got["longitude"]["vmin"] == 1.0
    assert got["altitude"]["vmax"] == 4.0


def test_parse_with_description_override():
    """parse_with_description / from_str_with_description parity
    (par.rs:368-394): an explicit description replaces the header."""
    text = "header line 1\nheader line 2\n46303582   11.49105   -9.88759\n"
    g = parse_par(text, "TKY2JGD", description="my dataset")
    assert g.description == "my dataset"
    assert 46303582 in g.codes


def test_par_numeric_parsing_rust_strictness():
    """Python's int()/float() are looser than Rust's u32/f64 parse:
    underscore separators, Unicode digits, and negative meshcodes must
    raise positional ParseParError instead of silently building a
    grid."""
    import pytest

    from jgdtrans_rs_spark.grid import ParseParError, parse_par

    header = "\n" * 2  # TKY2JGD: 2 header lines
    ok = "12345678   1.00000   2.00000\n"

    def line(code="12345678", lat="   1.00000", lon="   2.00000"):
        return header + f"{code}{lat}{lon}\n"

    parse_par(header + ok, "TKY2JGD")  # sanity: well-formed parses
    with pytest.raises(ParseParError) as e:
        parse_par(line(code="1_234567"), "TKY2JGD")
    assert e.value.kind == "ParseInt"
    with pytest.raises(ParseParError) as e:
        parse_par(line(code="-1234567"), "TKY2JGD")
    assert e.value.kind == "ParseInt"
    with pytest.raises(ParseParError) as e:
        parse_par(line(lat="    1_0.50"), "TKY2JGD")
    assert e.value.kind == "ParseFloat"


def _searchsorted_lookup(g, codes):
    """Reference: the binary search over every meshcode that the slot
    index replaced."""
    if len(g) == 0:
        z = np.zeros(codes.shape)
        return z, z, z, np.zeros(codes.shape, dtype=bool)
    idx = np.minimum(np.searchsorted(g.codes, codes), len(g) - 1)
    found = g.codes[idx] == codes
    return (*(np.where(found, a[idx], 0.0) for a in (g.dlat_sec, g.dlon_sec, g.dalt_m)),
            found)


def _random_grid(codes, seed=0):
    rng = np.random.default_rng(seed)
    codes = np.unique(np.asarray(codes, dtype=np.int64))
    return MeshGrid(codes, *rng.normal(size=(3, codes.size)), mesh_unit=1, format="TKY2JGD")


def _grid_semidyna():
    return MeshGrid.from_dict(SEMIDYNA, "SemiDynaEXE")


def _grid_one_per_block():
    rng = np.random.default_rng(1)
    blocks = rng.choice(np.arange(3000, 7000), 500, replace=False)
    return _random_grid(blocks * 10_000 + rng.integers(0, 10_000, blocks.size))


def _grid_random_u32():
    return _random_grid(np.random.default_rng(2).integers(0, 2**32, 200_000))


def _grid_odd_codes():
    return MeshGrid.from_dict({c: (c / 7.0, -1.5, 0.25) for c in [-5, 0, 9999, 10000, 2**40]})


@pytest.mark.parametrize("make, width", [
    (_grid_semidyna, 10_000),
    (lambda: MeshGrid.from_dict({}), 10_000),
    (_grid_one_per_block, 100),
    (_grid_random_u32, 1),
    (_grid_odd_codes, 10_000),
], ids=["semidyna", "empty", "one_per_block", "random_u32", "odd_codes"])
def test_lookup_matches_searchsorted(make, width):
    """The slot index returns what a binary search over every code
    returns, bit for bit, on codes next to, between and far from the
    grid's, and keeps its slot table within 8 n + 2^20 entries."""
    g = make()
    i64 = np.iinfo(np.int64)
    near = (g.codes[:, None] + np.array([-1, 1, -10, 10, -10**4, 10**4])).ravel()
    rng = np.random.default_rng(3)
    queries = np.concatenate([
        g.codes,
        near,
        np.array([-1, -5, -10**4, -10**4 - 1, 0, 9999, 10**4, 10**8, 10**8 + 1, 2**32 - 1,
                  2**32, 2**40, 2**40 + 1, i64.min, i64.min + 1, i64.max, i64.max - 1],
                 dtype=np.int64),
        rng.integers(-2**62, 2**62, 20_000),
        rng.integers(0, 10**8, 20_000),
    ])
    got = g.lookup(queries)
    want = _searchsorted_lookup(g, queries)
    for a, b in zip(got, want):
        assert a.dtype == b.dtype and a.tobytes() == b.tobytes()
    assert got[3][: g.codes.size].all()

    w, _, slot, _ = g._slots()
    assert w == width
    assert slot.size <= 8 * len(g) + 2**20


def test_pickle_excludes_slot_index():
    """The slot index and the neighbour table are built per process on
    first use and never travel with the broadcast grid."""
    import pickle

    g = _grid_semidyna()
    before = pickle.dumps(g)
    codes = np.array([54401005, 54401006, 54401150])
    want = g.lookup(codes)
    assert pickle.dumps(g) == before
    table = g.neighbours()
    assert pickle.dumps(g) == before
    back = pickle.loads(before)
    for a, b in zip(back.lookup(codes), want):
        assert a.tobytes() == b.tobytes()
    assert back.neighbours().tobytes() == table.tobytes()


@pytest.mark.parametrize("fmt", ["TKY2JGD", "SemiDynaEXE"])
def test_neighbour_table_matches_lookup(fmt):
    """Each row of the neighbour table holds ``lookup`` of its node's
    next_east / next_north codes, on a holed block whose east and north
    edge nodes (and the first-level boundary it straddles) have no
    neighbour beyond them; the found mask says which corners exist."""
    from jgdtrans_rs_spark import mesh

    unit = 1 if fmt == "TKY2JGD" else 5
    thirds = range(0, 10, unit)
    lat = [(f, s, t) for f, s in ((54, 6), (54, 7), (55, 0), (55, 1)) for t in thirds]
    lon = [(f, s, t) for f, s in ((40, 6), (40, 7), (41, 0), (41, 1)) for t in thirds]
    rng = np.random.default_rng(4)
    codes = [int(mesh.digits_to_meshcode(*(tuple(np.array([d]) for d in x) for x in (la, lo)))[0])
             for la in lat for lo in lon if rng.random() > 0.3]
    g = _random_grid(codes)
    g.mesh_unit, g.format = unit, fmt
    table = g.neighbours()
    n = len(g)
    assert table.shape == (n + 1, 4) and table.dtype == np.int32
    assert (table[n] == [n, n, n, 0]).all()

    lat_d, lon_d, _ = mesh.meshcode_to_digits(g.codes)
    east, north = mesh.next_east(lon_d, unit), mesh.next_north(lat_d, unit)
    found = np.ones(n, dtype=np.int32)
    for i, corner in enumerate(((lat_d, east), (north, lon_d), (north, east))):
        code = mesh.digits_to_meshcode(*corner)
        *_, hit = g.lookup(code)
        want = np.where(hit, np.searchsorted(g.codes, code), n)
        np.testing.assert_array_equal(table[:n, i], want)
        found |= hit.astype(np.int32) << (i + 1)
    np.testing.assert_array_equal(table[:n, 3], found)
    assert set(table[:n, 3]) > {1, 15}  # edge nodes and holes, and whole cells


def test_u32_cast_accepts_ascii_digits_only():
    """Rust ``u32::from_str``: an optional '+', then ASCII digits only,
    at most u32::MAX.  Python's isdigit() alone would let Unicode digits
    and superscripts through."""
    from jgdtrans_rs_spark.grid import _u32_cast

    for raw in ("", "+", "1_2", "-1", "\u0661\u0662", "\u00b2", "4294967296", " 1", "++1"):
        with pytest.raises(ValueError):
            _u32_cast(raw)
    for raw, want in (("+12", 12), ("4294967295", 4294967295), ("007", 7), ("+0", 0)):
        assert _u32_cast(raw) == want
