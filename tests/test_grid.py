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


def test_parse_trims_rust_white_space_only():
    """Fields trim what Rust's ``str::trim`` trims (Unicode White_Space).
    A bare ``str.strip()`` also strips U+001C-U+001F, which let
    "\\x1c6303582" parse as a meshcode where the reference raises."""
    head = "JGD2000\nheader\n"
    with pytest.raises(ParseParError) as e:
        parse_par(head + "\x1c6303582  11.49105  -9.88759\n", "TKY2JGD")
    assert (e.value.kind, e.value.lineno, e.value.start, e.value.end, e.value.column) == (
        "ParseInt", 3, 0, 8, "Meshcode")
    with pytest.raises(ParseParError) as e:
        parse_par(head + "46303582 \x1c11.49105  -9.88759\n", "TKY2JGD")
    assert (e.value.kind, e.value.lineno, e.value.start, e.value.end, e.value.column) == (
        "ParseFloat", 3, 9, 18, "Latitude")
    # a tab, or an ideographic space (U+3000), is White_Space and trims
    for blank in ("\t", chr(0x3000)):
        g = parse_par(head + f"46303582 {blank}11.49105  -9.88759\n", "TKY2JGD")
        assert g.codes.tolist() == [46303582] and g.dlat_sec[0] == 11.49105


def test_parse_non_ascii_header_keeps_bulk_path(monkeypatch):
    """A Japanese header leaves the ASCII data section on the bulk path
    and the description exact; a non-ASCII character in a data field
    raises the positional error the per-line parser always raised, and
    one outside every field is ignored as before, without leaving the
    bulk path."""
    from jgdtrans_rs_spark import grid

    head = "日本測地系 TKY2JGD パラメータ\r\nメッシュコード 緯度 経度\n"
    data = "46303582  11.49105  -9.88759\n46303592  11.49099  -9.88994\n"

    per_line = []
    parse_line = grid._parse_line
    monkeypatch.setattr(grid, "_parse_line", lambda *a: per_line.append(a) or parse_line(*a))
    g = parse_par(head + data, "TKY2JGD")
    assert per_line == []
    assert g.description == "日本測地系 TKY2JGD パラメータ\nメッシュコード 緯度 経度\n"
    assert g.codes.tolist() == [46303582, 46303592]
    assert g.dlon_sec.tolist() == [-9.88759, -9.88994]

    fullwidth_one = chr(0xFF11)
    with pytest.raises(ParseParError) as e:
        parse_par(head + data + f"46303602  {fullwidth_one}1.49105  -9.88759\n", "TKY2JGD")
    assert (e.value.kind, e.value.lineno, e.value.start, e.value.end, e.value.column) == (
        "ParseFloat", 5, 9, 18, "Latitude")
    per_line.clear()
    g = parse_par(head + data + "46303602  11.49105  -9.88759  東京\n", "TKY2JGD")
    assert g.codes.tolist() == [46303582, 46303592, 46303602]
    assert per_line == []


# Field contents the bulk masks must hand to the per-line casts: valid
# but unusual syntax, and errors.  (chr() spells the non-ASCII ones.)
_VALUE_TOKENS = (
    "+1.50000", "-1.50000", "-0.00000", "-0", "+0", "000012.5", ".5", "5.", "-.5",
    "1.5e+01", "-2E-3", "1e5", "inf", "-inf", "Infinity", "nan", "-nan", "NaN",
    ".", "-", "--1", "1.2.3", "1-2", "- 1", "1 2", "",
    "\t1.5", "1.5\t", "\x1c1.5", "1.5\x1f", "1.\r5", "\r1.5", "\x0b1.5",
    "1_0.5", "1.5d", "2f", chr(0x661) + ".5", chr(0xFF11) + ".5", "1.5" + chr(0xA0),
)
_CODE_TOKENS = (
    "+1234567", "-1234567", "1_234567", "12 34", "00000001", "1.0", "", "0",
    "\x1c6303582", "6303582\x1c", "\t6303582", chr(0x661) * 3, "99999999",
)
# a layout wide enough for 15- and 16-digit mantissas; the last three
# misround as float(mantissa) / 10.0**k, so only float() may parse them
_WIDE = (2, (0, 8), (9, 29), (30, 50), None)
_WIDE_TOKENS = (
    "123456789012345", "1234567890123456", "0.123456789012345", "0.1234567890123456",
    "-999999999999999.", "9007199254740993", ".000000000000001", "12345678901234567890",
    "99180.10360366969", "-93541332002.33449", "405839536162181.58",
)


def _reference_parse(text, fmt):
    """Line-by-line reference built from ``_parse_field``: ``(codes,
    value bits, description)``, or the error's ``(kind, lineno, start,
    end, column)``."""
    from jgdtrans_rs_spark.grid import PAR_LAYOUTS, _f64_cast, _parse_field, _u32_cast

    header, code_rng, *rngs = PAR_LAYOUTS[fmt]
    lines = text.split("\n")
    if lines[-1] == "":
        lines.pop()
    lines = [ln[:-1] if ln.endswith("\r") else ln for ln in lines]
    params = {}
    try:
        for lineno, line in enumerate(lines[header:], header + 1):
            code = _parse_field(line, code_rng, lineno, "Meshcode", _u32_cast)
            params[code] = [_parse_field(line, rng, lineno, col, _f64_cast) if rng else 0.0
                            for rng, col in zip(rngs, ("Latitude", "Longitude", "Altitude"))]
    except ParseParError as e:
        return e.kind, e.lineno, e.start, e.end, e.column
    codes = sorted(params)
    values = np.array([params[c] for c in codes], dtype=np.float64).reshape(-1, 3)
    return codes, values.T.copy().view(np.int64).tolist(), "\n".join(lines[:header]) + "\n"


def _bulk_parse(text, fmt):
    try:
        g = parse_par(text, fmt)
    except ParseParError as e:
        return e.kind, e.lineno, e.start, e.end, e.column
    assert g.codes.dtype == np.int64
    values = np.stack([g.dlat_sec, g.dlon_sec, g.dalt_m])
    assert values.dtype == np.float64
    return g.codes.tolist(), values.view(np.int64).tolist(), g.description


def _random_par(rng, fmt, n_lines, n_mutations):
    """A par text of ``fmt`` with ``n_lines`` random data lines, then
    ``n_mutations`` line mutations at random lines."""
    from jgdtrans_rs_spark.grid import PAR_LAYOUTS

    header, code_rng, *rngs = PAR_LAYOUTS[fmt]
    present = [r for r in (code_rng, *rngs) if r]
    width = max(end for _, end in present)
    lines = []
    for _ in range(n_lines):
        line = [" "] * width
        code = int(rng.integers(0, 10**8)) if rng.random() < 0.9 else int(rng.integers(0, 10**4))
        line[0:8] = f"{code:8d}"
        for start, end in present[1:]:
            # a sign, at most 15 digits and maybe a '.': the bulk grammar
            w = end - start
            n_digits = int(rng.integers(1, min(w - 1, 15) + 1))
            s = str(int(rng.integers(0, 10**n_digits))).zfill(n_digits)
            dot = int(rng.integers(0, n_digits + 1))
            if dot < n_digits:
                s = s[:dot] + "." + s[dot:]
            s = ("-" if rng.random() < 0.5 else "") + s
            line[start:end] = s.rjust(w) if rng.random() < 0.8 else s.ljust(w)
        lines.append("".join(line))
    for _ in range(n_mutations):
        i = int(rng.integers(0, n_lines))
        line = lines[i]
        kind = rng.choice(["field", "field", "code", "crlf", "cr", "tab", "short", "empty",
                           "dup", "gap"])
        if kind in ("field", "code"):
            start, end = present[0] if kind == "code" else \
                present[int(rng.integers(1, len(present)))]
            pool = (_CODE_TOKENS if kind == "code" else
                    _WIDE_TOKENS if fmt == "Wide" and rng.random() < 0.5 else _VALUE_TOKENS)
            tok = pool[int(rng.integers(0, len(pool)))][:end - start]
            tok = tok.rjust(end - start) if rng.random() < 0.7 else tok.ljust(end - start)
            line = line[:start] + tok + line[end:]
        elif kind == "crlf":
            line += "\r"
        elif kind in ("cr", "tab"):
            j = int(rng.integers(0, len(line) + 1))
            line = line[:j] + ("\r" if kind == "cr" else "\t") + line[j + 1:]
        elif kind == "short":
            line = line[:int(rng.integers(0, len(line) + 1))]
        elif kind == "empty":
            line = ""
        elif kind == "dup":
            line = lines[int(rng.integers(0, n_lines))][:8] + line[8:]
        else:   # a character outside every field, or text past the last one
            j = int(rng.integers(8, width))
            ch = "x" if rng.random() < 0.5 else chr(0x6771)
            if any(s <= j < e for s, e in present):
                line += " " + ch
            else:
                line = line[:j] + ch + line[j + 1:]
        lines[i] = line
    text = "".join(f"header {k}\n" for k in range(header)) + "\n".join(lines)
    end = rng.random()
    return text + ("\n" if end < 0.8 else "\n\n" if end < 0.9 else "")


@pytest.mark.parametrize("fmt", [
    "TKY2JGD", "PatchJGD", "PatchJGD_H", "HyokoRev", "PatchJGD_HV", "SemiDynaEXE", "geonetF3",
    "ITRF2014", "Wide"])
def test_parse_matches_line_by_line_reference(fmt, monkeypatch):
    """``parse_par`` against a line-by-line ``_parse_field`` reference on
    seeded random grids of every layout, with mutations injected at
    random lines (signs, -0, exponents, inf/nan, leading zeros, a bare
    '.', tabs, \\x1c, a mid-line \\r, CRLF, short and empty lines, '_',
    '1.5d', non-ASCII digits, non-ASCII text outside the fields,
    duplicate codes; 15- and 16-digit mantissas on a wide layout): the
    same codes and value bits, or the same error kind, line, range and
    column.  A text with no mutation never reaches the per-line casts."""
    from jgdtrans_rs_spark import grid

    monkeypatch.setitem(grid.PAR_LAYOUTS, "Wide", _WIDE)
    monkeypatch.setitem(grid.FORMAT_MESH_UNIT, "Wide", 1)
    per_line = []
    parse_line = grid._parse_line
    monkeypatch.setattr(grid, "_parse_line", lambda *a: per_line.append(a) or parse_line(*a))
    rng = np.random.default_rng(sorted(grid.PAR_LAYOUTS).index(fmt))
    outcomes = {"parsed": 0, "error": 0}
    for trial in range(60):
        n_mutations = trial % 4 and int(rng.integers(1, 6))
        text = _random_par(rng, fmt, 40, n_mutations)
        per_line.clear()
        got = _bulk_parse(text, fmt)
        assert got == _reference_parse(text, fmt), (trial, text)
        outcomes["error" if isinstance(got[0], str) else "parsed"] += 1
        if n_mutations == 0 and text.endswith("\n") and not text.endswith("\n\n"):
            assert per_line == []
    assert min(outcomes.values()) >= 5, outcomes


def test_parse_long_mantissas_match_float(monkeypatch):
    """On a layout 20 wide, every ``_WIDE_TOKENS`` field parses to
    ``float()`` of its text bit for bit, right- or left-justified:
    15-digit mantissas in bulk, longer ones through the per-line casts."""
    from jgdtrans_rs_spark import grid

    monkeypatch.setitem(grid.PAR_LAYOUTS, "Wide", _WIDE)
    monkeypatch.setitem(grid.FORMAT_MESH_UNIT, "Wide", 1)
    text = "h\nh\n" + "".join(f"{i:8d} {tok:>20} {tok:<20}\n" for i, tok in enumerate(_WIDE_TOKENS))
    g = parse_par(text, "Wide")
    want = np.array([float(tok) for tok in _WIDE_TOKENS]).view(np.int64).tolist()
    assert g.codes.tolist() == list(range(len(_WIDE_TOKENS)))
    assert g.dlat_sec.view(np.int64).tolist() == want
    assert g.dlon_sec.view(np.int64).tolist() == want
