"""DMS scalar function tests (dms.rs fixtures)."""

import math

from tests import dms_reference as dms


def test_dms_to_degree_fixtures():
    # dms.rs:497-507
    assert dms.dms_to_degree_scalar("360613.58925") == 36.103774791666666
    assert dms.dms_to_degree_scalar("-360613.58925") == -36.103774791666666
    # dms.rs:186-190
    assert dms.dms_to_degree_scalar("1400516.27815") == 140.08785504166667


def test_parse_forms():
    # dms.rs:168-171: 1.2, 1, +1., -.2 forms; '_' separators
    assert dms.parse_dms_str("1.2") == (1, 0, 0, 1, 0.2)
    assert dms.parse_dms_str("1") == (1, 0, 0, 1, 0.0)
    assert dms.parse_dms_str("+1.") == (1, 0, 0, 1, 0.0)
    assert dms.parse_dms_str("-.2") == (-1, 0, 0, 0, 0.2)
    assert dms.parse_dms_str("36_06_13.5") == (1, 36, 6, 13, 0.5)
    assert dms.parse_dms_str("") is None
    assert dms.parse_dms_str("_1") is None
    assert dms.parse_dms_str("1._5") is None
    assert dms.parse_dms_str("abc") is None


def test_parse_fromstr_permissive():
    """FromStr constructs the struct directly WITHOUT DMS::new bounds
    (dms.rs:227-236): minute/second above 59 and degree above 180
    parse fine; only the u8 degree bound applies (dms.rs:270-272)."""
    assert dms.parse_dms_str("9099") == (1, 0, 90, 99, 0.0)    # min=90 sec=99
    assert dms.parse_dms_str("366113.0") == (1, 36, 61, 13, 0.0)
    assert dms.parse_dms_str("1810000") == (1, 181, 0, 0, 0.0)  # degree 181 ok
    assert dms.parse_dms_str("2550000") == (1, 255, 0, 0, 0.0)
    assert dms.parse_dms_str("2560000") is None                 # u8 overflow
    assert dms.parse_dms_str("1800001") == (1, 180, 0, 1, 0.0)  # no ==180 rule


def test_degree_to_dms_parts():
    # dms.rs:318-325
    p = dms.degree_to_dms_parts(36.103774791666666)
    assert p[:4] == (1, 36, 6, 13)
    assert p[4] == 0.589249999997719
    p = dms.degree_to_dms_parts(140.08785504166664)
    assert p[:4] == (1, 140, 5, 16)
    assert p[4] == 0.2781499999141488
    assert dms.degree_to_dms_parts(float("nan")) is None
    assert dms.degree_to_dms_parts(180.5) is None


def test_format_compact():
    # dms.rs:106-110 + the long-fraction doctest from SURVEY §2.8
    assert dms.format_dms_scalar(36.103774791666666) == "360613.589249999997719"
    assert dms.format_dms_scalar(0.0) == "0"
    assert dms.format_dms_scalar(-36.103774791666666) == "-360613.589249999997719"


def test_format_alternate():
    # dms.rs:106-111 doctest: {:#} human form
    assert dms.format_dms_scalar(36.103774791666666, alternate=True) \
        == "36°06′13.589249999997719″"
    assert dms.format_dms_scalar(0.0, alternate=True) == "0°00′0″"
    assert dms.format_dms_scalar(-36.103774791666666, alternate=True) \
        == "-36°06′13.589249999997719″"
    assert dms.format_dms_scalar(0.5, alternate=True) == "0°30′0″"


def test_roundtrip():
    for v in (36.103774791666666, 140.08785504166664, -0.5, 0.25, 179.999):
        s = dms.format_dms_scalar(v)
        back = dms.dms_to_degree_scalar(s)
        assert math.isclose(back, v, rel_tol=0, abs_tol=1e-12), (v, s, back)


def test_column_formatter_matches_rust_display(spark):
    """degree_to_dms_compact must equal the Rust-Display-exact scalar
    formatter wherever it answers (<= 6-digit-exact fractions), return
    NULL where the shortest repr needs more digits."""
    from pyspark.sql import functions as F

    from tests.dms_reference import format_dms_scalar
    from jgdtrans_rs_spark.functions import columns as C

    vals = (
        # dyadic sweep: 6-digit-exact fractions, all special forms
        [k / 1024.0 for k in range(-2048, 2049, 37)]
        + [0.0, -0.0, 180.0, -180.0, 36.0625, -0.25, 0.015625,
           1.0 / 7200.0,              # 0.5 sec -> deg==0, minute==0 form
           5.0 / 60.0]                # deg==0 form
        # irrational-ish fractions: shortest repr > 6 digits -> NULL path
        + [36.103774791666666, 140.0 / 3.0, 1e-9, -1e-9]
    )
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {
        int(r["i"]): r["compact"]
        for r in df.select(
            "i", C.degree_to_dms_compact(F.col("v")).alias("compact")).collect()
    }
    n_compact = 0
    for i, v in enumerate(vals):
        want = format_dms_scalar(v)
        compact = got[i]
        if compact is not None:
            n_compact += 1
            assert compact == want, (v, compact, want)
    # the fast path must actually cover the dyadic sweep...
    assert n_compact >= len(vals) - 4
    # ...and must NOT answer where shortest-roundtrip needs > 6 digits
    assert got[vals.index(36.103774791666666)] is None


def test_parse_rejects_non_ascii_digits():
    """The reference grammar is ASCII-only: Unicode decimals must not
    parse, and numeric-looking characters that int() rejects must not
    escape as exceptions (they would kill the Spark task)."""
    assert dms.parse_dms_str("²") is None          # superscript two
    assert dms.parse_dms_str("4²") is None
    assert dms.parse_dms_str("١٢٣") is None  # Arabic-Indic 123
    assert dms.parse_dms_str("123") == (1, 0, 1, 23, 0.0)
