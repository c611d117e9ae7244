"""Pure Column expression helpers — JVM-side, whole-stage-codegen
friendly (no Python in the plan).

These are the declarative forms of DMS parse/format (held to the
scalar reference ``tests/dms_reference.py``) and cosine similarity.
Use them when staying inside codegen matters (no Arrow hop).  Angle normalization (point.rs:9-32)
has one SQL form for both Spark and DuckDB,
``plans.oracle.norm_lat_expr``/``norm_lon_expr``; wrap it in
``F.expr``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dms_to_degree(c: Column) -> Column:
    """Pure-Column DMS-string parser: dms.rs:194-299 FromStr, NaN on
    its grammar/bounds errors (the tests hold it to the scalar
    reference ``dms_to_degree_scalar``, identical output).

    Grammar: optional +/-, '_' separators allowed anywhere except
    leading a digit group, integer or fraction part may be absent (not
    both).  degree = acc/10000 must fit a u8; minute/second are
    unvalidated (FromStr parity).  Arithmetic is pinned to the
    reference's non-fma order (dms.rs:513-522):
    (sec + fract)*(1/3600) + (min*(1/60) + deg).
    """
    valid = c.rlike(r"^[+-]?([0-9][0-9_]*(\.([0-9][0-9_]*)?)?|\.[0-9][0-9_]*)$")
    clean = F.regexp_replace(F.translate(c, "_", ""), r"^[+-]", "")
    neg = c.startswith("-")
    int_str = F.regexp_replace(F.substring_index(clean, ".", 1), r"^0+", "")
    frac_str = F.when(clean.contains("."), F.substring_index(clean, ".", -1)).otherwise(F.lit(""))
    # 8+ significant integer digits -> degree > 255 -> OutOfBounds
    # (u8::try_from); also covers u64-overflow-length inputs without a
    # bigint cast
    acc = F.when(int_str == "", F.lit(0)).otherwise(int_str.cast("long"))
    degree = (acc / 10000).cast("long")
    minute = ((acc % 10000) / 100).cast("long")
    second = acc % 100
    fract = (
        F.when(frac_str == "", F.lit(0.0))
        .otherwise(F.concat(F.lit("0."), frac_str).cast("double"))
    )
    temp = minute.cast("double") * F.lit(1.0 / 60.0) + degree.cast("double")
    temp = (second.cast("double") + fract) * F.lit(1.0 / 3600.0) + temp
    value = F.when(neg, -temp).otherwise(temp)
    ok = valid & (F.length(int_str) <= F.lit(7)) & (degree <= 255)
    return (
        F.when(c.isNull(), F.lit(None).cast("double"))
        .when(ok, value)
        .otherwise(F.lit(float("nan")))
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns as a pure
    Column expression (F.zip_with product + F.aggregate fold) — the
    zero-Python dot product.  Elements are cast to double before
    multiplying so float32 inputs don't lose precision in the products.
    """
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # try_divide: a zero-norm vector yields NULL (ANSI division by
    # zero would throw); callers must treat NULL as "no similarity"
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def degree_to_dms_compact(c: Column) -> Column:
    """Pure-Column compact DMS formatter (dms.rs:115-163) for the
    common case: values whose seconds-fraction is EXACTLY a <= 6-digit
    decimal (fract parses back bit-equal from its 6-digit rounding).
    Returns NULL outside that case: full shortest-round-trip parity
    needs Rust's Display, which no Spark string builtin reproduces
    (CAST(double AS STRING) switches to scientific notation below
    1e-3).  Hot pipelines formatting tile labels / web output stay
    entirely in codegen here.

    Decomposition is bit-pinned to dms.rs:329-352 (trunc/fract
    two-step, magnitudes via abs — float-symmetric, so identical bits
    to the reference's signed path); the shortest-repr contract holds
    because at most ONE <= 6-digit decimal can round-trip any double
    (decimal spacing 1e-6 dwarfs the ulp), so the trimmed 6-digit
    string IS the shortest form whenever the round-trip test passes.
    """
    in_bounds = c.isNotNull() & ~F.isnan(c) & c.between(-180.0, 180.0)
    av = F.abs(c)
    deg = F.floor(av).cast("long")
    mm = (av - deg.cast("double")) * 60.0
    minute = F.floor(mm).cast("long")
    ss = (mm - minute.cast("double")) * 60.0
    sec = F.floor(ss).cast("long")
    fract = ss - sec.cast("double")
    sixn = F.floor(fract * 1000000.0 + 0.5).cast("long")
    sixs = F.lpad(sixn.cast("string"), 6, "0")
    roundtrip_ok = F.concat(F.lit("0."), sixs).cast("double") == fract
    fs = (
        F.when(sixn == 0, F.lit(""))
        .otherwise(F.concat(F.lit("."), F.regexp_replace(sixs, "0+$", "")))
    )
    deg_s = deg.cast("string")
    min2 = F.lpad(minute.cast("string"), 2, "0")
    sec2 = F.lpad(sec.cast("string"), 2, "0")
    body = (
        F.when((deg == 0) & (minute == 0) & (sec == 0) & (fs == ""), F.lit("0"))
        .when((deg == 0) & (minute == 0), F.concat(sec.cast("string"), fs))
        .when(deg == 0, F.concat(minute.cast("string"), sec2, fs))
        .otherwise(F.concat(deg_s, min2, sec2, fs))
    )
    # sign: negative values AND negative zero ('-0' per Rust Display;
    # CAST(-0.0 AS STRING) keeps the sign in Spark and DuckDB alike)
    negative = c.cast("string").startswith("-")
    out = F.when(negative, F.concat(F.lit("-"), body)).otherwise(body)
    return F.when(in_bounds & roundtrip_ok, out).otherwise(F.lit(None).cast("string"))
