"""Degree-minute-second scalar reference (reference dms.rs): the
functions the pure-Column DMS parser and formatter
(``jgdtrans_rs_spark/functions/columns.py``) are checked against.
Semantics pinned:

* ``dms_to_degree`` — dms.rs:513-522: ``(min*(1/60) + deg) +
  (sec+fract)*(1/3600)`` non-fma order, sign applied last.
* ``degree_to_dms`` — dms.rs:329-352: trunc/fract decomposition,
  bounds [-180, 180], NaN rejected.
* parse/format — dms.rs:96-163, 194-299: compact form
  ``DDMMSS.fffff`` with ``_`` separators tolerated, ``.5``/``1.``/``+1``
  forms; format trims the fraction's leading "0." and trailing zeros.
"""

from __future__ import annotations

import numpy as np


def dms_to_degree_np(sign: np.ndarray, degree: np.ndarray, minute: np.ndarray,
                     second: np.ndarray, fract: np.ndarray) -> np.ndarray:
    """dms.rs:513-522, non-fma path."""
    temp = minute * (1.0 / 60.0) + degree
    temp = (second + fract) * (1.0 / 3600.0) + temp
    return np.where(sign < 0, -temp, temp)


def parse_dms_str(s: str):
    """dms.rs:194-299 FromStr grammar -> (sign, deg, min, sec, fract)
    or None.

    Accepts optional +/-, '_' digit separators, missing integer or
    fraction part (not both).  NOTE: FromStr constructs the struct
    directly WITHOUT ``DMS::new`` validation (dms.rs:227-236), so e.g.
    "9099" parses to minute=90, second=99 — only the degree must fit a
    u8 (``u8::try_from`` -> OutOfBounds otherwise); minute/second are
    ``rest/100`` / ``rest%100`` and always fit.  This permissiveness is
    intentional parity (ADVICE r01).
    """
    if s is None or s == "":
        return None
    sign = 1
    if s.startswith("-"):
        sign, s = -1, s[1:]
    elif s.startswith("+"):
        s = s[1:]
    if "." in s:
        int_part, _, frac_part = s.partition(".")
    else:
        int_part, frac_part = s, ""
    if int_part.startswith("_") or frac_part.startswith("_"):
        return None
    int_part = int_part.replace("_", "")
    frac_part = frac_part.replace("_", "")
    if int_part == "" and frac_part == "":
        return None
    # ASCII digits ONLY (the reference parses with u64::from_str /
    # the ASCII fraction grammar): str.isdigit() alone also accepts
    # Unicode decimals ('١٢٣') and numerals like '²' that int()/float()
    # then reject — the former would parse where the reference errors,
    # the latter would raise OUT of the UDF and kill the task
    _ascii_digits = "0123456789"
    if int_part and not all(c in _ascii_digits for c in int_part):
        return None
    if frac_part and not all(c in _ascii_digits for c in frac_part):
        return None
    acc = int(int_part) if int_part else 0
    degree, rest = acc // 10_000, acc % 10_000
    minute, second = rest // 100, rest % 100
    if degree > 255:  # u8::try_from (dms.rs:270-272)
        return None
    fract = float("0." + frac_part) if frac_part else 0.0
    return sign, degree, minute, second, fract


def dms_to_degree_scalar(s: str) -> float:
    p = parse_dms_str(s)
    if p is None:
        return float("nan")
    sign, d, m, sec, fr = p
    return float(
        dms_to_degree_np(
            np.array([sign], dtype=np.float64), np.array([d], dtype=np.float64),
            np.array([m], dtype=np.float64), np.array([sec], dtype=np.float64),
            np.array([fr], dtype=np.float64),
        )[0]
    )


def degree_to_dms_parts(value: float):
    """dms.rs:329-352 -> (sign, degree, minute, second, fract) or None."""
    if value != value or not (-180.0 <= value <= 180.0):
        return None
    mm = 60.0 * (value - np.trunc(value))
    ss = 60.0 * (mm - np.trunc(mm))
    sign = 1 if (value > 0 or (value == 0 and not np.signbit(value))) else -1
    return (
        sign,
        int(abs(np.trunc(value))),
        int(abs(np.trunc(mm))),
        int(abs(np.trunc(ss))),
        abs(ss - np.trunc(ss)),
    )


def _fract_str(fract: float) -> str:
    """dms.rs:117-126: shortest round-trip decimal of the fraction in
    positional notation (Rust's f64 Display never uses scientific
    form), leading '0' and trailing zeros trimmed ('' when zero)."""
    if fract == 0.0:
        return ""
    s = np.format_float_positional(fract, unique=True, trim="-")
    return s.lstrip("0").rstrip("0")


def format_dms_scalar(value: float, alternate: bool = False) -> str | None:
    """DMS notation (dms.rs:115-163).  Compact form, e.g.
    36.103774791666666 -> '360613.589249999997719'; ``alternate=True``
    gives the ``{:#}`` human form '36°06′13.589249999997719″'
    (dms.rs:128-145: degree unpadded, minute 02-padded, second
    unpadded, '0°00′0″' for zero)."""
    parts = degree_to_dms_parts(value)
    if parts is None:
        return None
    sign, deg, minute, sec, fract = parts
    fs = _fract_str(fract)
    if alternate:
        if deg == 0 and minute == 0 and sec == 0 and fs == "":
            body = "0°00′0″"
        elif deg == 0 and minute == 0:
            body = f"0°00′{sec}{fs}″"
        elif deg == 0:
            body = f"0°{minute:02d}′{sec}{fs}″"
        else:
            body = f"{deg}°{minute:02d}′{sec}{fs}″"
    elif deg == 0 and minute == 0 and sec == 0 and fs == "":
        body = "0"
    elif deg == 0 and minute == 0:
        body = f"{sec}{fs}"
    elif deg == 0:
        body = f"{minute}{sec:02d}{fs}"
    else:
        body = f"{deg}{minute:02d}{sec:02d}{fs}"
    return ("-" if sign < 0 else "") + body
