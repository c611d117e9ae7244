"""Par-file parsing and the broadcastable mesh parameter grid.

Reimplements the reference's par module (/root/reference/src/par.rs)
semantics: fixed-width per-format layouts (par.rs:642-653), absent
columns filled with 0.0 — not NaN — (par.rs:396-466), description =
first N header lines joined (par.rs:360-366), positional parse errors
(par.rs:744-859).

``parse_par`` parses the data section in bulk, where the reference
slices, trims and parses each line: the section is encoded once (each
non-ASCII character as one '?', so byte offsets stay character
offsets), the line breaks found with numpy, and each layout field cut
as a (width, n_lines) uint8 block.  A column mask accepts the fields
of the grammar blanks (spaces), optional '-', 1-15 digits with at most
one '.', blanks — meshcodes: no '.' and no '-' — and converts them as
``mantissa / 10.0**k`` (Clinger's fast path: both operands are exact
doubles, so the quotient is bit-identical to ``float()``).  A line
that is too short, or has a field the mask rejects (exponents, inf,
nan, a '+', tabs, a stray \\r, non-ASCII text, ...), goes through the
per-line Rust-parity casts in line order: valid unusual syntax still
parses, and the earliest bad line raises its positional error.

The grid itself is stored as numpy arrays sorted by meshcode.  Each
Python worker builds, once per broadcast, a block-dense slot index over
them (``_slot_index``), so executor-side lookup is one direct slot
gather per code — the Spark-side equivalent of the reference's HashMap
probe (par.rs:283-285) without paying 4 broadcast-hash-join shuffles.
Next to it the worker builds a per-row neighbour table
(``MeshGrid.neighbours``): the rows of the other three corners of the
cell each node is the SW corner of, so the kernels resolve a cell with
one probe instead of the reference's four.  Neither is pickled.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from .mesh import (
    UNIT_FIVE,
    UNIT_ONE,
    digits_to_meshcode,
    meshcode_to_digits,
    next_east,
    next_north,
)

# (header_lines, meshcode_slice, lat_slice, lon_slice, alt_slice)
# verbatim from par.rs:642-653 (Rust半open ranges -> Python slices).
PAR_LAYOUTS: dict[str, tuple] = {
    "TKY2JGD": (2, (0, 8), (9, 18), (19, 28), None),
    "PatchJGD": (16, (0, 8), (9, 18), (19, 28), None),
    "PatchJGD_H": (16, (0, 8), None, None, (9, 18)),
    "HyokoRev": (16, (0, 8), None, None, (12, 21)),
    "PatchJGD_HV": (16, (0, 8), (9, 18), (19, 28), (29, 38)),
    "SemiDynaEXE": (16, (0, 8), (9, 18), (19, 28), (29, 38)),
    "geonetF3": (18, (0, 8), (12, 21), (22, 31), (32, 41)),
    "ITRF2014": (18, (0, 8), (12, 21), (22, 31), (32, 41)),
}

# par.rs:57-66: format -> mesh unit.
FORMAT_MESH_UNIT: dict[str, int] = {
    "TKY2JGD": UNIT_ONE,
    "PatchJGD": UNIT_ONE,
    "PatchJGD_H": UNIT_ONE,
    "PatchJGD_HV": UNIT_ONE,
    "HyokoRev": UNIT_ONE,
    "SemiDynaEXE": UNIT_FIVE,
    "geonetF3": UNIT_FIVE,
    "ITRF2014": UNIT_FIVE,
}


class ParseParError(ValueError):
    """Positional parse error (par.rs:744-859)."""

    def __init__(self, kind: str, lineno: int, start: int, end: int, column: str | None):
        self.kind = kind
        self.lineno = lineno
        self.start = start
        self.end = end
        self.column = column
        super().__init__(
            f"parse error: {kind}, column {column}, line {lineno}, range {start}..{end}"
        )


def _ksum(vs) -> float:
    """Improved Kahan–Babuška compensated sum (transformer.rs:9-22).

    Serial by construction — float addition is not associative and the
    reference's statistics goldens depend on this exact algorithm over
    meshcode-sorted input.
    """
    s = 0.0
    c = 0.0
    for v in vs:
        v = float(v)
        t = s + v
        if s >= v:
            c += (s - t) + v
        else:
            c += (v - t) + s
        s = t
    return s + c


def _stat_from_array(vs: np.ndarray) -> dict:
    """``StatisticData::from_array`` (transformer.rs:190-237).

    Note the reference's (unusual) std formula: sqrt(ksum((sum-v)^2)/n)
    where ``sum`` is the *total*, not the mean — reproduced verbatim.
    """
    none = {"count": None, "mean": None, "std": None, "abs": None, "min": None, "max": None}
    if vs.size == 0:
        return none
    total = _ksum(vs)
    count = int(vs.size)
    if np.isnan(total):
        nan = float("nan")
        return {"count": count, "mean": nan, "std": nan, "abs": nan, "min": nan, "max": nan}
    length = float(count)
    std_terms = [(total - float(v)) ** 2 for v in vs]
    abs_terms = [abs(float(v)) for v in vs]
    return {
        "count": count,
        "mean": total / length,
        "std": (_ksum(std_terms) / length) ** 0.5,
        "abs": _ksum(abs_terms) / length,
        "min": float(np.min(vs)),
        "max": float(np.max(vs)),
    }


# Slot-index block widths, widest first: one first-level mesh (10^4
# codes), then 10^2, then single codes (a binary search over every code).
_BLOCK_WIDTHS = (10_000, 100, 1)

# Rows per step of the neighbour-table build: bounds its transients to
# a few MB whatever the grid size.
_NEIGHBOUR_CHUNK = 1 << 16


def _slot_index(codes: np.ndarray) -> tuple[int, np.ndarray, np.ndarray]:
    """``(W, blocks, slot)`` over sorted unique int64 ``codes``.

    A code splits into block ``code // W`` and offset ``code % W``;
    ``blocks`` holds the sorted block keys plus one pad entry, and
    ``slot[block_pos * W + code % W]`` is the code's row, ``n`` when
    absent.  The last ``W`` slots belong to no block: codes whose block
    is absent land there.  ``W`` is the widest width that keeps
    ``slot`` within ``8 n + 2^20`` entries (``W = 1`` always does), so
    memory stays O(n) however sparse the grid."""
    n = codes.size
    for w in _BLOCK_WIDTHS:
        q = codes // w
        new = np.ones(n, dtype=bool)
        new[1:] = q[1:] != q[:-1]
        n_blocks = int(np.count_nonzero(new))
        if (n_blocks + 1) * w <= 8 * n + (1 << 20):
            break
    slot = np.full((n_blocks + 1) * w, n, dtype=np.int32)
    slot[(np.cumsum(new) - 1) * w + codes % w] = np.arange(n, dtype=np.int32)
    return w, np.append(q[new], 0), slot


@dataclass
class MeshGrid:
    """The broadcastable parameter table: ``ParData`` re-expressed as
    meshcode-sorted columnar arrays (transformer.rs:43-50, par.rs:72-93).

    Units: dlat/dlon in **seconds**, dalt in metres (transformer.rs:26).
    """

    codes: np.ndarray          # int64, sorted ascending, unique
    dlat_sec: np.ndarray       # float64
    dlon_sec: np.ndarray       # float64
    dalt_m: np.ndarray         # float64
    mesh_unit: int             # 1 or 5
    format: str = "SemiDynaEXE"
    description: str | None = field(default=None, repr=False)

    @classmethod
    def from_dict(cls, parameters: dict[int, tuple], format: str = "SemiDynaEXE",
                  description: str | None = None) -> "MeshGrid":
        codes = np.array(sorted(parameters), dtype=np.int64)
        p = np.array([parameters[int(c)] for c in codes], dtype=np.float64).reshape(-1, 3)
        return cls(
            codes=codes,
            dlat_sec=np.ascontiguousarray(p[:, 0]),
            dlon_sec=np.ascontiguousarray(p[:, 1]),
            dalt_m=np.ascontiguousarray(p[:, 2]),
            mesh_unit=FORMAT_MESH_UNIT[format],
            format=format,
            description=description,
        )

    def __len__(self) -> int:
        return int(self.codes.size)

    def _slots(self):
        """The slot index plus the parameter rows: an (n + 1, 3) array
        of (dlat_sec, dlon_sec, dalt_m) whose trailing zero row is what
        absent codes (row ``n``) gather.  Built on the first ``lookup``
        and cached on the instance; ``__getstate__`` drops it, so the
        broadcast pickle never carries it."""
        slots = self.__dict__.get("_slot_cache")
        if slots is None:
            values = np.zeros((len(self) + 1, 3))
            for i, a in enumerate((self.dlat_sec, self.dlon_sec, self.dalt_m)):
                values[:-1, i] = a
            slots = self._slot_cache = (*_slot_index(self.codes), values)
        return slots

    def neighbours(self) -> np.ndarray:
        """The (n + 1, 4) int32 neighbour table.  Row ``r`` takes node
        ``r`` as the SW corner of a cell and holds the rows of the
        cell's se, nw and ne corners (``n`` when absent), then a found
        mask with bits 0-3 set for the sw, se, nw and ne corners
        present.  The trailing row ``n`` (no SW corner) finds nothing,
        so a cell resolve is one slot lookup on the SW code and one
        gather here.

        The neighbour codes come from the node's own digits, exactly as
        a point's cell builds them (``next_east``/``next_north``), so
        they equal the per-corner codes of any point whose SW digits
        round-trip through the SW meshcode.  Built in chunks of
        ``_NEIGHBOUR_CHUNK`` rows, cached per process like the slot
        index and never pickled."""
        table = self.__dict__.get("_neighbour_cache")
        if table is None:
            table = self._neighbour_cache = self._neighbour_table()
        return table

    def _neighbour_table(self) -> np.ndarray:
        n = len(self)
        table = np.full((n + 1, 4), n, dtype=np.int32)
        table[n, 3] = 0
        for lo in range(0, n, _NEIGHBOUR_CHUNK):
            # codes >= 10^8 decode as 0 here; no point's SW code is
            # >= 10^8, so those rows are never read
            lat_d, lon_d, _ = meshcode_to_digits(self.codes[lo:lo + _NEIGHBOUR_CHUNK])
            east = next_east(lon_d, self.mesh_unit)
            north = next_north(lat_d, self.mesh_unit)
            hi = lo + lat_d[0].size
            found = np.ones(hi - lo, dtype=np.int32)
            for i, corner in enumerate(((lat_d, east), (north, lon_d), (north, east))):
                rows = self.rows(digits_to_meshcode(*corner))
                table[lo:hi, i] = rows
                found |= (rows != n) << (i + 1)
            table[lo:hi, 3] = found
        return table

    def __getstate__(self):
        state = dict(self.__dict__)
        state.pop("_slot_cache", None)
        state.pop("_neighbour_cache", None)
        return state

    def rows(self, codes: np.ndarray) -> np.ndarray:
        """int32 row of each int64 meshcode, ``len(self)`` when absent:
        a binary search over the few block keys, then one slot gather
        (``_slot_index``)."""
        codes = np.asarray(codes, dtype=np.int64)
        w, blocks, slot, _ = self._slots()
        q = codes // w
        pos = np.searchsorted(blocks[:-1], q)
        # an absent block (pos past the keys reads the pad) -> no-block slots
        pos = np.where(blocks[pos] == q, pos, blocks.size - 1)
        return slot[pos * w + codes % w]

    def values(self) -> np.ndarray:
        """The (n + 1, 3) parameter rows of ``_slots``: one gather of a
        row fetches all three components of a node."""
        return self._slots()[3]

    def lookup(self, codes: np.ndarray):
        """Vectorized ``ParameterSet::get`` (transformer.rs:257-263):
        gather (dlat_sec, dlon_sec, dalt_m, found_mask) for an int64
        meshcode array.  Missing codes return 0.0 with found=False."""
        row = self.rows(codes)
        v = np.take(self.values(), row, axis=0)
        return v[:, 0], v[:, 1], v[:, 2], row != self.codes.size

    def statistics(self) -> dict[str, dict]:
        """``Transformer::statistics`` (transformer.rs:504-528): exact
        compensated stats per component over meshcode-sorted params."""
        horizontal = np.hypot(self.dlat_sec, self.dlon_sec)
        return {
            "latitude": _stat_from_array(self.dlat_sec),
            "longitude": _stat_from_array(self.dlon_sec),
            "altitude": _stat_from_array(self.dalt_m),
            "horizontal": _stat_from_array(horizontal),
        }

    def to_rows(self) -> list[tuple]:
        """(meshcode, dlat_sec, dlon_sec, dalt_m) rows, sorted by code —
        for building a small Spark/DuckDB side table."""
        return [
            (int(c), float(a), float(b), float(h))
            for c, a, b, h in zip(self.codes, self.dlat_sec, self.dlon_sec, self.dalt_m)
        ]


# Rust's ``str::trim`` set, the Unicode White_Space property
# (``char::is_whitespace``).  A bare ``str.strip()`` also strips
# U+001C-U+001F, which Rust keeps: "\x1c6303582" is a ParseInt there.
_WHITE_SPACE = ("\t\n\x0b\x0c\r \x85\xa0\u1680"
                + "".join(map(chr, range(0x2000, 0x200B)))
                + "\u2028\u2029\u202f\u205f\u3000")

_U32_MAX = 4294967295

# Fast-path field grammar: blanks (spaces), an optional '-', 1-15 ASCII
# digits with at most one '.', blanks.  Such a field is m / 10^k with
# m < 2^53 and k <= 15, both exact doubles, so one IEEE division is
# correctly rounded (Clinger's fast path) and bit-identical to float().
_MAX_DIGITS = 15
_POW10 = np.array([float(10 ** k) for k in range(_MAX_DIGITS + 1)])


def _u32_cast(raw: str) -> int:
    """Rust ``u32::from_str`` parity: optional leading '+', ASCII
    digits only, overflow errors.  Python's bare int() is looser — it
    accepts '_' separators ('1_2' -> 12), Unicode decimal digits, and
    negatives, all of which the reference rejects as ParseInt."""
    s = raw[1:] if raw.startswith("+") else raw
    if not (s.isascii() and s.isdigit()):
        raise ValueError(raw)
    v = int(s)
    if v > _U32_MAX:
        raise ValueError(raw)
    return v


def _f64_cast(raw: str) -> float:
    """Rust ``f64::from_str`` parity: no '_' separators, ASCII only
    (Python float() accepts both)."""
    if "_" in raw or not raw.isascii():
        raise ValueError(raw)
    return float(raw)


def _parse_field(line: str, rng, lineno: int, column: str, caster):
    start, end = rng
    if end > len(line):
        raise ParseParError("ColumnNotFound", lineno, start, end, column)
    raw = line[start:end].strip(_WHITE_SPACE)
    try:
        return caster(raw)
    except ValueError:
        kind = "ParseInt" if caster is _u32_cast else "ParseFloat"
        raise ParseParError(kind, lineno, start, end, column) from None


def _parse_line(line: str, lineno: int, rngs) -> tuple:
    """One data line's (code, lat, lon, alt), its fields checked in
    column order; an absent column (``rng`` None) is 0.0."""
    code_rng, *value_rngs = rngs
    code = _parse_field(line, code_rng, lineno, "Meshcode", _u32_cast)
    return (code, *(_parse_field(line, rng, lineno, column, _f64_cast) if rng else 0.0
                    for rng, column in zip(value_rngs, ("Latitude", "Longitude", "Altitude"))))


def _decimal_fields(chars: np.ndarray, integer: bool) -> tuple[np.ndarray, np.ndarray]:
    """``(ok, value)`` of n fixed-width fields given as a (w, n) uint8
    array, row ``j`` holding character ``j`` of every field.  ``ok``
    marks the fields of the fast-path grammar; with ``integer`` it also
    takes no '.', no '-' and nothing above u32::MAX.  ``value`` is int64
    with ``integer``, float64 otherwise, and is garbage where not
    ``ok``.  One pass over the w rows, each a few n-wide vector ops."""
    n = chars.shape[1]
    ok = np.ones(n, dtype=bool)
    started, ended, seen_dot, neg = (np.zeros(n, dtype=bool) for _ in range(4))
    n_digit, k, m = (np.zeros(n, dtype=np.int64) for _ in range(3))
    for c in chars:
        d = c - np.uint8(48)        # wraps below '0': digit iff d < 10
        digit = d < 10
        blank = c == 32
        dot = c == 46
        minus = c == 45
        # a non-blank after the trailing blanks, a second '.' or a '-'
        # that is not the first non-blank fails
        ok &= blank | (~ended & (digit | (dot & ~seen_dot) | (minus & ~started)))
        ended |= blank & started
        started |= ~blank
        seen_dot |= dot
        neg |= minus
        m = np.where(digit, m * 10 + d, m)
        n_digit += digit
        k += digit & seen_dot
    ok &= (n_digit >= 1) & (n_digit <= _MAX_DIGITS)
    if integer:
        return ok & ~seen_dot & ~neg & (m <= _U32_MAX), m
    value = m / _POW10[np.minimum(k, _MAX_DIGITS)]
    return ok, np.where(neg, -value, value)


def _parse_data(data: str, lineno: int, rngs) -> list[np.ndarray]:
    """``[codes, dlat, dlon, dalt]`` of a data section whose first line
    is line ``lineno``.  The section is encoded once, each non-ASCII
    character as one '?' (which no mask accepts), so byte offsets are
    character offsets; each field is cut as a (width, n) uint8 block
    and converted by ``_decimal_fields``.  A line that is too short, or
    has a field its mask rejects, goes through ``_parse_line`` on the
    original text in line order, so the earliest bad line raises its
    positional error."""
    size = len(data)
    buf = np.frombuffer(data.encode("ascii", "replace") + bytes(max(r[1] for r in rngs if r)),
                        dtype=np.uint8)
    breaks = np.flatnonzero(buf[:size] == 10)
    starts = np.append(0, breaks + 1)
    ends = np.append(breaks, size)
    if starts[-1] == size:      # the empty tail after a final \n
        starts, ends = starts[:-1], ends[:-1]
    ends -= (ends > starts) & (buf[ends - 1] == 13)   # one trailing \r per line
    n = starts.size
    cols, ok = [], np.ones(n, dtype=bool)
    for i, rng in enumerate(rngs):
        if rng is None:
            cols.append(np.zeros(n))
            continue
        start, end = rng
        chars = sliding_window_view(buf, end - start)[starts + start].T
        good, value = _decimal_fields(np.ascontiguousarray(chars), integer=i == 0)
        ok &= good & (ends - starts >= end)
        cols.append(value)
    for i in np.flatnonzero(~ok).tolist():
        row = _parse_line(data[starts[i]:ends[i]], lineno + i, rngs)
        for col, v in zip(cols, row):
            col[i] = v
    return cols


def parse_par(text: str, format: str, description: str | None = None) -> MeshGrid:
    """Deserialize par-formatted text (par.rs:335-481, 641-671).

    Lines split as Rust ``str::lines`` (\\n, tolerating trailing \\r).
    Header lines become the description (joined + trailing newline);
    an explicit ``description`` overrides it
    (``ParParser::parse_with_description`` /
    ``Transformer::from_str_with_description``, par.rs:368-394);
    absent component columns fill 0.0.

    The data section is parsed in bulk (``_parse_data``): fields of
    the form blanks, optional '-', 1-15 digits with at most one '.',
    blanks (meshcodes: digits only) convert column-wise, bit-identical
    to ``float()``/``int()``.  Any other field — an exponent, inf/nan,
    a '+', a tab, a stray \\r, a non-ASCII character — and any short
    line go through the per-line Rust-parity casts, in line order, so
    valid unusual syntax still parses and the earliest bad line raises.
    Later duplicate codes win (the reference's HashMap insert).
    """
    header, *rngs = PAR_LAYOUTS[format]
    lines = text.split("\n", header)
    if len(lines) > header:
        data = lines.pop()
    else:                       # no data section: drop the empty tail
        data = ""
        if lines[-1] == "":
            lines.pop()
    lines = [ln[:-1] if ln.endswith("\r") else ln for ln in lines]
    if len(lines) < header:
        last_len = len(lines[-1]) if lines else 0
        raise ParseParError("Header", len(lines), 0, last_len, None)

    if description is None:
        description = "\n".join(lines) + "\n"
    codes, dlat, dlon, dalt = _parse_data(data, header + 1, rngs)
    # a code's first row in the reversed lines is its last line
    _, first = np.unique(codes[::-1], return_index=True)
    keep = codes.size - 1 - first
    return MeshGrid(codes=codes[keep], dlat_sec=dlat[keep], dlon_sec=dlon[keep],
                    dalt_m=dalt[keep], mesh_unit=FORMAT_MESH_UNIT[format], format=format,
                    description=description)


def load_par(path: str, format: str) -> MeshGrid:
    """``Transformer::from_str`` file-path convenience
    (transformer.rs:395-449).  Driver-side: par files are small
    relative to the cluster (O(10^5..10^6) rows) and the result is
    broadcast, so a distributed parse would only add overhead.

    ``newline=""`` hands ``parse_par`` the raw line ends, so a stray
    ``\\r`` mid-line is not a line break (Rust ``str::lines``)."""
    with open(path, encoding="utf-8", newline="") as f:
        return parse_par(f.read(), format)

