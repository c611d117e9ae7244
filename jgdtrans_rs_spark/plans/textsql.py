"""Dual-dialect SQL builders for the training-data pipeline operators.

Each builder emits the *same logical expression* in the Spark SQL and
DuckDB dialects (list-function names differ), so the engine query and
the DuckDB oracle compute identical values from identical inputs —
parity by construction.

Design rules for hash-stable outputs:
* prefer integer arithmetic (token ids, counts, parities, band keys);
* double outputs only as a single division of two exact integers;
* no engine-specific hash functions except md5 (hex string, identical
  in both engines).
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"


def toks(t: str, d: str) -> str:
    """Whitespace tokens, empties dropped."""
    if d == SPARK:
        return f"filter(split({t}, ' '), x -> x != '')"
    return f"list_filter(string_split({t}, ' '), x -> x != '')"


def size(l: str, d: str) -> str:
    return f"size({l})" if d == SPARK else f"len({l})"


def idx(l: str, i: str, d: str) -> str:
    """1-based element access."""
    return f"element_at({l}, {i})" if d == SPARK else f"list_extract({l}, {i})"


def transform(l: str, lam: str, d: str) -> str:
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({l}, {lam})"


def list_filter(l: str, lam: str, d: str) -> str:
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({l}, {lam})"


def list_min(l: str, d: str) -> str:
    return f"array_min({l})" if d == SPARK else f"list_min({l})"


def list_sum_int(l: str, d: str) -> str:
    """Order-independent integer sum of a BIGINT list; 0 for an empty
    list in BOTH dialects (DuckDB's bare list_sum([]) is NULL while
    Spark's aggregate seed makes it 0 — the COALESCE keeps the parity
    promise for callers without a size guard)."""
    if d == SPARK:
        return f"aggregate({l}, 0L, (acc, x) -> acc + x)"
    return f"CAST(COALESCE(list_sum({l}), 0) AS BIGINT)"


def range_list(a: str, b_exclusive: str, d: str) -> str:
    """[a, b) as a list; empty when b <= a."""
    if d == SPARK:
        return (
            f"CASE WHEN {b_exclusive} > {a} "
            f"THEN sequence({a}, {b_exclusive} - 1) ELSE array() END"
        )
    return f"range({a}, CASE WHEN {b_exclusive} > {a} THEN {b_exclusive} ELSE {a} END)"


def distinct(l: str, d: str) -> str:
    """Distinct elements — SET parity only, NOT order parity: DuckDB's
    list_distinct reorders (and drops NULLs) while Spark's
    array_distinct keeps first-occurrence order.  Callers must reduce
    the result order-insensitively (size / min / explode+aggregate —
    all current uses); never emit or index the distinct list
    directly in a hash-compared output."""
    return f"array_distinct({l})" if d == SPARK else f"list_distinct({l})"


# ---------------------------------------------------------------------------
# Token ids and shingles (portable integer hashing: character codes +
# length — no engine hash functions)
# ---------------------------------------------------------------------------

def tid_lambda(d: str) -> str:
    """token -> deterministic BIGINT id:
    ascii(first)*10000 + ascii(last)*37 + length."""
    return (
        "x -> CAST(ascii(substring(x, 1, 1)) * 10000 "
        "+ ascii(substring(x, length(x), 1)) * 37 + length(x) AS BIGINT)"
    )


def tok_ids(t: str, d: str) -> str:
    return transform(toks(t, d), tid_lambda(d), d)


def shingle_ints(tids: str, d: str) -> str:
    """3-gram shingle ints from a token-id list:
    s_i = tid_i*1000003 + tid_{i+1}*1009 + tid_{i+2}."""
    n = size(tids, d)
    rng = range_list("1", f"{n} - 1", d)
    lam = (
        f"i -> {idx(tids, 'i', d)} * 1000003 "
        f"+ {idx(tids, 'i + 1', d)} * 1009 + {idx(tids, 'i + 2', d)}"
    )
    return transform(rng, lam, d)


# MinHash parameters: 12 hashes -> 3 bands of 4 (shared literals).
MINHASH_P = 2147483647
MINHASH_AB = [
    (1103, 12289), (12007, 24593), (32003, 49157), (69493, 98317),
    (20011, 196613), (40009, 393241), (80021, 786433), (160001, 1572869),
    (320009, 3145739), (640007, 6291469), (1280023, 12582917), (2560021, 25165843),
]
BAND_SIZE = 4


def minhash_exprs(sints: str, d: str) -> list[str]:
    """MIN over shingles of (a*s + b) % p, one per hash function;
    -1 for shingle-less docs.

    The shingle is reduced mod p BEFORE the multiply: identical
    values ((a*s+b) % p == (a*(s%p)+b) % p) but a*s overflows BIGINT
    for non-ASCII tokens — ascii() returns the full codepoint, a CJK
    first/last char gives s ~ 4e14 and a*s ~ 1e21 >> 2^63, which
    ANSI-aborts Spark and errors DuckDB (round-5 review); a*(s%p)
    peaks at ~3.4e14."""
    out = []
    for a, b in MINHASH_AB:
        h = transform(sints, f"s -> ({a} * (s % {MINHASH_P}) + {b}) % {MINHASH_P}", d)
        out.append(f"COALESCE({list_min(h, d)}, -1)")
    return out


# 60 bits = 4 bands x 15 bits: the band join's bucket count is
# 2^band_bits, and candidate volume grows O(n^2 / 2^band_bits) — with
# the old 32-bit/8-bit-band geometry the 256 buckets per band produced
# 489M candidate pairs at just 67k docs (measured, round-5 big-SF
# tier), a hard scale wall long before 100 TB.  15-bit bands give 32k
# buckets (128x fewer collisions); 60 bits still fits BIGINT with
# headroom and the tau<=3 4-band pigeonhole guarantee is unchanged.
# (16-bit fingerprints birthday-collide at ~300 docs; 32-bit at ~80k.)
SIMHASH_BITS = 60


def simhash_expr(tids: str, d: str) -> str:
    """SIMHASH_BITS-bit simhash over token ids: bit j set iff the signed
    sum over tokens of h_j(tid) is positive, where h_j is the HIGH bit of
    the multiplicative hash (tid * A_j) mod 2^16 — Knuth multiplicative
    hashing.  (The low bit would factor through parity(tid) and make
    every bit identical — degenerate.)"""
    terms = []
    for j in range(SIMHASH_BITS):
        a_j = 2654435761 % (10_000_019 + j * 64 + 1)
        if a_j % 2 == 0:
            a_j += 1  # odd multiplier -> bijection on Z_2^16
        s = list_sum_int(
            transform(
                tids,
                f"x -> (CASE WHEN ((x * {a_j}) % 65536) >= 32768 THEN 1 ELSE -1 END)",
                d,
            ),
            d,
        )
        terms.append(f"(CASE WHEN {s} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def join_str(l: str, d: str) -> str:
    """Join a string list with single spaces."""
    if d == SPARK:
        return f"array_join({l}, ' ')"
    return f"array_to_string({l}, ' ')"


def slice_list(l: str, start: str, length: str, d: str) -> str:
    """length-bounded sublist from 1-based start (dialects differ:
    Spark slice(l, start, len); DuckDB list_slice(l, begin, end)
    inclusive)."""
    if d == SPARK:
        return f"slice({l}, {start}, {length})"
    return f"list_slice({l}, {start}, ({start}) + ({length}) - 1)"
