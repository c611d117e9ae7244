"""Seeded input generator for the benchmark.

Everything the program under test reads is written here from a seed:
par text in the TKY2JGD (1 km) and SemiDynaEXE (5 km) layouts, point
sets, a pages parquet in the input_hint schema and polygon sets.  The
generator also keeps, in a separate ``labels.npz``, what it knows about
each row (the expected transform status class, the expected body text),
so the benchmark can check outputs without asking the program.

Mesh arithmetic here is done in an integer node-index space (one index
per mesh step along each axis), independently of ``jgdtrans_rs_spark.mesh``:
node (I, J) has latitude ``I * 2/3 / STEPS`` and longitude
``100 + J / STEPS`` degrees, where STEPS is 80 (1 km) or 16 (5 km)
per first-level square.
"""

from __future__ import annotations

import json
import os

import numpy as np

# per workload family: (par format, nodes per first-level square per
# axis, first-level squares, correction amplitude in arc-seconds,
# altitude amplitude in metres)
GRIDS = {
    "1km": ("TKY2JGD", 80, 60, 10.0, 0.0),
    "5km": ("SemiDynaEXE", 16, 80, 0.1, 0.05),
}
HEADER_LINES = {"TKY2JGD": 2, "SemiDynaEXE": 16}

# the candidate block of first-level squares (lat first digit, lon
# first digit): roughly Honshu/Kyushu; squares are drawn from it
SQUARE_LAT = (45, 57)
SQUARE_LON = (28, 42)

HOLE_FRACTION = 0.002   # nodes dropped inside covered squares (gaps)
LABEL_OK, LABEL_OOB, LABEL_MISSING = 0, 1, 2

_WORDS = ["tokyo", "osaka", "kyoto", "mesh", "grid", "geodetic", "datum",
          "transform", "crawl", "page", "shrine", "station", "river", "park",
          "東京", "大阪", "測地", "神社", "駅", "川"]


class Grid:
    """The generator's own view of a grid: node presence over the
    candidate block and the correction value of every node."""

    def __init__(self, kind: str, rng: np.random.Generator):
        fmt, steps, n_squares, amp, alt_amp = GRIDS[kind]
        self.kind, self.format, self.steps = kind, fmt, steps
        self.unit = 1 if steps == 80 else 5
        la0, la1 = SQUARE_LAT
        lo0, lo1 = SQUARE_LON
        cand = [(a, b) for a in range(la0, la1) for b in range(lo0, lo1)]
        pick = rng.choice(len(cand), size=n_squares, replace=False)
        self.squares = sorted(cand[i] for i in pick)
        # node-index origin of the block, plus one spare row/col so
        # every cell of the block has its NE corner inside the array
        self.i0, self.j0 = la0 * steps, lo0 * steps
        shape = ((la1 - la0) * steps + 1, (lo1 - lo0) * steps + 1)
        present = np.zeros(shape, dtype=bool)
        for a, b in self.squares:
            ia, jb = (a - la0) * steps, (b - lo0) * steps
            present[ia:ia + steps, jb:jb + steps] = True
        holes = rng.random(shape) < HOLE_FRACTION
        self.present = present & ~holes
        # smooth field: long-wavelength waves with seeded phases (real
        # national grids vary by ~1 arc-second per degree; a rougher
        # field leaves the reference Newton inverse unconverged)
        ii, jj = np.nonzero(self.present)
        lat = (ii + self.i0) * (2.0 / 3.0) / steps
        lon = 100.0 + (jj + self.j0) / steps
        ph = rng.uniform(0.0, 2.0 * np.pi, size=9)

        def field(k):
            return (0.6 * np.sin(2 * np.pi * lat / 23.0 + ph[3 * k])
                    + 0.4 * np.cos(2 * np.pi * lon / 31.0 + ph[3 * k + 1])
                    + 0.2 * np.sin(2 * np.pi * (lat + lon) / 17.0 + ph[3 * k + 2]))

        self.node_i = ii + self.i0
        self.node_j = jj + self.j0
        self.dlat = np.round(amp * field(0), 5)
        self.dlon = np.round(amp * field(1), 5)
        self.dalt = np.round(alt_amp * field(2), 5)

    def codes(self, i: np.ndarray, j: np.ndarray) -> np.ndarray:
        """Meshcodes of node indices (the JGD 8-digit layout)."""
        s = self.steps
        if s == 80:
            f1, s1, t1 = i // 80, (i % 80) // 10, i % 10
            f2, s2, t2 = j // 80, (j % 80) // 10, j % 10
        else:
            f1, s1, t1 = i // 16, (i % 16) // 2, (i % 2) * 5
            f2, s2, t2 = j // 16, (j % 16) // 2, (j % 2) * 5
        return (f1 * 100 + f2) * 10_000 + (s1 * 10 + s2) * 100 + (t1 * 10 + t2)

    def par_text(self) -> str:
        """Par text in the grid's fixed-width layout, meshcode-sorted."""
        codes = self.codes(self.node_i, self.node_j)
        order = np.argsort(codes, kind="stable")
        header = "\n".join(f"benchmark {self.format} grid, header line {k}"
                           for k in range(HEADER_LINES[self.format]))
        if self.format == "TKY2JGD":
            rows = [f"{c:8d} {a:9.5f} {b:9.5f}" for c, a, b in
                    zip(codes[order].tolist(), self.dlat[order].tolist(),
                        self.dlon[order].tolist())]
        else:
            rows = [f"{c:8d} {a:9.5f} {b:9.5f} {h:9.5f}" for c, a, b, h in
                    zip(codes[order].tolist(), self.dlat[order].tolist(),
                        self.dlon[order].tolist(), self.dalt[order].tolist())]
        return header + "\n" + "\n".join(rows) + "\n"

    def _shifted_all(self, di: range, dj: range) -> np.ndarray:
        """cell (i, j) -> every node (i+a, j+b), a in di, b in dj, present."""
        p = np.pad(self.present, 2, constant_values=False)
        h, w = self.present.shape
        out = np.ones((h, w), dtype=bool)
        for a in di:
            for b in dj:
                out &= p[2 + a:2 + a + h, 2 + b:2 + b + w]
        return out

    def cell_classes(self):
        """(safe cells, missing-corner cells) as (i, j) index arrays.

        A safe cell has the whole 4x4 node block around it, so a point
        inside it stays in fully parameterised cells after any move of
        the correction's size (forward, Newton iterates, round trips).
        A missing-corner cell lacks 1-3 of its own four corners."""
        safe = self._shifted_all(range(-1, 3), range(-1, 3))
        corners = sum(self._shifted_all(range(a, a + 1), range(b, b + 1)).astype(int)
                      for a in (0, 1) for b in (0, 1))
        missing = (corners >= 1) & (corners <= 3)
        si, sj = np.nonzero(safe)
        mi, mj = np.nonzero(missing)
        return (si + self.i0, sj + self.j0), (mi + self.i0, mj + self.j0)

    def point_in_cells(self, rng, ci, cj, idx):
        """A point strictly inside each chosen cell (never within 2% of
        a cell edge, so the containing cell is unambiguous)."""
        fy = rng.uniform(0.02, 0.98, size=idx.size)
        fx = rng.uniform(0.02, 0.98, size=idx.size)
        lat = (ci[idx] + fy) * (2.0 / 3.0) / self.steps
        lon = 100.0 + (cj[idx] + fx) / self.steps
        return lat, lon


def points(grid: Grid, rng, n: int, oob=0.05, missing=0.05, zipf: float | None = None):
    """n points with generator labels.  ``zipf=None`` scatters the OK
    points uniformly over safe cells; a Zipf exponent instead draws
    cells by rank from a shuffled hot list (the pages workload)."""
    (si, sj), (mi, mj) = grid.cell_classes()
    n_oob, n_mis = int(n * oob), int(n * missing)
    n_ok = n - n_oob - n_mis
    if zipf is None:
        ok_idx = rng.integers(0, si.size, size=n_ok)
    else:
        hot = rng.permutation(si.size)[:4096]
        w = 1.0 / np.arange(1, hot.size + 1) ** zipf
        ok_idx = hot[rng.choice(hot.size, size=n_ok, p=w / w.sum())]
    la_ok, lo_ok = grid.point_in_cells(rng, si, sj, ok_idx)
    la_m, lo_m = grid.point_in_cells(rng, mi, mj, rng.integers(0, mi.size, size=n_mis))
    # out of the mesh domain: west of 100E
    la_o = rng.uniform(30.0, 40.0, size=n_oob)
    lo_o = rng.uniform(95.0, 99.5, size=n_oob)
    lat = np.concatenate([la_ok, la_m, la_o])
    lon = np.concatenate([lo_ok, lo_m, lo_o])
    label = np.concatenate([np.full(n_ok, LABEL_OK), np.full(n_mis, LABEL_MISSING),
                            np.full(n_oob, LABEL_OOB)]).astype(np.int8)
    perm = rng.permutation(n)
    alt = np.round(rng.uniform(0.0, 100.0, size=n), 3)
    return lat[perm], lon[perm], alt, label[perm]


def polygons(grid: Grid, rng, n: int, centres=None, radius=0.15):
    """n star-shaped octagons over covered squares (or around the given
    (lat, lon) centres), as (poly_id, [(lat, lon), ...]) rings.  Vertex
    count and size vary little, so the join work does not swing from
    seed to seed."""
    out = []
    for k in range(n):
        if centres is not None and k < len(centres):
            clat, clon = centres[k]
        else:
            a, b = grid.squares[rng.integers(len(grid.squares))]
            clat = (a + rng.uniform(0.2, 0.8)) * (2.0 / 3.0)
            clon = 100.0 + b + rng.uniform(0.2, 0.8)
        m = 8
        ang = (np.arange(m) + rng.uniform(-0.3, 0.3, size=m)) * (2 * np.pi / m)
        r = radius * rng.uniform(0.8, 1.2, size=m)
        ring = [(round(float(clat + ri * np.sin(t) * (2.0 / 3.0)), 6),
                 round(float(clon + ri * np.cos(t)), 6)) for ri, t in zip(r, ang)]
        out.append((f"poly{k:03d}", ring))
    return out


def _write_points(path: str, lat, lon, alt) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"pkey": np.arange(lat.size, dtype=np.int64),
                  "lat": lat, "lon": lon, "alt": alt})
    pq.write_table(t, path, row_group_size=1 << 17)


def _write_pages(path: str, rng, lat, lon, label) -> list[str]:
    """Pages parquet (url, warc_ts, html, text, lang); returns the
    expected body text per row.  Rows labelled OOB become pages with no
    usable geotag: half carry no geo tag, half a malformed one."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = lat.size
    words = np.array(_WORDS)
    lens = rng.integers(6, 20, size=n)
    toks = words[rng.integers(0, words.size, size=int(lens.sum()))].tolist()
    texts, htmls, pos = [], [], 0
    bad = rng.random(n) < 0.5
    for k in range(n):
        text = " ".join(toks[pos:pos + lens[k]])
        pos += lens[k]
        if label[k] != LABEL_OOB:
            meta = f'<meta name="geo.position" content="{lat[k]!r};{lon[k]!r}">'
        elif bad[k]:
            meta = '<meta name="geo.position" content="n/a;unknown">'
        else:
            meta = '<meta name="description" content="no geotag">'
        texts.append(text)
        htmls.append(f"<html><head>{meta}</head><body>{text}</body></html>".encode())
    t0 = datetime.datetime(2024, 1, 1)
    secs = np.sort(rng.integers(0, 86_400 * 30, size=n))
    t = pa.table({
        "url": [f"https://example.jp/{k:09d}" for k in range(n)],
        "warc_ts": pa.array([t0 + datetime.timedelta(seconds=int(s)) for s in secs],
                            type=pa.timestamp("us")),
        "html": pa.array(htmls, type=pa.binary()),
        "text": texts,
        "lang": np.array(["ja", "en", "ja", "ja", "es"])[rng.integers(0, 5, size=n)].tolist(),
    })
    pq.write_table(t, path, row_group_size=1 << 16)
    return texts


# workload -> (grid, n points, n polygons, pages?).  The row counts are
# far below national scale on purpose: every run (three set-ups plus
# the loop and its checks) has to finish in about a minute on 4 CPUs.
SPECS = {
    "transform_national": ("1km", 250_000, 47, False),
    "pages_pipeline": ("5km", 12_000, 8, True),
}


def generate(workload: str, seed: int, root: str) -> str:
    """Write the workload's inputs for ``seed`` under ``root`` (once:
    a directory holding ``done.json`` is reused) and return its path."""
    out = os.path.join(root, f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, "done.json")):
        return out
    os.makedirs(out, exist_ok=True)
    kind, n, n_poly, pages = SPECS[workload]
    rng = np.random.default_rng([seed, list(SPECS).index(workload)])
    grid = Grid(kind, rng)
    with open(os.path.join(out, "grid.par"), "w", encoding="utf-8") as f:
        f.write(grid.par_text())
    if pages:
        lat, lon, alt, label = points(grid, rng, n, oob=0.05, missing=0.0, zipf=1.1)
        _write_pages(os.path.join(out, "pages.parquet"), rng, lat, lon, label)
        # polygons centred on the hottest geotagged cells, so the
        # salted join meets the skew it is built for
        ok = label == LABEL_OK
        cell = (np.floor(lat[ok] * 1.5 * grid.steps) * 100_000
                + np.floor((lon[ok] - 100.0) * grid.steps))
        cells, first_row, counts = np.unique(cell, return_index=True, return_counts=True)
        top = first_row[np.argsort(-counts, kind="stable")[:n_poly // 2]]
        first = [(float(lat[ok][t]), float(lon[ok][t])) for t in top]
        polys = polygons(grid, rng, n_poly, centres=first, radius=0.07)
    else:
        lat, lon, alt, label = points(grid, rng, n)
        _write_points(os.path.join(out, "points.parquet"), lat, lon, alt)
        polys = polygons(grid, rng, n_poly)
    np.savez(os.path.join(out, "labels.npz"), lat=lat, lon=lon, alt=alt, label=label)
    with open(os.path.join(out, "polygons.json"), "w", encoding="utf-8") as f:
        json.dump(polys, f)
    with open(os.path.join(out, "done.json"), "w", encoding="utf-8") as f:
        json.dump({"workload": workload, "seed": seed, "format": grid.format,
                   "nodes": int(grid.node_i.size), "rows": n}, f)
    return out
