"""Seeded input generators for the benchmark workloads.

Every input is a file the program reads through its public entry points:
ESRI-ASCII hourly grids (RADOLAN shape), a polygon shapefile of basins, and
a single-file parquet document corpus.  Raster values follow a closed form whose parameters come
from the seed, so ``oracle.py`` can recompute every expected output without
reading the generated files.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np

# value(r, c, h) = (r*a + c*b + h*d + off) % vmod        (r = raster row, 0 = top)
# NULL iff (r*p + c*q) % 5 == 0 AND (h + r + c) % 8 == m
@dataclass(frozen=True)
class ValueLaw:
    a: int
    b: int
    d: int
    off: int
    p: int
    q: int
    m: int
    vmod: int

    @classmethod
    def from_rng(cls, rng: np.random.Generator, vmod: int) -> "ValueLaw":
        a, b, d, off = (int(x) for x in rng.integers(1, 997, size=4))
        # p, q prime to 5: a fifth of the cells can be NULL, never all of them
        p, q = (5 * int(rng.integers(0, 199)) + int(rng.integers(1, 5)) for _ in range(2))
        return cls(a, b, d, off, p, q, int(rng.integers(0, 8)), vmod)

    def grid(self, n_rows: int, n_cols: int, h: int, nodata: int) -> np.ndarray:
        r = np.arange(n_rows, dtype=np.int64)[:, None]
        c = np.arange(n_cols, dtype=np.int64)[None, :]
        vals = (r * self.a + c * self.b + h * self.d + self.off) % self.vmod
        nul = ((r * self.p + c * self.q) % 5 == 0) & ((h + r + c) % 8 == self.m)
        return np.where(nul, nodata, vals)


@dataclass(frozen=True)
class Grid:
    """North-up affine grid: cell (r, c) spans x in [ulx + c*xres, ulx +
    (c+1)*xres] and y in [uly - (r+1)*|yres|, uly - r*|yres|]."""

    n_rows: int
    n_cols: int
    ulx: float
    uly: float
    xres: float
    yres: float  # negative


@dataclass
class PrecipInputs:
    mirror: str
    shapefile: str
    start: str
    end: str
    source: str
    grid: Grid
    law: ValueLaw
    # (h of the value law, "yyMMddHHmm" as the CSV sink formats the timestep)
    steps: list[tuple[int, str]]
    # (basin_id, left, bottom, right, top) in grid CRS, basin_id in file order
    rects: list[tuple[int, float, float, float, float]]
    cells_decoded: int = 0
    bytes_in: int = 0


def _fmt_ascii_body(grid: np.ndarray) -> str:
    table = np.array([str(v) for v in range(-1, int(grid.max()) + 1)], dtype=object)
    strs = table[grid + 1]
    return "\n".join(" ".join(row) for row in strs)


def radolan_mirror(root: str, seed: int, n: int, hours: int, n_basins: int) -> PrecipInputs:
    """``hours`` hourly n x n ESRI-ASCII grids (1 km cells, 0.1 mm units,
    nodata -1) plus an ``n_basins`` rectangle shapefile inside the grid."""
    rng = np.random.default_rng([seed, 1])
    law = ValueLaw.from_rng(rng, vmod=120)
    cell = 1000.0
    x0, y0 = -523458.0, -4658645.0
    grid = Grid(n, n, x0, y0 + n * cell, cell, -cell)
    mirror = os.path.join(root, "radolan")
    os.makedirs(mirror)
    header = (
        f"ncols {n}\nnrows {n}\nxllcorner {x0}\nyllcorner {y0}\n"
        f"cellsize {cell}\nnodata_value -1\n"
    )
    size = 0
    for h in range(hours):
        path = os.path.join(mirror, f"radolan_20240101{h:02d}00.asc")
        with open(path, "w") as f:
            f.write(header + _fmt_ascii_body(law.grid(n, n, h, -1)) + "\n")
        size += os.path.getsize(path)
    rects = _scatter_rects(rng, grid, n_basins - 1, min_cells=3.0, max_cells=20.0)
    rects.append(_dirty_cell_rect(rng, grid, law, n_basins))
    shp = os.path.join(root, "basins_radolan.shp")
    write_rect_shapefile(shp, rects)
    return PrecipInputs(
        mirror=mirror,
        shapefile=shp,
        start="2024-01-01 00:00:00",
        end="2024-01-01 23:59:00",
        source="radolan",
        grid=grid,
        law=law,
        steps=[(h, f"240101{h:02d}00") for h in range(hours)],
        rects=rects,
        cells_decoded=n * n * hours,
        bytes_in=size,
    )


def _scatter_rects(
    rng: np.random.Generator, g: Grid, n: int, min_cells: float, max_cells: float
) -> list[tuple[int, float, float, float, float]]:
    """Axis-aligned rectangles whose sizes are fixed (evenly spread over
    [min_cells, max_cells] cells per side, so every seed asks for the same
    work) and whose positions come from the seed.  Edges sit on a 0.1-cell
    lattice offset by 0.05 cells, so no edge coincides with a cell edge, and
    every rectangle stays two cells inside the grid."""
    out = []
    dx, dy = g.xres, -g.yres
    sides = np.linspace(min_cells, max_cells, n)
    for i, w, h in zip(range(n), sides, sides[::-1]):
        w, h = round(w, 1), round(h, 1)
        c0 = round(rng.uniform(2.0, g.n_cols - w - 3.0), 1) + 0.05
        r0 = round(rng.uniform(2.0, g.n_rows - h - 3.0), 1) + 0.05
        left = g.ulx + c0 * dx
        right = g.ulx + (c0 + w) * dx
        top = g.uly - r0 * dy
        bottom = g.uly - (r0 + h) * dy
        out.append((i + 1, left, bottom, right, top))
    return out


def _dirty_cell_rect(
    rng: np.random.Generator, g: Grid, law: ValueLaw, basin_id: int
) -> tuple[int, float, float, float, float]:
    """A 0.9 x 0.9-cell basin inside one cell that is NULL in some hours, so
    every seed has an all-dirty basin: the NULL policy keeps its only
    fragment and its series is NULL in those hours."""
    r = int(rng.integers(2, g.n_rows - 3))
    # (r*p + c*q) % 5 == 0 picks one residue of c mod 5; with 24 hours the
    # (h + r + c) % 8 == m term makes the cell NULL in three of them
    c = next(c for c in range(2, 7) if (r * law.p + c * law.q) % 5 == 0)
    c += 5 * int(rng.integers(0, (g.n_cols - 3 - c) // 5))
    dx, dy = g.xres, -g.yres
    left = g.ulx + (c + 0.05) * dx
    top = g.uly - (r + 0.05) * dy
    return (basin_id, left, top - 0.9 * dy, left + 0.9 * dx, top)


def write_rect_shapefile(path: str, rects: list[tuple[int, float, float, float, float]]) -> None:
    """Minimal ESRI Polygon shapefile (.shp + .dbf): one clockwise ring per
    rectangle and one character attribute ``NAME``."""
    records = []
    for _, l, b, r, t in rects:
        pts = [(l, t), (r, t), (r, b), (l, b), (l, t)]  # clockwise = outer ring
        body = struct.pack("<i4d2i", 5, l, b, r, t, 1, len(pts)) + struct.pack("<i", 0)
        body += b"".join(struct.pack("<2d", x, y) for x, y in pts)
        records.append(body)
    xs = [v for _, l, _, r, _ in rects for v in (l, r)]
    ys = [v for _, _, b, _, t in rects for v in (b, t)]
    content = b"".join(
        struct.pack(">2i", i + 1, len(rec) // 2) + rec for i, rec in enumerate(records)
    )
    header = struct.pack(">7i", 9994, 0, 0, 0, 0, 0, (100 + len(content)) // 2)
    header += struct.pack("<2i4d4d", 1000, 5, min(xs), min(ys), max(xs), max(ys), 0, 0, 0, 0)
    with open(path, "wb") as f:
        f.write(header + content)
    name_len = 12
    dbf_header = struct.pack(
        "<4BIHH20x", 3, 124, 1, 1, len(rects), 32 + 32 + 1, 1 + name_len
    )
    field_desc = (
        b"NAME".ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([name_len, 0]) + b"\x00" * 14
    )
    rows = b"".join(b" " + f"basin{bid}".ljust(name_len).encode("ascii") for bid, *_ in rects)
    with open(path[:-4] + ".dbf", "wb") as f:
        f.write(dbf_header + field_desc + b"\x0d" + rows + b"\x1a")


@dataclass
class CorpusInputs:
    path: str
    n_docs: int
    # (base_doc_id, near_dup_doc_id) planted pairs
    planted: list[tuple[int, int]]
    texts: dict[int, str]


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    s = ""
    i += 26
    while i:
        i, k = divmod(i, 26)
        s = letters[k] + s
    return s


def dedup_corpus(
    root: str,
    seed: int,
    n_docs: int,
    mean_tokens: int,
    vocab: int = 6000,
    zipf_s: float = 1.05,
    dup_share: float = 0.05,
    edits: int = 3,
) -> CorpusInputs:
    """Zipf-vocabulary documents; ``dup_share`` of them are near-duplicates
    of an earlier document with ``edits`` token substitutions.  Written as
    ONE parquet file with one row group (the shape of the repo's document
    fixture)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    words = np.array([_word(i) for i in range(vocab)], dtype=object)
    probs = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    probs /= probs.sum()
    n_dups = int(round(n_docs * dup_share))
    n_base = n_docs - n_dups
    toks: list[np.ndarray] = []
    for _ in range(n_base):
        n = int(rng.integers(mean_tokens - 20, mean_tokens + 21))
        toks.append(rng.choice(vocab, size=n, p=probs))
    planted = []
    ids = list(range(1, n_base + 1))
    for j in range(n_dups):
        src = int(rng.integers(0, n_base))
        t = toks[src].copy()
        pos = rng.choice(len(t), size=edits, replace=False)
        t[pos] = rng.integers(vocab // 2, vocab, size=edits)
        toks.append(t)
        planted.append((src + 1, n_base + j + 1))
        ids.append(n_base + j + 1)
    texts = {i: " ".join(words[t]) for i, t in zip(ids, toks)}
    path = os.path.join(root, "documents.parquet")
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=len(ids))
    return CorpusInputs(path=path, n_docs=len(ids), planted=planted, texts=texts)
