"""Independent expected outputs and the output checks.

The precipitation oracle recomputes every (basin, timestep) value in DuckDB
from the generator's closed-form value law and rectangle list: exact
rectangle-cell intersection areas, the all-dirty-basin NULL policy, area
weights and the weighted mean.  It never reads the generated rasters or the
program's code.  The dedup oracle computes exact k-word-shingle Jaccard
pairs in DuckDB from the generator's in-memory texts.

Every ``check_*`` function returns a list of problems; empty means correct.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from gen import CorpusInputs, PrecipInputs

# The program rounds rainfall to 3 decimals; a different summation order can
# move a value across a rounding boundary, so allow one unit in the last place.
RAIN_TOL = 1.1e-3
JACCARD_TOL = 1.5e-6
MIN_RECALL = 0.9


def precip_expected(inp: PrecipInputs) -> dict[tuple[int, str], float | None]:
    g, law = inp.grid, inp.law
    rects = pd.DataFrame(inp.rects, columns=["basin_id", "bl", "bb", "br", "bt"])
    steps = pd.DataFrame(
        {"h": [h for h, _ in inp.steps], "stamp": [s for _, s in inp.steps]}
    )
    con = duckdb.connect()
    try:
        con.register("rects", rects)
        con.register("steps", steps)
        rows = con.execute(
            f"""
WITH idx AS (
  SELECT *,
    CAST(floor((bl - {g.ulx!r}) / {g.xres!r}) AS BIGINT) AS c0,
    CAST(ceil((br - {g.ulx!r}) / {g.xres!r}) AS BIGINT) - 1 AS c1,
    CAST(floor((bt - {g.uly!r}) / {g.yres!r}) AS BIGINT) AS r0,
    CAST(ceil((bb - {g.uly!r}) / {g.yres!r}) AS BIGINT) - 1 AS r1
  FROM rects
),
by_row AS (SELECT *, unnest(range(r0, r1 + 1)) AS cell_row FROM idx),
cand AS (SELECT *, unnest(range(c0, c1 + 1)) AS cell_col FROM by_row),
geo AS (
  SELECT basin_id, bl, bb, br, bt, cell_row, cell_col,
    {g.ulx!r} + cell_col * {g.xres!r} AS l,
    {g.ulx!r} + (cell_col + 1) * {g.xres!r} AS r,
    {g.uly!r} + cell_row * {g.yres!r} AS t,
    {g.uly!r} + (cell_row + 1) * {g.yres!r} AS b
  FROM cand
  WHERE cell_row BETWEEN 0 AND {g.n_rows - 1} AND cell_col BETWEEN 0 AND {g.n_cols - 1}
),
frags AS (
  SELECT basin_id, cell_row, cell_col,
    greatest(0, least(br, r) - greatest(bl, l)) * greatest(0, least(bt, t) - greatest(bb, b))
      AS frag_area,
    (r - l) * (t - b) AS cell_area
  FROM geo
),
fp AS (SELECT * FROM frags WHERE frag_area > 0),
cellset AS (SELECT DISTINCT cell_row, cell_col FROM fp),
obs AS (
  SELECT cell_row, cell_col, h, stamp,
    CASE WHEN (cell_row * {law.p} + cell_col * {law.q}) % 5 = 0
              AND (h + cell_row + cell_col) % 8 = {law.m}
         THEN NULL
         ELSE CAST((cell_row * {law.a} + cell_col * {law.b} + h * {law.d} + {law.off})
                   % {law.vmod} AS DOUBLE)
    END AS value
  FROM cellset, steps
),
dirty AS (
  SELECT cell_row, cell_col, max(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS is_dirty
  FROM obs GROUP BY cell_row, cell_col
),
fb AS (
  SELECT f.*, d.is_dirty, min(d.is_dirty) OVER (PARTITION BY f.basin_id) AS all_dirty
  FROM fp f JOIN dirty d USING (cell_row, cell_col)
),
wts AS (
  SELECT basin_id, cell_row, cell_col,
    (frag_area / cell_area) / sum(frag_area / cell_area) OVER (PARTITION BY basin_id) AS weight
  FROM fb WHERE is_dirty = 0 OR all_dirty = 1
)
SELECT w.basin_id, o.stamp,
  CASE WHEN sum(CASE WHEN o.value IS NULL THEN 1 ELSE 0 END) > 0 THEN NULL
       ELSE round(sum(w.weight * o.value) / 10.0, 3) END
FROM wts w JOIN obs o USING (cell_row, cell_col)
GROUP BY w.basin_id, o.stamp
"""
        ).fetchall()
    finally:
        con.close()
    return {(int(b), s): v for b, s, v in rows}


def read_basin_csvs(out_dir: str) -> dict[tuple[int, str], float | None]:
    """Parse the per-basin CSV sink: three header lines, then
    ``yyMMddHHmm,rainfall`` rows with an empty field for NULL."""
    got: dict[tuple[int, str], float | None] = {}
    for name in sorted(os.listdir(out_dir)):
        if not (name.startswith("basin_") and name.endswith(".csv")):
            continue
        with open(os.path.join(out_dir, name)) as f:
            lines = f.read().splitlines()
        bid = int(lines[0].split(",", 1)[1])
        for line in lines[3:]:
            stamp, val = line.split(",", 1)
            got[(bid, stamp)] = float(val) if val else None
    return got


def check_precip(
    expected: dict[tuple[int, str], float | None],
    got: dict[tuple[int, str], float | None],
    wide_shape: tuple[int, int, set[str]] | None,
    inp: PrecipInputs,
) -> list[str]:
    problems = []
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} expected rows missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected rows, e.g. {sorted(extra)[:3]}")
    bad = [
        (k, expected[k], got[k])
        for k in expected.keys() & got.keys()
        if (expected[k] is None) != (got[k] is None)
        or (expected[k] is not None and abs(expected[k] - got[k]) > RAIN_TOL)
    ]
    if bad:
        problems.append(f"{len(bad)} rainfall values differ, e.g. {sorted(bad)[:3]}")
    if wide_shape is not None:
        n_rows, n_cols, ts_cols = wide_shape
        n_basins = len(inp.rects)
        stamps = {s for _, s in inp.steps}
        # basin_id, NAME (the shapefile attribute), geom, area + one column per step
        if (n_rows, n_cols) != (n_basins, 4 + len(stamps)) or ts_cols != stamps:
            problems.append(
                f"wide sink is {n_rows}x{n_cols}, expected {n_basins}x{4 + len(stamps)}"
            )
    return problems


def read_wide_shape(path: str) -> tuple[int, int, set[str]]:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    return table.num_rows, table.num_columns, {c for c in table.column_names if c.isdigit()}


def digest(rows) -> str:
    """Order-independent digest of a collection of tuples."""
    h = hashlib.sha256()
    for row in sorted(repr(tuple(r)) for r in rows):
        h.update(row.encode())
    return h.hexdigest()[:16]


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + k]) for i in range(max(len(toks) - k, 0) + 1)} - {""}


def exact_jaccard_pairs(inp: CorpusInputs, threshold: float) -> dict[tuple[int, int], float]:
    sh = pd.DataFrame(
        [(d, s) for d, text in inp.texts.items() for s in shingles(text)],
        columns=["doc_id", "shingle"],
    )
    con = duckdb.connect()
    try:
        con.register("sh", sh)
        rows = con.execute(
            f"""
WITH n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(nc / (na.n_sh + nb.n_sh - nc), 6) AS j
FROM common
JOIN n na ON na.doc_id = id_a
JOIN n nb ON nb.doc_id = id_b
WHERE round(nc / (na.n_sh + nb.n_sh - nc), 6) >= {threshold!r}
"""
        ).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)): float(j) for a, b, j in rows}


def check_dedup(
    expected: dict[tuple[int, int], float],
    planted: list[tuple[int, int]],
    got: dict[str, list[tuple]],
) -> list[str]:
    """``got`` maps operator name to its collected rows (id_a, id_b, score)."""
    problems = []
    ngram = {(a, b): j for a, b, j in got["ngram_jaccard_pairs"]}
    if ngram.keys() != expected.keys():
        problems.append(
            f"ngram_jaccard_pairs: {len(expected.keys() - ngram.keys())} pairs missing, "
            f"{len(ngram.keys() - expected.keys())} extra"
        )
    off = [k for k in ngram.keys() & expected.keys() if abs(ngram[k] - expected[k]) > JACCARD_TOL]
    if off:
        problems.append(f"ngram_jaccard_pairs: {len(off)} Jaccard values differ, e.g. {off[:3]}")
    if sorted(got["jaccard_prefix_pairs"]) != sorted(got["ngram_jaccard_pairs"]):
        problems.append("jaccard_prefix_pairs differs from ngram_jaccard_pairs")
    for op in ("minhash_lsh_pairs", "winnow_pairs"):
        found = {(a, b) for a, b, _ in got[op]}
        recall = sum(p in found for p in planted) / len(planted)
        if recall < MIN_RECALL:
            problems.append(f"{op}: planted-pair recall {recall:.3f} < {MIN_RECALL}")
    return problems
