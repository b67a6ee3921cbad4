"""Seeded input generator: a raster-like H3 field over the Okavango delta.

Everything here is a pure function of the seed, so the same seed gives
the same inputs (``test_gen.py`` checks this). The program under test
only ever receives the frames and cell lists built here.

Layout
------
* Nine area-of-interest boxes (3 rows x 3 columns, 0.45 degrees wide,
  0.4 degrees apart, jittered per seed) tile the delta, the area the
  reference library's own example uses. Each box is polyfilled at
  ``TILE_RES`` (5) with the package's ``geo.geometry_to_cells``; the
  gaps keep the covers disjoint, so a traversal of one box never
  visits a tile of another.
* ``DATA_TILES`` of each cover's 14-17 tiles carry data, so every box
  is larger than the data under it; ``VALID_TILES`` of them have
  ``is_valid = 1``. Fixed counts, not shares, keep the work per
  traversal and per ingest batch the same for every seed.
* A tile's data are its res-8 descendants: ``BLOCK_CONST`` of its 7
  res-6 blocks hold one constant value (they compact to one res-6 row),
  ``SUB_CONST`` of the 35 res-7 sub-blocks of the other blocks are
  constant (one res-7 row), and the other 175 cells hold per-cell
  values with ``HOLES`` of them missing. Counts, not shares: every
  tile has the same number of rows in every table, so the stored size
  and the work per row do not vary with the seed.
* ``TILE_RES`` is the traversal resolution the reference defaults give
  for the target resolution 8: the coarsest base resolution r with
  7^(8-r) <= 500 cells per fetch.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

import h3bits

TARGET_RES = 8
TILE_RES = 5
#: the resolutions the queries and traversals use; every further base
#: resolution adds a pyramid table and its Spark jobs to each insert
BASE_RESOLUTIONS = list(range(TILE_RES, TARGET_RES + 1))
TABLESET = "okavango"

# area-of-interest grid (degrees)
AOI_ORIGIN = (21.3, -20.5)  # lng, lat of the south-west corner
AOI_SIZE = 0.45
AOI_GAP = 0.4
AOI_COLS, AOI_ROWS = 3, 3
AOI_JITTER = 0.04

DATA_TILES = 5
VALID_TILES = 4
BLOCK_CONST = 2  # of 7 res-6 blocks per tile (29 %)
SUB_CONST = 10  # of the 35 res-7 sub-blocks outside them (29 %)
HOLES = 18  # of the 175 res-8 cells outside both (10 %)
#: value classes. The compaction groups rows by their values, and its
#: cost grows with the number of distinct value combinations per
#: group (one pandas sub-frame each), so a classified raster is used
#: rather than continuous floats: 16 x 3 x 2 combinations at most.
DENSITY_LEVELS = 16
DENSITY_STEP = 2.5
PEAK_STEPS = (0.0, 5.0, 10.0)

# ingest batches: the fresh insert takes FRESH_TILES data tiles, each
# append NEW_TILES new tiles plus RESEND_TILES already stored ones
FRESH_TILES = 15
NUM_APPENDS = 3
NEW_TILES = 8
RESEND_TILES = 6

# query mix
QUERY_RES = ((8, 0.5), (7, 0.25), (6, 0.25))
#: cell-count ranges straddling the package's IN-literal switches
#: (query.MAX_INLIST_CELLS = 256, store.MAX_INLIST_CELLS = 4096)
QUERY_SIZES = (((1, 64), 0.45), ((200, 320), 0.35), ((3500, 4700), 0.2))
TEMPLATE_SHARE = 0.25
ZIPF_S = 1.1

COLUMNS = ["h3index", "is_valid", "density", "peak"]
SPARK_DDL = "h3index long, is_valid short, density float, peak float"
#: Q2/Q3 template: keep valid rows only (P3 placeholders)
TEMPLATE_VALID = (
    "SELECT h3index, is_valid, density, peak FROM <[table]> "
    "WHERE h3index IN <[h3indexes]> AND is_valid = 1"
)
#: traversal prefilter: keep tiles holding any row
TEMPLATE_PRESENT = "SELECT h3index FROM <[table]> WHERE h3index IN <[h3indexes]>"


def build_schema():
    from ukis_h3cellstore_spark import CompactedTableSchemaBuilder

    return (
        CompactedTableSchemaBuilder(TABLESET)
        .h3_base_resolutions(BASE_RESOLUTIONS)
        .add_h3index_column()
        .add_column("is_valid", "UInt8")
        .add_aggregated_column("density", "Float32", "RelativeToCellArea")
        .add_aggregated_column("peak", "Float32", "Max")
        .build()
    )


@dataclass(frozen=True)
class Aoi:
    polygon: dict  # GeoJSON Polygon
    cover: np.ndarray  # res-5 tiles of the polyfill, sorted
    data_tiles: np.ndarray  # sorted subset of cover holding rows
    valid_tiles: np.ndarray  # sorted subset of data_tiles with is_valid = 1


@dataclass(frozen=True)
class Field:
    aois: list[Aoi]
    tiles: np.ndarray  # every data tile, sorted
    rows: pd.DataFrame  # all rows, sorted by h3index

    def rows_of_tiles(self, tiles: np.ndarray) -> pd.DataFrame:
        tile = h3bits.parent(self.rows["h3index"].to_numpy(), TILE_RES)
        return self.rows[np.isin(tile, tiles)]


@dataclass(frozen=True)
class Query:
    cells: list[int]
    resolution: int
    template: str | None


def box(lng0: float, lat0: float, size: float) -> dict:
    ring = [
        (lng0, lat0),
        (lng0 + size, lat0),
        (lng0 + size, lat0 + size),
        (lng0, lat0 + size),
        (lng0, lat0),
    ]
    return {"type": "Polygon", "coordinates": [ring]}


def make_aois(rng: np.random.Generator) -> list[tuple[dict, np.ndarray]]:
    from ukis_h3cellstore_spark import geo

    out = []
    step = AOI_SIZE + AOI_GAP
    for row in range(AOI_ROWS):
        for col in range(AOI_COLS):
            dx, dy = rng.uniform(-AOI_JITTER, AOI_JITTER, 2)
            poly = box(
                AOI_ORIGIN[0] + col * step + dx,
                AOI_ORIGIN[1] + row * step + dy,
                AOI_SIZE,
            )
            cover = np.array(
                sorted(geo.geometry_to_cells(poly, TILE_RES)), dtype=np.int64
            )
            out.append((poly, cover))
    allc = np.concatenate([c for _, c in out])
    if len(np.unique(allc)) != len(allc):
        raise RuntimeError("area-of-interest covers overlap; widen AOI_GAP")
    if any(b in h3bits.PENTAGON_BASE_CELLS for b in set(h3bits.base_cell(allc).tolist())):
        raise RuntimeError("area of interest touches a pentagon base cell")
    return out


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    """(density, peak) pairs of a classified raster: DENSITY_LEVELS
    density classes, peak = density + one of PEAK_STEPS."""
    density = 1.0 + DENSITY_STEP * rng.integers(0, DENSITY_LEVELS, n)
    peak = density + np.asarray(PEAK_STEPS)[rng.integers(0, len(PEAK_STEPS), n)]
    return np.stack([density, peak], axis=1).astype(np.float32)


def _exactly(rng: np.random.Generator, eligible: np.ndarray, k: int) -> np.ndarray:
    """Mask of ``k`` entries drawn from the ``eligible`` ones."""
    out = np.zeros(len(eligible), dtype=bool)
    out[rng.choice(np.flatnonzero(eligible), k, replace=False)] = True
    return out


def tile_rows(rng: np.random.Generator, tile: int, valid: bool) -> pd.DataFrame:
    """Res-8 rows of one res-5 tile (see module docstring)."""
    cells = h3bits.children(np.array([tile], dtype=np.int64), TARGET_RES)  # 343
    n = len(cells)
    cell_vals = _values(rng, n)
    sub_vals = _values(rng, n // 7)
    block_vals = _values(rng, n // 49)
    idx = np.arange(n)
    block, sub = idx // 49, idx // 7
    block_const = _exactly(rng, np.ones(n // 49, dtype=bool), BLOCK_CONST)
    sub_const = _exactly(rng, ~block_const[np.arange(n // 7) // 7], SUB_CONST)
    hole = _exactly(rng, ~(block_const[block] | sub_const[sub]), HOLES)
    vals = np.where(
        block_const[block][:, None],
        block_vals[block],
        np.where(sub_const[sub][:, None], sub_vals[sub], cell_vals),
    )
    keep = block_const[block] | sub_const[sub] | ~hole
    return pd.DataFrame(
        {
            "h3index": cells[keep],
            "is_valid": np.full(int(keep.sum()), int(valid), dtype=np.int16),
            "density": vals[keep, 0],
            "peak": vals[keep, 1],
        }
    )


def make_field(seed: int) -> Field:
    rng = np.random.default_rng([seed, 1])
    aois = []
    frames = []
    for poly, cover in make_aois(rng):
        if len(cover) < 2 * DATA_TILES - 2:
            raise RuntimeError(f"AOI cover of {len(cover)} tiles is too small")
        data = np.sort(rng.choice(cover, DATA_TILES, replace=False))
        valid_mask = np.zeros(DATA_TILES, dtype=bool)
        valid_mask[rng.choice(DATA_TILES, VALID_TILES, replace=False)] = True
        for tile, valid in zip(data.tolist(), valid_mask.tolist()):
            frames.append(tile_rows(rng, tile, valid))
        aois.append(Aoi(poly, cover, data, data[valid_mask]))
    rows = pd.concat(frames, ignore_index=True)
    rows = rows.sort_values("h3index", ignore_index=True)
    tiles = np.sort(np.concatenate([a.data_tiles for a in aois]))
    return Field(aois, tiles, rows)


def ingest_batches(field: Field, seed: int) -> list[pd.DataFrame]:
    """Fresh insert + NUM_APPENDS appends, each batch in shuffled row
    order. Appends re-send whole stored tiles, so their res-5..8 rows
    are exact duplicates the store must merge away."""
    rng = np.random.default_rng([seed, 2])
    order = rng.permutation(field.tiles)
    batches = [order[:FRESH_TILES]]
    pos = FRESH_TILES
    for _ in range(NUM_APPENDS):
        new = order[pos : pos + NEW_TILES]
        resend = rng.choice(order[:pos], RESEND_TILES, replace=False)
        pos += NEW_TILES
        batches.append(np.concatenate([new, resend]))
    out = []
    for tiles in batches:
        rows = field.rows_of_tiles(tiles)
        out.append(rows.iloc[rng.permutation(len(rows))].reset_index(drop=True))
    return out


def _pick(rng: np.random.Generator, options) -> object:
    probs = np.array([p for _, p in options])
    return options[rng.choice(len(options), p=probs / probs.sum())][0]


def queries(field: Field, seed: int):
    """Endless Q2 query stream. Each query starts at a Zipf-ranked tile
    of all AOI covers (half of which hold no data) and takes cells at
    the requested resolution from it and the next tiles in rank order."""
    rng = np.random.default_rng([seed, 3])
    universe = rng.permutation(np.concatenate([a.cover for a in field.aois]))
    ranks = np.arange(1, len(universe) + 1, dtype=np.float64)
    zipf = ranks**-ZIPF_S
    zipf /= zipf.sum()
    while True:
        res = _pick(rng, QUERY_RES)
        lo, hi = _pick(rng, QUERY_SIZES)
        n = int(rng.integers(lo, hi + 1))
        per_tile = 7 ** (res - TILE_RES)
        n = min(n, per_tile * len(universe))
        start = int(rng.choice(len(universe), p=zipf))
        k = -(-n // per_tile)
        tiles = universe[(start + np.arange(k)) % len(universe)]
        cand = h3bits.children(tiles, res)
        cells = rng.choice(cand, n, replace=False)
        template = TEMPLATE_VALID if rng.random() < TEMPLATE_SHARE else None
        yield Query(cells.tolist(), res, template)


def traversal_order(field: Field, seed: int) -> list[int]:
    """Order in which the traversal workload visits the AOIs."""
    rng = np.random.default_rng([seed, 4])
    return rng.permutation(len(field.aois)).tolist()
