"""Independent model of the cell store's documented semantics.

Computes, from the generated rows alone (pandas + numpy, no Spark and
no code from the package), what the store must hold after each insert
and what each query must return:

* insert (reference Q1): exact compaction of complete sibling sets with
  equal values, split by resolution (max-resolution rows to the base
  table, coarser rows to the compacted tables), then the rollup chain
  fine to coarse over ``base(s) + compacted(s)``: RelativeToCellArea as
  ``float32(sum / 7)`` with the sum taken in float64, Max as max,
  ``is_valid`` as a grouping (pass-through) column;
* the table engine (ReplacingMergeTree without version) merges
  identical rows, so the stored set after several inserts is the union
  of the per-insert pyramids without duplicate rows;
* a cell query (reference Q2) at resolution r returns the rows of the
  base table at r plus the compacted rows at resolutions <= r expanded
  to r, restricted to the query cells; a template applies its own
  predicate before the expansion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import h3bits
from gen import BASE_RESOLUTIONS, COLUMNS, TARGET_RES

VALUES = ["is_valid", "density", "peak"]


def compact(rows: pd.DataFrame) -> dict[int, pd.DataFrame]:
    """Rows (all at TARGET_RES) -> {resolution: rows left at it}."""
    out: dict[int, pd.DataFrame] = {}
    cur = rows.drop_duplicates(ignore_index=True)
    for r in range(TARGET_RES, 0, -1):
        par = h3bits.parent(cur["h3index"].to_numpy(), r - 1)
        keyed = cur.assign(__p=par)
        size = keyed.groupby(["__p", *VALUES], sort=False)["h3index"].transform("size")
        complete = (size == 7).to_numpy()
        out[r] = cur[~complete].reset_index(drop=True)
        promoted = keyed[complete].drop_duplicates(["__p", *VALUES])
        cur = (
            promoted.drop(columns="h3index")
            .rename(columns={"__p": "h3index"})[COLUMNS]
            .reset_index(drop=True)
        )
        if cur.empty:
            break
    if not cur.empty:
        out[0] = cur
    return {r: df for r, df in out.items() if not df.empty}


def rollup(source: pd.DataFrame, target_res: int) -> pd.DataFrame:
    """One rollup level (all source rows one resolution finer)."""
    par = h3bits.parent(source["h3index"].to_numpy(), target_res)
    g = (
        source.assign(h3index=par, density=source["density"].astype(np.float64))
        .groupby(["h3index", "is_valid"], sort=False)
        .agg(density=("density", "sum"), peak=("peak", "max"))
        .reset_index()
    )
    g["density"] = (g["density"] / 7.0).astype(np.float32)
    g["is_valid"] = g["is_valid"].astype(np.int16)
    return g[COLUMNS]


def pyramid(rows: pd.DataFrame) -> dict[tuple[int, bool], pd.DataFrame]:
    """One insert's tables: {(resolution, is_compacted): rows}."""
    levels = compact(rows)
    tables: dict[tuple[int, bool], pd.DataFrame] = {}
    for r, df in levels.items():
        tables[(r, r != TARGET_RES)] = df
    current = tables.get((TARGET_RES, False))
    bases = sorted(BASE_RESOLUTIONS, reverse=True)
    for src, tgt in zip(bases, bases[1:]):
        parts = [p for p in (current, tables.get((src, True))) if p is not None]
        if not parts:
            current = None
            continue
        current = rollup(pd.concat(parts, ignore_index=True), tgt)
        tables[(tgt, False)] = current
    return tables


def merge(
    stored: dict[tuple[int, bool], pd.DataFrame],
    batch: dict[tuple[int, bool], pd.DataFrame],
) -> dict[tuple[int, bool], pd.DataFrame]:
    out = dict(stored)
    for key, df in batch.items():
        prev = out.get(key)
        both = df if prev is None else pd.concat([prev, df], ignore_index=True)
        out[key] = both.drop_duplicates(ignore_index=True)
    return out


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Rows in a comparable form: fixed dtypes, sorted."""
    out = pd.DataFrame(
        {
            "h3index": df["h3index"].astype(np.int64).to_numpy(),
            "is_valid": df["is_valid"].astype(np.int16).to_numpy(),
            "density": df["density"].astype(np.float32).to_numpy(),
            "peak": df["peak"].astype(np.float32).to_numpy(),
        }
    )
    return out.sort_values(COLUMNS, ignore_index=True)


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Exact multiset equality of two row sets."""
    if len(a) != len(b):
        return False
    ca, cb = canonical(a), canonical(b)
    return all(np.array_equal(ca[c].to_numpy(), cb[c].to_numpy()) for c in COLUMNS)


def query_rows(
    stored: dict[tuple[int, bool], pd.DataFrame],
    cells: list[int],
    res: int,
    valid_only: bool,
) -> pd.DataFrame:
    """Expected Q2 result (uncompacted to ``res``)."""
    q = np.unique(np.asarray(cells, dtype=np.int64))
    parts = []
    base = stored.get((res, False))
    if base is not None:
        parts.append(base[np.isin(base["h3index"].to_numpy(), q)])
    for (r, compacted), df in stored.items():
        if not compacted or r > res:
            continue
        anc = pd.DataFrame({"cell": q, "h3index": h3bits.parent(q, r)})
        hit = anc.merge(df, on="h3index", how="inner")
        parts.append(hit.drop(columns="h3index").rename(columns={"cell": "h3index"})[COLUMNS])
    out = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=COLUMNS)
    if valid_only:
        out = out[out["is_valid"] == 1]
    return out


def checksum(df: pd.DataFrame) -> tuple[int, int, int, float, float]:
    """(rows, sum of h3index, sum of is_valid, sum of density, sum of peak)."""
    return (
        len(df),
        int(df["h3index"].astype(np.int64).map(int).sum()) if len(df) else 0,
        int(df["is_valid"].astype(np.int64).sum()),
        float(df["density"].astype(np.float64).sum()),
        float(df["peak"].astype(np.float64).sum()),
    )


def same_checksum(got: tuple, want: tuple) -> bool:
    """Counts and integer sums exact; float sums to 1e-6 relative."""
    return got[:3] == want[:3] and all(
        abs(g - w) <= 1e-6 * max(1.0, abs(w)) for g, w in zip(got[3:], want[3:])
    )
