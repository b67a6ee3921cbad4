"""H3 cell-index hierarchy math as exact integer bit arithmetic.

H3 index bit layout (public spec, https://h3geo.org/docs/core-library/h3Indexing):

    bit 63      : reserved, always 0
    bits 59..62 : mode (1 for a cell index)
    bits 56..58 : reserved, always 0
    bits 52..55 : resolution r (0..15)
    bits 45..51 : base cell (0..121)
    bits 0..44  : 15 directional digits of 3 bits each; the digit for
                  resolution i (1-indexed) sits at bits 3*(15-i)..3*(15-i)+2.
                  Digits for resolutions > r are set to 7 (invalid marker).

All functions here operate on plain Python ints (or iterables thereof)
and are the single source of truth mirrored by the Spark ``Column``
expressions in :mod:`ukis_h3cellstore_spark.h3.expressions` and the
DuckDB SQL fragments in :mod:`ukis_h3cellstore_spark.h3.sqlgen`.

Reference behaviors reproduced (for parity, see SURVEY.md §2.6-2.7):
- ``cell_to_parent``     ~ reference `h3ToParent` (partitioning.rs:122-127)
- ``get_resolution``     ~ `h3GetResolution` (insert.rs:481)
- ``get_base_cell``      ~ `h3GetBaseCell` (partitioning.rs:121)
- ``cell_to_children``   ~ `h3ToChildren` (insert.rs:393-399), pentagon-aware
- ``compact_cells`` / ``uncompact_cells`` ~ h3ron `compact`/`uncompact`
  used at insert.rs:99-108 and mod.rs:459-477.
"""

from __future__ import annotations

from collections.abc import Iterable

MAX_RESOLUTION = 15
MODE_CELL = 1

#: The 12 pentagon base cells of the H3 grid (public spec).
PENTAGON_BASE_CELLS = frozenset({4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117})

_RES_MASK = 0xF << 52
_BASE_CELL_MASK = 0x7F << 45
_DIGIT_AREA_MASK = (1 << 45) - 1  # bits 0..44
_MODE_MASK = 0xF << 59
_HIGH_BIT = 1 << 63
_RESERVED_MASK = 0x7 << 56

# Direction digit 1 is the K axis; pentagons delete it.
_K_AXES_DIGIT = 1


def _digit_shift(res: int) -> int:
    """Bit offset of the 3-bit digit for resolution ``res`` (1..15)."""
    return 3 * (MAX_RESOLUTION - res)


def trailing_sevens(res: int) -> int:
    """Mask with digits res+1..15 set to 7 (the unused-digit filler)."""
    return (1 << _digit_shift(res)) - 1


def get_resolution(cell: int) -> int:
    return (cell >> 52) & 0xF


def get_base_cell(cell: int) -> int:
    return (cell >> 45) & 0x7F


def get_digit(cell: int, res: int) -> int:
    """Directional digit (0..7) of ``cell`` at resolution ``res`` (1..15)."""
    return (cell >> _digit_shift(res)) & 0x7


def is_valid_cell(cell: int) -> bool:
    """Structural validity per the public index spec."""
    if cell < 0 or cell & _HIGH_BIT:
        return False
    if (cell & _MODE_MASK) >> 59 != MODE_CELL:
        return False
    if cell & _RESERVED_MASK:
        return False
    base = get_base_cell(cell)
    if base > 121:
        return False
    res = get_resolution(cell)
    found_first_nonzero = False
    for r in range(1, MAX_RESOLUTION + 1):
        digit = get_digit(cell, r)
        if r <= res:
            if digit == 7:
                return False
            if not found_first_nonzero and digit != 0:
                found_first_nonzero = True
                # Pentagons delete the K axis: their first non-zero
                # digit can never be 1.
                if digit == _K_AXES_DIGIT and base in PENTAGON_BASE_CELLS:
                    return False
        else:
            if digit != 7:
                return False
    return True


def build_cell(base_cell: int, digits: Iterable[int] = ()) -> int:
    """Construct a cell index from a base cell and directional digits.

    ``len(digits)`` determines the resolution. Used by tests and by the
    synthetic-data derivation (no geographic math involved).
    """
    digits = list(digits)
    res = len(digits)
    if res > MAX_RESOLUTION:
        raise ValueError(f"too many digits: {res}")
    if not 0 <= base_cell <= 121:
        raise ValueError(f"invalid base cell {base_cell}")
    cell = (MODE_CELL << 59) | (res << 52) | (base_cell << 45) | trailing_sevens(res)
    for r, d in enumerate(digits, start=1):
        if not 0 <= d <= 6:
            raise ValueError(f"invalid digit {d}")
        cell |= d << _digit_shift(r)
    return cell


def is_pentagon(cell: int) -> bool:
    """True iff the cell is a pentagon (pentagon base cell, all digits 0)."""
    if get_base_cell(cell) not in PENTAGON_BASE_CELLS:
        return False
    res = get_resolution(cell)
    # all digits for 1..res must be zero → digit area == trailing sevens
    return (cell & _DIGIT_AREA_MASK) == trailing_sevens(res)


def cell_to_parent(cell: int, parent_res: int) -> int:
    """Ancestor of ``cell`` at ``parent_res`` (must be ≤ cell resolution)."""
    res = get_resolution(cell)
    if parent_res > res:
        raise ValueError(f"parent_res {parent_res} > cell resolution {res}")
    if parent_res == res:
        return cell
    return (cell & ~_RES_MASK) | (parent_res << 52) | trailing_sevens(parent_res)


def cell_to_center_child(cell: int, child_res: int) -> int:
    """Center child at ``child_res`` (all intermediate digits = 0)."""
    res = get_resolution(cell)
    if child_res < res:
        raise ValueError(f"child_res {child_res} < cell resolution {res}")
    out = (cell & ~_RES_MASK) | (child_res << 52)
    # zero out digits res+1..child_res (they are 7 in the parent)
    for r in range(res + 1, child_res + 1):
        out &= ~(0x7 << _digit_shift(r))
    return out


def cell_to_children(cell: int, child_res: int) -> list[int]:
    """All descendants of ``cell`` at ``child_res``, pentagon-aware.

    Matches H3 `cellToChildren`: pentagons skip the K-axis (digit 1)
    child of every pentagon-chain cell.
    """
    res = get_resolution(cell)
    if child_res < res:
        raise ValueError(f"child_res {child_res} < cell resolution {res}")
    if child_res == res:
        return [cell]
    out: list[int] = []
    pentagon_root = is_pentagon(cell)

    def expand(current: int, current_res: int, on_pentagon_chain: bool) -> None:
        if current_res == child_res:
            out.append(current)
            return
        next_res = current_res + 1
        shifted = (current & ~_RES_MASK) | (next_res << 52)
        shift = _digit_shift(next_res)
        cleared = shifted & ~(0x7 << shift)
        for d in range(7):
            if on_pentagon_chain and d == _K_AXES_DIGIT:
                continue
            expand(cleared | (d << shift), next_res, on_pentagon_chain and d == 0)

    expand(cell, res, pentagon_root)
    return out


def cell_to_children_count(cell: int, child_res: int) -> int:
    """Exact descendant count — 7^d for hexagons, 1+5*(7^d-1)/6 for pentagons.

    Parity target: the reference divides RelativeToCellArea sums by
    ``length(h3ToChildren(parent, src_res))`` (insert.rs:393), which is
    this exact count.
    """
    res = get_resolution(cell)
    if child_res < res:
        raise ValueError(f"child_res {child_res} < cell resolution {res}")
    d = child_res - res
    if is_pentagon(cell):
        return 1 + 5 * (7**d - 1) // 6
    return 7**d


def change_resolution(cells: Iterable[int], target_res: int) -> list[int]:
    """Normalize a cell list to ``target_res``: ancestors for finer cells,
    descendants for coarser cells. Deduplicated, sorted (deterministic —
    mirrors select.rs:156-157 sort+dedup)."""
    out: set[int] = set()
    for c in cells:
        r = get_resolution(c)
        if r == target_res:
            out.add(c)
        elif r > target_res:
            out.add(cell_to_parent(c, target_res))
        else:
            out.update(cell_to_children(c, target_res))
    return sorted(out)


def compact_cells(cells: Iterable[int]) -> list[int]:
    """H3 `compactCells`: replace every complete set of children by their
    parent, recursively, producing a mixed-resolution set.

    A parent is complete when all of its direct children are present
    (7, or 6 for a pentagon parent). Input may be mixed-resolution;
    duplicates are removed. Output sorted for determinism.
    """
    remaining = set(cells)
    result: set[int] = set()
    # process finest-to-coarsest
    while remaining:
        by_res: dict[int, set[int]] = {}
        for c in remaining:
            by_res.setdefault(get_resolution(c), set()).add(c)
        finest = max(by_res)
        if finest == 0:
            result.update(remaining)
            break
        level = by_res[finest]
        parents: dict[int, int] = {}
        for c in level:
            p = cell_to_parent(c, finest - 1)
            parents[p] = parents.get(p, 0) + 1
        promoted: set[int] = set()
        for p, n in parents.items():
            need = 6 if is_pentagon(p) else 7
            if n == need:
                promoted.add(p)
        if not promoted:
            result.update(level)
            remaining -= level
            continue
        kept = {c for c in level if cell_to_parent(c, finest - 1) not in promoted}
        result.update(kept)
        remaining -= level
        remaining.update(promoted)
    return sorted(result)


def uncompact_cells(cells: Iterable[int], target_res: int) -> list[int]:
    """Expand a mixed-resolution set to ``target_res`` descendants."""
    out: list[int] = []
    for c in cells:
        out.extend(cell_to_children(c, target_res))
    return sorted(out)


def uncompact_cells_subset(
    cells: Iterable[int], target_res: int, subset: Iterable[int]
) -> list[int]:
    """Uncompact restricted to a requested cell set (reference
    `h3_uncompact_dataframe_subset`, mod.rs:459-477): only descendants
    that appear in ``subset`` are produced."""
    allowed = set(subset)
    return [c for c in uncompact_cells(cells, target_res) if c in allowed]


#: digits 1..15 all set to 6 (the highest digit of a valid cell)
_SIX_DIGITS = int("6" * MAX_RESOLUTION, 8)


def descendant_ranges(cells: Iterable[int], res: int) -> list[tuple[int, int]]:
    """The cells of ``change_resolution(cells, res)`` as sorted, merged
    closed integer intervals ``(lo, hi)``.

    A cell at resolution r ≤ ``res`` maps to its res-``res`` descendant
    interval: digits r+1..res set to 0 (``lo``) or to 6 (``hi``). In
    integer order the res-``res`` indexes sort by (base cell, digits),
    so every valid res-``res`` index in that interval is a descendant
    — pentagon K-axis indexes inside it are invalid and never stored.
    A finer cell maps to its res-``res`` parent, a one-index interval.
    Overlapping intervals (a cell and its own child) and adjacent ones
    (no digit-0..6 index between them, e.g. all 7 siblings) merge.
    Vectorized: auto queries may pass continent-sized cell lists."""
    import numpy as np

    sevens = trailing_sevens(res)
    # by cell resolution k: the bits of digits k+1..res (none if k >= res)
    between = np.array(
        [
            trailing_sevens(k) ^ sevens if k < res else 0
            for k in range(MAX_RESOLUTION + 1)
        ],
        dtype=np.int64,
    )
    c = np.unique(np.asarray(cells, dtype=np.int64))
    if c.size == 0:
        return []
    k = (c >> 52) & 0xF
    at_res = (c & ~np.int64(_RES_MASK)) | np.int64((res << 52) | sevens)
    lo = at_res & ~between[k]
    hi = lo | (between[k] & np.int64(_SIX_DIGITS))
    order = np.argsort(lo, kind="stable")
    lo, hi = lo[order], hi[order]

    def rank(x):
        """Position among the res-``res`` indexes with digits 0..6:
        base cell and digits read as one base-7 number."""
        out = (x >> 45) & 0x7F
        for d in range(1, res + 1):
            out = out * 7 + ((x >> _digit_shift(d)) & 7)
        return out

    reach = np.maximum.accumulate(rank(hi))
    first = np.ones(lo.size, dtype=bool)
    first[1:] = rank(lo)[1:] > reach[:-1] + 1
    starts = np.flatnonzero(first)
    ends = np.append(starts[1:], lo.size) - 1
    his = np.maximum.accumulate(hi)[ends]
    return list(zip(lo[starts].tolist(), his.tolist()))
