"""H3 index arithmetic on numpy int64 arrays, for the generator and oracle.

Written from the public index bit layout (resolution in bits 52..55,
one 3-bit digit per resolution, unused digits set to 7) rather than
imported from the package, so that the oracle does not share code with
the program it checks. Only hexagon cells are handled: the benchmark's
area lies on base cell 75, which is not a pentagon.
"""

from __future__ import annotations

import numpy as np

RES_SHIFT = 52
RES_MASK = np.int64(0xF << RES_SHIFT)
BASE_CELL_SHIFT = 45
PENTAGON_BASE_CELLS = frozenset({4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117})


def _digit_shift(res: int) -> int:
    return 3 * (15 - res)


def resolution(cells: np.ndarray) -> np.ndarray:
    return (cells >> RES_SHIFT) & 0xF


def base_cell(cells: np.ndarray) -> np.ndarray:
    return (cells >> BASE_CELL_SHIFT) & 0x7F


def parent(cells: np.ndarray, res: int) -> np.ndarray:
    """Ancestor at ``res`` of each cell (cells must be at res or finer)."""
    cells = np.asarray(cells, dtype=np.int64)
    fill = np.int64((1 << _digit_shift(res)) - 1)
    return (cells & ~RES_MASK) | np.int64(res << RES_SHIFT) | fill


def children(cells: np.ndarray, child_res: int) -> np.ndarray:
    """All descendants at ``child_res`` of hexagon cells (one resolution
    for all inputs), in index order per parent."""
    cells = np.asarray(cells, dtype=np.int64)
    if cells.size == 0:
        return cells
    res = int(resolution(cells[:1])[0])
    if res == child_res:
        return cells.copy()
    levels = child_res - res
    digits = np.arange(7**levels, dtype=np.int64)
    offsets = np.zeros_like(digits)
    for level in range(levels):
        d = (digits // 7 ** (levels - 1 - level)) % 7
        offsets |= d << _digit_shift(res + 1 + level)
    # clear the digits res+1..child_res (all 7s) and set the new resolution
    clear = np.int64(((1 << _digit_shift(res)) - 1) ^ ((1 << _digit_shift(child_res)) - 1))
    stem = (cells & ~RES_MASK & ~clear) | np.int64(child_res << RES_SHIFT)
    return (stem[:, None] | offsets[None, :]).ravel()
