"""Q2 cell predicates against a pure-Python model.

Auto queries filter each pyramid table on descendant ranges and drop
the final uncompaction semi-join when no queried cell is finer than a
table read; templated queries keep the semi-join. Every answer here is
compared, as a multiset of (h3index, value) rows, with a model built
from the inserted rows and ``h3.cells`` alone. Also: concurrent
templated queries (the traversal's prefetch shape) each get their own
temp views."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.query import MAX_INLIST_CELLS, TableSetQuery

TABLESET = "range_set"
RES = 7

#: hexagon res-4 region; its res-5 children 0 (uniform → 5c), 1 (one
#: uniform res-6 block → 6c, the rest per-cell) and 2 (per-cell) hold data
HEX = h3c.build_cell(60, [1, 2, 3, 4])
#: pentagon res-4 cell; its pentagon res-5 child is uniform (→ 5c), its
#: digit-2 res-5 child holds per-cell values
PENT = h3c.build_cell(4, [0, 0, 0, 0])
#: more res-4 tiles, 7 per-cell res-7 rows each
TILES = [HEX, PENT] + [
    h3c.build_cell(61, [1, 2, 3, d]) for d in range(7)
] + [h3c.build_cell(62, [1, 2, 3, d]) for d in range(7)]


def _child(cell: int, *digits: int) -> int:
    return h3c.build_cell(
        h3c.get_base_cell(cell),
        [h3c.get_digit(cell, r) for r in range(1, h3c.get_resolution(cell) + 1)]
        + list(digits),
    )


def _input_rows() -> dict[int, int]:
    """res-7 cell → value."""
    rows: dict[int, int] = {}
    n = 0

    def per_cell(cells):
        nonlocal n
        for c in cells:
            n += 1
            rows[c] = 1000 + n

    for c in h3c.cell_to_children(_child(HEX, 0), RES):
        rows[c] = 1
    block = h3c.cell_to_children(_child(HEX, 1, 3), RES)
    for c in block:
        rows[c] = 2
    per_cell(c for c in h3c.cell_to_children(_child(HEX, 1), RES) if c not in block)
    per_cell(h3c.cell_to_children(_child(HEX, 2), RES))
    for c in h3c.cell_to_children(_child(PENT, 0), RES):
        rows[c] = 3
    per_cell(h3c.cell_to_children(_child(PENT, 2), RES))
    for tile in TILES[2:]:
        per_cell(h3c.cell_to_children(_child(tile, 0, 0), RES))
    return rows


INPUT = _input_rows()


def _stored() -> dict[int, int]:
    """The model's pyramid: each value group compacted (what the 5c,
    6c and 7b tables hold together)."""
    groups: dict[int, list[int]] = {}
    for c, v in INPUT.items():
        groups.setdefault(v, []).append(c)
    return {c: v for v, cells in groups.items() for c in h3c.compact_cells(cells)}


STORED = _stored()


def model(cells: list[int], do_uncompact: bool) -> list[tuple[int, int]]:
    if do_uncompact:
        want = h3c.change_resolution(cells, RES)
        out = []
        for c in h3c.uncompact_cells_subset(STORED, RES, want):
            stored = next(
                p
                for p in (h3c.cell_to_parent(c, r) for r in range(RES, -1, -1))
                if p in STORED
            )
            out.append((c, STORED[stored]))
        return sorted(out)
    at_res = {
        r: set(h3c.change_resolution(cells, r))
        for r in {h3c.get_resolution(s) for s in STORED}
    }
    return sorted(
        (s, v) for s, v in STORED.items() if s in at_res[h3c.get_resolution(s)]
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    schema = (
        CompactedTableSchemaBuilder(TABLESET)
        .h3_base_resolutions([4, 5, 6, 7])
        .add_h3index_column()
        .add_column("value", "Int32")
        .build()
    )
    store = CellStore(spark, str(tmp_path_factory.mktemp("ranges") / "wh"))
    df = spark.createDataFrame(list(INPUT.items()), "h3index long, value int")
    store.insert_h3dataframe_into_tableset(schema, df)
    return store


def _rows(h3df) -> list[tuple[int, int]]:
    pdf = h3df.to_pandas()
    return sorted(zip(pdf["h3index"].astype(int), pdf["value"].astype(int)))


def test_model_pyramid_matches_store(store):
    """The model's compaction is the store's: 5c, 6c and 7b rows."""
    got = _rows(store.query_tableset_cells(TABLESET, TILES, RES, do_uncompact=False))
    assert got == sorted(STORED.items())
    assert {h3c.get_resolution(c) for c in STORED} == {5, 6, 7}


HEX_R7 = h3c.cell_to_children(_child(HEX, 2), RES)
CELL_LISTS = {
    # coarser than every table
    "coarser_res4": [HEX],
    "coarser_res3": [h3c.cell_to_parent(HEX, 3)],
    # equal to a table (5c; 7b)
    "equal_res5": [_child(HEX, 0), _child(HEX, 1)],
    "equal_res7": HEX_R7[::5] + [h3c.cell_to_children(_child(HEX, 0), RES)[3]],
    # finer than some or all tables
    "finer_res6": [_child(HEX, 0, 4), _child(HEX, 1, 3), _child(HEX, 1, 5)],
    "finer_res8": [h3c.cell_to_center_child(c, 8) for c in HEX_R7[:4]]
    + [h3c.cell_to_center_child(_child(HEX, 1, 3), 8)],
    # mixed resolutions, a cell together with its own child
    "mixed_with_child": [
        _child(HEX, 1), _child(HEX, 1, 3), HEX_R7[0], _child(PENT, 2, 4)
    ],
    # pentagon base cell: the pentagon itself, its pentagon child, a hexagon child
    "pentagon": [PENT],
    "pentagon_children": [_child(PENT, 0), _child(PENT, 0, 0), _child(PENT, 2, 6)],
    # all seven siblings merge into one range
    "siblings": [_child(HEX, 1, d) for d in range(7)],
    # more than MAX_INLIST_CELLS ranges: the IN-list / broadcast filter,
    # for cells finer than (res 7) and coarser than (res 5) the tables
    "many_res7": h3c.cell_to_children(h3c.cell_to_parent(HEX, 3), RES)[::2],
    "many_res5": h3c.cell_to_children(h3c.cell_to_parent(HEX, 1), 5)[::2],
}


@pytest.mark.parametrize("do_uncompact", [True, False], ids=["uncompact", "stored"])
@pytest.mark.parametrize("name", sorted(CELL_LISTS))
def test_auto_query_matches_model(store, name, do_uncompact):
    cells = CELL_LISTS[name]
    got = _rows(
        store.query_tableset_cells(TABLESET, cells, RES, do_uncompact=do_uncompact)
    )
    assert got == model(cells, do_uncompact)


def test_descendant_ranges_cover_exactly_the_normalized_cells():
    universe = (
        set(h3c.cell_to_children(HEX, RES))
        | set(h3c.cell_to_children(PENT, RES))
        # a neighbouring res-4 cell, outside every queried cell
        | set(h3c.cell_to_children(h3c.build_cell(60, [1, 2, 3, 5]), RES))
    )
    for cells in CELL_LISTS.values():
        ranges = h3c.descendant_ranges(cells, RES)
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
        inside = {c for c in universe if any(lo <= c <= hi for lo, hi in ranges)}
        assert inside == set(h3c.change_resolution(cells, RES)) & universe
    assert len(h3c.descendant_ranges(CELL_LISTS["siblings"], RES)) == 1
    for name in ("many_res7", "many_res5"):
        assert len(h3c.descendant_ranges(CELL_LISTS[name], RES)) > MAX_INLIST_CELLS


def test_coarse_auto_query_plans_no_semi_join(store):
    plan = store.query_tableset_cells(TABLESET, [HEX], RES).df._jdf.queryExecution()
    assert "LeftSemi" not in plan.optimizedPlan().toString()
    # a cell finer than the 5c table keeps the restriction
    plan = store.query_tableset_cells(
        TABLESET, CELL_LISTS["finer_res6"], RES
    ).df._jdf.queryExecution()
    assert "LeftSemi" in plan.optimizedPlan().toString()


def test_template_without_cells_placeholder_is_restricted(store):
    """The template owns the table filter; the final semi-join still
    restricts the answer to the queried cells."""
    query = TableSetQuery.from_template("select * from <[table]>")
    for name in ("finer_res6", "pentagon_children", "coarser_res4"):
        cells = CELL_LISTS[name]
        got = _rows(store.query_tableset_cells(TABLESET, cells, RES, query=query))
        assert got == model(cells, True), name


def test_concurrent_templated_queries_use_their_own_views(store, monkeypatch):
    """3 threads, 48 single-tile templated queries: every answer equals
    the serial one. A res-4 tile is 343 base-table cells, so each query
    also builds a cells view; temp views named from a shared, unlocked
    counter used to hand two callers the same view."""
    query = TableSetQuery.from_template(
        "select * from <[table]> where value > 0 and h3index in <[h3indexes]>"
    )
    assert len(TILES) == 16

    def answer(tile):
        return _rows(store.query_tableset_cells(TABLESET, [tile], RES, query=query))

    serial = {t: answer(t) for t in TILES}
    assert all(serial.values())

    # the threads register their views in lockstep, so every query's
    # views are named while the other two threads' are being named
    frame_class = type(store.spark.range(0))  # the session's DataFrame class
    register = frame_class.createOrReplaceTempView
    lockstep = threading.Barrier(3, timeout=2)

    def lockstep_register(self, name):
        register(self, name)
        try:
            lockstep.wait()
        except threading.BrokenBarrierError:
            pass  # a thread ran out of work: no lockstep from here on

    monkeypatch.setattr(frame_class, "createOrReplaceTempView", lockstep_register)
    with ThreadPoolExecutor(max_workers=3) as pool:
        concurrent = list(pool.map(answer, TILES * 3))
    wrong = [t for t, got in zip(TILES * 3, concurrent) if got != serial[t]]
    assert wrong == []
