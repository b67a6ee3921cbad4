"""Checks of the benchmark's own inputs and oracle (no Spark needed).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import h3bits  # noqa: E402
import oracle  # noqa: E402


def _inputs(seed: int):
    field = gen.make_field(seed)
    stream = gen.queries(field, seed)
    return (
        field,
        gen.ingest_batches(field, seed),
        [next(stream) for _ in range(40)],
        gen.traversal_order(field, seed),
    )


def test_same_seed_gives_identical_inputs():
    a, b = _inputs(7), _inputs(7)
    pd.testing.assert_frame_equal(a[0].rows, b[0].rows)
    for x, y in zip(a[0].aois, b[0].aois):
        assert x.polygon == y.polygon
        assert np.array_equal(x.cover, y.cover)
        assert np.array_equal(x.valid_tiles, y.valid_tiles)
    assert len(a[1]) == len(b[1])
    for x, y in zip(a[1], b[1]):
        pd.testing.assert_frame_equal(x, y)
    assert a[2] == b[2]
    assert a[3] == b[3]


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert not a[0].rows.equals(b[0].rows)
    assert a[2] != b[2]


def test_bit_arithmetic_matches_the_package():
    from ukis_h3cellstore_spark.h3 import cells as h3c

    tiles = gen.make_field(3).tiles[:5]
    for tile in tiles.tolist():
        assert sorted(h3bits.children(np.array([tile]), 7).tolist()) == sorted(
            h3c.cell_to_children(tile, 7)
        )
        child = int(h3bits.children(np.array([tile]), 8)[100])
        assert int(h3bits.parent(np.array([child]), 6)[0]) == h3c.cell_to_parent(child, 6)


def test_model_is_lossless_and_appends_merge_resent_tiles():
    field = gen.make_field(5)
    rows = field.rows
    model = oracle.pyramid(rows)
    assert any(compacted for _, compacted in model)  # compaction promoted parents
    back = oracle.query_rows(model, rows["h3index"].tolist(), gen.TARGET_RES, False)
    assert oracle.same_rows(back, rows)
    # re-sent whole tiles add no rows at or below the tile resolution
    batches = gen.ingest_batches(field, 5)
    stored: dict = {}
    for b in batches:
        stored = oracle.merge(stored, oracle.pyramid(b))
    union = oracle.pyramid(pd.concat(batches).drop_duplicates())
    for (res, compacted), df in stored.items():
        if res >= gen.TILE_RES:
            assert oracle.same_rows(df, union[(res, compacted)])
