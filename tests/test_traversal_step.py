"""One Spark execution per traversal step.

A step is run and materialized in the traverser's prefetch thread; the
consumer's exports answer from that snapshot. These tests pin the
snapshot contract (the exports equal the lazy frame's), the job count
of a step (a guard against per-step broadcast builds or a second
execution creeping back), and the prefetch pool's shutdown when a step
fails."""

from __future__ import annotations

import threading

import pandas as pd
import pytest

from ukis_h3cellstore_spark import CellStore, CompactedTableSchemaBuilder
from ukis_h3cellstore_spark.h3 import cells as h3c
from ukis_h3cellstore_spark.query import TableSetQuery
from ukis_h3cellstore_spark.traversal import TraversalOptions, build_traverser

#: mixed region: one uniform res-6 block (→ 6c), 42 per-cell values
#: (7b), some with a null category
REGION_MIXED = h3c.build_cell(60, [1, 2, 3, 4, 5])
#: uniform region (→ 5c)
REGION_UNIFORM = h3c.build_cell(60, [1, 2, 3, 4, 6])
#: holds no data
REGION_EMPTY = h3c.build_cell(60, [1, 2, 3, 4, 0])


def step_schema():
    return (
        CompactedTableSchemaBuilder("step_set")
        .h3_base_resolutions([5, 6, 7])
        .add_h3index_column()
        .add_column("value", "Int32")
        .add_aggregated_column("density", "Float32", "RelativeToCellArea")
        .add_aggregated_column("category", "UInt8", "SetNullOnConflict", nullable=True)
        .build()
    )


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A three-table pyramid at resolution 7: 5c, 6c and 7b."""
    store = CellStore(spark, str(tmp_path_factory.mktemp("step") / "wh"))
    mixed = h3c.cell_to_children(REGION_MIXED, 7)
    rows = [(c, 1, 2.0, 1) for c in mixed[:7]]
    rows += [
        (c, 100 + i, float(i), None if i % 5 == 0 else i % 2)
        for i, c in enumerate(mixed[7:])
    ]
    rows += [(c, 7, 3.0, 3) for c in h3c.cell_to_children(REGION_UNIFORM, 7)]
    df = spark.createDataFrame(
        rows, "h3index long, value int, density float, category int"
    )
    store.insert_h3dataframe_into_tableset(step_schema(), df)
    return store


def _job_ids(spark) -> set[int]:
    """Ids of every job the driver's status store has seen, after the
    listener bus has delivered all pending events."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values("h3index", kind="stable").reset_index(drop=True)


@pytest.mark.parametrize(
    "cells,resolution",
    [
        ([REGION_MIXED], 7),
        ([REGION_MIXED, REGION_UNIFORM], 5),  # base-5 rollup
        ([REGION_EMPTY], 7),
    ],
    ids=["mixed_res7", "rollup_res5", "empty"],
)
def test_snapshot_exports_equal_lazy_frame(store, cells, resolution):
    h3df = store.query_tableset_cells("step_set", cells, resolution)
    snap = h3df.materialize()
    assert snap.df is h3df.df

    want = h3df.df.toPandas()
    got = snap.to_pandas()
    assert list(got.columns) == list(want.columns)
    assert list(got.dtypes) == list(want.dtypes)
    pd.testing.assert_frame_equal(_sorted(got), _sorted(want))

    arrow = snap.to_arrow()
    want_arrow = h3df.df.toArrow()
    assert arrow.schema == want_arrow.schema
    assert arrow.sort_by("h3index").equals(want_arrow.sort_by("h3index"))

    assert snap.count() == h3df.df.count() == len(want)
    if cells == [REGION_EMPTY]:
        assert snap.count() == 0
    else:
        assert got["category"].isna().any()


def test_consumer_exports_submit_no_job(spark, store):
    trav = build_traverser(
        store,
        "step_set",
        [REGION_MIXED],
        7,
        options=TraversalOptions(max_h3indexes_fetch_count=50),
    )
    step = next(trav)
    before = _job_ids(spark)
    pdf = step.contained_data.to_pandas()
    step.contained_data.to_arrow()
    n = step.contained_data.count()
    assert _job_ids(spark) == before
    assert len(pdf) == n == 7 * 7
    with pytest.raises(StopIteration):
        next(trav)


def test_traversal_step_job_count_guard(spark, store):
    """A single-cell auto step over base + 2 compacted tables is one
    execution: the result job plus one offsets broadcast per compacted
    table's uncompaction — no isEmpty job, no cell-list broadcasts, no
    re-execution by the consumer."""
    before = _job_ids(spark)
    trav = build_traverser(
        store,
        "step_set",
        [REGION_MIXED],
        7,
        options=TraversalOptions(max_h3indexes_fetch_count=50),
    )
    steps = []
    for step in trav:
        steps.append(step.contained_data.to_pandas())
    jobs = _job_ids(spark) - before
    assert [len(p) for p in steps] == [7 * 7]
    assert len(jobs) <= 4, f"{len(jobs)} Spark jobs for one traversal step"


def test_failing_step_closes_prefetch_pool(store):
    broken = TableSetQuery.from_template("select no_such_column from <[table]>")
    before = set(threading.enumerate())
    trav = build_traverser(
        store,
        "step_set",
        [REGION_MIXED, REGION_UNIFORM, REGION_EMPTY],
        7,
        query=broken,
        options=TraversalOptions(max_h3indexes_fetch_count=50, num_connections=2),
    )
    with pytest.raises(IOError):
        next(trav)
    # the pool's workers are the only non-daemon threads a traversal starts
    leaked = [
        t.name
        for t in threading.enumerate()
        if t not in before and not t.daemon
    ]
    assert leaked == []
    assert len(trav) == 0
    with pytest.raises(StopIteration):
        next(trav)
