"""TableSetQuery — auto projections and user SQL templates (P1-P3).

Reference: ``crates/ukis_h3cellstore/src/clickhouse/compacted_tables/
select.rs``. Two query flavors:

- **auto** (P1, select.rs:98-126): select every tableset column except
  those prefixed ``h3index`` plus the ``h3index`` column itself, with
  the cell-membership predicate (P2).
- **template** (P3, select.rs:11-53): a user SQL string with
  ``<[table]>`` (mandatory) and ``<[h3indexes]>`` (optional)
  placeholders, executed once per contributing pyramid table. On
  Spark, the table placeholder resolves to a per-table temp view and
  the SQL runs through ``spark.sql`` — templated queries therefore use
  the (documented) Spark SQL dialect; the H3 function names of the
  ClickHouse dialect are provided by
  :func:`ukis_h3cellstore_spark.functions.register_h3_sql_functions`.

Cell predicates of auto queries are descendant ranges where they can
be: a cell at or coarser than a table's resolution R covers one
contiguous interval of res-R indexes, so the per-table filter is
``h3index BETWEEN lo AND hi`` over the merged intervals
(:func:`ranges_predicate`; cells finer than R become their parents'
single indexes) — Parquet min/max statistics prune the scan, and no
cell list is shipped to Spark. This is the Spark form of ClickHouse
answering the reference's ``IN`` list as a primary-key range scan.
Templated queries, and cell sets needing more than
``MAX_INLIST_CELLS`` intervals, use IN-literal lists for small sets
and broadcast semi-joins beyond — the scale-safe replacement for the
reference's always-literal SQL (SURVEY §7.2.9). Temp-view names take
one id per call from a process-wide counter, so concurrent templated
queries (the traversal's prefetch threads) never share a view.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PLACEHOLDER_TABLE = "<[table]>"
PLACEHOLDER_H3INDEXES = "<[h3indexes]>"

#: Cell lists up to this size become IN-literals, larger ones broadcast
#: joins; auto queries needing at most this many descendant ranges per
#: table filter on ranges instead. Kept small: a multi-thousand-literal
#: isin repeated per pyramid table costs more in Catalyst analysis than
#: the broadcast it avoids, and the broadcast path is the one that
#: scales.
MAX_INLIST_CELLS = 256

#: Probe-side broadcast ceiling for cell-set semi-joins, in CELLS.
#: 5M int64 cells is a ~40 MB broadcast relation — comfortably inside
#: executor memory and Spark's 8 GB broadcast hard cap. Above it, the
#: hint is OMITTED and the semi-join is left to AQE: a res-8 continent
#: AOI (SCALE.md's Africa box is 76,285,075 cells; a res-9 continent
#:  ~0.5B) must shuffle, not broadcast — a forced hint there builds a
#: multi-GB broadcast relation and OOMs the exact workload the
#: DataFrame-probe path exists for.
BROADCAST_MAX_CELLS = 5_000_000

#: temp-view ids; ``next()`` on it is atomic under the GIL
_VIEW_IDS = itertools.count(1)


class QueryTemplateError(ValueError):
    pass


@dataclass
class TableSetQuery:
    """auto (template=None) | templated (reference grpc.rs:443-463)."""

    template: str | None = None

    @classmethod
    def auto(cls) -> "TableSetQuery":
        return cls(template=None)

    @classmethod
    def from_template(cls, template: str) -> "TableSetQuery":
        # validation parity: select.rs:30-44
        if PLACEHOLDER_TABLE not in template:
            raise QueryTemplateError(
                f"query template must contain the {PLACEHOLDER_TABLE} placeholder"
            )
        return cls(template=template)


def auto_projection_columns(columns: list[str], h3index_column: str) -> list[str]:
    """P1 (select.rs:98-126): all columns except `h3index*`-prefixed
    ones, plus the h3index column itself, h3index first."""
    rest = sorted(
        c for c in columns if not c.startswith("h3index") and c != h3index_column
    )
    return [h3index_column] + rest


def cells_frame(spark: SparkSession, name: str, cells) -> DataFrame:
    """One-column DataFrame of a driver-side cell list, built through
    pandas/Arrow rather than a Python tuple list — at a continent-AOI
    list (~1.5M cells) the tuple path serializes row by row through
    the JVM gateway and holds several list copies on the driver; the
    Arrow path ships one int64 buffer."""
    import numpy as np
    import pandas as pd

    if isinstance(cells, np.ndarray):
        # zero-boxing: the planet-scale polyfill hands its leaf band
        # straight through as one int64 buffer
        col = cells.astype(np.int64, copy=False)
    else:
        col = pd.array(list(cells), dtype="int64")
    return spark.createDataFrame(
        pd.DataFrame({name: col}),
        schema=f"{name} long",  # explicit: empty lists can't infer
    )


def cells_predicate(
    spark: SparkSession, df: DataFrame, h3name: str, cells: list[int]
) -> DataFrame:
    """P2/J1 cell-membership semi-join, scale-adaptive."""
    if len(cells) <= MAX_INLIST_CELLS:
        return df.filter(F.col(h3name).isin(cells))
    return df.join(
        F.broadcast(cells_frame(spark, h3name, cells)), on=h3name, how="leftsemi"
    )


def ranges_predicate(
    df: DataFrame, h3name: str, ranges: list[tuple[int, int]]
) -> DataFrame:
    """Cell-membership filter over closed index intervals (see
    :func:`ukis_h3cellstore_spark.h3.cells.descendant_ranges`):
    one-index intervals as one IN-literal list, the rest as BETWEENs,
    OR-ed as a balanced tree (flat depth for Catalyst's recursion)."""
    col = F.col(h3name)
    points = [lo for lo, hi in ranges if lo == hi]
    terms = [col.between(lo, hi) for lo, hi in ranges if lo != hi]
    if points:
        terms.append(col.isin(points))
    while len(terms) > 1:
        terms = [
            terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return df.filter(terms[0] if terms else F.lit(False))


def normalize_cells_df(
    spark: SparkSession, cells_df: DataFrame, h3name: str,
    from_res: int, to_res: int,
) -> DataFrame:
    """Cell-set normalization as a PLAN — the DataFrame twin of
    ``h3.cells.change_resolution`` for a uniform-resolution set:
    parents via the index bit arithmetic + distinct for coarser
    targets, child expansion via staged broadcast offset cross-joins
    for finer (<= 7^MAX_OFFSET_DIFF rows per broadcast; invalid
    pentagon descendants filtered per stage), identity-distinct
    otherwise. All JVM expressions; the input set is deduplicated
    BEFORE a child expansion (children of distinct parents are
    distinct, so no post-expansion shuffle)."""
    from ukis_h3cellstore_spark.h3 import expressions as hx

    col = F.col(h3name)
    if to_res == from_res:
        return cells_df.select(col.alias(h3name)).distinct()
    if to_res < from_res:
        return cells_df.select(
            hx.h3_to_parent(col, to_res).alias(h3name)
        ).distinct()
    return hx.h3_expand_to_children(
        cells_df.select(col.alias(h3name)).distinct(),
        h3name,
        from_res,
        to_res,
        filter_invalid=True,
    )


def build_table_query_df(
    spark: SparkSession,
    df: DataFrame,
    h3name: str,
    table_cells_df: DataFrame,
    query: TableSetQuery | None,
    table_columns: list[str],
    n_cells: int | None = None,
) -> DataFrame:
    """:func:`build_table_query` with the probe side as a DataFrame —
    the cell predicate is a semi-join (auto mode) or an IN-subquery
    over a temp view (templated mode); the cell set never exists as a
    driver list.

    ``n_cells``: upper bound on the probe frame's row count, when the
    caller knows it (the store does, arithmetically: stats n · 7^diff).
    The broadcast hint is applied ONLY below BROADCAST_MAX_CELLS —
    a res-8 continent AOI is tens of millions of cells, and a forced
    hint there overrides Spark's size threshold into a multi-GB
    broadcast build. Unknown (None) or over-threshold sizes emit the
    plain leftsemi and let AQE pick the physical join."""
    if query is None or query.template is None:
        proj = auto_projection_columns(table_columns, h3name)
        probe = table_cells_df
        if n_cells is not None and n_cells <= BROADCAST_MAX_CELLS:
            probe = F.broadcast(probe)
        return df.select(*proj).join(probe, on=h3name, how="leftsemi")
    view_id = next(_VIEW_IDS)
    view = f"__h3cs_table_{view_id}"
    df.createOrReplaceTempView(view)
    sql = query.template.replace(PLACEHOLDER_TABLE, view)
    if PLACEHOLDER_H3INDEXES in sql:
        cells_view = f"__h3cs_cells_{view_id}"
        table_cells_df.createOrReplaceTempView(cells_view)
        sql = sql.replace(
            PLACEHOLDER_H3INDEXES, f"(SELECT {h3name} FROM {cells_view})"
        )
    try:
        return spark.sql(sql)
    except Exception as e:
        raise IOError(f"templated query failed: {e}") from e


def build_table_query(
    spark: SparkSession,
    df: DataFrame,
    h3name: str,
    table_cells: list[int],
    query: TableSetQuery | None,
    table_columns: list[str],
) -> DataFrame:
    """Build the per-table select of the Q2 pipeline.

    auto → projection + cell predicate; template → temp view +
    placeholder substitution via ``spark.sql`` (the template fully owns
    filtering, as in the reference where it replaces the generated
    SELECT, select.rs:127-129).
    """
    if query is None or query.template is None:
        proj = auto_projection_columns(table_columns, h3name)
        out = df.select(*proj)
        return cells_predicate(spark, out, h3name, table_cells)

    view_id = next(_VIEW_IDS)
    view = f"__h3cs_table_{view_id}"
    df.createOrReplaceTempView(view)
    sql = query.template.replace(PLACEHOLDER_TABLE, view)
    if PLACEHOLDER_H3INDEXES in sql:
        if len(table_cells) <= MAX_INLIST_CELLS:
            literal = ",".join(str(c) for c in table_cells) or "NULL"
            sub = f"({literal})"
        else:
            # big cell sets (continent AOIs through the distributed
            # prefilter) would otherwise inline megabytes of literals
            # into the SQL text and stall the parser; an IN-subquery
            # over a temp view plans as the same semi-join
            # cells_predicate uses, with identical semantics
            cells_view = f"__h3cs_cells_{view_id}"
            cells_frame(spark, "__cell", table_cells).createOrReplaceTempView(
                cells_view
            )
            sub = f"(SELECT __cell FROM {cells_view})"
        sql = sql.replace(PLACEHOLDER_H3INDEXES, sub)
    try:
        return spark.sql(sql)
    except Exception as e:  # surface missing columns etc. (test_traversal parity)
        raise IOError(f"templated query failed: {e}") from e


def validate_template_columns(sql_error: str) -> str:
    """Normalize Spark's unresolved-column error into the reference's
    'Missing columns' wording (test_traversal.py:89-103 parity)."""
    if re.search(r"UNRESOLVED_COLUMN|cannot resolve", sql_error, re.IGNORECASE):
        return f"Missing columns: {sql_error}"
    return sql_error
