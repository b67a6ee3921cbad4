"""H3DataFrame — a Spark DataFrame plus the name of its H3 column.

Mirrors the reference's ``H3DataFrame`` (a polars DataFrame + h3index
column name; ``crates/ukis_h3cellstore/src/clickhouse/compacted_tables/
mod.rs:366``) and the Python ``DataFrameWrapper``
(``ukis_h3cellstorepy/frame.py:23-89``): conversion helpers to
pandas/pyarrow are provided for API parity, but unlike the reference —
where the dataframe is always driver-resident — the wrapped object here
is a *lazy distributed* DataFrame; conversions collect and should only
be used on query results that fit the driver.

:meth:`H3DataFrame.materialize` gives the reference's driver-resident
form: a copy holding a **snapshot**, the result collected once as a
``pyarrow.Table``. ``to_arrow``, ``to_pandas``, ``to_polars`` and
``count`` then answer from the snapshot without a Spark job (pandas
conversion as Spark's Arrow-enabled ``toPandas`` does it), while
``.df`` stays the lazy plan for further composition and plan
inspection. Traversal steps arrive materialized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ukis_h3cellstore_spark.h3 import expressions as hx


class H3DataFrame:
    def __init__(
        self, df: DataFrame, h3index_column_name: str = "h3index", snapshot=None
    ):
        if h3index_column_name not in df.columns:
            raise ValueError(
                f"h3index column {h3index_column_name!r} not in {df.columns}"
            )
        self.df = df
        self.h3index_column_name = h3index_column_name
        #: the collected result of ``df`` (``pyarrow.Table``), or None
        self.snapshot = snapshot

    def materialize(self) -> "H3DataFrame":
        """A copy holding the collected result: one Spark job here,
        none in the copy's exports."""
        return H3DataFrame(self.df, self.h3index_column_name, self.df.toArrow())

    # -- column helpers -----------------------------------------------------

    @property
    def h3col(self) -> Column:
        return F.col(self.h3index_column_name)

    def with_resolution(self, out: str = "h3_resolution") -> DataFrame:
        return self.df.withColumn(out, hx.h3_get_resolution(self.h3col))

    def with_parent(self, parent_res: int, out: str = "h3index_parent") -> DataFrame:
        return self.df.withColumn(out, hx.h3_to_parent(self.h3col, parent_res))

    # -- h3ron-polars-style dataframe ops (reference H3DataFrame API) -------

    def compact(self, max_res: int | None = None) -> "H3DataFrame":
        """``h3_compact_dataframe`` parity (insert.rs:99-108): merge
        complete uniform sibling sets into parent rows."""
        from ukis_h3cellstore_spark import compaction

        return H3DataFrame(
            compaction.compact_df(self.df, self.h3index_column_name, max_res),
            self.h3index_column_name,
        )

    def uncompact(
        self, target_res: int, cells: list[int] | None = None
    ) -> "H3DataFrame":
        """``h3_uncompact_dataframe_subset`` parity (mod.rs:459-477):
        expand mixed-resolution rows to ``target_res``; ``cells``
        optionally restricts the output."""
        from ukis_h3cellstore_spark import compaction
        from ukis_h3cellstore_spark.query import cells_frame

        cells_df = None
        cells_count = None
        if cells is not None:
            cells_df = cells_frame(
                self.df.sparkSession, self.h3index_column_name, list(cells)
            )
            cells_count = len(cells)
        return H3DataFrame(
            compaction.uncompact_df(
                self.df,
                target_res,
                self.h3index_column_name,
                cells_df=cells_df,
                cells_count=cells_count,
            ),
            self.h3index_column_name,
        )

    def partition_by_resolution(self) -> dict[int, DataFrame]:
        """``h3_partition_by_resolution`` parity (insert.rs:99-108):
        split a mixed-resolution dataframe into {resolution: df}.
        Driver discovers the distinct resolutions (≤16 values); each
        returned df is a lazy filter over the input."""
        res_col = hx.h3_get_resolution(self.h3col)
        present = [
            r["__r"]
            for r in self.df.select(res_col.alias("__r")).distinct().collect()
        ]
        return {
            r: self.df.filter(hx.h3_get_resolution(self.h3col) == r)
            for r in sorted(present)
        }

    # -- exports (parity with DataFrameWrapper.to_pandas/to_arrow) ----------

    def to_pandas(self):
        if self.snapshot is None:
            return self.df.toPandas()
        return _arrow_to_pandas(self.snapshot, self.df)

    def to_arrow(self):
        if self.snapshot is None:
            return self.df.toArrow()
        return self.snapshot

    def to_polars(self):
        """Reference ``DataFrameWrapper.to_polars`` (frame.py:50-82);
        needs the optional ``polars`` package."""
        try:
            import polars
        except ImportError as e:  # pragma: no cover - env dependent
            raise ImportError(
                "to_polars requires the optional 'polars' package"
            ) from e
        return polars.from_arrow(self.to_arrow())

    def count(self) -> int:
        if self.snapshot is None:
            return self.df.count()
        return self.snapshot.num_rows

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def __repr__(self) -> str:
        return f"H3DataFrame(h3index_column={self.h3index_column_name!r}, df={self.df})"


def _arrow_to_pandas(table, df: DataFrame):
    """``table`` (the collected ``df``) as ``df.toPandas()`` returns it
    with Arrow enabled: the same pyarrow options, the empty-result
    frame, and Spark's per-column converters (time zones, structs)."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    if table.num_rows > 0:
        pdf = table.rename_columns(
            [f"col_{i}" for i in range(table.num_columns)]
        ).to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
        pdf.columns = df.columns
    else:
        pdf = pd.DataFrame(columns=df.columns)
    if len(pdf.columns) == 0:
        return pdf
    jconf = df.sparkSession._jconf
    struct_in_pandas = jconf.pandasStructHandlingMode()
    legacy = struct_in_pandas == "legacy"
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=jconf.sessionLocalTimeZone(),
                struct_in_pandas="dict" if legacy else struct_in_pandas,
                error_on_duplicated_field_names=legacy,
            )(pser)
            for (_, pser), field in zip(pdf.items(), df.schema.fields)
        ],
        axis="columns",
    )
