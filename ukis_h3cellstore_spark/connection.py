"""Connection — the reference's user-facing API surface, name-for-name.

The reference exposes everything through ``GRPCConnection``
(``crates/ukis_h3cellstorepy/src/clickhouse/grpc.rs``; method list in
SURVEY §2.10). This class is the drop-in equivalent on Spark: same
method names and argument shapes, delegating to :class:`CellStore`
(storage + query pipelines) and :mod:`traversal` (streaming reads).

Differences, by design:

- the constructor takes a ``SparkSession`` + warehouse location
  instead of a gRPC endpoint + database name (there is no server —
  Spark executors scan the warehouse directly);
- dataframe-returning methods return :class:`H3DataFrame` /
  ``pyspark.sql.DataFrame`` (lazy, distributed) rather than
  driver-resident wrappers; call ``.to_pandas()`` where the reference
  returned eagerly materialized frames. Traversal steps are the
  exception: each arrives materialized on the driver, as in the
  reference;
- ``num_connections`` is the traversal's prefetch width (steps run
  concurrently ahead of the consumer); Spark's scheduler owns the
  parallelism inside each step.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from ukis_h3cellstore_spark.frame import H3DataFrame
from ukis_h3cellstore_spark.query import TableSetQuery
from ukis_h3cellstore_spark.schema import CompactedTableSchema
from ukis_h3cellstore_spark.store import CellStore, InsertOptions
from ukis_h3cellstore_spark.tableset import TableSet
from ukis_h3cellstore_spark.traversal import (
    TraversalOptions,
    Traverser,
    build_traverser,
)


class Connection:
    """API-parity facade (reference ``GRPCConnection``, grpc.rs:121-357)."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.store = CellStore(spark, warehouse_dir)

    # ------------------------------------------------ raw SQL (S1, S2, S5)

    def execute(self, sql: str) -> None:
        """grpc.rs:121-134 — run a statement, discard the result."""
        self.store.execute(sql)

    def execute_into_dataframe(self, sql: str) -> DataFrame:
        """grpc.rs:137-150 — run a query, get a dataframe."""
        return self.store.execute_into_dataframe(sql)

    def execute_into_h3dataframe(self, sql: str, h3index_column_name: str) -> H3DataFrame:
        """grpc.rs:165-185 — run a query, wrap with the H3 column name."""
        return self.store.execute_into_h3dataframe(sql, h3index_column_name)

    def insert_dataframe(self, table_name: str, df: DataFrame) -> None:
        """grpc.rs:153-162 — append a dataframe to a raw table."""
        self.store.insert_dataframe(table_name, df)

    # -------------------------------------------------- catalog (S6-S9)

    def database_exists(self, *_args) -> bool:
        """grpc.rs:188-192 — does the warehouse exist."""
        return self.store.database_exists()

    def create_database(self) -> None:
        """cellstore.rs:95-110 parity."""
        self.store.create_database()

    def list_tablesets(self) -> dict[str, TableSet]:
        """grpc.rs:195-203 — discover tablesets (S8)."""
        return self.store.list_tablesets()

    def create_tableset(self, schema: CompactedTableSchema) -> None:
        """grpc.rs:217-225 — materialize the (empty) pyramid layout."""
        self.store.create_tableset(schema)

    def drop_tableset(self, tableset_name: str) -> None:
        """grpc.rs:206-214 — remove every table of the set."""
        self.store.drop_tableset(tableset_name)

    # ---------------------------------------------- write path (Q1, Q5)

    def insert_h3dataframe_into_tableset(
        self,
        schema: CompactedTableSchema,
        df: DataFrame | H3DataFrame,
        options: InsertOptions | None = None,
    ) -> None:
        """grpc.rs:239-286 — compact → split → rollup → publish."""
        if isinstance(df, H3DataFrame):
            df = df.df
        self.store.insert_h3dataframe_into_tableset(schema, df, options)

    def deduplicate_schema(self, schema: CompactedTableSchema | str) -> None:
        """grpc.rs:228-236 — OPTIMIZE DEDUPLICATE parity (Q5)."""
        name = schema if isinstance(schema, str) else schema.name
        self.store.deduplicate_tableset(name)

    # ----------------------------------------------- read path (Q2-Q4)

    def query_tableset_cells(
        self,
        tableset_name: str,
        query: TableSetQuery | str | None,
        cells: Iterable[int],
        h3_resolution: int,
        do_uncompact: bool = True,
    ) -> H3DataFrame:
        """grpc.rs:288-311 — cell query + uncompaction (Q2). ``query``
        may be a TableSetQuery, a template string, or None (auto)."""
        return self.store.query_tableset_cells(
            tableset_name,
            [int(c) for c in cells],
            h3_resolution,
            query=_coerce_query(query),
            do_uncompact=do_uncompact,
        )

    def traverse_tableset_area_of_interest(
        self,
        tableset_name: str,
        query: TableSetQuery | str | None,
        area_of_interest,
        h3_resolution: int,
        *,
        max_h3indexes_fetch_count: int | None = None,
        num_connections: int = 3,
        filter_query: TableSetQuery | str | None = None,
        do_uncompact: bool = True,
    ) -> Traverser:
        """grpc.rs:326-344 — streaming traversal (Q3). AOI is a cell
        iterable or a ``__geo_interface__`` geometry."""
        options = TraversalOptions(
            num_connections=num_connections, do_uncompact=do_uncompact
        )
        if max_h3indexes_fetch_count is not None:
            options.max_h3indexes_fetch_count = max_h3indexes_fetch_count
        options.filter_query = _coerce_query(filter_query)
        return build_traverser(
            self.store,
            tableset_name,
            area_of_interest,
            h3_resolution,
            query=_coerce_query(query),
            options=options,
        )

    def tableset_stats(self, tableset_name: str) -> DataFrame:
        """grpc.rs:348-357 — per-table counts + derived cell counts (Q4)."""
        return self.store.tableset_stats(tableset_name)


def _coerce_query(query: TableSetQuery | str | None) -> TableSetQuery | None:
    if query is None or isinstance(query, TableSetQuery):
        return query
    return TableSetQuery.from_template(query)
