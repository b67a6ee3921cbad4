"""The three workloads: closed loop, one client thread, public API only.

* ``ingest`` -- write path: append batches into a tableset that set-up
  created with a fresh insert and a first append. Each append re-sends
  whole stored tiles (exact duplicates the table engine must merge
  away) plus new tiles.
* ``cell_query`` -- Q2 reads (``Connection.query_tableset_cells``)
  against the pre-loaded tableset, with the mix from ``gen.queries``.
* ``aoi_traversal`` -- Q3 pull traversals
  (``Connection.traverse_tableset_area_of_interest``) of the AOI boxes,
  each visited once, with a ``filter_query`` prefilter and the auto
  fetch query; the consumer materializes every step.
* ``aoi_traversal_templated`` -- the same with a templated fetch query
  (valid rows only). It reproduces a known defect of the package:
  concurrent templated fetches can share a temporary view name, so
  some steps come back wrong (see README.md).

Operations alternate traced/untraced in a traced run, so the per-layer
numbers come from the traced half and the tracing overhead is the
difference between the halves.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from ukis_h3cellstore_spark import Connection

import gen
import h3bits
import oracle
from spans import SparkAccounting, attribute, jobs_under

#: input generation is repeated this many times in set-up; its median
#: enters setup_s
GEN_REPS = 3
#: Q2 queries run during set-up, after the pre-load, to finish lazy
#: initialisation (code generation, Python workers) before timing
WARM_QUERIES = 3
MAX_NOTES = 5
#: the reference's traversal defaults (BASELINE.md)
NUM_CONNECTIONS = 3
MAX_FETCH_COUNT = 500


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)  # name -> (value, unit)
    notes: dict = field(default_factory=dict)


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                out[p] = os.path.getsize(p)
    return out


def _stored_tables(tableset_dir: str) -> dict[tuple[int, bool], object]:
    """Every pyramid table as read back by DuckDB (not by Spark)."""
    out = {}
    tables = os.path.join(tableset_dir, "tables")
    for name in sorted(os.listdir(tables)):
        _, res, kind = name.rsplit("_", 2)
        files = os.path.join(tables, name, "**", "*.parquet")
        out[(int(res), kind == "compacted")] = duckdb.sql(
            f"SELECT h3index, is_valid, density, peak FROM read_parquet('{files}', "
            "hive_partitioning = true)"
        ).df()
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the JVM, in MiB."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation (numpy's default)."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q * 100.0))


class Workload:
    name = ""
    #: operations a run makes even when they outlast ``--seconds``
    min_ops = 1

    def __init__(self, spark, seed: int, warehouse: str, tracer, traced: bool):
        self.spark = spark
        self.seed = seed
        self.warehouse = warehouse
        self.tracer = tracer
        self.traced = traced
        self.cores = int(spark.sparkContext.defaultParallelism)
        self.schema = gen.build_schema()
        self.result = Result()
        self.ops: list[dict] = []  # one record per timed operation
        self._op_index = 0
        if traced:
            self._install_wrappers()

    # ---------------------------------------------------------------- set-up

    def generate(self) -> float:
        """Lazy geometry set-up once, then the inputs GEN_REPS times;
        seconds of the former plus the median of the latter."""
        from ukis_h3cellstore_spark import geo

        t = time.perf_counter()
        geo.geometry_to_cells(gen.box(gen.AOI_ORIGIN[0], gen.AOI_ORIGIN[1], 0.1), gen.TILE_RES)
        init_s = time.perf_counter() - t
        times = []
        for _ in range(GEN_REPS):
            t = time.perf_counter()
            self.field = gen.make_field(self.seed)
            self.extra_inputs()
            times.append(time.perf_counter() - t)
        self.result.notes["setup_generate_s"] = [init_s, *times]
        return init_s + statistics.median(times)

    def extra_inputs(self) -> None:
        pass

    def frame(self, rows):
        return self.spark.createDataFrame(rows, schema=gen.SPARK_DDL)

    def preload(self, frame, n_rows: int, directory: str, trace: bool = False):
        """Fresh insert into a new warehouse; ``trace`` records it in a
        traced run (the read workloads report the write layers of the
        table they query)."""
        conn = Connection(self.spark, directory)
        if self.traced:
            self._wrap_store(conn.store)
        self.tracer.active = self.traced and trace
        try:
            with self.tracer.span("preload"):
                wall = self.insert(conn, frame, n_rows)
        finally:
            self.tracer.active = False
        self.result.notes.setdefault("setup_preload_s", []).append(wall)
        return conn

    def insert(self, conn, frame, n_rows: int) -> float:
        before = _dir_files(conn.store.warehouse_dir) if self.tracer.active else None
        t = time.perf_counter()
        with self.tracer.span("store.insert", rows_in=n_rows) as s:
            conn.insert_h3dataframe_into_tableset(self.schema, frame)
        wall = time.perf_counter() - t
        if s is not None:
            after = _dir_files(conn.store.warehouse_dir)
            s.attrs["files_written"] = len(set(after) - set(before))
        return wall

    # ------------------------------------------------------------- timed loop

    def run(self, seconds: float) -> Result:
        deadline = time.perf_counter() + seconds
        while (time.perf_counter() < deadline or not self.ops_done()) and self.more_work():
            self._op_index += 1
            self.tracer.active = self._traced_op()
            self.tracer.op = self._op_index
            try:
                with self.tracer.span("op"):
                    self.one_op()
            except Exception:
                self.count(False, traceback.format_exc(limit=3))
            finally:
                self.tracer.active = False
        self.finish()
        return self.result

    def _traced_op(self) -> bool:
        """In a traced run every second operation is traced; the seed
        picks whether the first one is, so that warm-up within a run
        does not bias ``overhead.*`` in one direction."""
        return self.traced and (self._op_index + self.seed) % 2 == 0

    def ops_done(self) -> bool:
        """``min_ops`` operations, and in a traced run at least one
        traced and one untraced."""
        return self._op_index >= max(self.min_ops, 2 if self.traced else 1)

    def more_work(self) -> bool:
        return True

    def count(self, ok: bool, note: str) -> None:
        """One checked operation."""
        self.result.attempted += 1
        if not ok:
            self.fail(note)

    def record(self, ok: bool, note: str = "", **values) -> None:
        """One checked, timed operation."""
        self.count(ok, note)
        values["traced"] = self._traced_op()
        values["op"] = self._op_index
        self.ops.append(values)

    def fail(self, note: str) -> None:
        self.result.failed += 1
        notes = self.result.notes.setdefault("failures", [])
        if len(notes) < MAX_NOTES:
            notes.append(note)

    def stored_bytes_per_row(self, conn, n_rows: int) -> float:
        return sum(_dir_files(conn.store.warehouse_dir).values()) / n_rows

    # ------------------------------------------------------- traced metrics

    def _install_wrappers(self) -> None:
        from ukis_h3cellstore_spark import geo, traversal

        def polyfill(span, args, kwargs, result):
            span.attrs["cells"] = len(result)

        def prefilter(span, args, kwargs, result):
            span.attrs["cells_in"] = len(args[2])
            span.attrs["cells_kept"] = len(result)

        self.tracer.wrap(geo, "geometry_to_cells", "geo.polyfill", polyfill)
        self.tracer.wrap(traversal, "_prefilter_cells", "traversal.prefilter", prefilter)

    def _wrap_store(self, store) -> None:
        def dedup(span, args, kwargs, result):
            touched = args[2] if len(args) > 2 else kwargs.get("touched_partitions")
            span.attrs["partitions"] = sum(len(v) for v in (touched or {}).values())

        def query(span, args, kwargs, result):
            span.attrs["cells"] = len(args[1])

        self.tracer.wrap(store, "deduplicate_tableset", "store.dedup", dedup)
        # the plan half of Q2: until the lazy frame returns (also called
        # from the traversal's prefetch threads)
        self.tracer.wrap(store, "query_tableset_cells", "query.plan", query)

    def layer_metrics(self) -> dict:
        spans = self.tracer.spans
        jobs = SparkAccounting(self.spark).jobs()
        owned = attribute(spans, jobs)
        m: dict[str, tuple[float, str]] = {}
        m.update(_store_metrics(spans, owned))
        m.update(_query_metrics(spans, owned, self.ops))
        m["peak_rss_mb"] = (peak_rss_mb(self.spark), "MiB")
        m.update(_traversal_metrics(spans, owned, self.ops))
        m.update(_engine_metrics(spans, owned, self.cores))
        m.update(self.overhead())
        return m

    def overhead(self) -> dict:
        """Traced minus untraced end-to-end figures of this run."""
        traced = self.summarize([o for o in self.ops if o["traced"]])
        plain = self.summarize([o for o in self.ops if not o["traced"]])
        return {
            f"overhead.{name}": (traced[name][0] - plain[name][0], traced[name][1])
            for name in ("op_p50_s", "ops_per_s", "rows_per_s")
        }

    def summarize(self, ops: list[dict]) -> dict:
        lat = [o["latency"] for o in ops]
        return {
            "op_p50_s": (statistics.median(lat), "s"),
            "ops_per_s": (len(lat) / sum(lat), "1/s"),
            "rows_per_s": (sum(o["rows"] for o in ops) / sum(lat), "rows/s"),
            "stored_bytes_per_row": (self.bytes_per_row(ops), "B/row"),
        }

    def finish(self) -> None:
        self.result.end_to_end.update(self.summarize(self.ops))
        self.result.notes["operations"] = len(self.ops)
        lat = [o["latency"] for o in self.ops]
        self.result.notes["latency_s"] = _tail(lat)


def _tail(lat: list[float]) -> dict:
    """Median and the highest of p90/p75/p50 with >= 10 samples beyond."""
    out = {"count": len(lat)}
    if lat:
        out["p50"] = _pct(lat, 0.5)
        for q in (0.9, 0.75, 0.5):
            if len(lat) * (1 - q) >= 10:
                out[f"p{round(q * 100)}"] = _pct(lat, q)
                break
    return out


# ------------------------------------------------------------------ ingest


class Ingest(Workload):
    """Appends into a tableset the set-up created with a fresh insert."""

    name = "ingest"
    # one append outlasts a run's time budget; the median of two per
    # run spreads less across runs than a single sample
    min_ops = 2

    def extra_inputs(self) -> None:
        self.batches = gen.ingest_batches(self.field, self.seed)
        seen = np.array([], dtype=np.int64)
        self.distinct_rows = []  # distinct input rows stored after each batch
        for b in self.batches:
            seen = np.union1d(seen, b["h3index"].to_numpy())
            self.distinct_rows.append(len(seen))

    def setup(self) -> float:
        gen_s = self.generate()
        t = time.perf_counter()
        self.frames = [self.frame(b) for b in self.batches]
        self.rounds = 0
        self._new_round()
        return gen_s + (time.perf_counter() - t)

    def _new_round(self) -> None:
        """Fresh tableset holding the first batch; the timed appends
        follow. (An untimed warm-up append would cost a run about as
        long as a timed one, and the whole measurement must fit in an
        hour.)"""
        self.rounds += 1
        directory = os.path.join(self.warehouse, f"round-{self.rounds}")
        self.conn = self.preload(self.frames[0], len(self.batches[0]), directory)
        self.expected = oracle.pyramid(self.batches[0])
        self.next_batch = 1
        self.count(self.check(self.conn), "set-up insert: stored rows differ from the model")

    def more_work(self) -> bool:
        if self.next_batch == len(self.batches):
            self._new_round()  # between operations, untimed
        return True

    def check(self, conn) -> bool:
        got = _stored_tables(os.path.join(conn.store.warehouse_dir, gen.TABLESET))
        return all(
            oracle.same_rows(got.get(k, _EMPTY), self.expected.get(k, _EMPTY))
            for k in set(got) | set(self.expected)
        )

    def one_op(self) -> None:
        i = self.next_batch
        self.next_batch += 1
        rows = self.batches[i]
        wall = self.insert(self.conn, self.frames[i], len(rows))
        self.expected = oracle.merge(self.expected, oracle.pyramid(rows))
        self.record(
            self.check(self.conn),
            f"append {i}: stored rows differ from the model",
            latency=wall,
            rows=len(rows),
            bytes_per_row=self.stored_bytes_per_row(self.conn, self.distinct_rows[i]),
        )

    def bytes_per_row(self, ops: list[dict]) -> float:
        return ops[-1]["bytes_per_row"]


_EMPTY = oracle.canonical(pd.DataFrame({c: [] for c in gen.COLUMNS}))


# ------------------------------------------------------------ cell_query


class _ReadWorkload(Workload):
    def setup(self) -> float:
        gen_s = self.generate()
        t = time.perf_counter()
        self.conn = self.preload(
            self.frame(self.field.rows),
            len(self.field.rows),
            os.path.join(self.warehouse, "preload"),
            trace=True,
        )
        self.model = oracle.pyramid(self.field.rows)
        self.warm_up()
        return gen_s + (time.perf_counter() - t)

    def warm_up(self) -> None:
        warm = gen.queries(self.field, self.seed + 1_000_003)
        for _ in range(WARM_QUERIES):
            q = next(warm)
            self.conn.query_tableset_cells(gen.TABLESET, q.template, q.cells, q.resolution).to_pandas()

    def bytes_per_row(self, ops: list[dict]) -> float:
        return self.stored_bytes_per_row(self.conn, len(self.field.rows))


class CellQuery(_ReadWorkload):
    name = "cell_query"

    def extra_inputs(self) -> None:
        self.queries = gen.queries(self.field, self.seed)

    def one_op(self) -> None:
        q = next(self.queries)
        t0 = time.perf_counter()
        h3df = self.conn.query_tableset_cells(gen.TABLESET, q.template, q.cells, q.resolution)
        t1 = time.perf_counter()
        with self.tracer.span("query.exec") as s:
            pdf = h3df.to_pandas()
        t2 = time.perf_counter()
        if s is not None:
            s.attrs["rows_out"] = len(pdf)
            s.attrs["tables_scanned"] = _tables_scanned(h3df)
        want = oracle.query_rows(self.model, q.cells, q.resolution, q.template is not None)
        ok = oracle.same_checksum(oracle.checksum(pdf), oracle.checksum(want))
        self.record(
            ok,
            f"query {len(q.cells)} cells at res {q.resolution}: got {len(pdf)} rows, want {len(want)}",
            latency=t2 - t0,
            plan_s=t1 - t0,
            rows=len(pdf),
            cells=len(q.cells),
            cells_hit=int(want["h3index"].nunique()),
        )

    def finish(self) -> None:
        super().finish()
        cells = sum(o["cells"] for o in self.ops)
        self.result.notes["query_cells_outside_data_share"] = (
            1.0 - sum(o["cells_hit"] for o in self.ops) / cells if cells else 0.0
        )


# --------------------------------------------------------- aoi_traversal


class AoiTraversal(_ReadWorkload):
    name = "aoi_traversal"
    min_ops = 2
    #: the traversal's fetch query; None is the auto query
    fetch_template: str | None = None

    def extra_inputs(self) -> None:
        self.order = gen.traversal_order(self.field, self.seed)

    def more_work(self) -> bool:
        return bool(self.order)

    def traverse(self, aoi):
        return self.conn.traverse_tableset_area_of_interest(
            gen.TABLESET,
            self.fetch_template,
            aoi.polygon,
            gen.TARGET_RES,
            max_h3indexes_fetch_count=MAX_FETCH_COUNT,
            num_connections=NUM_CONNECTIONS,
            filter_query=gen.TEMPLATE_PRESENT,
        )

    def check_step(self, tile: int, pdf) -> tuple[bool, str]:
        cells = h3bits.children(np.array([tile], dtype=np.int64), gen.TARGET_RES)
        want = oracle.query_rows(
            self.model, cells.tolist(), gen.TARGET_RES, self.fetch_template is not None
        )
        ok = oracle.same_checksum(oracle.checksum(pdf), oracle.checksum(want))
        return ok, f"tile {tile}: got {len(pdf)} rows, want {len(want)}"

    def check_tiles(self, aoi, yielded: list[int]) -> tuple[bool, str]:
        """The traversal yields the tiles holding rows its query keeps."""
        tiles = aoi.data_tiles if self.fetch_template is None else aoi.valid_tiles
        return (
            sorted(yielded) == tiles.tolist(),
            f"traversal yielded {len(yielded)} tiles, want {len(tiles)}",
        )

    def warm_up(self) -> None:
        """One untimed traversal of one box, its steps checked: the
        first traversal of a process is slower than the later ones."""
        aoi = self.field.aois[self.order.pop(0)]
        yielded = []
        for cell in self.traverse(aoi):
            self.count(*self.check_step(cell.cell, cell.contained_data.to_pandas()))
            yielded.append(cell.cell)
        self.count(*self.check_tiles(aoi, yielded))

    def one_op(self) -> None:
        """One traversal of one AOI; records one op per step."""
        aoi = self.field.aois[self.order.pop(0)]
        t0 = time.perf_counter()
        with self.tracer.span("traversal.build"):
            trav = self.traverse(aoi)
        steps = []
        first = None
        while True:
            t = time.perf_counter()
            with self.tracer.span("traversal.step"):
                try:
                    cell = next(trav)
                except StopIteration:
                    break
            waited = time.perf_counter()
            with self.tracer.span("query.exec") as s:
                pdf = cell.contained_data.to_pandas()
            done = time.perf_counter()
            if s is not None:
                s.attrs["rows_out"] = len(pdf)
                s.attrs["tables_scanned"] = _tables_scanned(cell.contained_data)
            if first is None:
                first = waited - t0
            steps.append((cell.cell, pdf, done - t, waited - t))
        wall = time.perf_counter() - t0
        self.traversals.append(
            {
                "op": self._op_index,
                "wall": wall,
                "first": first if first is not None else wall,
                "cells": trav.num_traversed_cells,
                "rows": sum(len(p) for _, p, _, _ in steps),
            }
        )
        for tile, pdf, latency, wait in steps:
            self.record(*self.check_step(tile, pdf), latency=latency, wait=wait, rows=len(pdf))
        self.record(*self.check_tiles(aoi, [t for t, _, _, _ in steps]), latency=None, rows=0)

    def setup(self) -> float:
        self.traversals: list[dict] = []
        return super().setup()

    def summarize(self, ops: list[dict]) -> dict:
        """An operation here is one whole traversal: from the traverse
        call until the iterator is exhausted, every step materialized.
        (Single steps are bimodal -- a step whose prefetch is done costs
        only its ``to_pandas`` -- and a run holds few of them.)"""
        op_ids = {o["op"] for o in ops}
        travs = [t for t in self.traversals if t["op"] in op_ids]
        wall = sum(t["wall"] for t in travs)
        return {
            "op_p50_s": (statistics.median(t["wall"] for t in travs), "s"),
            "ops_per_s": (sum(t["cells"] for t in travs) / wall, "1/s"),
            "rows_per_s": (sum(t["rows"] for t in travs) / wall, "rows/s"),
            "stored_bytes_per_row": (self.bytes_per_row(ops), "B/row"),
        }

    def finish(self) -> None:
        self.result.end_to_end.update(self.summarize(self.ops))
        lat = [o["latency"] for o in self.ops if o["latency"] is not None]
        self.result.notes["operations"] = len(lat)
        self.result.notes["latency_s"] = _tail(lat)
        self.result.notes["traversals"] = len(self.traversals)
        self.result.notes["first_step_s"] = [t["first"] for t in self.traversals]


class AoiTraversalTemplated(AoiTraversal):
    """Not in BENCHMARK.json: its failures are the package's, not noise."""

    name = "aoi_traversal_templated"
    fetch_template = gen.TEMPLATE_VALID


WORKLOAD_CLASSES = {
    c.name: c for c in (Ingest, CellQuery, AoiTraversal, AoiTraversalTemplated)
}


# ------------------------------------------------------- layer metrics


def _mean(values) -> float:
    values = list(values)
    return float(sum(values) / len(values)) if values else 0.0


def _secs(ms: float) -> float:
    return ms / 1000.0


def _store_metrics(spans, owned) -> dict:
    inserts = [s for s in spans if s.name == "store.insert"]
    dedups = [s for s in spans if s.name == "store.dedup"]
    dedup_jobs = {j.id for d in dedups for j in jobs_under(spans, owned, d)}
    m = {}
    per_insert = []
    for s in inserts:
        jobs = [j for j in jobs_under(spans, owned, s) if j.id not in dedup_jobs]
        writes = [j for j in jobs if "[res=" in j.description]
        first_write = min((j.submitted_ms for j in writes), default=float("inf"))
        per_insert.append(
            {
                "wall": s.wall_s,
                "jobs": len(jobs),
                "shuffle": sum(j.total("shuffleWriteBytes") for j in jobs),
                "files": s.attrs.get("files_written", 0),
                "bytes": sum(j.total("outputBytes") for j in jobs),
                "rows_in": s.attrs.get("rows_in", 0),
                "compacted_out": sum(
                    j.total("outputRecords")
                    for j in writes
                    if f"[res={gen.TARGET_RES}b]" in j.description or "c]" in j.description
                ),
                "compaction_task_s": _secs(
                    sum(j.total("executorRunTime") for j in jobs if j.submitted_ms < first_write)
                ),
                "rollup": {
                    r: (
                        sum(j.total("shuffleWriteBytes") for j in writes if f"[res={r}b]" in j.description),
                        sum(j.total("outputRecords") for j in writes if f"[res={r}b]" in j.description),
                    )
                    for r in gen.BASE_RESOLUTIONS[:-1]
                },
            }
        )
    m["store.insert.wall_s"] = (_mean(p["wall"] for p in per_insert), "s")
    m["store.insert.spark_jobs"] = (_mean(p["jobs"] for p in per_insert), "count")
    m["store.insert.shuffle_write_bytes"] = (_mean(p["shuffle"] for p in per_insert), "B")
    m["store.insert.files_written"] = (_mean(p["files"] for p in per_insert), "count")
    m["store.insert.bytes_written"] = (_mean(p["bytes"] for p in per_insert), "B")
    m["compaction.rows_in"] = (_mean(p["rows_in"] for p in per_insert), "rows")
    m["compaction.rows_out"] = (_mean(p["compacted_out"] for p in per_insert), "rows")
    m["compaction.task_s"] = (_mean(p["compaction_task_s"] for p in per_insert), "s")
    for r in gen.BASE_RESOLUTIONS[:-1]:
        m[f"rollup.shuffle_write_bytes.res{r}"] = (_mean(p["rollup"][r][0] for p in per_insert), "B")
        m[f"rollup.rows_out.res{r}"] = (_mean(p["rollup"][r][1] for p in per_insert), "rows")
    m["store.dedup.wall_s"] = (_mean(s.wall_s for s in dedups), "s")
    m["store.dedup.partitions_rewritten"] = (_mean(s.attrs.get("partitions", 0) for s in dedups), "count")
    m["store.dedup.bytes_rewritten"] = (
        _mean(sum(j.total("outputBytes") for j in jobs_under(spans, owned, s)) for s in dedups),
        "B",
    )
    return m


def _query_metrics(spans, owned, ops) -> dict:
    """Q2 calls: the plan half is the ``query_tableset_cells`` call, the
    exec half the consumer's ``to_pandas``; Spark work is that of the
    whole operation (a traversal's prefilter and fetches included)."""
    plans = [s for s in spans if s.name == "query.plan"]
    execs = [s for s in spans if s.name == "query.exec"]
    roots = [s for s in spans if s.name == "op"]
    jobs = [j for r in roots for j in jobs_under(spans, owned, r)]
    rows_read = sum(j.total("inputRecords") for j in jobs)
    rows_out = sum(s.attrs.get("rows_out", 0) for s in execs)
    return {
        "query.plan_s": (_mean(s.wall_s for s in plans), "s"),
        "query.exec_s": (_mean(s.wall_s for s in execs), "s"),
        "query.spark_jobs": (len(jobs) / len(plans) if plans else 0.0, "count"),
        "query.tables_scanned": (_mean(s.attrs["tables_scanned"] for s in execs), "count"),
        "query.rows_read_per_row_returned": (rows_read / rows_out if rows_out else 0.0, "ratio"),
    }


def _tables_scanned(h3df) -> int:
    """Parquet scans in the executed plan (one per pyramid table read);
    an adaptive plan prints its final plan before the initial one."""
    plan = h3df.df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0].count("FileScan parquet")


def _traversal_metrics(spans, owned, ops) -> dict:
    builds = [s for s in spans if s.name == "traversal.build"]
    prefilters = [s for s in spans if s.name == "traversal.prefilter"]
    steps = [s for s in spans if s.name == "traversal.step"]
    polyfills = [s for s in spans if s.name == "geo.polyfill"]
    roots = {s.id: s for s in spans if s.name == "op"}
    trav_ops = [roots[s.parent] for s in builds if s.parent in roots]
    cells_in = sum(s.attrs.get("cells_in", 0) for s in prefilters)
    kept = sum(s.attrs.get("cells_kept", 0) for s in prefilters)
    traced_steps = [o for o in ops if o["traced"] and o.get("wait") is not None]
    # per traversal: the first step's wait ends the first-step interval
    firsts = []
    for b in builds:
        later = [s for s in steps if s.op == b.op]
        if later:
            firsts.append(min(later, key=lambda s: s.start).end - b.start)
    n_jobs = sum(len(jobs_under(spans, owned, r)) for r in trav_ops)
    return {
        "traversal.build_s": (_mean(s.wall_s for s in builds), "s"),
        "traversal.first_step_s": (statistics.median(firsts) if firsts else 0.0, "s"),
        "traversal.prefilter_s": (_mean(s.wall_s for s in prefilters), "s"),
        "traversal.prefilter_kept_ratio": (kept / cells_in if cells_in else 0.0, "ratio"),
        "traversal.step_wait_p50_s": (
            statistics.median(o["wait"] for o in traced_steps) if traced_steps else 0.0,
            "s",
        ),
        "traversal.empty_fetch_ratio": (1.0 - len(traced_steps) / kept if kept else 0.0, "ratio"),
        "traversal.spark_jobs_per_step": (n_jobs / kept if kept else 0.0, "count"),
        "geo.polyfill_s": (_mean(s.wall_s for s in polyfills), "s"),
        "geo.aoi_cells": (_mean(s.attrs.get("cells", 0) for s in polyfills), "count"),
    }


def _engine_metrics(spans, owned, cores: int) -> dict:
    roots = [s for s in spans if s.name == "op"]
    jobs = [j for r in roots for j in jobs_under(spans, owned, r)]
    tasks = [t for j in jobs for t in j.tasks]
    wall = sum(r.wall_s for r in roots)
    run_ms = sum(j.total("executorRunTime") for j in jobs)
    n = len(roots) or 1
    return {
        "spark.jobs_per_op": (len(jobs) / n, "count"),
        "spark.tasks_per_op": (len(tasks) / n, "count"),
        "spark.core_busy_ratio": (_secs(run_ms) / (wall * cores) if wall else 0.0, "ratio"),
        "spark.gc_s_per_op": (_secs(sum(j.total("jvmGcTime") for j in jobs)) / n, "s"),
        "spark.scheduler_delay_s_per_op": (
            _secs(sum(t.get("schedulerDelay", 0) or 0 for t in tasks)) / n,
            "s",
        ),
    }
