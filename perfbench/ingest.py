"""ingest_upsert: file-ingest upserts and rollup recalculation beside reads.

One writer thread and one pgwire reader share one engine over a fresh
warehouse copy of a generated lineitem table (60k rows, month-bucketed by
the engine's own write path; the base is the same for every seed, so the
copy is built once per checkout and cached).

- The writer ingests seeded batches through ``sources.files.ingest_file``:
  each batch lands on the next day of a 90-day region at the end of the data
  and holds new rows (fresh order keys) plus rows that overwrite existing
  keys of that day.  Every ``RECALC_EVERY`` batches it runs
  ``operators.rollup.recalculate(item_orders_by_month, since=...)``.
- The reader, closed loop, queries the day the writer just wrote: the
  latest acknowledged batch's fresh rows must all be visible, with their
  exact quantity sum (read-your-writes).  Every error response counts as
  a failed operation.

Reads overlap the writer's Spark jobs but not its table swaps.  The engine
installs a rewritten table by renaming the live directory away and deleting
it (``Warehouse._swap_and_invalidate``), and its docstring leaves isolation
of readers from that swap to callers.  A read planned before a swap and run
after it fails with FileNotFound, so ``SwapGate`` holds each swap until the
read in flight ends and holds new reads until the swap ends.  The time the
writer waits there is taken out of its upsert and recalculation latencies
and reported on its own.  The defect itself is probed once per run, outside
the timed window: a read planned before the first warm-up upsert runs after
it, and its error is reported (``stale_read_error`` in the detail record,
``writes.stale_read_errors`` in a traced run).

Checks: read-your-writes for every read; at the end the whole table against
DuckDB over the base data plus every batch file (last write winning per
key), and the rollup against the same as of its last recalculation.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from typing import List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import fixtures
from common import mean, median, same_multiset, tail
from pgclient import PgClient

SCALE = 0.1            # lineitem at 0.1 x sf0.1 = 60k rows
BASE_SEED = 0
NEW_ROWS = 200
OVERWRITE_ROWS = 50
RECALC_EVERY = 3
REGION_DAYS = 90
HORIZON = fixtures.SHIP_DAYS - REGION_DAYS
KEY_BASE = 1_000_000_000
KEYS = ["time", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus"]
METRICS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
WRITER_GROUP = "perfbench-writer"
DEC = "CAST(sum(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"


def _rollup():
    from yupana_spark.catalog import standard_rollups

    return next(r for r in standard_rollups()
                if r.name == "item_orders_by_month")


@dataclass
class Batch:
    no: int
    day: dt.datetime
    path: str
    key_lo: int
    key_hi: int
    new_rows: int
    new_qty: float
    months: int         # month buckets the batch's rows fall in


@dataclass
class Read:
    kind: str
    yql: str
    res: object = None
    expect: Optional[tuple] = None
    spark: object = None


class SwapGate:
    """Keeps pgwire reads and the warehouse's table swaps apart.

    A pending swap blocks new reads and waits for the read in flight; a
    read waits for a swap in progress.  ``install`` wraps one warehouse's
    ``_swap_and_invalidate``, which every upsert, write and rollup
    recalculation ends with."""

    def __init__(self):
        self._cv = threading.Condition()
        self._reading = 0
        self._swapping = False
        self.wait_ms: List[float] = []      # writer's wait per swap

    def install(self, wh) -> None:
        swap = wh._swap_and_invalidate

        def gated(table, tmp):
            with self.swap():
                swap(table, tmp)

        wh._swap_and_invalidate = gated

    @contextmanager
    def read(self):
        with self._cv:
            self._cv.wait_for(lambda: not self._swapping)
            self._reading += 1
        try:
            yield
        finally:
            with self._cv:
                self._reading -= 1
                self._cv.notify_all()

    @contextmanager
    def swap(self):
        t0 = time.time()
        with self._cv:
            self._swapping = True
            self._cv.wait_for(lambda: self._reading == 0)
        self.wait_ms.append((time.time() - t0) * 1000.0)
        try:
            yield
        finally:
            with self._cv:
                self._swapping = False
                self._cv.notify_all()


class IngestUpsert:
    name = "ingest_upsert"

    def __init__(self, ctx):
        self.ctx = ctx
        self.srv = None
        self.reader: Optional[PgClient] = None
        self.batches: List[Batch] = []
        self.upserts: List[tuple] = []     # (latency_ms, rows)
        self.recalcs: List[float] = []
        self.reads: List[Read] = []
        self.writes_layer: List[dict] = []
        self.elapsed = 0.0
        self.rep = 0
        self.gate = SwapGate()
        self.stale_error: Optional[str] = None

    # -- inputs --------------------------------------------------------
    def fixtures(self) -> float:
        # the base table is the same for every seed, so its engine-written
        # warehouse copy is built once per checkout; the seed drives the
        # batches (their days, keys and values)
        self.fx_dir, gen_s = fixtures.ensure(self.ctx.cache, "relational",
                                             BASE_SEED, scale=SCALE)
        base = pq.read_table(os.path.join(self.fx_dir, "lineitem.parquet"))
        region0 = fixtures.DAY0 + dt.timedelta(days=HORIZON)
        self.region = base.filter(pc.greater_equal(
            base["l_shipdate"], pa.scalar(region0, pa.timestamp("us"))))
        self.day0 = int(np.random.default_rng([self.ctx.seed, 7]).integers(
            0, REGION_DAYS))
        return gen_s

    def _template(self, spark) -> float:
        """The engine-written warehouse copy for this seed (cached);
        returns the seconds spent building it, 0 when cached."""
        out = os.path.join(self.fx_dir, "warehouse")
        if os.path.isdir(out):
            return 0.0
        from yupana_spark import Tsdb, default_schema
        from yupana_spark.operators import rollup

        t0 = time.time()
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tsdb = Tsdb(spark, default_schema(), self.fx_dir, warehouse_root=tmp)
        tsdb.warehouse.write_table(
            "lineitem", tsdb.schema.load(spark, self.fx_dir, "lineitem"))
        rollup.recalculate(tsdb.warehouse, _rollup())
        os.rename(tmp, out)
        return time.time() - t0

    def _make_batch(self, no: int) -> Batch:
        """Batch ``no``: day ``no`` of the region, fresh rows + overwrites."""
        rng = np.random.default_rng([self.ctx.seed, 8, no])
        day_i = HORIZON + (self.day0 + no) % REGION_DAYS
        day = fixtures.DAY0 + dt.timedelta(days=day_i)
        lo = KEY_BASE + no * 10_000
        new = fixtures.lineitem_rows(rng, NEW_ROWS, key_base=lo,
                                     days=np.full(NEW_ROWS, day_i),
                                     scale=SCALE)
        same_day = self.region.filter(pc.equal(
            self.region["l_shipdate"], pa.scalar(day, pa.timestamp("us"))))
        pick = rng.choice(same_day.num_rows,
                          min(OVERWRITE_ROWS, same_day.num_rows),
                          replace=False)
        old = same_day.take(pa.array(np.sort(pick)))
        n = old.num_rows
        old = old.set_column(
            old.schema.get_field_index("l_quantity"), "l_quantity",
            pa.array(rng.integers(1, 51, n).astype(np.float64)))
        old = old.set_column(
            old.schema.get_field_index("l_extendedprice"), "l_extendedprice",
            pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)))
        path = os.path.join(self.ctx.work, "batches", f"b{no:05d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = pa.concat_tables([new, old])
        pq.write_table(rows, path)
        qty = float(pc.sum(new["l_quantity"]).as_py())
        months = len({(d.year, d.month)
                      for d in rows["l_shipdate"].to_pylist()})
        return Batch(no, day, path, lo, lo + NEW_ROWS, NEW_ROWS, qty, months)

    # -- set-up --------------------------------------------------------
    def prepare(self, spark) -> float:
        from yupana_spark import Tsdb, default_schema
        from yupana_spark.server.pgwire import PgWireServer

        self.close()
        built = self._template(spark)
        self.rep += 1
        self.wh_root = os.path.join(self.ctx.work, f"wh{self.rep}")
        shutil.copytree(os.path.join(self.fx_dir, "warehouse"), self.wh_root)
        self.spark = spark
        self.tsdb = Tsdb(spark, default_schema(), self.fx_dir,
                         warehouse_root=self.wh_root)
        self.gate.install(self.tsdb.warehouse)
        self.srv = PgWireServer(self.tsdb, port=0)
        self.reader = PgClient(self.srv.start())
        self.batches = []
        day = fixtures.DAY0 + dt.timedelta(days=HORIZON)
        self._warm_read(Read("ryw", self._ryw_sql(day, 0, KEY_BASE)))
        return built

    def warmup(self) -> None:
        """Two batches, one recalculation and reads.  A read planned before
        the first batch's upsert runs after it: the stale-read probe.  The
        second batch is upserted beside gated reads, as the window's are.
        With one warm-up batch the window's upserts were still getting
        faster one after another."""
        from yupana_spark.operators import rollup
        from yupana_spark.sources import files

        b = self._make_batch(0)
        day = fixtures.DAY0 + dt.timedelta(days=HORIZON)
        stale = self.tsdb.sql(self._ryw_sql(day, 0, KEY_BASE))
        stale._jdf.queryExecution().executedPlan()
        files.ingest_file(self.tsdb.warehouse, "lineitem", b.path)
        self.batches.append(b)
        try:
            stale.collect()
            self.stale_error = None
        except Exception as e:  # noqa: BLE001 — reported, not raised
            lines = str(e).strip().splitlines()
            self.stale_error = next(
                (ln.strip() for ln in lines if "FileNotFound" in ln
                 or "does not exist" in ln), lines[0])[:200]
        rollup.recalculate(self.tsdb.warehouse, _rollup())
        self.since = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        self.rolled = len(self.batches)
        self._warm_read(self._ryw_read(b))
        b = self._make_batch(1)
        with ThreadPoolExecutor(1) as ex:
            upsert = ex.submit(files.ingest_file, self.tsdb.warehouse,
                               "lineitem", b.path)
            while not upsert.done():
                with self.gate.read():
                    self._warm_read(self._ryw_read(self.batches[-1]))
            upsert.result()
        self.batches.append(b)
        self._warm_read(self._ryw_read(b))

    def _warm_read(self, rd: "Read") -> None:
        res = self.reader.query(rd.yql)
        if res.error:
            raise RuntimeError(f"warm-up read failed: {res.error}")

    # -- the measured window --------------------------------------------
    @staticmethod
    def _ryw_sql(day: dt.datetime, lo: int, hi: int) -> str:
        nxt = day + dt.timedelta(days=1)
        return (f"SELECT count(l_orderkey) AS cnt, "
                f"{DEC.format(c='l_quantity')} AS qty FROM lineitem "
                f"WHERE time >= TIMESTAMP '{day:%Y-%m-%d}' AND time < "
                f"TIMESTAMP '{nxt:%Y-%m-%d}' AND l_orderkey >= {lo} "
                f"AND l_orderkey < {hi}")

    def _ryw_read(self, b: Batch) -> Read:
        return Read("ryw", self._ryw_sql(b.day, b.key_lo, b.key_hi),
                    expect=(b.new_rows, b.new_qty))

    def run(self, seconds: float, tracer=None, collector=None) -> None:
        from yupana_spark.operators import rollup
        from yupana_spark.sources import files

        deadline = time.time() + seconds
        errors: list = []
        stop = threading.Event()
        t0 = time.time()
        wh = self.tsdb.warehouse
        upserts, recalcs, reads = [], [], []

        def writer():
            try:
                self.spark.sparkContext.setJobGroup(WRITER_GROUP, "writer")
                while time.time() < deadline:
                    b = self._make_batch(len(self.batches))
                    mark = tracer.mark() if tracer is not None else 0
                    before = self._table_files() if tracer is not None else {}
                    ts, w0 = time.time(), len(self.gate.wait_ms)
                    n = files.ingest_file(wh, "lineitem", b.path)
                    upserts.append((self._engine_ms(ts, w0), n))
                    if tracer is not None:
                        self.writes_layer.append(self._write_stats(b, before))
                        tracer.add_jobs(collector.collect(WRITER_GROUP),
                                        mark, None)
                    self.batches.append(b)
                    # a recalculation due after the deadline is left out:
                    # it only lengthened the run past its window
                    if (len(self.batches) % RECALC_EVERY == 0
                            and time.time() < deadline):
                        since = dt.datetime.now(dt.timezone.utc).replace(
                            tzinfo=None)
                        mark = tracer.mark() if tracer is not None else 0
                        ts, w0 = time.time(), len(self.gate.wait_ms)
                        rolled = len(self.batches)
                        rollup.recalculate(wh, _rollup(), since=self.since)
                        recalcs.append(self._engine_ms(ts, w0))
                        self.rolled = rolled
                        if tracer is not None:
                            tracer.add_jobs(collector.collect(WRITER_GROUP),
                                            mark, None)
                        self.since = since
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)
            finally:
                stop.set()

        def reader():
            try:
                # reads go on until the writer's last operation ends, so
                # that one meets the same contention as the others
                while not stop.is_set():
                    rd = self._ryw_read(self.batches[-1])
                    rid = f"r{len(reads)}"
                    if tracer is not None:
                        mark, root = tracer.mark(), tracer.reserve()
                        tracer.expect(rd.yql, rid, root)
                    with self.gate.read():
                        rd.res = self.reader.query(rd.yql)
                    if tracer is not None:
                        tracer.add("server.request", rd.res.t_send,
                                   rd.res.t_ready, None, rid, sid=root)
                        rd.spark = collector.collect(self._reader_group)
                        tracer.add_jobs(rd.spark, mark, root, rid)
                    reads.append(rd)
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        threads = [threading.Thread(target=f, daemon=True)
                   for f in (writer, reader)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=seconds + 170)
        if errors:
            raise RuntimeError("ingest loop failed") from errors[0]
        self.elapsed += time.time() - t0
        self.upserts += upserts
        self.recalcs += recalcs
        self.reads += reads
        self.last_reads = reads

    def _engine_ms(self, ts: float, w0: int) -> float:
        """Milliseconds since ``ts`` less the swap waits since ``w0``."""
        return (time.time() - ts) * 1000.0 - sum(self.gate.wait_ms[w0:])

    @property
    def _reader_group(self) -> str:
        pid, secret = self.reader.backend_key
        return f"pgwire-{pid}-{secret}"

    def latencies_ms(self) -> list:
        """Reader latencies of the last window."""
        return [r.res.latency_ms for r in self.last_reads]

    def _table_files(self) -> dict:
        """{path: mtime_ns} of the table's data files."""
        return {f: os.stat(f).st_mtime_ns for f in glob.glob(
            os.path.join(self.wh_root, "lineitem", "*", "*.parquet"))}

    def _write_stats(self, b: Batch, before: dict) -> dict:
        """What the upsert wrote into the table directory: bytes per batch
        row, the month partitions holding a new or rewritten file, and the
        batch's months over those partitions."""
        new = [f for f, m in self._table_files().items()
               if before.get(f) != m]
        parts = {os.path.basename(os.path.dirname(f)) for f in new}
        rows = pq.read_metadata(b.path).num_rows
        return {"bytes_per_row": sum(os.path.getsize(f) for f in new) / rows,
                "partitions": len(parts),
                "dirty_ratio": b.months / max(len(parts), 1)}

    # -- checks ---------------------------------------------------------
    def verify(self) -> tuple:
        """(attempted, failed, wrong, notes): every error response counts
        as failed; wrong answers and a final state that differs from
        DuckDB count as failed and wrong."""
        import duckdb

        errors, wrong, notes = 0, 0, []
        for rd in self.reads:
            if rd.res.error:
                errors += 1
                notes.append(f"{rd.kind}: error {rd.res.error[:200]}")
                continue
            diff = same_multiset(rd.res.rows, [rd.expect])
            if diff:
                wrong += 1
                notes.append(f"{rd.kind}: {diff}")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                    f"'{self.fx_dir}/lineitem.parquet')")
        for what, bad in self._final_state(con).items():
            if bad:
                wrong += 1
                notes.append(f"{what}: {bad} rows differ from DuckDB")
        con.close()
        attempted = len(self.reads) + len(self.upserts) + 2
        return attempted, errors + wrong, wrong, notes

    def _final_state(self, con) -> dict:
        """Rows that differ from DuckDB: the table against the base plus
        every batch; the rollup against the base plus the batches written
        before the last recalculation started."""
        cols = ", ".join(KEYS + METRICS)

        def want(batches) -> str:
            if not batches:
                return f"SELECT l_shipdate AS time, * EXCLUDE (l_shipdate) FROM lineitem"
            files_ = ", ".join(f"'{b.path}'" for b in batches)
            return f"""
                WITH base AS (SELECT l_shipdate AS time,
                                     * EXCLUDE (l_shipdate) FROM lineitem),
                upd AS (SELECT l_shipdate AS time,
                               * EXCLUDE (l_shipdate, filename)
                        FROM read_parquet([{files_}], filename = true)
                        QUALIFY row_number() OVER (
                            PARTITION BY {", ".join(KEYS)}
                            ORDER BY filename DESC) = 1)
                SELECT {cols} FROM base ANTI JOIN upd USING ({", ".join(KEYS)})
                UNION ALL SELECT {cols} FROM upd"""

        def diff(a: str, b: str) -> int:
            return con.execute(
                f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) + "
                f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))").fetchone()[0]

        table = os.path.join(self.wh_root, "lineitem", "*", "*.parquet")
        got = (f"SELECT {cols} FROM read_parquet('{table}', "
               f"hive_partitioning = false)")
        roll = os.path.join(self.wh_root, "item_orders_by_month", "*",
                            "*.parquet")
        got_r = (f"SELECT time, l_partkey, CAST(quantity_sum AS DOUBLE), "
                 f"row_count FROM read_parquet('{roll}', "
                 f"hive_partitioning = false)")
        want_r = (f"SELECT CAST(date_trunc('month', time) AS TIMESTAMP), "
                  f"l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) "
                  f"AS DOUBLE), count(l_orderkey) "
                  f"FROM ({want(self.batches[:self.rolled])}) GROUP BY 1, 2")
        return {"final table": diff(f"SELECT {cols} FROM ({want(self.batches)})",
                                    got),
                "rollup": diff(want_r, got_r)}

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict:
        """The batch upsert latency, and the writer's steady ingest rate:
        rows per batch over the median batch time plus its share of a
        median rollup recalculation (medians, so the rate does not jump
        with whether a recalculation fell inside the window).  The
        reader's latency is in the detail record: under the writer's
        jobs it swings with how reads and rewrites overlap: on a 4-core
        host the interquartile range of its per-run median across seeds
        was 0.18-0.20 of the median, too wide for a bound."""
        up = [ms for ms, _ in self.upserts]
        rows = median([n for _, n in self.upserts])
        cycle_s = (median(up) + median(self.recalcs) / RECALC_EVERY) / 1000
        return {"op_p50_ms": median(up), "items_per_s": rows / cycle_s}

    def details(self) -> dict:
        lat = [r.res.latency_ms for r in self.reads]
        p, v = tail(lat)
        up = [ms for ms, _ in self.upserts]
        return {"query_samples": len(lat), "query_p50_ms": median(lat),
                f"query_p{p}_ms": v,
                "ryw_p50_ms": median([r.res.latency_ms for r in self.reads
                                      if r.kind == "ryw"]),
                "upsert_samples": len(up), "upsert_p50_ms": median(up),
                "upsert_ms": [round(x) for x in up],
                "recalc_ms": [round(x) for x in self.recalcs],
                "rows_upserted_per_s": sum(n for _, n in self.upserts)
                / self.elapsed,
                "swap_wait_p50_ms": median(self.gate.wait_ms),
                "stale_read_error": self.stale_error,
                "recalc_samples": len(self.recalcs),
                "rollup_recalc_p50_ms": median(self.recalcs)}

    def per_layer(self, tracer) -> dict:
        out = request_layers(self.last_reads, tracer, self.ctx.cores)
        runs = [s for s in tracer.spans if s.name == "rollup.run"]
        recalc = [s for s in tracer.spans if s.name == "rollup.recalc"]
        wl = self.writes_layer
        out.update({
            "sources.read_ms": median(tracer.durations_ms("sources.read")),
            "writes.upsert_ms": median(tracer.durations_ms("writes.upsert")),
            "writes.bytes_written_per_row": median(
                [w["bytes_per_row"] for w in wl]),
            "writes.partitions_rewritten": median(
                [w["partitions"] for w in wl]),
            "writes.dirty_partition_ratio": mean(
                w["dirty_ratio"] for w in wl),
            "rollup.recalc_ms": median(tracer.durations_ms("rollup.recalc")),
            "rollup.buckets_recomputed": len(runs) / max(len(recalc), 1),
            "writes.stale_read_errors": float(self.stale_error is not None),
        })
        return out

    def close(self) -> None:
        if self.reader is not None:
            self.reader.close()
            self.reader = None
        if self.srv is not None:
            self.srv.stop()
            self.srv = None


def request_layers(requests, tracer, cores: int) -> dict:
    """Per-layer metrics of pgwire requests from spans and job counters."""
    ok = [r for r in requests if r.res is not None]
    first = [(r.res.t_first_row - r.res.t_send) * 1000 for r in ok
             if r.res.t_first_row]
    drain = [(r.res.t_ready - r.res.t_first_row) * 1000 for r in ok
             if r.res.t_first_row]
    sp = [r.spark for r in ok if r.spark is not None]
    run_ms = sum(s.executor_run_ms for s in sp)
    wall = sum(s.exec_ms for s in sp) * cores
    return {
        "sql.parse_ms": median(tracer.durations_ms("sql.parse")),
        "sql.analyze_ms": median(tracer.durations_ms("sql.analyze")),
        "compiler.build_ms": median(tracer.durations_ms("compiler.build")),
        "catalyst.analyze_ms": median(
            tracer.durations_ms("catalyst.analyze")),
        "catalyst.optimize_ms": median(
            tracer.durations_ms("catalyst.optimize")),
        "catalyst.plan_ms": median(tracer.durations_ms("catalyst.plan")),
        "server.first_row_ms": median(first),
        "server.drain_ms": median(drain),
        "server.bytes_sent": median([r.res.bytes_received for r in ok]),
        "spark.exec_ms": median([s.exec_ms for s in sp]),
        "spark.jobs": mean(s.jobs for s in sp),
        "spark.tasks": mean(s.tasks for s in sp),
        "spark.input_bytes": mean(s.input_bytes for s in sp),
        "spark.executor_run_ms": mean(s.executor_run_ms for s in sp),
        "spark.shuffle_write_bytes": mean(s.shuffle_write_bytes for s in sp),
        "spark.spill_bytes": mean(s.spill_bytes for s in sp),
        "spark.failed_tasks": mean(s.failed_tasks for s in sp),
        "spark.busy_ratio": run_ms / wall if wall else 0.0,
    }
