#!/usr/bin/env python3
"""CDC-lake benchmark: freshness, ingest throughput and serve latency.

Usage (from the repository root):

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``trickle``  open loop: small CDC files land at a fixed rate while the
  orchestrator ticks back-to-back;
- ``backfill`` closed loop: a backlog of large CDC files touching every
  partition drains as fast as the tracker allows;
- ``serve``    closed loop, one client: lookups, range reads and SQL
  aggregates over an indexed table with an auto-refreshed delta view,
  with a small CDC commit every few operations.

The benchmark drives the engine only through its public functions.
Every run ends with an oracle check of the whole table against state
computed from the generated files by DuckDB; every read is checked
against the generator's own record of the table at that commit.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is a fuller
report: tails with their percentile and sample count, flags, and every
metric of the other kind that the run measured.

All scratch state lives under ``.perfbench_work/`` in the checkout and
is removed at the end; spans and run records go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rds_to_datalake_project_spark"

# Workload shapes. Sizes keep one run well inside the per-run budget on
# a 4-core host; the rates and estimates were measured there.
# Every tick takes at most one CDC file, so each tick does the same work.
TRICKLE_RATE = 0.5  # files landed per second (~half the one-file-per-tick drain capacity)
BACKFILL_TICK_EST_S = 2.0  # sizes the backlog: seconds / this = files
READ_BACK_OPS = 4  # timed lookups and SQL rounds after a drain
INITIAL_LOADS = 3  # timed snapshot loads at the end of a run; the median is reported
# Files per untimed warm-up tick on the real table: the first full-size
# ticks are still warming up (JIT, first-use costs).
WARM_FILES = {"trickle": 4, "backfill": 1, "serve": 1}
SETUP_PHASES = ("generate", "session", "load", "warm_up")
SERVE_CYCLE_S = 10  # a serve run makes one whole cycle per this many seconds...
SERVE_CYCLES = 2  # ...and at least this many: two commits, six lookups
SERVE_CYCLE = ("lookup", "sql", "lookup_many", "lookup", "sql", "read_where", "lookup", "sql", "commit")
VIEW_SQL = (
    "CREATE MATERIALIZED VIEW {name} WITH AUTO DELTA REFRESH AS "
    "SELECT entity, is_credit, sum(amount) AS total, count(*) AS n "
    "FROM transactions GROUP BY entity, is_credit"
)
QUERIES = (
    (["entity"], "SELECT entity, sum(amount) AS total, count(*) AS n "
                 "FROM transactions GROUP BY entity"),
    (["is_credit"], "SELECT is_credit, sum(amount) AS total, count(*) AS n "
                    "FROM transactions GROUP BY is_credit"),
    (["entity", "is_credit"], "SELECT entity, is_credit, sum(amount) AS total, "
                              "count(*) AS n FROM transactions GROUP BY entity, is_credit"),
)
FS_KINDS = (
    "exists", "getFileStatus", "listStatus", "listFiles", "delete",
    "mkdirs", "create", "open", "getContentSummary", "rename",
)
# name -> unit; the order is the report order.
END_TO_END = {
    "setup_s": "s",
    "initial_load_s": "s",
    "ingest_rows_per_s": "1/s",
    "tick_p50_s": "s",
    "commit_p50_s": "s",
    "freshness_p50_s": "s",
    "lookup_p50_s": "s",
    "sql_p50_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "tracker.plan_s": "s",
    "tracker.overhead_s": "s",
    "tracker.backlog_files": "count",
    "sources.discover_s": "s",
    "sources.files_walked": "count",
    "sources.read_plan_s": "s",
    "upsert.wall_s": "s",
    "upsert.jobs": "count",
    "upsert.job_s": "s",
    "upsert.gap_s": "s",
    "upsert.partitions_touched": "count",
    "upsert.files_added": "count",
    "upsert.files_removed": "count",
    "upsert.bytes_written": "bytes",
    "initial_load.jobs": "count",
    **{f"fsio.ops.{k}": "count" for k in FS_KINDS},
    "fsio.op_s": "s",
    "maint.zonemap_s": "s",
    "maint.bloom_s": "s",
    "maint.matview_s": "s",
    "maint.jobs": "count",
    "sql.plan_s": "s",
    "sql.exec_s": "s",
    "sql.rewrite_hits": "count",
    "sql.rewrite_attempts": "count",
    "lookup.plan_s": "s",
    "lookup.exec_s": "s",
    "lookup.files_read": "count",
    "lookup.files_live": "count",
    "spark.jobs": "count",
    "spark.job_s": "s",
    "spark.gap_s": "s",
    "bench.generator_late_s": "s",
}


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    return {"value": sorted(values)[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "n": n}


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def settle(spark) -> None:
    """Collect garbage in Python and the JVM before a timed phase, so
    set-up garbage is not collected inside timed numbers."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def live_files(table_path: str) -> dict[str, int]:
    """Relative path -> size of every live data file of a table (hidden
    ``.``/``_`` entries are engine metadata, retired copies and sidecars)."""
    out = {}
    for root, dirs, files in os.walk(table_path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[os.path.relpath(p, table_path)] = os.path.getsize(p)
    return out


class Bench:
    """One benchmark run: set-up, a workload, the oracle, the metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.flags: list[str] = []
        self.lock = threading.Lock()
        self.landed = 0
        self.late: list[float] = []
        self.due: dict[int, float] = {}
        self.fresh: dict[int, float] = {}
        self.ticks: list[dict] = []
        self.reads: list[dict] = []
        self.backlog: list[tuple[float, int]] = []
        self.committed = 0
        self.extra: dict = {}
        self.window = (0.0, 0.0)  # epoch seconds of the measured phase
        self.phases: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------

    def prepare_dirs(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "events", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        import tempfile

        tempfile.tempdir = tmp

    def start_session(self):
        from rds_to_datalake_project_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        conf = {
            # fits a small shared machine (the package default is 16g)
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData "
                "-Xms2g -XX:+AlwaysPreTouch"
            ),
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def profile(self):
        import gen

        s = self.seconds
        warm = WARM_FILES[self.workload]
        if self.workload == "trickle":
            n = warm + int(round(TRICKLE_RATE * s))
            return gen.Profile(40_000, 20, 2_000, n, (0.15, 0.80, 0.05), hot_days=3)
        if self.workload == "backfill":
            n = warm + max(4, int(round(s / BACKFILL_TICK_EST_S)))
            return gen.Profile(60_000, 20, 25_000, n, (0.20, 0.70, 0.10))
        n = warm + self.serve_cycles()  # one commit per cycle
        return gen.Profile(40_000, 20, 500, n, (0.15, 0.80, 0.05), hot_days=3)

    def serve_cycles(self) -> int:
        return max(SERVE_CYCLES, int(self.seconds // SERVE_CYCLE_S))

    @contextmanager
    def phase(self, name: str):
        """Add the body's wall time to phase ``name``; ``setup_s`` is the
        sum of ``SETUP_PHASES``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def warm_up(self, spark, rec, tracker, landing, table, g) -> None:
        """Untimed work of the timed shapes on the real table, so JIT and
        first-use costs stay out of every timed number: the first
        ``WARM_FILES`` CDC files committed in ticks, and for ``serve`` a
        lookup and a SQL round (the reads its metrics time). The ticks
        and reads are then forgotten."""
        import gen
        import numpy as np

        for f in g.files[: WARM_FILES[self.workload]]:
            self.land(g, landing, f)
            self.tick(spark, rec, tracker, landing, table, g)
        if self.workload == "serve":
            truth = gen.Truth(g)
            truth.advance(self.committed)
            table.register("transactions")
            rng = np.random.default_rng(0)
            for kind in ("lookup", "sql"):
                self.read_op(spark, table, truth, kind, rng, g.n_keys, measure=False)
        self.ticks.clear()
        self.fresh.clear()
        self.reads.clear()

    def timed_loads(self, spark, rec, path: str, g) -> list[dict]:
        """Load the snapshot INITIAL_LOADS times on the warm session (each
        load resets the table) and return the spans; ``initial_load_s``
        is their median. Runs after the oracle: it wipes the CDC state."""
        from rds_to_datalake_project_spark.operators.upsert import KeyedTable

        plain = KeyedTable(spark, path, self.spec())
        settle(spark)
        loads = []
        for _ in range(INITIAL_LOADS):
            with rec.span("initial_load") as sp:
                plain.initial_load(self.read_snapshot(spark, g.snapshot))
            loads.append(sp)
        n = plain.read().count()
        self.check(n == g.snapshot_rows, f"initial_load kept {n} of {g.snapshot_rows} rows")
        return loads

    def new_table(self, spark, path: str, g):
        """Load the snapshot, untimed, and return the workload's table.
        ``serve``'s carries a zone map and a bloom index on ``id``, keeps
        two versions (the delta view reads the change feed) and feeds the
        view; the ingest workloads use the plain table."""
        from rds_to_datalake_project_spark.operators.bloomfilter import (
            attach_bloom_maintenance,
            build_bloom_index,
        )
        from rds_to_datalake_project_spark.operators.upsert import KeyedTable
        from rds_to_datalake_project_spark.operators.zonemap import build_zonemap
        from rds_to_datalake_project_spark.sql import run_query

        plain = KeyedTable(spark, path, self.spec())
        plain.initial_load(self.read_snapshot(spark, g.snapshot))
        if self.workload != "serve":
            return plain
        build_zonemap(spark, path, ["id"])
        build_bloom_index(spark, path, ["id"])
        t = KeyedTable(spark, path, self.spec(), retain_versions=2, zonemap_columns=["id"])
        attach_bloom_maintenance(t, ["id"])
        t.register("transactions")  # the view is made through SQL, as a user would
        run_query(spark, VIEW_SQL.format(name="pb_serve_mv"), tables={"transactions": t})
        return t

    # -- helpers -----------------------------------------------------------

    @staticmethod
    def spec():
        from rds_to_datalake_project_spark.schema import TRANSACTIONS, spec_for, with_cdc_envelope

        return spec_for("transactions", schema=with_cdc_envelope(TRANSACTIONS))

    @staticmethod
    def read_snapshot(spark, path: str):
        from rds_to_datalake_project_spark.schema import TRANSACTIONS

        return spark.read.schema(TRANSACTIONS).parquet(path)

    def land(self, g, landing: str, f) -> None:
        """Atomically move one generated CDC file into the landing tree."""
        dst = os.path.join(landing, f.name)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(g.pending_dir, f.name), dst)
        with self.lock:
            self.landed += 1

    def check(self, ok: bool, why: str) -> None:
        """Count one attempted operation; a false ``ok`` fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(why)

    # -- ingest ------------------------------------------------------------

    def tick(self, spark, rec, tracker, landing, table, g) -> int:
        """One orchestrator tick; accounts the files it committed."""
        from rds_to_datalake_project_spark.streaming.tracker import run_incremental_once

        with self.lock:
            backlog = self.landed - self.committed
        before = live_files(table.path)
        with rec.span("tick") as sp:
            n = run_incremental_once(spark, tracker, landing, table, delete_mode="apply")
        end = sp["end"]
        if n == 0:
            return 0
        wm = tracker.state(table.spec.name).last_processed
        first = self.committed
        while self.committed < len(g.files) and g.files[self.committed].commit_ts <= wm:
            self.fresh[self.committed] = end
            self.committed += 1
        after = live_files(table.path)
        added = [p for p in after if p not in before]
        removed = [p for p in before if p not in after]
        upserts = rec.children(sp, "upsert")
        self.ticks.append({
            "span": sp["id"],
            "wall": end - sp["start"],
            "upsert": sum(u["end"] - u["start"] for u in upserts),
            "files": list(range(first, self.committed)),
            "rows": sum(g.files[i].rows for i in range(first, self.committed)),
            "in_bytes": sum(g.files[i].bytes for i in range(first, self.committed)),
            "files_added": len(added),
            "files_removed": len(removed),
            "partitions": len({os.path.dirname(p) for p in added + removed}),
            "bytes_written": sum(after[p] for p in added),
            "backlog": backlog,
        })
        self.attempted += 1
        return n

    def instrument(self, rec, tracker, table) -> None:
        """Wrap the calls the metrics decompose: the table's upsert
        always (commit time); planning, discovery, CDC reads and the
        service refreshes only when tracing."""
        rec.wrap_call(table, "upsert", "upsert")
        if not self.traced:
            return
        from rds_to_datalake_project_spark.operators import bloomfilter, zonemap
        from rds_to_datalake_project_spark.streaming import tracker as tracker_mod

        rec.wrap_call(tracker, "plan_batch", "tracker.plan")
        orig_discover = tracker_mod.discover_cdc_files

        def discover(*a, **k):
            with self.lock:
                walked = self.landed
            with rec.span("sources.discover", walked=walked):
                return orig_discover(*a, **k)

        rec.patch(tracker_mod, "discover_cdc_files", discover)
        rec.wrap_call(tracker_mod, "read_cdc_files", "sources.read_plan")
        rec.wrap_call(zonemap, "refresh_zonemap", "maint.zonemap")
        rec.wrap_call(bloomfilter, "refresh_bloom_index", "maint.bloom")
        if self.workload == "serve":
            from rds_to_datalake_project_spark.sql import MATVIEWS

            rec.wrap_call(MATVIEWS["pb_serve_mv"], "refresh", "maint.matview")

    # -- reads -------------------------------------------------------------

    def read_op(self, spark, table, truth, kind: str, rng, n_keys: int, measure: bool) -> None:
        """One timed read, checked against the generator's truth."""
        import gen
        from rds_to_datalake_project_spark import rewrite
        from rds_to_datalake_project_spark.operators import bloomfilter, zonemap
        from rds_to_datalake_project_spark.sql import run_query

        def key(i):
            return f"t{int(i):09d}"

        want, rows, r = None, None, {"kind": kind, "measure": measure}
        if kind == "lookup":
            r["files_live"] = len(live_files(table.path))
        try:
            zonemap.reset_prune_stats()
            bloomfilter.reset_prune_stats()
            t0 = time.perf_counter()
            if kind == "lookup":
                k = key(rng.integers(0, n_keys))
                df = table.lookup(k)
                want = truth.rows([k])
            elif kind == "lookup_many":
                ks = [key(i) for i in rng.choice(n_keys, size=20, replace=False)]
                df = table.lookup_many(ks)
                want = truth.rows(ks)
            elif kind == "read_where":
                lo = int(rng.integers(0, n_keys - 200))
                df = table.read_where({"id": (key(lo), key(lo + 199))})
                want = truth.range_rows(key(lo), key(lo + 199))
            else:  # one dashboard round: every aggregate shape, in order
                plan = run = 0.0
                r["rewrites"], rows, want = 0, [], []
                for cols, sql in QUERIES:
                    t1 = time.perf_counter()
                    df = run_query(spark, sql, tables={"transactions": table})
                    t2 = time.perf_counter()
                    rows.append({tuple(x) for x in df.collect()})
                    plan, run = plan + t2 - t1, run + time.perf_counter() - t2
                    r["rewrites"] += rewrite.LAST_SELECT_REWRITE is not None
                    want.append(truth.aggregate(cols))
                r.update(plan=plan, exec=run, wall=time.perf_counter() - t0)
            if kind != "sql":
                t1 = time.perf_counter()
                collected = df.collect()
                t2 = time.perf_counter()
                rows = {tuple(x[c] for c in gen.COLUMNS) for x in collected}
                r.update(plan=t1 - t0, exec=t2 - t1, wall=t2 - t0)
            # candidate files after index pruning; no index = every file
            r["files_read"] = bloomfilter.LAST_PRUNE.get(
                "files_read", zonemap.LAST_PRUNE.get("files_read", r.get("files_live"))
            )
        except Exception:  # a failed read counts against failed_ratio
            self.check(False, f"{kind}: {traceback.format_exc(limit=3)}")
            return
        self.check(rows == want, f"{kind} returned rows that differ from the oracle")
        self.reads.append(r)

    def read_back(self, spark, rec, table, g) -> None:
        """After a drain: timed reads of the plain table that prove the
        committed data is queryable (the indexed read paths are the
        ``serve`` workload's)."""
        import gen
        import numpy as np

        truth = gen.Truth(g)
        truth.advance(len(g.files))
        table.register("transactions")
        settle(spark)
        rng = np.random.default_rng(self.seed + 1)
        for i in range(1 + READ_BACK_OPS):
            for kind in ("lookup", "sql"):
                self.read_op(spark, table, truth, kind, rng, g.n_keys, measure=i > 0)

    # -- workloads -----------------------------------------------------------

    def run_trickle(self, spark, rec, g, table, tracker, landing) -> None:
        stop = threading.Event()
        self.window = (time.time(), 0.0)
        t0 = time.perf_counter() + 0.05
        first = self.committed

        def schedule() -> None:
            for i in range(first, len(g.files)):
                due = t0 + (i - first) / TRICKLE_RATE
                if stop.wait(max(0.0, due - time.perf_counter())):
                    return
                self.due[i] = due
                self.land(g, landing, g.files[i])
                self.late.append(time.perf_counter() - due)

        lander = threading.Thread(target=schedule, name="perfbench-lander")
        lander.start()
        deadline = t0 + 3 * self.seconds + 60
        try:
            while self.committed < len(g.files) and time.perf_counter() < deadline:
                with self.lock:
                    self.backlog.append((time.perf_counter() - t0, self.landed - self.committed))
                if not self.tick(spark, rec, tracker, landing, table, g):
                    time.sleep(0.01)
        finally:
            stop.set()
            lander.join()
        self.check(self.committed == len(g.files), "trickle did not drain before its deadline")
        self.window = (self.window[0], time.time())
        self.flag_backlog_growth()
        self.read_back(spark, rec, table, g)

    def flag_backlog_growth(self) -> None:
        """An open loop past capacity has no steady freshness: flag a run
        whose backlog grows over the landing window."""
        pts = [(t, b) for t, b in self.backlog if t <= self.seconds]
        if len(pts) < 4:
            return
        ts, bs = zip(*pts)
        mt, mb = statistics.fmean(ts), statistics.fmean(bs)
        var = sum((t - mt) ** 2 for t in ts)
        slope = sum((t - mt) * (b - mb) for t, b in pts) / var if var else 0.0
        self.extra["backlog_slope_files_per_s"] = slope
        if slope * self.seconds > 1:  # more than one tick's worth
            self.flags.append("backlog_growing")

    def run_backfill(self, spark, rec, g, table, tracker, landing) -> None:
        t0 = time.perf_counter()
        first = self.committed
        for f in g.files[first:]:  # lateness here = how long the backlog took to land
            self.land(g, landing, f)
            self.late.append(time.perf_counter() - t0)
        self.window = (time.time(), 0.0)
        t0 = time.perf_counter()
        self.due = dict.fromkeys(range(first, len(g.files)), t0)
        while self.committed < len(g.files):
            with self.lock:
                self.backlog.append((time.perf_counter() - t0, self.landed - self.committed))
            if not self.tick(spark, rec, tracker, landing, table, g):
                self.check(False, "backfill tick found no files while a backlog remained")
                break
        self.window = (self.window[0], time.time())
        self.read_back(spark, rec, table, g)

    def run_serve(self, spark, rec, g, table, tracker, landing) -> None:
        import gen
        import numpy as np

        table.register("transactions")  # re-pin after the warm-up commit
        truth = gen.Truth(g)
        truth.advance(self.committed)
        rng = np.random.default_rng(self.seed + 1)

        def commit() -> None:
            i = self.committed
            if i >= len(g.files):
                self.check(False, "serve ran out of generated CDC files")
                return
            self.due[i] = time.perf_counter()
            self.land(g, landing, g.files[i])
            self.late.append(time.perf_counter() - self.due[i])
            self.tick(spark, rec, tracker, landing, table, g)
            truth.advance(self.committed)
            table.register("transactions")  # re-pin the temp view's file listing

        self.window = (time.time(), 0.0)
        # A fixed number of whole cycles, so every run has the same mix
        # of reads and commits however fast or slow the host is.
        for kind in SERVE_CYCLE * self.serve_cycles():
            if kind == "commit":
                commit()
            else:
                self.read_op(spark, table, truth, kind, rng, g.n_keys, measure=True)
        self.window = (self.window[0], time.time())

    # -- the run ---------------------------------------------------------------

    def run(self) -> dict:
        import gen
        from tracing import Recorder, job_stats, parse_event_log

        from rds_to_datalake_project_spark.operators.compare import compare_tables
        from rds_to_datalake_project_spark.streaming.tracker import CDCTracker

        self.prepare_dirs()
        with self.phase("generate"):
            g = gen.generate(self.profile(), self.seed, os.path.join(self.work, "gen"))
        with self.phase("session"):
            spark = self.start_session()

        rec = Recorder(self.traced)
        rec.sc = spark.sparkContext
        if self.traced:
            rec.install_fs_counters()
        lake = os.path.join(self.work, "lake")
        landing = os.path.join(self.work, "landing")
        os.makedirs(landing)
        tracker = CDCTracker(os.path.join(self.work, "tracker.json"), max_files=1)
        loads, table = [], None
        try:
            with self.phase("load"):
                table = self.new_table(spark, lake, g)
            with self.phase("warm_up"):
                self.warm_up(spark, rec, tracker, landing, table, g)
            with self.phase("workload"):
                settle(spark)
                self.instrument(rec, tracker, table)
                getattr(self, f"run_{self.workload}")(spark, rec, g, table, tracker, landing)
        except Exception:
            self.check(False, f"workload raised: {traceback.format_exc(limit=5)}")
        finally:
            rec.uninstall()

        with self.phase("oracle"):
            # The whole table against DuckDB's replay of the committed files.
            exp = os.path.join(self.work, "expected.parquet")
            committed = [os.path.join(landing, f.name) for f in g.files[: self.committed]]
            gen.expected_state(g.snapshot, committed, exp)
            if table is not None:
                res = compare_tables(self.read_snapshot(spark, exp), table.read())
                self.check(res.equal, f"oracle mismatch: {res.n_only_in_source} rows only "
                                      f"expected, {res.n_only_in_lake} only in the lake")
        with self.phase("workload"):
            try:
                loads = self.timed_loads(spark, rec, lake, g)
            except Exception:
                self.check(False, f"initial_load raised: {traceback.format_exc(limit=5)}")
        rss_kb = peak_rss_kb(os.getpid()) + peak_rss_kb(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        stop_session(spark)
        jobs = parse_event_log(os.path.join(self.work, "events")) if self.traced else []

        setup_s = sum(self.phases.get(k, 0.0) for k in SETUP_PHASES)
        self.extra["phase_s"] = self.phases
        e2e = self.end_to_end(rec, setup_s, loads, rss_kb)
        layers = self.per_layer(rec, loads, jobs, job_stats) if self.traced else {}
        return {"e2e": e2e, "layers": layers, "rec": rec}

    # -- metrics -----------------------------------------------------------------

    def end_to_end(self, rec, setup_s, loads, rss_kb) -> dict:
        ticks = self.ticks
        fresh = [self.fresh[i] - self.due[i] for i in self.fresh if i in self.due]
        lookups = [r["wall"] for r in self.reads if r["measure"] and r["kind"] == "lookup"]
        sqls = [r["wall"] for r in self.reads if r["measure"] and r["kind"] == "sql"]
        in_bytes = sum(t["in_bytes"] for t in ticks)
        busy = sum(t["wall"] for t in ticks)
        self.extra.update(
            tails={
                "tick_tail_s": tail([t["wall"] for t in ticks]),
                "freshness_tail_s": tail(fresh),
                "lookup_tail_s": tail(lookups),
                "sql_tail_s": tail(sqls),
            },
            samples={"ticks": len(ticks), "files": len(fresh),
                     "lookups": len(lookups), "sql": len(sqls)},
            tick_walls_s=[round(t["wall"], 4) for t in ticks],
            initial_load_walls_s=[round(rec.wall(s), 4) for s in loads],
        )
        return {
            "setup_s": setup_s,
            "initial_load_s": median(rec.wall(s) for s in loads),
            "ingest_rows_per_s": sum(t["rows"] for t in ticks) / busy if busy else 0.0,
            "tick_p50_s": median(t["wall"] for t in ticks),
            "commit_p50_s": median(t["upsert"] for t in ticks),
            "freshness_p50_s": median(fresh),
            "lookup_p50_s": median(lookups),
            "sql_p50_s": median(sqls),
            "write_amp": sum(t["bytes_written"] for t in ticks) / in_bytes if in_bytes else 0.0,
            "peak_rss_mb": rss_kb / 1024.0,
        }

    def per_layer(self, rec, loads, jobs, job_stats) -> dict:
        spans = rec.spans

        def js(s):
            return job_stats(jobs, s["t0"], s["t1"])

        ticks = self.ticks
        tick_spans = [spans[t["span"]] for t in ticks]
        tick_ids = {s["id"] for s in tick_spans}

        def under(name, tops=tick_ids):
            return rec.descendants(name, tops)

        upserts = under("upsert")
        maint = {k: under(f"maint.{k}") for k in ("zonemap", "bloom", "matview")}
        reads = [r for r in self.reads if r["measure"]]
        lookups = [r for r in reads if r["kind"] == "lookup"]
        sqls = [r for r in reads if r["kind"] == "sql"]
        whole = job_stats(jobs, *self.window)
        up_js = [js(u) for u in upserts]
        maint_jobs = [
            sum(js(s)["jobs"] for k in maint for s in under(f"maint.{k}", {t["id"]}))
            for t in tick_spans
        ]
        out = {
            "tracker.plan_s": median(rec.wall(s) for s in under("tracker.plan")),
            "tracker.overhead_s": median(t["wall"] - t["upsert"] for t in ticks),
            "tracker.backlog_files": median(t["backlog"] for t in ticks),
            "sources.discover_s": median(rec.wall(s) for s in under("sources.discover")),
            "sources.files_walked": median(s["walked"] for s in under("sources.discover")),
            "sources.read_plan_s": median(rec.wall(s) for s in under("sources.read_plan")),
            "upsert.wall_s": median(rec.wall(u) for u in upserts),
            "upsert.jobs": median(j["jobs"] for j in up_js),
            "upsert.job_s": median(j["job_s"] for j in up_js),
            "upsert.gap_s": median(j["gap_s"] for j in up_js),
            "upsert.partitions_touched": median(t["partitions"] for t in ticks),
            "upsert.files_added": median(t["files_added"] for t in ticks),
            "upsert.files_removed": median(t["files_removed"] for t in ticks),
            "upsert.bytes_written": median(t["bytes_written"] for t in ticks),
            "initial_load.jobs": median(js(s)["jobs"] for s in loads),
        }
        for k in FS_KINDS:
            out[f"fsio.ops.{k}"] = median(s["fs_ops"].get(k, 0) for s in tick_spans)
        out["fsio.op_s"] = median(s["fs_s"] for s in tick_spans)
        out["maint.zonemap_s"] = median(rec.wall(s) for s in maint["zonemap"])
        out["maint.bloom_s"] = median(rec.wall(s) for s in maint["bloom"])
        out["maint.matview_s"] = median(rec.wall(s) for s in maint["matview"])
        out["maint.jobs"] = median(maint_jobs)
        out["sql.plan_s"] = median(r["plan"] for r in sqls)
        out["sql.exec_s"] = median(r["exec"] for r in sqls)
        out["sql.rewrite_hits"] = sum(r["rewrites"] for r in sqls)
        out["sql.rewrite_attempts"] = len(QUERIES) * len(sqls)
        out["lookup.plan_s"] = median(r["plan"] for r in lookups)
        out["lookup.exec_s"] = median(r["exec"] for r in lookups)
        out["lookup.files_read"] = median(r["files_read"] for r in lookups)
        out["lookup.files_live"] = median(r["files_live"] for r in lookups)
        out["spark.jobs"] = whole["jobs"]
        out["spark.job_s"] = whole["job_s"]
        out["spark.gap_s"] = whole["gap_s"]
        out["bench.generator_late_s"] = max(self.late) if self.late else 0.0
        # The two job counts per tick must agree: event-log intervals
        # against the status tracker's count for the tick's job group.
        self.extra["tick_jobs"] = {
            "event_log": median(js(s)["jobs"] for s in tick_spans),
            "status_tracker": median(s["group_jobs"] for s in tick_spans),
        }
        return out


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("trickle", "backfill", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/ — run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = bench.run()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
    e2e, layers, rec = res["e2e"], res["layers"], res["rec"]
    key = f"{args.workload}-{args.seed}-{args.seconds:g}"
    os.makedirs(bench.out_dir, exist_ok=True)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "failed_ratio": bench.failed / max(1, bench.attempted),
        "flags": bench.flags,
        "failures": bench.failures[:5],
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        **bench.extra,
    }
    plain_path = os.path.join(bench.out_dir, f"plain-{key}.json")
    if args.trace:
        report["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        if os.path.exists(plain_path):  # tracing overhead: traced walls vs plain walls
            with open(plain_path) as f:
                plain = json.load(f)
            report["tracing_overhead"] = {
                k: e2e[k] / plain[k] - 1.0
                for k in ("tick_p50_s", "commit_p50_s", "lookup_p50_s", "sql_p50_s")
                if plain.get(k)
            }
        rec.dump(os.path.join(bench.out_dir, f"spans-{key}.json"), {"report": report})
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        with open(plain_path, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
