"""Post-commit services run CONCURRENTLY.

The contract (operators/upsert.py::_run_maintenance): every service of
a commit starts at once on a pool thread that keeps the caller's Spark
job group; a single service runs inline; a hook that commits to the
table (auto-compaction) runs alone, after the others. Failure
isolation is unchanged, and failures are listed in registration
order whatever order the services finished in.
"""

from __future__ import annotations

import os
import threading
import time

from rds_to_datalake_project_spark.operators import compact as compact_mod
from rds_to_datalake_project_spark.operators import zonemap as zm
from rds_to_datalake_project_spark.operators.compact import attach_auto_compact
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

from tests.test_auto_compact import INIT_COLS as AC_COLS
from tests.test_auto_compact import SPEC as AC_SPEC
from tests.test_auto_compact import _rows as _ac_rows
from tests.test_time_travel import B1, BATCH_COLS, S1, _mk, _vals


def _commit(spark, t):
    t.upsert(spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply")


def test_services_run_at_the_same_time(spark, tmp_path):
    """Two hooks that each wait for the other at a barrier can only
    both finish if they run at once."""
    t = _mk(spark, tmp_path)
    barrier = threading.Barrier(2, timeout=20)
    done = []

    def left(table):
        barrier.wait()
        done.append("left")

    def right(table):
        barrier.wait()
        done.append("right")

    t.add_maintenance_hook(left)
    t.add_maintenance_hook(right)
    _commit(spark, t)
    assert t.last_maintenance_errors == []
    assert sorted(done) == ["left", "right"]
    assert _vals(t.read()) == S1


def test_hooks_keep_the_callers_job_group(spark, tmp_path):
    """Pool threads take on the committing thread's local properties:
    each hook sees its job group, and the jobs it runs count under
    that group."""
    t = _mk(spark, tmp_path)
    sc = spark.sparkContext
    seen = {}

    def make(name):
        def hook(table):
            seen[name] = (
                sc.getLocalProperty("spark.jobGroup.id"),
                threading.current_thread() is threading.main_thread(),
            )
            table.spark.range(3).count()

        hook.__name__ = name
        return hook

    t.add_maintenance_hook(make("a"))
    t.add_maintenance_hook(make("b"))
    group = f"maint-{os.getpid()}-{time.time_ns()}"
    sc.setJobGroup(group, "post-commit services keep the caller's group")
    try:
        _commit(spark, t)
        group_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert seen == {"a": (group, False), "b": (group, False)}
    assert t.last_maintenance_errors == []
    # the commit's own jobs plus one job per hook
    assert group_jobs >= 3, group_jobs


def test_single_service_runs_inline(spark, tmp_path):
    t = _mk(spark, tmp_path)
    threads = []
    t.add_maintenance_hook(lambda table: threads.append(threading.current_thread()))
    _commit(spark, t)
    assert threads == [threading.current_thread()]


def test_failures_are_listed_in_registration_order(spark, tmp_path):
    """The slow hook fails last and the table-committing hook runs
    after every other service, yet both keep their registration
    slot in the record."""
    t = _mk(spark, tmp_path)

    def alone_fails(table):
        raise RuntimeError("alone")

    def slow_fails(table):
        time.sleep(0.5)
        raise RuntimeError("slow")

    def fine(table):
        pass

    def fast_fails(table):
        raise ValueError("fast")

    t.add_maintenance_hook(alone_fails, commits_to_table=True)
    t.add_maintenance_hook(slow_fails)
    t.add_maintenance_hook(fine)
    t.add_maintenance_hook(fast_fails)
    _commit(spark, t)
    assert _vals(t.read()) == S1
    assert [e["hook"] for e in t.last_maintenance_errors] == [
        "alone_fails",
        "slow_fails",
        "fast_fails",
    ]
    assert t.describe_history()[-1]["maintenance_errors"] == [
        "alone_fails: RuntimeError: alone",
        "slow_fails: RuntimeError: slow",
        "fast_fails: ValueError: fast",
    ]


def _live_files(root: str) -> set[str]:
    out = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        out |= {os.path.join(d, f) for f in files if f.endswith(".parquet")}
    return out


def test_auto_compact_runs_alone_and_leaves_the_zone_map_synced(
    spark, tmp_path, monkeypatch
):
    """Auto-compaction commits to the table, so it must start only
    after every other service of the outer pass has finished. The zone
    map needs no service: after the compaction commit its zones (the
    live files' footers) describe exactly the post-compaction files."""
    spans: dict[str, list] = {"slow": [], "compact": []}

    def timed(name, fn):
        def run(*a, **k):
            t0 = time.monotonic()
            try:
                return fn(*a, **k)
            finally:
                spans[name].append((t0, time.monotonic()))

        return run

    monkeypatch.setattr(
        compact_mod, "compact_partitions", timed("compact", compact_mod.compact_partitions)
    )
    path = str(tmp_path / "t")
    t = KeyedTable(spark, path, AC_SPEC, retain_versions=4, zonemap_columns=["id"])
    t.initial_load(
        spark.createDataFrame(_ac_rows("01", 40, "a") + _ac_rows("02", 40, "b"), AC_COLS)
    )
    t.add_maintenance_hook(timed("slow", lambda table: time.sleep(0.5)))
    attach_auto_compact(t, max_files_per_partition=1)
    for name in spans:
        spans[name].clear()
    # un-coalesced merge output fragments January (see test_auto_compact)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.upsert(spark.createDataFrame(_ac_rows("01", 50, "c"), AC_COLS))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert t.last_maintenance_errors == []
    assert len(spans["compact"]) == 1
    compact_start = spans["compact"][0][0]
    # the outer pass's services all ended before the compaction began;
    # the compaction commit's nested pass ran them again inside it
    assert spans["slow"][0][1] <= compact_start
    assert len(spans["slow"]) == 2
    jan = os.path.join(path, "create_year=2024", "create_month=01")
    assert len([f for f in os.listdir(jan) if f.endswith(".parquet")]) == 1
    assert t.read().count() == 130
    indexed = {zm._norm(r[0]) for r in zm.zonemap_stats(spark, path).select("file_uri").collect()}
    assert indexed == _live_files(path)
