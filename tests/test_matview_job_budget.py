"""Spark-job budgets of incremental view refreshes.

A refresh is a chain of small driver-synchronized jobs, so its wall
time follows its job count more than its data volume. These tests pin
the count of one warm refresh so a plan change that adds jobs shows up
as a failure rather than as drift in a benchmark.

Jobs are counted as the delta of the scheduler's global job id around
``refresh()`` or a commit. Pool threads (``session.pmap``) keep the
caller's job group, but the delta counts every job whatever its group.
The ``serve``- and ``trickle``-shaped commits also pin their py4j round
trips (``_py4j_calls``): a driver-side step that adds JVM calls shows
up there before it shows up as wall time.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import (
    DeltaJoinMaterializedView,
    DeltaMaterializedView,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

FACT = "f_id long, fk long, g string, amount long, fv long"
DIM = "d_id long, gname string, dv long"


def _py4j_calls(fn):
    """``(py4j round trips, fn())``, counting every thread's
    ``GatewayClient.send_command`` except object releases (``m\\nd\\n``),
    which the Python garbage collector drives and which therefore vary
    from run to run."""
    from py4j.java_gateway import GatewayClient

    real = GatewayClient.send_command
    calls = []
    lock = threading.Lock()

    def counting(self, command, *a, **k):
        if not command.startswith("m\nd\n"):
            with lock:
                calls.append(1)
        return real(self, command, *a, **k)

    GatewayClient.send_command = counting
    try:
        out = fn()
    finally:
        GatewayClient.send_command = real
    return len(calls), out


def _commit_cost(spark, t, batch) -> tuple[int, int]:
    """``(Spark jobs, py4j round trips)`` of one ``upsert``."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    calls, _ = _py4j_calls(lambda: t.upsert(batch, delete_mode="apply"))
    return sched.nextJobId() - j0, calls


def _refresh_jobs(spark, view) -> tuple[int, dict]:
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    info = view.refresh()
    return sched.nextJobId() - j0, info


def _tables(spark, tmp_path):
    fact = KeyedTable(
        spark, str(tmp_path / "f"),
        TableSpec("jbf", record_key=("f_id",), precombine_key="fv",
                  partition_granularity=None),
        retain_versions=8,
    )
    dim = KeyedTable(
        spark, str(tmp_path / "d"),
        TableSpec("jbd", record_key=("d_id",), precombine_key="dv",
                  partition_granularity=None),
        retain_versions=8,
    )
    # fks 20..24 have no dim row (LEFT-join dangling keys); every 97th
    # fact row has a NULL fk
    fact.initial_load(spark.createDataFrame(
        [(i, None if i % 97 == 0 else i % 25, f"c{i % 7}", i, 0)
         for i in range(2000)],
        FACT,
    ))
    dim.initial_load(spark.createDataFrame(
        [(d, f"g{d % 5}", 0) for d in range(20)], DIM
    ))
    return fact, dim


def _fact_commit(spark, fact, r: int) -> None:
    """Value update with an fk move, an insert on a dangling key, a
    move to a NULL fk, and a delete."""
    fact.upsert(
        spark.createDataFrame(
            [(r * 11, (r * 3) % 25, f"c{r}", 5000 + r, r, "U"),
             (3000 + r, 21 + r % 3, f"c{r + 1}", 7, r, "I"),
             (r * 13 + 1, None, "c0", 1, r, "U"),
             (r * 17 + 2, 0, "c0", 0, r, "D")],
            FACT + ", Op string",
        ),
        delete_mode="apply",
    )


def _dim_commit(spark, dim, r: int) -> None:
    """A group move, a dim row for a dangling key (its facts gain a
    match), and a delete (its facts lose theirs)."""
    dim.upsert(
        spark.createDataFrame(
            [(r, f"g{(r + 2) % 5}", r, "U"),
             (20 + r, f"g{r}", r, "I"),
             (10 + r, "x", r, "D")],
            DIM + ", Op string",
        ),
        delete_mode="apply",
    )


def _direct(fact, dim, how):
    rows = fact.read()
    key = "g"
    if dim is not None:
        rows = rows.join(dim.read(), F.col("fk") == F.col("d_id"), how)
        key = "gname"
    return {
        tuple(r)
        for r in rows.groupBy(key).agg(
            F.count("*").cast("long").alias("n"),
            F.sum("amount").alias("total"),
        ).collect()
    }


def _got(view):
    return {
        tuple(r)
        for r in view.read().select(view.group_cols[0], "n", "total").collect()
    }


def test_single_table_delta_refresh_job_budget(spark, tmp_path):
    """The serve workload's view shape — ``count(*)`` and ``sum`` by a
    group column, signed-delta maintained — folds one commit in 3 jobs
    once warm: the grouped image diff it collects (a shuffle map stage
    and the result) and the one-file store write. It took 16 while the
    endpoint reads inferred their schemas and the store merged in
    Spark, and 5 while the change window came from ``table_changes``'
    key join."""
    fact, _ = _tables(spark, tmp_path)
    view = DeltaMaterializedView(
        fact, str(tmp_path / "v"), ["g"],
        {"n": "count(*)", "total": "sum(amount)"},
    )
    view.refresh()
    _fact_commit(spark, fact, 1)
    view.refresh()  # warm-up: first incremental refresh
    _fact_commit(spark, fact, 2)
    jobs, info = _refresh_jobs(spark, view)
    assert info["mode"] == "delta"
    assert _got(view) == _direct(fact, None, None)
    assert jobs <= 3, jobs


# (fact-side, dim-side) jobs of one warm refresh.
BUDGET = {"inner": (21, 21), "left": (26, 32)}


@pytest.mark.parametrize("how", ["inner", "left"])
def test_two_table_delta_refresh_job_budget(spark, tmp_path, how):
    """Signed-delta refresh of a two-table join view, once per changed
    side: the fact-side window builds ΔA⋈B_new, the dim-side window
    A_new⋈ΔB, and a LEFT view adds the dangling correction.

    When this view had its own two-table class, the same refreshes ran
    inner 21 / 21 and left 26 / 32 jobs (fact side / dim side). As the
    two-table spelling of the delta chain they run the same counts,
    which are the budget."""
    fact, dim = _tables(spark, tmp_path)
    view = DeltaJoinMaterializedView(
        fact, dim, str(tmp_path / "v"), on=("fk", "d_id"),
        group_cols=["gname"],
        aggs={"n": "count(*)", "total": "sum(amount)"}, how=how,
    )
    view.refresh()
    _fact_commit(spark, fact, 1)
    _dim_commit(spark, dim, 1)
    view.refresh()  # warm-up: first incremental refresh
    _fact_commit(spark, fact, 2)
    fact_jobs, info = _refresh_jobs(spark, view)
    assert info["mode"] == "delta"
    assert _got(view) == _direct(fact, dim, how)
    _dim_commit(spark, dim, 2)
    dim_jobs, info = _refresh_jobs(spark, view)
    assert info["mode"] == "delta"
    assert _got(view) == _direct(fact, dim, how)
    fact_max, dim_max = BUDGET[how]
    assert fact_jobs <= fact_max and dim_jobs <= dim_max, (fact_jobs, dim_jobs)


SERVE_COLS = "id string, create_at string, update_at string, entity string, amount int, is_credit int"
SERVE_VIEW = (
    "CREATE MATERIALIZED VIEW jb_serve_mv WITH AUTO DELTA REFRESH AS "
    "SELECT entity, is_credit, sum(amount) AS total, count(*) AS n "
    "FROM jb_serve GROUP BY entity, is_credit"
)


def _serve_row(i: int, ver: int, op: str | None = None):
    row = (f"k{i:06d}", f"2024-01-{i % 20 + 1:02d}T00:00:00",
           f"2024-03-01T00:{ver:02d}:00", f"e{i % 8}", i % 997, i % 2)
    return row if op is None else (*row, op)


def _serve_batch(spark, r: int):
    """500 CDC rows in the ``serve`` mix: 400 updates and 25 deletes of
    keys in the newest three day partitions, 75 inserts there too."""
    hot = [i for i in range(4000) if i % 20 >= 17]
    ups = [_serve_row(i, r, "U") for i in hot[r * 10:r * 10 + 400]]
    dels = [_serve_row(i, r, "D") for i in hot[r * 10 + 400:r * 10 + 425]]
    ins = [_serve_row(4000 + r * 100 + j * 20 + 17 + j % 3, r, "I") for j in range(75)]
    return spark.createDataFrame(ups + dels + ins, SERVE_COLS + ", Op string")


# (Spark jobs, py4j round trips) of one warm commit. The round trips
# were measured at 1,470 (serve) and 816 (trickle) on local[8]; the
# serve budget keeps the two-call margin it carried when its count
# (2,146-2,148) varied between warm commits, which run their services
# concurrently.
SERVE_BUDGET = (11, 1472)
TRICKLE_BUDGET = (6, 816)


def _serve_table(spark, tmp_path, plain_load: bool) -> KeyedTable:
    """The ``serve`` workload's table: a zone map and a bloom index on
    ``id`` and an AUTO DELTA view over it. ``plain_load`` loads it as
    perfbench does: through a handle that keeps no versions, with the
    zone map and the bloom index built afterwards."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        attach_bloom_maintenance,
        build_bloom_index,
    )
    from rds_to_datalake_project_spark.operators.zonemap import build_zonemap
    from rds_to_datalake_project_spark.sql import run_query

    path = str(tmp_path / "serve")
    spec = TableSpec("jb_serve", partition_granularity="day")
    rows = spark.createDataFrame([_serve_row(i, 0) for i in range(4000)], SERVE_COLS)
    if plain_load:
        KeyedTable(spark, path, spec).initial_load(rows)
        build_zonemap(spark, path, ["id"])
        build_bloom_index(spark, path, ["id"])
    t = KeyedTable(spark, path, spec, retain_versions=2, zonemap_columns=["id"])
    if not plain_load:
        t.initial_load(rows)
    attach_bloom_maintenance(t, ["id"])
    t.register("jb_serve")
    run_query(spark, SERVE_VIEW, tables={"jb_serve": t})
    return t


def _serve_commit(spark, tmp_path, plain_load: bool) -> tuple[int, int]:
    """The cost of one warm ``serve``-shaped commit (``_serve_table``)."""
    from rds_to_datalake_project_spark.sql import run_query

    t = _serve_table(spark, tmp_path, plain_load)
    try:
        t.upsert(_serve_batch(spark, 1), delete_mode="apply")  # warm-up
        cost = _commit_cost(spark, t, _serve_batch(spark, 2))
        assert t.last_maintenance_errors == []
        view = run_query(spark, "SELECT entity, is_credit, total, n FROM jb_serve_mv")
        direct = t.read().groupBy("entity", "is_credit").agg(
            F.sum("amount").alias("total"), F.count("*").alias("n")
        )
        assert {tuple(r) for r in view.collect()} == {tuple(r) for r in direct.collect()}
    finally:
        run_query(spark, "DROP MATERIALIZED VIEW jb_serve_mv")
    return cost


def test_serve_commit_job_budget(spark, tmp_path):
    """A commit of the ``serve`` workload's shape — a zone map and a
    bloom index on ``id`` and an AUTO DELTA view over the table, all
    maintained after a 500-row CDC batch — runs at most 11 Spark jobs
    once warm: the commit core plus its two post-commit services,
    which run concurrently on threads that keep the caller's job
    group. It took 36 before the commit handed its read schema to the
    reads after it and the view's small store merged on the driver,
    22 while the zone map was a sidecar rebuilt by every commit, and
    16 while the bloom reconcile rewrote its whole sidecar and the view
    joined the change window on the key."""
    cost = _serve_commit(spark, tmp_path, plain_load=False)
    assert all(got <= cap for got, cap in zip(cost, SERVE_BUDGET)), cost


def test_serve_commit_job_budget_plain_load(spark, tmp_path):
    """The same commit on a table loaded the way perfbench loads it —
    through a handle that keeps no versions — holds the same budget:
    the first retaining commit vouches for its own version, so the
    view's endpoint reads infer no schema either."""
    cost = _serve_commit(spark, tmp_path, plain_load=True)
    assert all(got <= cap for got, cap in zip(cost, SERVE_BUDGET)), cost


def _own_group(spark, fn, jobs: dict, name: str):
    """``fn`` run under a job group of its own on the calling thread
    (the commit's service threads clone the caller's properties, so the
    group covers exactly this service); adds its Spark jobs to
    ``jobs[name]``."""
    import uuid

    def run(*a, **k):
        sc = spark.sparkContext
        old = sc.getLocalProperty("spark.jobGroup.id")
        group = f"{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            return fn(*a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", old)
            jobs[name] = jobs.get(name, 0) + len(
                sc.statusTracker().getJobIdsForGroup(group)
            )

    return run


def test_serve_services_job_budget(spark, tmp_path, monkeypatch):
    """Per-service pins on a warm ``serve`` commit: the bloom reconcile
    runs at most 2 Spark jobs (the scan and shuffle of the one part it
    appends; it ran 5 when it re-read, checkpointed and overwrote its
    whole sidecar), the view hook at most 3 (the grouped image diff and
    the store write; 5 through ``table_changes``' key join), and the
    first lookup after the commit 1, its data read: the bloom memo loads
    its parts on the driver (2 more jobs when Spark collected them)."""
    from rds_to_datalake_project_spark.operators import bloomfilter
    from rds_to_datalake_project_spark.sql import MATVIEWS, run_query

    jobs: dict = {}
    monkeypatch.setattr(
        bloomfilter,
        "refresh_bloom_index",
        _own_group(spark, bloomfilter.refresh_bloom_index, jobs, "bloom"),
    )
    t = _serve_table(spark, tmp_path, plain_load=True)
    view = MATVIEWS["jb_serve_mv"]
    view.refresh = _own_group(spark, view.refresh, jobs, "view")
    try:
        t.upsert(_serve_batch(spark, 1), delete_mode="apply")  # warm-up
        jobs.clear()
        t.upsert(_serve_batch(spark, 2), delete_mode="apply")
        assert t.last_maintenance_errors == []
        sched = spark.sparkContext._jsc.sc().dagScheduler()
        j0 = sched.nextJobId()
        got = t.lookup("k000017").collect()
        lookup_jobs = sched.nextJobId() - j0
        assert [r.id for r in got] == ["k000017"]
    finally:
        run_query(spark, "DROP MATERIALIZED VIEW jb_serve_mv")
    assert jobs["bloom"] <= 2 and jobs["view"] <= 3 and lookup_jobs == 1, (
        jobs, lookup_jobs,
    )


def _trickle_batch(spark, r: int):
    """2,000 CDC rows in the ``trickle`` mix: updates and deletes of
    keys in the newest day partitions, and inserts there too."""
    hot = [i for i in range(4000) if i % 20 >= 15]
    ups = [_serve_row(i, r, "U") for i in hot[:900]]
    dels = [_serve_row(i, r, "D") for i in hot[900:1000]]
    ins = [_serve_row(r * 100_000 + j * 20 + 15 + j % 5, r, "I") for j in range(1000)]
    return spark.createDataFrame(ups + dels + ins, SERVE_COLS + ", Op string")


def test_trickle_commit_job_budget(spark, tmp_path):
    """A commit of the ``trickle`` workload's shape — a 2,000-row CDC
    batch into a day-partitioned table with no services — runs at most
    6 Spark jobs once warm: the batch's partition set and the merge
    write. Its read of the table infers no schema (7 jobs when it did):
    the previous commit handed its schema over."""
    t = KeyedTable(spark, str(tmp_path / "trickle"), TableSpec("jb_trickle"))
    t.initial_load(spark.createDataFrame(
        [_serve_row(i, 0) for i in range(4000)], SERVE_COLS
    ))
    t.upsert(_trickle_batch(spark, 1), delete_mode="apply")  # warm-up
    cost = _commit_cost(spark, t, _trickle_batch(spark, 2))
    assert t.read().count() == 4000 - 100 + 2000
    assert all(got <= cap for got, cap in zip(cost, TRICKLE_BUDGET)), cost
