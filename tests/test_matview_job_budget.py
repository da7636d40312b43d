"""Spark-job budgets of incremental view refreshes.

A refresh is a chain of small driver-synchronized jobs, so its wall
time follows its job count more than its data volume. These tests pin
the count of one warm refresh so a plan change that adds jobs shows up
as a failure rather than as drift in a benchmark.

Jobs are counted as the delta of the scheduler's global job id around
``refresh()``. A job group would miss jobs: change scans run on pool
threads (``matview._pmap``), which do not inherit the caller's group.
"""

from __future__ import annotations

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
    group column, signed-delta maintained — folds one commit in 16
    jobs once warm, as it did before the view classes shared one
    skeleton."""
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
    assert jobs <= 16, jobs


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
