"""SCD Type-2 reconstruction from retained snapshots (operators/scd.py)."""

from __future__ import annotations

import pytest
from rds_to_datalake_project_spark.operators.scd import scd2_history
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

from tests.test_crash_recovery import BATCH_COLS, INIT_COLS

SPEC = TableSpec(
    "scd",
    record_key=("id",),
    precombine_key="update_at",
    partition_source="create_at",
    partition_granularity="month",
)

V0 = [
    ("r1", "2024-01-05T00:00:00", "2024-01-05T00:00:00", "a1"),
    ("r2", "2024-02-05T00:00:00", "2024-02-05T00:00:00", "a2"),
]
B1 = [  # r1 value changes; r2 deleted
    ("r1", "2024-01-05T00:00:00", "2024-05-01T00:00:00", "b1", "U"),
    ("r2", "2024-02-05T00:00:00", "2024-05-01T00:00:00", "x", "D"),
]
B2 = [  # r2 re-inserted with its ORIGINAL value; r1 unchanged
    ("r2", "2024-02-05T00:00:00", "2024-06-01T00:00:00", "a2", "I"),
]


def _hist(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "scd"), SPEC, retain_versions=5)
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))
    for b in (B1, B2):
        t.upsert(spark.createDataFrame(b, BATCH_COLS), delete_mode="apply")
    return scd2_history(t, ["val"])


def test_scd2_intervals(spark, tmp_path):
    rows = {
        (r["id"], r["valid_from"]): (r["val"], r["valid_to"], r["is_current"])
        for r in _hist(spark, tmp_path).collect()
    }
    # r1: a1 held [0, 1), b1 held [1, current)
    assert rows[("r1", 0)] == ("a1", 1, False)
    assert rows[("r1", 1)] == ("b1", None, True)
    # r2: a2 held [0, 1) — DELETED at 1 — re-inserted (same value!) at 2.
    # The gap must split the history into TWO segments, not one.
    assert rows[("r2", 0)] == ("a2", 1, False)
    assert rows[("r2", 2)] == ("a2", None, True)
    assert len(rows) == 4


def test_scd2_respects_explicit_version_subset(spark, tmp_path):
    df = _hist(spark, tmp_path)  # builds the table
    # restricting to the last two commits: r2 appears only at commit 2
    from rds_to_datalake_project_spark.operators.scd import scd2_history as h

    # re-open the table from the first call via the DataFrame's lineage is
    # not possible; rebuild the handle instead
    t = KeyedTable(spark, str(tmp_path / "scd"), SPEC, retain_versions=5)
    rows = {
        (r["id"], r["valid_from"]): (r["val"], r["valid_to"], r["is_current"])
        for r in h(t, ["val"], versions=[1, 2]).collect()
    }
    assert rows[("r1", 1)] == ("b1", None, True)
    assert rows[("r2", 2)] == ("a2", None, True)
    assert len(rows) == 2


def _mk_base(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "base"), SPEC, retain_versions=5)
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))
    return t


@pytest.mark.slow
def test_scd2_store_incremental_matches_recompute(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.scd import Scd2Store

    t = _mk_base(spark, tmp_path)
    s = Scd2Store(t, str(tmp_path / "scd_store"), ["val"])
    s.build(0)
    assert s.refreshed_version() == 0

    for b in (B1, B2):
        t.upsert(spark.createDataFrame(b, BATCH_COLS), delete_mode="apply")
    r = s.refresh()
    assert r["mode"] == "incremental" and r["commits_applied"] == 2

    want = sorted(map(tuple, scd2_history(t, ["val"]).collect()))
    got = sorted(
        map(tuple, s.read().select(*scd2_history(t, ["val"]).columns).collect())
    )
    assert got == want
    # second refresh is a no-op
    assert s.refresh()["mode"] == "noop"


@pytest.mark.slow
def test_scd2_store_ignores_untracked_column_churn(spark, tmp_path):
    """An upsert that only bumps the precombine column must NOT open a
    new interval for the tracked value."""
    from rds_to_datalake_project_spark.operators.scd import Scd2Store

    t = _mk_base(spark, tmp_path)
    s = Scd2Store(t, str(tmp_path / "scd_store2"), ["val"])
    s.build(0)
    # same val, newer update_at -> table_changes reports an update,
    # but the TRACKED value is unchanged
    churn = [("r1", "2024-01-05T00:00:00", "2024-08-01T00:00:00", "a1", "U")]
    t.upsert(spark.createDataFrame(churn, BATCH_COLS), delete_mode="apply")
    s.refresh()
    rows = s.read().filter("id = 'r1'").collect()
    assert len(rows) == 1
    assert rows[0]["valid_from"] == 0 and rows[0]["is_current"]


def test_scd2_store_maintenance_hook(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.scd import (
        Scd2Store,
        attach_scd2_maintenance,
    )

    t = _mk_base(spark, tmp_path)
    s = Scd2Store(t, str(tmp_path / "scd_store3"), ["val"])
    s.build(0)
    attach_scd2_maintenance(t, s)
    t.upsert(spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply")
    # hook ran inside the commit: store already reflects v1
    # (B1 = r1 value change + r2 delete)
    assert s.refreshed_version() == 1
    cur = {r["id"]: r["val"] for r in s.read().filter("is_current").collect()}
    assert cur == {"r1": "b1"}
    closed = {
        (r["id"], r["valid_from"]): r["valid_to"]
        for r in s.read().filter("NOT is_current").collect()
    }
    assert closed == {("r1", 0): 1, ("r2", 0): 1}


@pytest.mark.slow
def test_scd2_store_reapply_is_idempotent(spark, tmp_path):
    """Crash between the interval upsert and the marker write: the
    re-run re-applies the same commit — same rows, same seq — and the
    store converges to the identical state."""
    from rds_to_datalake_project_spark.operators.scd import Scd2Store

    t = _mk_base(spark, tmp_path)
    s = Scd2Store(t, str(tmp_path / "scd_store4"), ["val"])
    s.build(0)
    t.upsert(spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply")
    s._apply(1)  # crash here: marker still says 0
    before = sorted(map(tuple, s.read().collect()))
    s.refresh()  # re-applies commit 1, then moves the marker
    after = sorted(map(tuple, s.read().collect()))
    assert before == after
    assert s.refreshed_version() == 1


def test_scd2_store_rebuilds_after_base_reset(spark, tmp_path):
    """A table RESET (``initial_load`` again) restarts commit numbering.
    Two commits after it, the head version equals the store's cursor
    again — the cursor's incarnation token must still send the next
    refresh to a full rebuild instead of a noop over the previous
    incarnation's intervals."""
    from rds_to_datalake_project_spark.operators.scd import Scd2Store

    t = _mk_base(spark, tmp_path)
    for b in (B1, B2):
        t.upsert(spark.createDataFrame(b, BATCH_COLS), delete_mode="apply")
    s = Scd2Store(t, str(tmp_path / "scd_store5"), ["val"])
    assert s.refresh()["mode"] == "full"
    assert s.refreshed_version() == 2

    t.initial_load(spark.createDataFrame(
        [("r9", "2024-03-05T00:00:00", "2024-03-05T00:00:00", "z1")],
        INIT_COLS,
    ))
    for i, ts in enumerate(("2024-07-01T00:00:00", "2024-08-01T00:00:00")):
        t.upsert(
            spark.createDataFrame(
                [("r9", "2024-03-05T00:00:00", ts, f"z{i + 2}", "U")],
                BATCH_COLS,
            ),
            delete_mode="apply",
        )
    assert (t.versions() or [0])[-1] == 2  # the old cursor's number
    assert s.refresh()["mode"] == "full"
    want = sorted(map(tuple, scd2_history(t, ["val"]).collect()))
    got = sorted(
        map(tuple, s.read().select(*scd2_history(t, ["val"]).columns).collect())
    )
    assert got == want
    assert {r[0] for r in got} == {"r9"}
