"""Post-commit maintenance hooks are FAILURE-ISOLATED.

The contract (operators/upsert.py::add_maintenance_hook): a hook
failure leaves a stale-but-advisory service, never a bad table and
never a failed-looking commit. Concretely, one raising hook must
(a) not propagate out of upsert()/initial_load() — the write IS
committed — and (b) not starve later hooks. Failures are surfaced on
``last_maintenance_errors``, persisted under ``.meta/_MAINT_ERRORS``
and reported by ``describe_history()``.

Reference analog: hive_sync failure never corrupts the committed Hudi
write (glue_jobs/initial_load.py:168-183 — sync runs post-write).
"""

from __future__ import annotations

from rds_to_datalake_project_spark.operators.upsert import KeyedTable

from tests.test_time_travel import (
    B1,
    B2,
    BATCH_COLS,
    INIT_COLS,
    S1,
    S2,
    SPEC,
    V0,
    _mk,
    _vals,
)


def test_raising_hook_does_not_fail_commit_or_starve_later_hooks(
    spark, tmp_path
):
    t = _mk(spark, tmp_path)
    calls = {"boom": 0, "after": 0}

    def exploding_service(table):
        calls["boom"] += 1
        if calls["boom"] == 1:  # heal on the second commit
            raise RuntimeError("service refresh blew up")

    def downstream_service(table):
        calls["after"] += 1

    t.add_maintenance_hook(exploding_service)
    t.add_maintenance_hook(downstream_service)

    # Commit with hook #1 raising: the upsert must NOT raise, the
    # commit must be readable, and hook #2 must still have run.
    t.upsert(spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply")
    assert _vals(t.read()) == S1
    assert calls == {"boom": 1, "after": 1}

    # Error surfaced: in-memory, on disk, and via describe_history.
    assert len(t.last_maintenance_errors) == 1
    err = t.last_maintenance_errors[0]
    assert err["hook"] == "exploding_service"
    assert "service refresh blew up" in err["error"]
    hist = t.describe_history()
    assert hist[-1]["maintenance_errors"] == [
        "exploding_service: RuntimeError: service refresh blew up"
    ]
    assert all(h["maintenance_errors"] == [] for h in hist[:-1])

    # A clean follow-up commit clears the record.
    t.upsert(spark.createDataFrame(B2, BATCH_COLS), delete_mode="apply")
    assert _vals(t.read()) == S2
    assert calls == {"boom": 2, "after": 2}
    assert t.last_maintenance_errors == []
    assert all(h["maintenance_errors"] == [] for h in t.describe_history())


def test_raising_hook_does_not_fail_initial_load(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "tt"), SPEC, retain_versions=5)

    def always_boom(table):
        raise ValueError("no service for you")

    t.add_maintenance_hook(always_boom)
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))  # must not raise
    assert t.read().count() == len(V0)
    assert t.last_maintenance_errors[0]["hook"] == "always_boom"


def test_zonemap_failure_is_isolated_too(spark, tmp_path, monkeypatch):
    """The zone-map column-list write is isolated like a service: a
    failure must not fail the commit, registered hooks must still run
    after it, and it is reported as ``zonemap``."""
    import rds_to_datalake_project_spark.operators.zonemap as zm

    ran = []

    def boom_refresh(*a, **k):
        raise RuntimeError("zone-map column list not written")

    monkeypatch.setattr(zm, "_add_columns", boom_refresh)
    t = KeyedTable(
        spark,
        str(tmp_path / "tt"),
        SPEC,
        retain_versions=5,
        zonemap_columns=["id"],
    )
    t.add_maintenance_hook(lambda table: ran.append(True))
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))  # must not raise
    assert t.read().count() == len(V0)
    assert ran == [True]
    assert t.last_maintenance_errors[0]["hook"] == "zonemap"
