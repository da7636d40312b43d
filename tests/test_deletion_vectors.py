"""Merge-on-read deletion vectors (operators/deletevectors).

Contract under test: a vector DELETE commits only positional
tombstones (no data-file rewrite), every read path applies the mask,
positional identity survives retire/rename but not rewrite (so
re-inserts and folds self-neutralize), history stays exact, and the
crash/concurrency protocol is the same one upserts ride."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators import deletevectors as dv
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


def _spec(name: str, **kw) -> TableSpec:
    kw.setdefault("partition_granularity", None)  # default: unpartitioned
    return TableSpec(
        name,
        record_key=kw.pop("record_key", ("id",)),
        precombine_key="update_at",
        **kw,
    )


def _rows(spark, n=40, ver="v0"):
    return spark.createDataFrame(
        [
            Row(
                id=i,
                day=f"2024-01-{(i % 4) + 1:02d}",
                amount=float(i),
                update_at=ver,
            )
            for i in range(n)
        ]
    )


def _partitioned(spark, path, **kw) -> KeyedTable:
    spec = _spec(
        "dv_t",
        partition_source="day",
        partition_granularity="day",
    )
    return KeyedTable(
        spark, str(path), spec, deletion_vectors=True, **kw
    )


def _data_files(path) -> list[str]:
    return sorted(
        f
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if "/.dv/" not in f
        and "/.meta/" not in f
        and "/.retired/" not in f
        and "/.zonemap" not in f
    )


def test_vector_delete_masks_without_rewriting(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    before = _data_files(t.path)
    n = t.delete_where("id % 4 = 0")
    assert n == 10
    assert _data_files(t.path) == before  # merge-on-read: zero rewrite
    got = sorted(r.id for r in t.read().collect())
    assert got == [i for i in range(40) if i % 4 != 0]
    st = dv.dv_stats(spark, t.path)
    assert st["dirs"] == 1 and st["rows"] == 10


def test_vector_delete_strategy_overrides(spark, tmp_path):
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        _spec("dv_cow", partition_source="day", partition_granularity="day"),
    )
    t.initial_load(_rows(spark))
    # rewrite-default table, explicit vector strategy
    assert t.delete_where("id = 1", strategy="vector") == 1
    assert dv.dv_stats(spark, t.path)["dirs"] == 1
    # vector-default table, explicit rewrite strategy
    t2 = _partitioned(spark, tmp_path / "t2")
    t2.initial_load(_rows(spark))
    assert t2.delete_where("id = 1", strategy="rewrite") == 1
    assert dv.dv_stats(spark, t2.path)["dirs"] == 0
    with pytest.raises(ValueError, match="strategy"):
        t2.delete_where("id = 2", strategy="bogus")


def test_reinsert_after_vector_delete_is_visible(spark, tmp_path):
    """Positional identity: the re-inserted key lands in a NEW file,
    so the stale vector entry cannot mask it."""
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    assert t.delete_where("id = 8") == 1
    t.upsert(_rows(spark, ver="v1").filter(F.col("id") == 8))
    row = t.read().filter(F.col("id") == 8).collect()
    assert len(row) == 1 and row[0].update_at == "v1"


def test_vector_delete_twice_same_predicate_is_idempotent(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    assert t.delete_where("id < 5") == 5
    # victims are scanned through the mask: nothing left to delete
    assert t.delete_where("id < 5") == 0
    assert t.read().count() == 35


def test_update_where_through_the_mask(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    t.delete_where("id % 2 = 0")
    n = t.update_where("id < 10", {"amount": "amount + 100"})
    assert n == 5  # odd ids only — masked rows are not updatable
    # the rewrite of touched partitions must not resurrect masked rows
    assert t.read().count() == 20
    assert (
        t.read().filter((F.col("id") < 10) & (F.col("amount") >= 100)).count()
        == 5
    )


def test_unpartitioned_vector_delete(spark, tmp_path):
    spec = _spec("dv_flat")
    t = KeyedTable(spark, str(tmp_path / "t"), spec, deletion_vectors=True)
    t.initial_load(_rows(spark))
    before = _data_files(t.path)
    assert t.delete_where("id >= 30") == 10
    assert _data_files(t.path) == before
    assert sorted(r.id for r in t.read().collect()) == list(range(30))
    res = t.materialize_deletes()
    assert res["rows"] == 10 and res["folded_dirs"] == 1
    assert t.read().count() == 30
    assert dv.dv_stats(spark, t.path)["dirs"] == 0


@pytest.mark.slow
def test_snapshot_reads_and_cdc_across_vector_commits(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=5)
    t.initial_load(_rows(spark))
    t.delete_where("id < 10")  # commit 1 (vector)
    t.upsert(_rows(spark, ver="v2").filter(F.col("id") < 3))  # commit 2
    assert t.read_as_of(0).count() == 40
    assert t.read_as_of(1).count() == 30
    assert t.read().count() == 33
    tc = t.table_changes(0, 1)
    assert tc.filter(F.col("_change_type") == "delete").count() == 10
    assert tc.count() == 10
    tc2 = t.table_changes(1, 2)
    assert tc2.filter(F.col("_change_type") == "insert").count() == 3


def test_unpartitioned_snapshots_across_vector_commits(spark, tmp_path):
    """On an unpartitioned table a vector commit parks no file under
    ``.retired``: the snapshot before it is the live files without its
    mask (and without a MOR update's appended file), and the change feed
    across it holds only what it changed."""
    t = KeyedTable(
        spark, str(tmp_path / "t"), _spec("dv_flat_h"), deletion_vectors=True,
        retain_versions=5,
    )
    t.initial_load(_rows(spark))
    t.upsert(_rows(spark, ver="v1").filter(F.col("id") < 3))  # v1 (swap)
    t.delete_where("id >= 30")  # v2 (vector)
    t.update_where("id = 5", {"amount": "amount + 100"})  # v3 (MOR)
    assert t.read_as_of(1).count() == 40
    assert t.read_as_of(2).count() == 30
    assert t.read_as_of(2).filter(F.col("amount") >= 100).count() == 0
    assert t.read_as_of(3).filter(F.col("amount") >= 100).count() == 1
    tc = t.table_changes(1, 3)
    assert sorted(r._change_type for r in tc.collect()) == ["delete"] * 10 + ["update"]


def test_materialize_folds_only_affected_partitions(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=5)
    t.initial_load(_rows(spark))
    # day dirs: 01..04; victims = HALF of day 01 (ids ≡ 0 mod 8)
    t.delete_where("id % 8 = 0")
    day1 = f"{t.path}/day_year=2024/day_month=01/day_day=01"
    day2 = f"{t.path}/day_year=2024/day_month=01/day_day=02"
    untouched_before = _data_files(day2)
    assert untouched_before  # layout sanity — the glob must find files
    res = t.materialize_deletes()
    assert res["partitions_rewritten"] == 1
    assert _data_files(day2) == untouched_before
    assert _data_files(day1) != []
    assert t.read().count() == 35
    # history: the pre-fold snapshot still applies the vector against
    # the RETIRED copy of day 01
    assert t.read_as_of(1).count() == 35
    assert t.read_as_of(0).count() == 40
    # live mask is empty; the vector dir is retained for history
    st = dv.dv_stats(spark, t.path)
    assert st["dirs"] == 0 and st["total_dirs"] == 1


def test_materialize_swaps_away_fully_deleted_partition(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=5)
    t.initial_load(_rows(spark))
    t.delete_where("id % 4 = 0")  # the WHOLE of day 01
    res = t.materialize_deletes()
    assert res["partitions_rewritten"] == 1
    assert (
        _data_files(f"{t.path}/day_year=2024/day_month=01/day_day=01") == []
    )
    assert t.read().count() == 30
    assert t.read_as_of(0).count() == 40


def test_vacuum_expires_folded_vectors(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=5)
    t.initial_load(_rows(spark))
    t.delete_where("id % 4 = 0")  # v1 (vector)
    t.materialize_deletes()  # v2 (fold)
    assert dv.dv_stats(spark, t.path)["total_dirs"] == 1
    t.vacuum_versions(keep_last=1)  # floor = v1 < fold(2): still needed
    assert dv.dv_stats(spark, t.path)["total_dirs"] == 1
    t.upsert(_rows(spark, ver="v3").filter(F.col("id") == 1))  # v3
    t.vacuum_versions(keep_last=1)  # floor = v2 ≥ fold: expired
    assert dv.dv_stats(spark, t.path)["total_dirs"] == 0
    assert t.read().count() == 30


def test_compaction_does_not_resurrect_masked_rows(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.compact import (
        compact_partitions,
    )

    t = _partitioned(spark, tmp_path / "t")
    # fragment day 01: AQE would coalesce each commit's shuffle to one
    # file and leave nothing for the compactor to select
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        t.initial_load(_rows(spark, n=80))
        t.upsert(_rows(spark, n=80, ver="a").filter(F.col("id") % 4 == 0))
    finally:
        spark.conf.set(coalesce_key, prev)
    t.delete_where("id = 4")
    rewritten = compact_partitions(t, target_file_bytes=1 << 30, min_files=1)
    assert rewritten  # day 01 was fragmented
    assert t.read().filter(F.col("id") == 4).count() == 0
    assert t.read().count() == 79


def test_lookup_paths_apply_the_mask(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    t.delete_where("id = 7")
    assert t.lookup(7).count() == 0
    assert t.lookup(9).count() == 1
    got = t.lookup_many([5, 6, 7, 8]).count()
    assert got == 3
    assert t.read_where({"id": (6, 8)}).count() == 2


def test_bucketed_lookup_applies_the_mask(spark, tmp_path):
    spec = _spec("dv_bucketed", hash_buckets=4)
    t = KeyedTable(spark, str(tmp_path / "t"), spec, deletion_vectors=True)
    t.initial_load(_rows(spark))
    t.delete_where("id = 11")
    assert t.lookup(11).count() == 0
    assert t.lookup(12).count() == 1


def test_purge_forces_physical_rewrite(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=3)
    t.initial_load(_rows(spark))
    n = t.purge_rows("id = 6")
    assert n == 1
    # the victim's bytes are GONE from live files, not just masked
    live = spark.read.option("mergeSchema", "true").parquet(t.path)
    assert live.filter(F.col("id") == 6).count() == 0
    assert dv.dv_stats(spark, t.path)["dirs"] == 0


def test_history_purge_refuses_with_outstanding_vectors(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=3)
    t.initial_load(_rows(spark))
    t.delete_where("id = 5")
    with pytest.raises(ValueError, match="deletion vectors"):
        t.purge_rows("id = 6", keep_history=True)


@pytest.mark.slow
def test_restore_across_vector_commits(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=6)
    t.initial_load(_rows(spark))
    t.delete_where("id < 20")  # v1
    t.upsert(_rows(spark, ver="v2").filter(F.col("id") == 39))  # v2
    v = t.restore_to_version(1)
    assert t.read().count() == 20
    assert sorted(r.id for r in t.read().collect()) == list(range(20, 40))
    # restored files are fresh — no vector applies to them twice
    assert t.read_as_of(v).count() == 20


def test_external_handle_sees_the_mask(spark, tmp_path):
    """A second handle opened WITHOUT deletion_vectors=True still
    reads through the mask — correctness keys off the .dv dir."""
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    t.delete_where("id < 4")
    t2 = KeyedTable(
        spark,
        str(tmp_path / "t"),
        _spec("dv_t", partition_source="day", partition_granularity="day"),
    )
    assert t2.read().count() == 36
    # and its COW delete strategy composes with the existing mask
    assert t2.delete_where("id < 8") == 4


def test_crash_between_stage_and_commit_discards_vector(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    orig = KeyedTable._fault

    def boom(point):
        if point == "dv_staged":
            raise RuntimeError("crash")

    KeyedTable._fault = staticmethod(boom)
    try:
        with pytest.raises(RuntimeError):
            t.delete_where("id < 3")
    finally:
        KeyedTable._fault = staticmethod(orig)
    # un-flagged staging = dead output; recover discards, mask empty
    t.recover()
    assert t.read().count() == 40
    assert dv.dv_stats(spark, t.path)["dirs"] == 0
    # and a re-run completes normally
    assert t.delete_where("id < 3") == 3
    assert t.read().count() == 37


def test_crash_mid_publish_recovers_the_vector_commit(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=3)
    t.initial_load(_rows(spark))
    orig = KeyedTable._fault

    def boom(point):
        if point == "dv_published":
            raise RuntimeError("crash")

    KeyedTable._fault = staticmethod(boom)
    try:
        with pytest.raises(RuntimeError):
            t.delete_where("id < 3")
    finally:
        KeyedTable._fault = staticmethod(orig)
    # flagged staging with the vector already renamed in: recover()
    # completes the commit (idempotent re-entry skips the rename)
    t.recover()
    assert t.read().count() == 37
    assert (t.versions() or [0])[-1] == 1
    assert t.read_as_of(1).count() == 37


def test_concurrent_writer_conflicts_vector_delete(spark, tmp_path):
    """A commit landing between the victim scan and the publish makes
    the vector delete recompute against the fresh snapshot."""
    t = _partitioned(spark, tmp_path / "t", commit_retries=2)
    t.initial_load(_rows(spark))
    calls = {"n": 0}
    orig = KeyedTable._fault
    peer = KeyedTable(
        spark,
        str(tmp_path / "t"),
        _spec("dv_t", partition_source="day", partition_granularity="day"),
        commit_retries=2,
        orphan_staging_grace_s=60.0,
    )

    def interject(point):
        if point == "dv_staged" and calls["n"] == 0:
            calls["n"] = 1
            KeyedTable._fault = staticmethod(orig)
            peer.upsert(_rows(spark, ver="zz").filter(F.col("id") == 39))

    t.orphan_staging_grace_s = 60.0
    KeyedTable._fault = staticmethod(interject)
    try:
        n = t.delete_where("id < 3")
    finally:
        KeyedTable._fault = staticmethod(orig)
    assert n == 3
    assert t.read().count() == 37
    assert t.read().filter(F.col("id") == 39).collect()[0].update_at == "zz"


def test_mask_join_is_broadcast(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    t.delete_where("id = 0")
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # and a vector-free table's plan carries no anti-join at all
    t2 = KeyedTable(
        spark,
        str(tmp_path / "t2"),
        _spec("dv_clean", partition_source="day", partition_granularity="day"),
    )
    t2.initial_load(_rows(spark))
    plan2 = t2.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan2


def test_null_partition_values_mask_correctly(spark, tmp_path):
    rows = spark.createDataFrame(
        [
            Row(id=i, day=(None if i % 3 == 0 else f"2024-01-{(i % 2) + 1:02d}"),
                amount=float(i), update_at="v0")
            for i in range(12)
        ]
    )
    spec = _spec("dv_nullpart", partition_source="day",
                 partition_granularity="day")
    t = KeyedTable(spark, str(tmp_path / "t"), spec, deletion_vectors=True)
    t.initial_load(rows)
    # victims include rows in the __HIVE_DEFAULT_PARTITION__ dir —
    # the mask's null-safe partition-value equality must land there
    assert t.delete_where("id IN (0, 1, 3)") == 3
    assert sorted(r.id for r in t.read().collect()) == [
        2, 4, 5, 6, 7, 8, 9, 10, 11
    ]


def test_mor_update_appends_instead_of_rewriting(spark, tmp_path):
    """Merge-on-read UPDATE: one commit = vector(old positions) +
    appended new-row files. Existing data files are untouched; reads
    see only the new versions; I/O ∝ rows updated."""
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    before = set(_data_files(t.path))
    n = t.update_where("id % 8 = 0", {"amount": "amount + 100"})
    assert n == 5
    after = set(_data_files(t.path))
    assert before <= after  # nothing rewritten or removed
    assert len(after) > len(before)  # new files appended
    got = {r.id: r.amount for r in t.read().collect()}
    assert all(got[i] == i + 100 for i in range(0, 40, 8))
    assert all(got[i] == i for i in range(1, 40, 2))
    assert t.read().count() == 40
    # chained MOR updates: each masks the prior appended version
    assert t.update_where("id = 8", {"amount": "amount + 1"}) == 1
    assert t.read().filter(F.col("id") == 8).collect()[0].amount == 109.0
    assert t.read().count() == 40


@pytest.mark.slow
def test_mor_update_snapshot_reads_exclude_late_appends(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t", retain_versions=5)
    t.initial_load(_rows(spark))
    t.update_where("id % 8 = 0", {"amount": "amount + 100"})  # v1 (MOR)
    t.upsert(_rows(spark, ver="v2").filter(F.col("id") == 3))  # v2
    assert t.read_as_of(0).filter(F.col("amount") >= 100).count() == 39 - 39
    assert t.read_as_of(0).count() == 40
    assert {
        r.id: r.amount
        for r in t.read_as_of(1).filter(F.col("id") % 8 == 0).collect()
    } == {i: i + 100.0 for i in range(0, 40, 8)}
    # CDC across the MOR-update commit
    tc = t.table_changes(0, 1)
    assert tc.filter(F.col("_change_type") == "update").count() == 5
    assert tc.count() == 5
    # time travel across a LATER rewrite of the same partition: the
    # retired copy carries the appended file; exclusion still exact
    t.upsert(
        _rows(spark, ver="v3").filter(F.col("id") % 4 == 0)
    )  # v3 rewrites day 01 (merges appends in)
    assert t.read_as_of(0).filter(F.col("amount") >= 100).count() == 0
    assert t.read_as_of(1).filter(F.col("amount") >= 100).count() == 5
    assert t.read().filter(F.col("update_at") == "v3").count() == 10


def test_mor_update_constraints_and_validation(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    t.add_constraint("amount_cap", "amount < 1000")
    from rds_to_datalake_project_spark.operators.upsert import (
        ConstraintViolation,
    )

    with pytest.raises(ConstraintViolation):
        t.update_where("id = 0", {"amount": "5000.0"})
    assert t.read().filter(F.col("amount") >= 1000).count() == 0
    with pytest.raises(ValueError, match="immutable"):
        t.update_where("id = 0", {"id": "1"})
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where("id = 0", {"nope": "1"})
    # swap semantics hold on the MOR path too
    t2 = _partitioned(spark, tmp_path / "t2")
    t2.initial_load(
        _rows(spark).withColumn("b", F.col("amount") * 2)
    )
    t2.update_where("id = 4", {"amount": "b", "b": "amount"})
    r = t2.read().filter(F.col("id") == 4).collect()[0]
    assert (r.amount, r.b) == (8.0, 4.0)


@pytest.mark.slow
def test_mor_update_fold_and_compaction(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.compact import (
        compact_partitions,
    )

    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    for k in range(3):  # fragment day 01 with appends
        t.update_where("id % 4 = 0", {"amount": f"amount + {k + 1}"})
    assert dv.dv_stats(spark, t.path)["dirs"] == 3
    rewritten = compact_partitions(t, target_file_bytes=1 << 30, min_files=1)
    assert rewritten  # appended fragments selected and folded
    got = {r.id: r.amount for r in t.read().collect()}
    assert got[0] == 0 + 1 + 2 + 3
    assert t.read().count() == 40
    res = t.materialize_deletes()  # folds the masks
    assert dv.dv_stats(spark, t.path)["dirs"] == 0
    assert t.read().count() == 40


def test_facade_delete_and_materialize_verbs(spark, tmp_path):
    from rds_to_datalake_project_spark.sql import run_query

    t = _partitioned(spark, tmp_path / "t", retain_versions=3)
    t.initial_load(_rows(spark))
    known = {"dvt": t}
    res = run_query(spark, "DELETE FROM dvt WHERE id < 6", tables=known)
    assert res.collect()[0].rows_deleted == 6
    st = run_query(spark, "SHOW DELETION VECTORS FOR dvt", tables=known).collect()[0]
    assert st.outstanding_dirs == 1 and st.masked_rows == 6
    out = run_query(spark, "MATERIALIZE DELETES FOR dvt", tables=known).collect()[0]
    assert out.rows == 6 and out.folded_dirs == 1
    st2 = run_query(spark, "SHOW DELETION VECTORS FOR dvt", tables=known).collect()[0]
    assert st2.outstanding_dirs == 0 and st2.fold_floor == out.version
    assert t.read().count() == 34


def test_initial_load_reset_wipes_vectors(spark, tmp_path):
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    t.delete_where("id < 10")
    t.initial_load(_rows(spark, ver="v9"))
    assert not os.path.exists(f"{t.path}/.dv")
    assert t.read().count() == 40


def test_update_literal_keeps_the_column_type(spark, tmp_path):
    """A SET literal takes its column's type: ``-1.0`` parses as
    DECIMAL(2,1), and appending it as such to a DOUBLE column left
    files whose schemas no later read could merge."""
    t = _partitioned(spark, tmp_path / "t")
    t.initial_load(_rows(spark))
    assert t.update_where("id = 6", {"amount": "-1.0"}, strategy="vector") == 1
    assert t.update_where("id = 7", {"amount": "-2.5"}, strategy="rewrite") == 1
    assert dict(t.read().dtypes)["amount"] == "double"
    # a rewrite delete reads every file of the touched partitions
    assert t.delete_where("id % 4 = 2", strategy="rewrite") == 10
    got = {r.id: r.amount for r in t.read().collect()}
    assert len(got) == 30 and 6 not in got
    assert got[7] == -2.5
