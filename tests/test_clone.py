"""Zero-copy shallow clones (operators/clone).

Contract under test: clone creation copies NO data; reads resolve
local overlay over the pinned source snapshot; writes localize only
touched partitions; source and branch are mutually isolated after the
pin; branch history/CDC work; the pin fails loudly (retention expiry,
source reset) instead of drifting; detach ends the dependency; plain
handles refuse clone paths."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.clone import (
    ClonedTable,
    CloneSourceError,
    PromoteConflict,
    clone_table,
    open_table,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


def _spec(name="cl_t", **kw) -> TableSpec:
    kw.setdefault("partition_source", "day")
    kw.setdefault("partition_granularity", "day")
    return TableSpec(
        name, record_key=("id",), precombine_key="update_at", **kw
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


def _src(spark, tmp_path, **kw) -> KeyedTable:
    t = KeyedTable(
        spark, str(tmp_path / "src"), _spec(), retain_versions=5, **kw
    )
    t.initial_load(_rows(spark))
    return t


def _data_files(path) -> list[str]:
    return sorted(
        f
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
        if "/.meta/" not in f and "/.retired/" not in f
    )


def test_clone_is_zero_copy_and_reads_the_snapshot(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    assert _data_files(cl.path) == []  # ONE metadata file, no data
    assert cl.read().count() == 40
    assert sorted(r.id for r in cl.read().collect()) == list(range(40))


def test_clone_pins_a_version(spark, tmp_path):
    src = _src(spark, tmp_path)
    src.upsert(_rows(spark, ver="v1").filter(F.col("id") < 5))  # v1
    cl0 = clone_table(src, str(tmp_path / "b0"), version=0)
    cl1 = clone_table(src, str(tmp_path / "b1"), version=1)
    assert cl0.read().filter(F.col("update_at") == "v1").count() == 0
    assert cl1.read().filter(F.col("update_at") == "v1").count() == 5
    with pytest.raises(ValueError, match="readable range"):
        clone_table(src, str(tmp_path / "b9"), version=9)


def test_clone_requires_retained_source(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "u"), _spec())
    t.initial_load(_rows(spark))
    with pytest.raises(ValueError, match="retain"):
        clone_table(t, str(tmp_path / "b"))


def test_branch_write_localizes_only_touched_partitions(spark, tmp_path):
    src = _src(spark, tmp_path)
    src_files = _data_files(src.path)
    cl = clone_table(src, str(tmp_path / "b"))
    # ids ≡ 0 mod 4 live in day 01 only
    cl.upsert(
        _rows(spark, ver="v5")
        .filter(F.col("id") % 4 == 0)
        .withColumn("amount", F.lit(-1.0))
    )
    local = _data_files(cl.path)
    assert local  # day 01 materialized locally
    assert all("/day_day=01/" in f for f in local)  # ONLY day 01
    assert _data_files(src.path) == src_files  # source untouched
    got = cl.read()
    assert got.count() == 40
    assert got.filter(F.col("amount") == -1.0).count() == 10
    # non-localized days still serve from the source
    assert got.filter(F.col("id") == 1).collect()[0].update_at == "v0"


def test_source_and_branch_are_isolated_after_the_pin(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    src.upsert(
        _rows(spark, ver="v7").filter(F.col("id") < 10)
    )  # source moves on
    cl.upsert(
        _rows(spark, ver="v8").filter(F.col("id") >= 30)
    )  # branch moves on
    assert cl.read().filter(F.col("update_at") == "v7").count() == 0
    assert src.read().filter(F.col("update_at") == "v8").count() == 0
    assert cl.read().filter(F.col("update_at") == "v8").count() == 10


def test_branch_history_and_cdc(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"), retain_versions=4)
    cl.upsert(
        _rows(spark, ver="v5").filter(F.col("id") % 4 == 0)
    )  # branch commit 1
    cl.delete_where("id = 1")  # branch commit 2
    assert cl.read_as_of(0).count() == 40  # creation snapshot
    assert (
        cl.read_as_of(0).filter(F.col("update_at") == "v5").count() == 0
    )
    assert cl.read_as_of(1).filter(F.col("update_at") == "v5").count() == 10
    assert cl.read_as_of(2).count() == 39
    tc = cl.table_changes(0, 2)
    assert tc.filter(F.col("_change_type") == "update").count() == 10
    assert tc.filter(F.col("_change_type") == "delete").count() == 1


def test_lookup_family_resolves_through_the_branch(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    cl.upsert(
        _rows(spark, ver="v5")
        .filter(F.col("id") == 0)
        .withColumn("amount", F.lit(-1.0))
    )
    assert cl.lookup(0).collect()[0].amount == -1.0  # local side
    assert cl.lookup(7).collect()[0].amount == 7.0  # source side
    assert cl.lookup_many([0, 7, 999]).count() == 2
    assert cl.read_where({"amount": (5.0, 8.0)}).count() == 4


def test_plain_handle_refuses_clone_path(spark, tmp_path):
    src = _src(spark, tmp_path)
    clone_table(src, str(tmp_path / "b"))
    with pytest.raises(ValueError, match="shallow clone"):
        KeyedTable(spark, str(tmp_path / "b"), _spec())
    t = open_table(spark, str(tmp_path / "b"), _spec())
    assert isinstance(t, ClonedTable)
    assert t.read().count() == 40


def test_source_vacuum_past_pin_raises_loudly(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"), version=0)
    src.upsert(_rows(spark, ver="v1").filter(F.col("id") < 3))
    src.upsert(_rows(spark, ver="v2").filter(F.col("id") < 3))
    src.vacuum_versions(keep_last=1)  # floor past the pinned v0
    with pytest.raises(CloneSourceError, match="retention"):
        cl.read().count()


def test_source_reset_raises_loudly(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    src.initial_load(_rows(spark, ver="v9"))  # RESET: new incarnation
    with pytest.raises(CloneSourceError, match="RESET"):
        cl.read().count()


def test_detach_makes_the_branch_independent(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    cl.upsert(
        _rows(spark, ver="v5").filter(F.col("id") % 4 == 0)
    )  # day 01 local
    res = cl.detach()
    assert res["partitions_copied"] == 3  # days 02-04 copied over
    src.initial_load(_rows(spark, ver="zz"))  # source reset: no effect
    assert cl.read().count() == 40
    assert cl.read().filter(F.col("update_at") == "v5").count() == 10
    # reopening yields a plain table now
    assert isinstance(open_table(spark, cl.path, _spec()), KeyedTable)
    assert not isinstance(open_table(spark, cl.path, _spec()), ClonedTable)


def test_clone_of_clone_resolves_recursively(spark, tmp_path):
    src = _src(spark, tmp_path)
    b1 = clone_table(src, str(tmp_path / "b1"), retain_versions=3)
    b1.upsert(
        _rows(spark, ver="v5")
        .filter(F.col("id") == 2)
        .withColumn("amount", F.lit(-2.0))
    )
    b2 = clone_table(b1, str(tmp_path / "b2"), retain_versions=2)
    assert b2.read().count() == 40
    assert b2.read().filter(F.col("amount") == -2.0).count() == 1
    b2.upsert(
        _rows(spark, ver="v6")
        .filter(F.col("id") == 3)
        .withColumn("amount", F.lit(-3.0))
    )
    assert b1.read().filter(F.col("amount") == -3.0).count() == 0
    assert b2.read().filter((F.col("amount") == -2.0) | (F.col("amount") == -3.0)).count() == 2


def test_vector_delete_on_clone_routes_to_rewrite(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(
        src, str(tmp_path / "b"), deletion_vectors=True
    )
    n = cl.delete_where("id < 4")  # would be a vector on a plain table
    assert n == 4
    assert cl.read().count() == 36
    import os

    assert not os.path.exists(f"{cl.path}/.dv")  # rewrite-routed


def test_purge_on_clone_refuses(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    with pytest.raises(ValueError, match="SOURCE"):
        cl.purge_rows("id = 1")


@pytest.mark.slow
def test_vacated_partition_stays_deleted_on_the_branch(spark, tmp_path):
    """Deleting EVERY row of a partition on the branch removes its
    local leaf dir — resolution must still treat the rel as diverged
    (via the commit records / ledger), not resurrect the source copy."""
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"), retain_versions=4)
    assert cl.delete_where("id % 4 = 0") == 10  # all of day 01
    assert cl.read().count() == 30
    assert cl.read().filter(F.col("id") % 4 == 0).count() == 0
    assert cl.read_as_of(1).filter(F.col("id") % 4 == 0).count() == 0
    assert cl.read_as_of(0).count() == 40
    # survives flag expiry: the ledger carries the vacated rel
    cl.upsert(_rows(spark, ver="v6").filter(F.col("id") == 1))
    cl.upsert(_rows(spark, ver="v7").filter(F.col("id") == 1))
    cl.upsert(_rows(spark, ver="v8").filter(F.col("id") == 1))
    cl.vacuum_versions(keep_last=1)
    assert cl.read().filter(F.col("id") % 4 == 0).count() == 0
    assert cl.read().count() == 30
    # source remains whole
    assert src.read().count() == 40


def test_promote_publishes_diverged_partitions_to_source(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"), retain_versions=3)
    # audit branch: reprice day-01 amounts, then publish
    cl.upsert(
        _rows(spark, ver="v5")
        .filter(F.col("id") % 4 == 0)
        .withColumn("amount", F.lit(-5.0))
    )
    res = cl.promote()
    assert res["partitions_published"] == 1
    assert res["source_version"] == 1
    assert src.read().filter(F.col("amount") == -5.0).count() == 10
    assert src.read().count() == 40
    # source history: the promote is an ordinary commit
    assert src.read_as_of(0).filter(F.col("amount") == -5.0).count() == 0
    tc = src.table_changes(0, 1)
    assert tc.filter(F.col("_change_type") == "update").count() == 10


# Source commits to day 01 (id 4) after the pin, one per commit kind;
# the vector kinds stage no partition dir, only the masked day.
_OVERLAPPING_SOURCE_COMMITS = {
    "upsert": lambda spark, src: src.upsert(
        _rows(spark, ver="v6").filter(F.col("id") == 4)
    ),
    "vector_delete": lambda spark, src: src.delete_where(
        "id = 4", strategy="vector"
    ),
    "vector_update": lambda spark, src: src.update_where(
        "id = 4", {"amount": "-99.0"}, strategy="vector"
    ),
}


@pytest.mark.parametrize("kind", list(_OVERLAPPING_SOURCE_COMMITS))
def test_promote_conflict_on_overlapping_source_commit(spark, tmp_path, kind):
    src = _src(spark, tmp_path, deletion_vectors=kind != "upsert")
    cl = clone_table(src, str(tmp_path / "b"))
    cl.upsert(
        _rows(spark, ver="v5").filter(F.col("id") % 4 == 0)
    )  # branch touches day 01
    # source also commits to day 01 after the pin
    _OVERLAPPING_SOURCE_COMMITS[kind](spark, src)
    with pytest.raises(PromoteConflict, match="also modified"):
        cl.promote()
    # FORCE: the branch wins
    res = cl.promote(force=True)
    assert res["partitions_published"] == 1
    assert src.read().filter(F.col("update_at") == "v6").count() == 0
    assert src.read().filter(F.col("update_at") == "v5").count() == 10


def test_promote_composes_with_disjoint_source_commits(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    cl.upsert(
        _rows(spark, ver="v5").filter(F.col("id") % 4 == 0)
    )  # branch: day 01
    src.upsert(
        _rows(spark, ver="v6").filter(F.col("id") % 4 == 1)
    )  # source: day 02 — disjoint
    res = cl.promote()  # no conflict
    assert res["partitions_published"] == 1
    # both lines of work are in the source now
    assert src.read().filter(F.col("update_at") == "v5").count() == 10
    assert src.read().filter(F.col("update_at") == "v6").count() == 10


def test_promote_ships_vacated_partitions(spark, tmp_path):
    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"))
    n = cl.delete_where("id % 4 = 0")  # branch empties day 01
    assert n == 10
    res = cl.promote()
    assert res["partitions_published"] == 1
    assert src.read().count() == 30
    assert src.read().filter(F.col("id") % 4 == 0).count() == 0


def test_promote_unpartitioned_whole_set(spark, tmp_path):
    spec = _spec("cl_flatp", partition_source="create_at",
                 partition_granularity=None)
    src = KeyedTable(spark, str(tmp_path / "src"), spec, retain_versions=3)
    src.initial_load(_rows(spark))
    cl = clone_table(src, str(tmp_path / "b"))
    cl.upsert(
        _rows(spark, ver="v5").filter(F.col("id") == 0)
    )
    res = cl.promote()
    assert res["partitions_published"] == 1
    assert src.read().filter(F.col("update_at") == "v5").count() == 1
    # any source movement conflicts on the unpartitioned divergence unit
    cl2 = clone_table(src, str(tmp_path / "b2"))
    cl2.upsert(_rows(spark, ver="v7").filter(F.col("id") == 1))
    src.upsert(_rows(spark, ver="v8").filter(F.col("id") == 2))
    with pytest.raises(PromoteConflict, match="unpartitioned"):
        cl2.promote()


def test_facade_clone_and_detach_verbs(spark, tmp_path):
    from rds_to_datalake_project_spark.sql import (
        TIME_TRAVEL_TABLES,
        run_query,
    )

    src = _src(spark, tmp_path)
    known = {"t": src}
    try:
        out = run_query(
            spark,
            f"CREATE TABLE br SHALLOW CLONE t LOCATION "
            f"'{tmp_path / 'br'}'",
            tables=known,
        ).collect()[0]
        assert (out.table_name, out.pinned_version) == ("br", 0)
        # the new name is bound for subsequent statements
        n = run_query(
            spark, "SELECT count(*) AS n FROM br", tables=known
        ).collect()[0].n
        assert n == 40
        # day-01-only delete: days 02-04 stay source-resident
        run_query(
            spark, "DELETE FROM br WHERE id % 4 = 0 AND id < 20", tables=known
        )
        assert src.read().count() == 40  # branch delete, source intact
        out2 = run_query(spark, "DETACH TABLE br", tables=known).collect()[0]
        assert out2.partitions_copied == 3
        # the created branch is session-registered, not written into
        # the caller's dict
        assert TIME_TRAVEL_TABLES["br"].read().count() == 35
    finally:
        TIME_TRAVEL_TABLES.pop("br", None)


def test_unpartitioned_clone_diverges_as_a_whole(spark, tmp_path):
    spec = _spec("cl_flat", partition_source="create_at",
                 partition_granularity=None)
    src = KeyedTable(spark, str(tmp_path / "src"), spec, retain_versions=3)
    src.initial_load(_rows(spark))
    cl = clone_table(src, str(tmp_path / "b"), retain_versions=2)
    assert _data_files(cl.path) == []
    assert cl.read().count() == 40
    cl.upsert(_rows(spark, ver="v5").filter(F.col("id") == 0))
    assert _data_files(cl.path) != []  # whole set localized
    assert cl.read().count() == 40
    assert cl.read_as_of(0).count() == 40
    assert (
        cl.read_as_of(0).filter(F.col("update_at") == "v5").count() == 0
    )
    src.upsert(_rows(spark, ver="v9").filter(F.col("id") == 1))
    assert cl.read().filter(F.col("update_at") == "v9").count() == 0


@pytest.mark.slow
def test_matview_maintains_over_a_branch(spark, tmp_path):
    """Incremental view maintenance composes with branching: a
    MaterializedView whose base is a ClonedTable refreshes from the
    branch's change feed (read_as_of diffs resolve local overlay +
    pinned source), stays isolated from post-pin source commits, and
    converges through branch-local churn."""
    from rds_to_datalake_project_spark.operators.matview import (
        MaterializedView,
    )

    src = _src(spark, tmp_path)
    cl = clone_table(src, str(tmp_path / "b"), retain_versions=5)
    mv = MaterializedView(
        cl,
        str(tmp_path / "mv"),
        group_cols=["day"],
        aggs={"total": "sum(amount)", "n": "count(*)"},
    )
    mv.refresh()
    base0 = {r.day: (r.total, r.n) for r in mv.read().collect()}
    assert base0["2024-01-01"] == (sum(float(i) for i in range(0, 40, 4)), 10)
    # branch commit: reprice day 02; view refreshes incrementally
    cl.upsert(
        _rows(spark, ver="v5")
        .filter(F.col("id") % 4 == 1)
        .withColumn("amount", F.lit(1.0))
    )
    res = mv.refresh()
    got = {r.day: (r.total, r.n) for r in mv.read().collect()}
    assert got["2024-01-02"] == (10.0, 10)
    assert got["2024-01-01"] == base0["2024-01-01"]  # untouched group
    # source moving past the pin must NOT disturb the branch's view
    src.upsert(
        _rows(spark, ver="v9").withColumn("amount", F.lit(500.0))
    )
    mv.refresh()
    got2 = {r.day: (r.total, r.n) for r in mv.read().collect()}
    assert got2 == got
    # branch delete: group shrinks
    cl.delete_where("id = 1")
    mv.refresh()
    got3 = {r.day: (r.total, r.n) for r in mv.read().collect()}
    assert got3["2024-01-02"] == (9.0, 9)


def test_clone_table_changes_reads_only_the_touched_partition(spark, tmp_path):
    """A change window on a partitioned clone prunes both endpoint
    snapshots — the local overlay AND the pinned source remainder — to
    the partitions its commits touched, and yields the unpruned diff."""
    src = KeyedTable(spark, str(tmp_path / "src"), _spec(), retain_versions=5)
    src.initial_load(_rows(spark, n=30).filter(F.col("day") != "2024-01-04"))
    cl = clone_table(src, str(tmp_path / "b"), retain_versions=4)
    cl.upsert(
        _rows(spark, n=30, ver="v5")
        .filter(F.col("day") == "2024-01-01")
        .withColumn("amount", F.col("amount") + 0.5)
    )
    tc = cl.table_changes(0, 1)
    files = tc.inputFiles()
    assert files and all("/day_day=01/" in f for f in files), files
    want = cl.read_as_of(1).exceptAll(cl.read_as_of(0))
    rows = tc.collect()
    assert {r["_change_type"] for r in rows} == {"update"}
    assert sorted((r["id"], r["amount"]) for r in rows) == sorted(
        (r["id"], r["amount"]) for r in want.collect()
    )
