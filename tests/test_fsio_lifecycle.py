"""A small table lifecycle on a plain local root and on a ``file://``
root. The ``file://`` table takes the Hadoop route of every metadata
operation (``fsio.HadoopFS``), the plain one the native route; every
test runs on both roots and asserts the same results on each."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio
from rds_to_datalake_project_spark.catalog import drop_lake_table
from rds_to_datalake_project_spark.operators.bloomfilter import (
    attach_bloom_maintenance,
    build_bloom_index,
)
from rds_to_datalake_project_spark.operators.replicate import (
    apply_changes_feed,
    bootstrap_replica,
)
from rds_to_datalake_project_spark.operators.sidecar import service_status
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

SPEC = TableSpec(
    "fsio_e2e",
    record_key=("id",),
    precombine_key="update_at",
    partition_source="create_at",
    partition_granularity="month",
)
REPLICA_SPEC = TableSpec(
    "fsio_e2e_rep",
    record_key=("id",),
    precombine_key="_rep_seq",
    partition_source="create_at",
    partition_granularity="month",
)
INIT_COLS = ["id", "create_at", "update_at", "val"]
BATCH_COLS = INIT_COLS + ["Op"]

V0 = [  # months 01, 02, 03
    ("r1", "2024-01-05T00:00:00", "2024-01-05T00:00:00", "a1"),
    ("r2", "2024-02-05T00:00:00", "2024-02-05T00:00:00", "a2"),
    ("r3", "2024-03-05T00:00:00", "2024-03-05T00:00:00", "a3"),
]
B1 = [  # replace 01 and 03
    ("r1", "2024-01-05T00:00:00", "2024-05-01T00:00:00", "b1", "U"),
    ("r4", "2024-03-09T00:00:00", "2024-05-01T00:00:00", "b4", "I"),
]
S0 = {"r1": "a1", "r2": "a2", "r3": "a3"}
S1 = {"r1": "b1", "r2": "a2", "r3": "a3", "r4": "b4"}
S2 = {"r1": "b1", "r3": "a3", "r4": "b4"}  # after deleting r2
P = "create_year=2024/create_month="  # + month: a partition dir


def _vals(df) -> dict:
    return {r.id: r.val for r in df.select("id", "val").collect()}


def _load(spark, root: str, **kw) -> KeyedTable:
    t = KeyedTable(spark, f"{root}/t", SPEC, **kw)
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))
    return t


def _upsert(spark, t: KeyedTable) -> None:
    t.upsert(spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply")


@pytest.fixture(params=["local", "file_uri"])
def root(request, tmp_path):
    """A plain local root (native route) or the same kind of root as a
    ``file://`` URI (Hadoop route)."""
    return str(tmp_path) if request.param == "local" else f"file://{tmp_path}"


def _route(t: KeyedTable) -> str:
    return "native" if isinstance(t._fs, fsio.NativeFS) else "hadoop"


def test_zone_mapped_commit_and_point_reads(spark, root):
    t = _load(spark, root, retain_versions=2, zonemap_columns=["id"])
    _upsert(spark, t)
    assert _route(t) == ("native" if fsio.is_local(root) else "hadoop")
    assert t.last_maintenance_errors == []
    assert _vals(t.read()) == S1
    assert _vals(t.lookup("r4")) == {"r4": "b4"}
    assert _vals(t.lookup_many(["r2", "r4", "zz"])) == {"r2": "a2", "r4": "b4"}


def test_bloom_indexed_commit_and_point_reads(spark, root):
    t = _load(spark, root)
    build_bloom_index(spark, t.path, ["id"])
    attach_bloom_maintenance(t, ["id"])
    _upsert(spark, t)
    assert t.last_maintenance_errors == []
    assert _vals(t.lookup_many(["r3", "r4", "zz"])) == {"r3": "a3", "r4": "b4"}
    assert service_status(t) == []  # the bloom index keeps no _VERSION


def test_delete_history_and_time_travel(spark, root):
    t = _load(spark, root, retain_versions=4)
    _upsert(spark, t)
    assert t.delete_where(F.col("id") == "r2") == 1
    assert _vals(t.read()) == S2
    assert [_vals(t.read_as_of(v)) for v in (0, 1)] == [S0, S1]
    assert sorted(
        (r.id, r._change_type)
        for r in t.table_changes(0, 2).select("id", "_change_type").collect()
    ) == [("r1", "update"), ("r2", "delete"), ("r4", "insert")]
    assert [
        (h["version"], h["readable"], h["created_partitions"],
         h["retired_partitions"])
        for h in t.describe_history()
    ] == [
        (1, True, [], [f"{P}01", f"{P}03"]),
        (2, True, [], [f"{P}02"]),
    ]


def test_recover_and_vacuum(spark, root):
    t = _load(spark, root, retain_versions=4)
    _upsert(spark, t)
    # a flag-less staging dir is a dead half-written job: recover drops it
    t._fs.mkdirs(f"{t.path}/.staging-orphan/{P}01")
    assert t.recover()
    assert not t._fs.exists(f"{t.path}/.staging-orphan")
    _upsert(spark, t)  # a no-op batch still commits
    assert t.vacuum_versions(keep_last=1) == 1
    assert t.readable_versions() == [1, 2]
    assert _vals(t.read_as_of(1)) == S1


def test_changes_feed_replica_and_drop(spark, root):
    feed = f"{root}/feed"
    t = _load(spark, root, retain_versions=2, changes_feed_dir=feed)
    replica = KeyedTable(spark, f"{root}/rep", REPLICA_SPEC, retain_versions=2)
    bootstrap_replica(t, replica, as_of=0)
    _upsert(spark, t)
    assert apply_changes_feed(replica, feed)["applied"] == [1]
    assert _vals(replica.read()) == S1
    assert drop_lake_table(spark, "fsio_e2e_drop", path=t.path)
    assert not t._fs.exists(t.path)
