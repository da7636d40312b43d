"""Lake CDC feed (KeyedTable.table_changes) + SQL-facade time travel.

``table_changes(v_from, v_to)`` is the engine's Delta-CDF analog: the
net insert/update/delete set between two retained snapshots, derived
from the commit log the publish protocol already maintains — the
reference's CDC concept (glue_jobs/incremental.py) applied to the
lake itself. ``FOR VERSION AS OF`` is the same history surfaced
through the one SQL facade (sql.py run_query rewrite).
"""

from __future__ import annotations

import pytest

from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.sql import run_query

from tests.test_time_travel import (
    B1,
    B2,
    B3,
    BATCH_COLS,
    INIT_COLS,
    S0,
    S1,
    S2,
    S3,
    SPEC,
    V0,
    _apply_all,
    _mk,
    _vals,
)


def _changes(t: KeyedTable, v_from: int, v_to: int) -> dict:
    return {
        r.id: (r._change_type, r.val)
        for r in t.table_changes(v_from, v_to)
        .select("id", "_change_type", "val")
        .collect()
    }


@pytest.mark.slow
def test_table_changes_classifies_net_changes(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    # single-commit deltas
    assert _changes(t, 0, 1) == {"r1": ("update", "b1"), "r3": ("insert", "b3")}
    assert _changes(t, 1, 2) == {"r2": ("delete", "a2"), "r3": ("update", "c3")}
    assert _changes(t, 2, 3) == {"r4": ("insert", "d4")}
    # windowed delta is the NET change: r3 (inserted at 1, updated at
    # 2) is one insert with the final image; r2's life 0→2 is one
    # delete carrying its state-at-0 pre-image
    assert _changes(t, 0, 2) == {
        "r1": ("update", "b1"),
        "r2": ("delete", "a2"),
        "r3": ("insert", "c3"),
    }
    # empty window → empty feed
    assert _changes(t, 1, 1) == {}


def test_table_changes_validates_range(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    with pytest.raises(ValueError):
        t.table_changes(2, 1)
    t.vacuum_versions(keep_last=1)
    with pytest.raises(ValueError, match="not reconstructible"):
        t.table_changes(0, 3)  # v_from below the retention floor


@pytest.mark.slow
def test_changes_feed_is_streaming_readable(spark, tmp_path):
    """write_changes_feed materializes one batch per commit and a
    readStream consumer tails the feed exactly once per version."""
    import os

    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    feed = str(tmp_path / "feed")
    # a crash-torn partial batch (no _SUCCESS marker) must be
    # overwritten, not skipped forever
    os.makedirs(f"{feed}/v1")
    with open(f"{feed}/v1/part-junk.parquet", "w") as f:
        f.write("torn")
    assert t.write_changes_feed(feed) == [1, 2, 3]
    assert t.write_changes_feed(feed) == []  # idempotent

    batch = spark.read.option("recursiveFileLookup", "true").parquet(feed)
    got = {
        (r._commit_version, r.id): (r._change_type, r.val)
        for r in batch.select("_commit_version", "id", "_change_type", "val").collect()
    }
    assert got == {
        (1, "r1"): ("update", "b1"),
        (1, "r3"): ("insert", "b3"),
        (2, "r2"): ("delete", "a2"),
        (2, "r3"): ("update", "c3"),
        (3, "r4"): ("insert", "d4"),
    }

    stream = (
        spark.readStream.schema(batch.schema)
        .option("recursiveFileLookup", "true")
        .parquet(feed)
    )
    sink = str(tmp_path / "sink")
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 5


def test_auto_changes_feed_on_publish(spark, tmp_path):
    """changes_feed_dir publishes the commit's change batch as part
    of the upsert itself — CDC in, CDC out, no extra orchestration."""
    feed = str(tmp_path / "feed")
    t = KeyedTable(
        spark,
        str(tmp_path / "tt"),
        SPEC,
        retain_versions=5,
        changes_feed_dir=feed,
    )
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))
    for b in (B1, B2):
        t.upsert(spark.createDataFrame(b, BATCH_COLS), delete_mode="apply")
    batch = spark.read.option("recursiveFileLookup", "true").parquet(feed)
    got = {
        (r._commit_version, r.id): r._change_type
        for r in batch.select("_commit_version", "id", "_change_type").collect()
    }
    assert got == {
        (1, "r1"): "update",
        (1, "r3"): "insert",
        (2, "r2"): "delete",
        (2, "r3"): "update",
    }


@pytest.mark.slow
def test_feed_write_failure_does_not_undo_commit(spark, tmp_path, monkeypatch):
    """The feed append runs after the commit is durable: if it dies,
    the upsert surfaces the error but the table state stands, and the
    next publish back-fills the missing feed batch."""
    feed = str(tmp_path / "feed")
    t = KeyedTable(
        spark, str(tmp_path / "tt"), SPEC, retain_versions=5,
        changes_feed_dir=feed,
    )
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))

    calls = {"n": 0}
    real = KeyedTable.write_changes_feed

    def flaky(self, feed_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("feed sink down")
        return real(self, feed_dir)

    monkeypatch.setattr(KeyedTable, "write_changes_feed", flaky)
    with pytest.raises(RuntimeError, match="feed sink down"):
        t.upsert(spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply")
    # the commit itself is durable despite the feed failure
    assert t.versions() == [1]
    assert _vals(t.read()) == S1

    t.upsert(spark.createDataFrame(B2, BATCH_COLS), delete_mode="apply")
    batch = spark.read.option("recursiveFileLookup", "true").parquet(feed)
    versions = {r._commit_version for r in batch.select("_commit_version").collect()}
    assert versions == {1, 2}  # v1 back-filled alongside v2


def test_emptied_retained_table_keeps_history(spark, tmp_path):
    """Deleting every row of a retained table must not reset its
    commit log: the table still exists(), reads as a real empty
    frame, serves old snapshots, and the next upsert is a NEW commit
    (not an initial-load history wipe)."""
    t = _mk(spark, tmp_path)
    deletes = [
        ("r1", "2024-01-05T00:00:00", "2024-09-01T00:00:00", "x1", "D"),
        ("r2", "2024-02-05T00:00:00", "2024-09-01T00:00:00", "x2", "D"),
    ]
    t.upsert(spark.createDataFrame(deletes, BATCH_COLS), delete_mode="apply")
    assert t.exists()
    assert t.read().count() == 0
    assert _vals(t.read_as_of(0)) == S0
    t.upsert(spark.createDataFrame(B3, BATCH_COLS), delete_mode="apply")
    assert t.versions() == [1, 2]
    assert _vals(t.read()) == {"r4": "d4"}
    assert _vals(t.read_as_of(0)) == S0
    assert t.read_as_of(1).count() == 0


@pytest.mark.slow
def test_describe_history(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    hist = t.describe_history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert all(h["readable"] for h in hist)
    # commit times: the FOR TIMESTAMP AS OF instants, non-decreasing
    times = [h["commit_time_ms"] for h in hist]
    assert times == sorted(times) and all(ts > 0 for ts in times)
    assert t.version_at_timestamp(times[1] / 1000.0) == 2
    # commit 1 replaced month 01 and created month 03
    assert hist[0]["created_partitions"] == ["create_year=2024/create_month=03"]
    assert hist[0]["retired_partitions"] == ["create_year=2024/create_month=01"]
    # commit 2 replaced 03 and deleted all of 02 (both retired)
    assert hist[1]["retired_partitions"] == [
        "create_year=2024/create_month=02",
        "create_year=2024/create_month=03",
    ]
    # commit 3 recreated 02
    assert hist[2]["created_partitions"] == ["create_year=2024/create_month=02"]
    t.vacuum_versions(keep_last=1)
    hist = t.describe_history()
    assert [(h["version"], h["readable"]) for h in hist] == [(3, True)]


@pytest.mark.slow
def test_sql_facade_for_version_as_of(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    for v, expect in ((0, S0), (1, S1), (2, S2), (3, S3)):
        got = {
            r.id: r.val
            for r in run_query(
                spark,
                f"SELECT id, val FROM tt FOR VERSION AS OF {v}",
                tables={"tt": t},
            ).collect()
        }
        assert got == expect, v


@pytest.mark.slow
def test_sql_facade_joins_two_versions(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    rows = run_query(
        spark,
        """
        SELECT a.id, a.val AS v0_val, b.val AS v3_val
        FROM tt FOR VERSION AS OF 0 a
        JOIN tt FOR VERSION AS OF 3 b USING (id)
        ORDER BY a.id
        """,
        tables={"tt": t},
    ).collect()
    assert {(r.id, r.v0_val, r.v3_val) for r in rows} == {("r1", "a1", "b1")}


@pytest.mark.slow
def test_sql_facade_uses_session_registry(spark, tmp_path):
    """register() on a retained table enrolls it for FOR VERSION AS OF
    without threading the object through every run_query call."""
    from rds_to_datalake_project_spark.sql import TIME_TRAVEL_TABLES

    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    t.register("tt_reg")
    try:
        got = {
            r.id: r.val
            for r in run_query(
                spark, "SELECT id, val FROM tt_reg FOR VERSION AS OF 1"
            ).collect()
        }
        assert got == S1
    finally:
        TIME_TRAVEL_TABLES.pop("tt_reg", None)


@pytest.mark.slow
def test_unload_and_preview_reach_snapshots(spark, tmp_path):
    """The facade's sinks behave like its queries: UNLOAD and preview
    resolve FOR VERSION AS OF through the same rewrite."""
    from rds_to_datalake_project_spark.sql import (
        TIME_TRAVEL_TABLES,
        preview_table,
        unload_query,
    )

    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    t.register("tt_sink")
    try:
        out = str(tmp_path / "unloaded")
        unload_query(
            spark, "SELECT id, val FROM tt_sink FOR VERSION AS OF 1", out
        )
        back = {r.id: r.val for r in spark.read.parquet(out).collect()}
        assert back == S1
        head, n = preview_table(spark, "tt_sink FOR VERSION AS OF 2", n=10)
        assert n == len(S2)
        assert {r.id for r in head.collect()} <= set(S2)
    finally:
        TIME_TRAVEL_TABLES.pop("tt_sink", None)


@pytest.mark.slow
def test_sql_facade_as_of_guards(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    with pytest.raises(ValueError, match="unknown table"):
        run_query(
            spark, "SELECT * FROM nope FOR VERSION AS OF 1", tables={"tt": t}
        )
    with pytest.raises(ValueError, match="not reconstructible"):
        run_query(
            spark, "SELECT * FROM tt FOR VERSION AS OF 99", tables={"tt": t}
        )


@pytest.mark.slow
def test_vacuum_changes_feed_keeps_newest(spark, tmp_path):
    """Feed retention: old batch dirs expire; a fresh consumer sees
    only the retained commits."""
    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    feed = str(tmp_path / "feed")
    assert t.write_changes_feed(feed) == [1, 2, 3]

    assert t.vacuum_changes_feed(feed, keep_last=1) == [1, 2]
    import os

    def dirs():
        return sorted(n for n in os.listdir(feed) if n.startswith("v"))

    assert dirs() == ["v3"]
    batch = spark.read.option("recursiveFileLookup", "true").parquet(feed)
    assert {r._commit_version for r in batch.collect()} == {3}
    # idempotent; and the persisted floor stops the next publish from
    # re-materializing what retention deleted
    assert t.vacuum_changes_feed(feed, keep_last=1) == []
    assert t.write_changes_feed(feed) == []
    assert dirs() == ["v3"]


@pytest.mark.slow
def test_vacuum_changes_feed_floor_written_before_deletes(
    spark, tmp_path, monkeypatch
):
    """Crash posture (r5 advice): the feed floor persists BEFORE any
    batch dir is deleted, so a crash mid-vacuum can only leave
    undeleted-but-expired dirs — never deleted batches that the next
    write_changes_feed re-materializes (and re-delivers to streaming
    consumers as duplicates)."""
    import os

    t = _mk(spark, tmp_path)
    _apply_all(spark, t)
    feed = str(tmp_path / "feed")
    assert t.write_changes_feed(feed) == [1, 2, 3]

    orig = KeyedTable._write_feed_floor

    def crash_after_floor(self, feed_dir, floor):
        orig(self, feed_dir, floor)
        raise RuntimeError("injected: crash after floor, before deletes")

    def dirs():
        return sorted(n for n in os.listdir(feed) if n.startswith("v"))

    with monkeypatch.context() as m:
        m.setattr(KeyedTable, "_write_feed_floor", crash_after_floor)
        with pytest.raises(RuntimeError, match="injected"):
            t.vacuum_changes_feed(feed, keep_last=1)

    # nothing deleted yet, but the floor is already durable: the next
    # publish path must not treat the expired batches as re-writable
    assert dirs() == ["v1", "v2", "v3"]
    assert t._read_feed_floor(feed) == 2
    assert t.write_changes_feed(feed) == []
    # the next vacuum finishes the interrupted deletes
    assert t.vacuum_changes_feed(feed, keep_last=1) == [1, 2]
    assert dirs() == ["v3"]


@pytest.mark.slow
def test_changes_between_timestamps(spark, tmp_path):
    """The wall-clock spelling resolves each endpoint like FOR
    TIMESTAMP AS OF and yields the same net-change feed."""
    import datetime as dt
    import time

    def mark():
        time.sleep(1.1)
        out = dt.datetime.now(dt.timezone.utc).isoformat()
        time.sleep(1.1)
        return out

    t = _mk(spark, tmp_path)
    m0 = mark()
    t.upsert(spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply")
    m1 = mark()
    t.upsert(spark.createDataFrame(B2, BATCH_COLS), delete_mode="apply")
    m2 = mark()

    got = {
        r.id: (r._change_type, r.val)
        for r in t.changes_between_timestamps(m0, m1).collect()
    }
    assert got == {"r1": ("update", "b1"), "r3": ("insert", "b3")}
    got = {
        r.id: (r._change_type, r.val)
        for r in t.changes_between_timestamps(m0, m2).collect()
    }
    assert got == {
        "r1": ("update", "b1"),
        "r2": ("delete", "a2"),
        "r3": ("insert", "c3"),
    }
    assert t.changes_between_timestamps(m1, m1).count() == 0


# One commit of each kind; the commit under test is the table's newest.
# All but the restore (which restages the whole snapshot) leave month
# 02 untouched.
_R1_ONLY = [("r1", "2024-01-05T00:00:00", "2024-05-01T00:00:00", "b1", "U")]
_COMMIT_KINDS = {
    "upsert": lambda spark, t: t.upsert(
        spark.createDataFrame(B1, BATCH_COLS), delete_mode="apply"
    ),
    "rewrite_delete": lambda spark, t: t.delete_where(
        "id = 'r1'", strategy="rewrite"
    ),
    "vector_delete": lambda spark, t: t.delete_where(
        "id = 'r1'", strategy="vector"
    ),
    "mor_vector_update": lambda spark, t: t.update_where(
        "id = 'r1'", {"val": "'z1'"}, strategy="vector"
    ),
    "vacuum_partitions": lambda spark, t: t.vacuum_partitions(
        lambda vals: vals[1] >= "02"
    ),
    "restore_after_upsert": lambda spark, t: (
        t.upsert(spark.createDataFrame(_R1_ONLY, BATCH_COLS)),
        t.restore_to_version(0),
    ),
    "materialize_after_vector_delete": lambda spark, t: (
        t.delete_where("id = 'r1'", strategy="vector"),
        t.materialize_deletes(),
    ),
}


@pytest.mark.slow
@pytest.mark.parametrize("kind", list(_COMMIT_KINDS))
def test_table_changes_scan_confined_to_touched_partitions(
    spark, tmp_path, kind
):
    """r13 optimization: the snapshot diff excludes the FILES of
    partitions no commit in the window touched (they are byte-identical
    at both endpoints), and the pruned feed equals the full diff — for
    every kind of commit the touched rule has to account for."""
    t = KeyedTable(
        spark,
        str(tmp_path / "tt"),
        SPEC,
        retain_versions=5,
        deletion_vectors=True,
    )
    t.initial_load(spark.createDataFrame(V0, INIT_COLS))  # months 01, 02
    _COMMIT_KINDS[kind](spark, t)
    v = t.versions()[-1]
    touched = t._touched_rels_between(v - 1, v)
    assert touched is not None and touched  # partitioned + retained
    feed = t.table_changes(v - 1, v)
    files = feed.inputFiles()
    untouched = [
        rel
        for rel in t._as_of_rels(v)
        if rel not in touched
    ]
    for rel in untouched:
        assert not any(f"/{rel}/" in f for f in files), rel
    # exactness: pruned feed == brute-force unpruned diff
    import rds_to_datalake_project_spark.operators.upsert as up

    orig = up.KeyedTable._touched_rels_between
    up.KeyedTable._touched_rels_between = lambda self, a, b: None
    try:
        full = t.table_changes(v - 1, v)
        assert feed.exceptAll(full).count() == 0
        assert full.exceptAll(feed).count() == 0
    finally:
        up.KeyedTable._touched_rels_between = orig
