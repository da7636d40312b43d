"""Round-8 governance surface: declarative expectations (validate /
report / ingest gate), the persisted stats sidecar + stats-informed
join planning, and the generalized incremental materialized view
(affected-group recompute over table_changes' split pre/post images).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators import expectations as X
from rds_to_datalake_project_spark.operators import stats as ST
from rds_to_datalake_project_spark.operators.matview import (
    MaterializedView,
    attach_matview_maintenance,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

SPEC = TableSpec(
    "gov",
    record_key=("id",),
    precombine_key="update_at",
    partition_source="create_at",
    partition_granularity="month",
)

COLS = "id string, create_at string, update_at string, grp string, amt int"
BCOLS = COLS + ", Op string"

V0 = [
    ("r1", "2024-01-05T00:00:00", "2024-01-05T00:00:00", "g1", 10),
    ("r2", "2024-01-06T00:00:00", "2024-01-06T00:00:00", "g1", 20),
    ("r3", "2024-02-05T00:00:00", "2024-02-05T00:00:00", "g2", 30),
    ("r4", "2024-02-06T00:00:00", "2024-02-06T00:00:00", "g2", 40),
]
B1 = [  # r2 MOVES g1 -> g2; r5 creates g3
    ("r2", "2024-01-06T00:00:00", "2024-05-01T00:00:00", "g2", 25, "U"),
    ("r5", "2024-03-01T00:00:00", "2024-05-01T00:00:00", "g3", 5, "I"),
]
B2 = [  # r3/r4 deleted (g2 shrinks to r2); r5 deleted (g3 vanishes)
    ("r3", "2024-02-05T00:00:00", "2024-06-01T00:00:00", "g2", 30, "D"),
    ("r4", "2024-02-06T00:00:00", "2024-06-01T00:00:00", "g2", 40, "D"),
    ("r5", "2024-03-01T00:00:00", "2024-06-01T00:00:00", "g3", 5, "D"),
]


def _mk(spark, tmp_path, retain=10):
    t = KeyedTable(spark, str(tmp_path / "gov"), SPEC, retain_versions=retain)
    t.initial_load(spark.createDataFrame(V0, COLS))
    return t


def _mv_state(mv):
    return {
        r.grp: (r.sum_amt, r.n, r.max_amt)
        for r in mv.read().collect()
    }


def _direct(t):
    return {
        r.grp: (r.sum_amt, r.n, r.max_amt)
        for r in t.read()
        .groupBy("grp")
        .agg(
            F.sum("amt").alias("sum_amt"),
            F.count(F.lit(1)).alias("n"),
            F.max("amt").alias("max_amt"),
        )
        .collect()
    }


AGGS = {"sum_amt": "sum(amt)", "n": "count(*)", "max_amt": "max(amt)"}


# -- expectations -------------------------------------------------------------


def test_annotate_and_report(spark):
    df = spark.createDataFrame(
        [
            ("a", 5, "O"),
            ("a", 50, "O"),  # dup id, out-of-range
            (None, 7, "F"),  # null id (unique-exempt, not_null fires)
            ("b", 9, "X"),   # bad status
        ],
        "id string, v int, status string",
    )
    rules = [
        X.not_null("id"),
        X.in_range("v", 0, 10),
        X.accepted_values("status", ["O", "F"]),
        X.unique(["id"]),
    ]
    ann = {
        (r.id, r.v): list(r._violations)
        for r in X.annotate_violations(df, rules).collect()
    }
    assert ann[("a", 5)] == ["unique_id"]
    assert ann[("a", 50)] == ["in_range_v", "unique_id"]
    assert ann[(None, 7)] == ["not_null_id"]
    assert ann[("b", 9)] == ["accepted_values_status"]

    rep = {
        r.rule: (r.violations, r.n_rows)
        for r in X.expectations_report(df, rules).collect()
    }
    assert rep == {
        "not_null_id": (1, 4),
        "in_range_v": (1, 4),
        "accepted_values_status": (1, 4),
        "unique_id": (2, 4),
    }


def test_gated_ingest_quarantines_and_merges(spark, tmp_path):
    t = _mk(spark, tmp_path)
    q = str(tmp_path / "quarantine")
    batch = spark.createDataFrame(
        [
            ("r1", "2024-01-05T00:00:00", "2024-09-01T00:00:00", "g1", 11, "U"),
            ("r9", "2024-03-02T00:00:00", "2024-09-01T00:00:00", "g9", -1, "I"),
            ("r8", "2024-03-02T00:00:00", "2024-09-01T00:00:00", None, 3, "I"),
        ],
        BCOLS,
    )
    rules = [X.not_null("grp"), X.in_range("amt", 0, 1000)]
    n_clean, n_dirty = X.gated_ingest(t, batch, rules, q, batch_label="b1")
    assert (n_clean, n_dirty) == (1, 2)
    live = {r.id: r.amt for r in t.read().collect()}
    assert live["r1"] == 11 and "r9" not in live and "r8" not in live
    quar = {
        r.id: r._violations
        for r in spark.read.parquet(q).collect()
    }
    assert quar == {"r9": "in_range_amt", "r8": "not_null_grp"}
    # replay converges (merge idempotent, slice overwritten)
    n_clean2, n_dirty2 = X.gated_ingest(t, batch, rules, q, batch_label="b1")
    assert (n_clean2, n_dirty2) == (1, 2)
    assert spark.read.parquet(q).count() == 2


# -- table_changes split images ----------------------------------------------


def test_table_changes_preimage_split(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.upsert(spark.createDataFrame(B1, BCOLS), delete_mode="apply")
    rows = {
        (r.id, r._change_type): (r.grp, r.amt)
        for r in t.table_changes(0, 1, include_preimage=True).collect()
    }
    assert rows == {
        ("r2", "update_preimage"): ("g1", 20),
        ("r2", "update_postimage"): ("g2", 25),
        ("r5", "insert"): ("g3", 5),
    }
    # default form unchanged: one row per key, compacted type names
    compact = {
        r.id: r._change_type for r in t.table_changes(0, 1).collect()
    }
    assert compact == {"r2": "update", "r5": "insert"}


# -- materialized view --------------------------------------------------------


@pytest.mark.slow
def test_matview_full_and_incremental(spark, tmp_path):
    t = _mk(spark, tmp_path)
    mv = MaterializedView(t, str(tmp_path / "mv"), ["grp"], AGGS)
    r = mv.refresh()
    assert r["mode"] == "full"
    assert _mv_state(mv) == _direct(t) == {"g1": (30, 2, 20), "g2": (70, 2, 40)}

    t.upsert(spark.createDataFrame(B1, BCOLS), delete_mode="apply")
    r = mv.refresh()
    # r2 moved g1->g2: BOTH groups refreshed, plus created g3
    assert r["mode"] == "incremental" and r["groups_refreshed"] == 3
    assert _mv_state(mv) == _direct(t) == {
        "g1": (10, 1, 10),
        "g2": (95, 3, 40),
        "g3": (5, 1, 5),
    }

    t.upsert(spark.createDataFrame(B2, BCOLS), delete_mode="apply")
    r = mv.refresh()
    assert r["mode"] == "incremental"
    # g3 lost its only row -> tombstoned out of the view entirely
    assert _mv_state(mv) == _direct(t) == {"g1": (10, 1, 10), "g2": (25, 1, 25)}

    # caught-up refresh is a no-op; replay stays convergent
    assert mv.refresh()["mode"] == "noop"
    assert _mv_state(mv) == _direct(t)


def test_matview_marker_loss_forces_full_rebuild(spark, tmp_path):
    import shutil

    t = _mk(spark, tmp_path)
    mv = MaterializedView(t, str(tmp_path / "mv"), ["grp"], AGGS)
    mv.refresh()
    t.upsert(spark.createDataFrame(B1, BCOLS), delete_mode="apply")
    shutil.rmtree(str(tmp_path / "mv" / ".mv"), ignore_errors=True)
    r = mv.refresh()
    assert r["mode"] == "full"
    assert _mv_state(mv) == _direct(t)


def test_matview_maintenance_hook(spark, tmp_path):
    t = _mk(spark, tmp_path)
    mv = MaterializedView(t, str(tmp_path / "mv"), ["grp"], AGGS)
    attach_matview_maintenance(t, mv)
    t.upsert(spark.createDataFrame(B1, BCOLS), delete_mode="apply")
    # hook refreshed the view as part of the commit's advisory slot
    assert mv.refreshed_version() == 1
    assert _mv_state(mv) == _direct(t)


def test_matview_requires_versioned_base(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "unv"), SPEC)  # retain_versions=0
    with pytest.raises(ValueError, match="retain_versions"):
        MaterializedView(t, str(tmp_path / "mv"), ["grp"], AGGS)


# -- stats sidecar + planning -------------------------------------------------


@pytest.mark.slow
def test_stats_build_read_and_maintenance(spark, tmp_path):
    t = _mk(spark, tmp_path)
    assert ST.read_table_stats(t) is None
    n = ST.build_table_stats(t, exact_distinct=True)
    assert n == len(t.read().columns)
    prof = {r.column: r for r in ST.read_table_stats(t).collect()}
    assert prof["id"].n_rows == 4 and prof["id"].n_distinct == 4
    assert prof["grp"].n_distinct == 2
    assert ST.stats_version(t) == 0

    # refresh_every=2: v1 skipped (stale-but-served), v2 rebuilt
    ST.attach_stats_maintenance(t, exact_distinct=True, refresh_every=2)
    t.upsert(spark.createDataFrame(B1, BCOLS), delete_mode="apply")
    assert ST.stats_version(t) == 0
    t.upsert(spark.createDataFrame(B2, BCOLS), delete_mode="apply")
    assert ST.stats_version(t) == 2
    prof = {r.column: r for r in ST.read_table_stats(t).collect()}
    assert prof["id"].n_rows == 2  # B2 deleted r3/r4/r5; r1,r2 remain


def test_stats_maintenance_follows_an_unversioned_table(spark, tmp_path):
    """With no commit log there is no lag to amortize: every commit
    rebuilds the profile, so the row count follows the table."""
    t = _mk(spark, tmp_path, retain=0)
    ST.build_table_stats(t, exact_distinct=True)
    ST.attach_stats_maintenance(t, exact_distinct=True, refresh_every=2)
    t.upsert(spark.createDataFrame(B1, BCOLS), delete_mode="apply")
    prof = {r.column: r for r in ST.read_table_stats(t).collect()}
    assert prof["id"].n_rows == t.read().count() == 5


def _stats_frame(spark, rows):
    return spark.createDataFrame(
        [(c, n, 0, ndv, None, None) for c, n, ndv in rows],
        "column string, n_rows bigint, n_nulls bigint, n_distinct bigint, "
        "min_str string, max_str string",
    )


@pytest.mark.slow
def test_advise_join_strategies(spark):
    small = _stats_frame(spark, [("k", 1000, 900)])
    big = _stats_frame(spark, [("k", 50_000_000, 40_000_000)])
    skewed = _stats_frame(spark, [("k", 10_000_000_000, 3)])

    a = ST.advise_join(small, big, "k", "k")
    assert a["strategy"] == "broadcast" and a["broadcast_side"] == "left"
    a = ST.advise_join(big, small, "k", "k")
    assert a["strategy"] == "broadcast" and a["broadcast_side"] == "right"
    a = ST.advise_join(skewed, big, "k", "k", broadcast_max_rows=100)
    assert a["strategy"] == "salted"
    a = ST.advise_join(big, big, "k", "k", broadcast_max_rows=100)
    assert a["strategy"] == "shuffle"


def test_stats_informed_join_applies_broadcast(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ST.build_table_stats(t, exact_distinct=True)
    st = ST.read_table_stats(t)
    left = t.read().select(F.col("grp").alias("lg"), "amt")
    right = t.read().select(F.col("grp").alias("rg")).distinct()
    lstats = st.withColumn("column", F.when(F.col("column") == "grp", "lg").otherwise(F.col("column")))
    rstats = st.withColumn("column", F.when(F.col("column") == "grp", "rg").otherwise(F.col("column")))
    joined, advice = ST.stats_informed_join(
        left, right, "lg", "rg", lstats, rstats
    )
    assert advice["strategy"] == "broadcast"
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert joined.count() == 4


def test_referential_violations_semantics(spark):
    from rds_to_datalake_project_spark.operators.expectations import (
        referential_violations,
    )

    parent = spark.createDataFrame([(1, "x"), (2, "y")], ["pk", "sub"])
    child = spark.createDataFrame(
        [
            (10, 1, "x"),   # ok
            (11, 2, "z"),   # composite mismatch -> violation
            (12, 3, "x"),   # missing parent -> violation
            (13, None, "x"),  # NULL FK: skipped per SQL semantics
        ],
        ["id", "fk", "fsub"],
    )
    # single-column key
    v1 = {r["id"] for r in referential_violations(child, parent, {"fk": "pk"}).collect()}
    assert v1 == {12}
    # composite key
    v2 = {
        r["id"]
        for r in referential_violations(
            child, parent, {"fk": "pk", "fsub": "sub"}
        ).collect()
    }
    assert v2 == {11, 12}
