"""The signed-delta store merge has two paths: a small store merges on
the driver, any other store in Spark. Fed the same change windows, the
two must publish the same store, row for row, and both must equal a
recompute; what the merge refuses (a malformed feed, a long overflow)
it must refuse the same way on both.

``spark.sql.autoBroadcastJoinThreshold=-1`` turns the driver merge off,
so one of two identical views refreshes under it."""

from __future__ import annotations

import contextlib
import math

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import DeltaMaterializedView
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

COLS = "id long, g string, h double, vi int, vl long, vd double, seq long"
AGGS = {
    "n": "count(*)",
    "ci": "count(vi)",
    "cd": "count(vd)",
    "si": "sum(vi)",
    "sl": "sum(vl)",
    "sd": "sum(vd)",
    "ai": "avg(vi)",
    "al": "avg(vl)",
    "ad": "avg(vd)",
}
NAN = float("nan")
THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _spark_merge_only(spark):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _row(i: int, seq: int, g=None, h=None, vi=None, vl=None, vd=None):
    return (i, g, h, vi, vl, vd, seq)


def _base(spark, tmp_path):
    t = KeyedTable(
        spark,
        str(tmp_path / "base"),
        TableSpec("dm", record_key=("id",), precombine_key="seq",
                  partition_granularity=None),
        retain_versions=8,
    )
    rows = []
    for i in range(40):
        g = None if i % 9 == 0 else f"g{i % 3}"
        h = NAN if i % 7 == 0 else (None if i % 11 == 0 else float(i % 2))
        rows.append(
            _row(i, 0, g, h,
                 vi=None if i % 4 == 0 else i,
                 vl=None if i % 6 == 0 else i * 1_000_000_007,
                 vd=None if i % 5 == 0 else i * 0.25)
        )
    # the group that vanishes and returns
    rows += [_row(100 + k, 0, "gone", 0.5, vi=k, vl=k, vd=k * 0.5) for k in range(3)]
    t.initial_load(spark.createDataFrame(rows, COLS))
    return t


def _views(t, tmp_path):
    """Two identical views: the first must never reach the Spark merge,
    the second counts its Spark merges."""
    driver, spark_view = (
        DeltaMaterializedView(t, str(tmp_path / name), ["g", "h"], AGGS)
        for name in ("driver", "spark")
    )

    def refuse(*_a):
        raise AssertionError("the small store took the Spark merge")

    driver._merge_and_publish = refuse
    spark_merge = spark_view._merge_and_publish
    spark_view.spark_merges = 0

    def counted(*a):
        spark_view.spark_merges += 1
        return spark_merge(*a)

    spark_view._merge_and_publish = counted
    return driver, spark_view


def _refresh(spark, driver, spark_view):
    """Refresh both views, the second with the driver merge turned off."""
    out = driver.refresh()
    merges = spark_view.spark_merges
    with _spark_merge_only(spark):
        out2 = spark_view.refresh()
    assert out["mode"] == out2["mode"] == "delta", (out, out2)
    assert spark_view.spark_merges == merges + (out["groups_refreshed"] > 0)


def _key(r) -> str:
    return repr(tuple(r))


def _stored(view):
    return sorted(_key(r) for r in view.store.read().collect())


def _recomputed(t):
    return t.read().groupBy("g", "h").agg(
        *[F.expr(e).alias(c) for c, e in AGGS.items()]
    )


def _by_group(df) -> dict:
    """{group: aggregates}, the NaN group keyed so that it matches."""
    return {
        (r["g"], "nan" if r["h"] is not None and math.isnan(r["h"]) else r["h"]):
            tuple(r[c] for c in AGGS)
        for r in df.collect()
    }


def _assert_same(t, a, b):
    assert _stored(a) == _stored(b)
    assert _by_group(a.read()) == _by_group(_recomputed(t))


def _batch(spark, rows):
    return spark.createDataFrame(rows, COLS + ", Op string")


def test_driver_merge_equals_spark_merge_and_recompute(spark, tmp_path):
    t = _base(spark, tmp_path)
    a, b = _views(t, tmp_path)
    a.refresh()
    b.refresh()
    _assert_same(t, a, b)
    windows = [
        # value updates, NULLs in and out, a move between groups, a
        # move into the NULL and the NaN group, inserts and a delete
        [(*_row(1, 1, "g1", 1.0, vi=None, vl=5, vd=None), "U"),
         (*_row(2, 1, "g0", 0.0, vi=7, vl=None, vd=-0.25), "U"),
         (*_row(3, 1, None, NAN, vi=3, vl=3, vd=3.0), "U"),
         (*_row(4, 1, "g2", None, vi=None, vl=None, vd=None), "U"),
         (*_row(200, 1, "new", -0.0, vi=1, vl=2, vd=0.5), "I"),
         (*_row(5, 1), "D")],
        # the group "gone" vanishes: every row deleted
        [(*_row(100 + k, 2), "D") for k in range(3)]
        + [(*_row(6, 2, None, None, vi=60, vl=60, vd=6.5), "U")],
        # ... and returns, beside a NaN-keyed insert
        [(*_row(100, 3, "gone", 0.5, vi=9, vl=9, vd=9.5), "I"),
         (*_row(201, 3, "g1", NAN, vi=None, vl=None, vd=None), "I"),
         (*_row(7, 3, "g0", 1.0, vi=-7, vl=-7, vd=-7.25), "U")],
    ]
    for rows in windows:
        t.upsert(_batch(spark, rows), delete_mode="apply")
        _refresh(spark, a, b)
        _assert_same(t, a, b)
    assert any(r["g"] == "gone" for r in a.read().collect())


def test_malformed_feed_raises_the_same_error_on_both_paths(spark, tmp_path):
    """Re-applying a window that deleted a whole group drives its live
    count negative: both merges refuse it with the same ValueError."""
    t = _base(spark, tmp_path)
    a, b = _views(t, tmp_path)
    a.refresh()
    b.refresh()
    before = a.refreshed_versions()
    t.upsert(_batch(spark, [(*_row(100 + k, 1), "D") for k in range(3)]),
             delete_mode="apply")
    _refresh(spark, a, b)
    errors = []
    for view, mode in ((a, contextlib.nullcontext()), (b, _spark_merge_only(spark))):
        view._write_cursor(before)  # the window will be applied twice
        with mode, pytest.raises(ValueError) as err:
            view.refresh()
        errors.append(str(err.value))
    assert errors[0] == errors[1] and "negative live count" in errors[0]


def test_long_overflow_raises_the_spark_merge_error(spark, tmp_path):
    """A long sum leaving its range is decided by the Spark merge on
    both paths: the same ANSI overflow error."""
    t = KeyedTable(
        spark,
        str(tmp_path / "big"),
        TableSpec("ov", record_key=("id",), precombine_key="seq",
                  partition_granularity=None),
        retain_versions=4,
    )
    big = 1 << 62
    t.initial_load(spark.createDataFrame([_row(0, 0, "g", 1.0, vl=big)], COLS))
    views = [
        DeltaMaterializedView(t, str(tmp_path / name), ["g"], {"s": "sum(vl)"})
        for name in ("driver", "spark")
    ]
    for v in views:
        v.refresh()
    t.upsert(_batch(spark, [(*_row(1, 1, "g", 1.0, vl=big), "I")]))
    errors = []
    for view, mode in zip(views, (contextlib.nullcontext(), _spark_merge_only(spark))):
        with mode, pytest.raises(Exception) as err:
            view.refresh()
        errors.append(err.value)
    assert type(errors[0]) is type(errors[1])
    assert "overflow" in str(errors[0]).lower()
