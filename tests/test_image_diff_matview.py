"""The image diff of single-table delta views (operators/matview.py).

A ``DeltaMaterializedView`` whose columns are count, sum and avg over
integral or decimal values folds −1 × the touched partitions as of its
cursor and +1 × them as of the head, instead of ``table_changes``' key
join. These tests drive seeded random commit sequences through such
views — on a day-partitioned table and on an unpartitioned one — and
check after every refresh that each equals a direct ``groupBy``; a spy
on ``KeyedTable.table_changes`` proves which views take which path.
"""

from __future__ import annotations

import random
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.matview import DeltaMaterializedView
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

COLS = "id string, create_at string, update_at string, g string, x int, y int, d decimal(12,2), f double"
IMAGE_AGGS = {
    "n": "count(*)",
    "ny": "count(y)",
    "sx": "sum(x)",
    "ax": "avg(x)",
    "sd": "sum(d)",
}


def _row(i: int, ver: int, rng: random.Random, day: int | None = None):
    day = day if day is not None else i % 4 + 1
    return (
        f"k{i:04d}",
        f"2024-{day % 2 + 1:02d}-{day:02d}T00:00:00",
        f"2024-03-01T{ver:02d}:00:00",
        f"g{rng.randrange(4)}",
        rng.randrange(-50, 100),
        None if rng.random() < 0.2 else rng.randrange(10),
        Decimal(rng.randrange(-10_000, 10_000)) / 100,
        rng.random() * 10,
    )


def _batch(spark, rows, extra: bool, op: str | None = None):
    cols = COLS + (", z int" if extra else "")
    rows = [(*r, 7) if extra else r for r in rows]
    if op is not None:
        cols += ", Op string"
        rows = [(*r, op) for r in rows]
    return spark.createDataFrame(rows, cols)


def _direct(t, group_cols, group_exprs, aggs) -> set:
    rows = t.read()
    for c, e in group_exprs.items():
        rows = rows.withColumn(c, F.expr(e))
    out = rows.groupBy(*group_cols).agg(*[F.expr(e).alias(c) for c, e in aggs.items()])
    return {tuple(r) for r in out.select(*group_cols, *aggs).collect()}


def _got(view) -> set:
    return {
        tuple(r) for r in view.read().select(*view.group_cols, *view.aggs).collect()
    }


@pytest.mark.slow
@pytest.mark.parametrize("granularity", ["day", None])
def test_image_diff_views_equal_direct_group_by(spark, tmp_path, monkeypatch, granularity):
    """Seeded random commits — group-moving updates, deletes, inserts, a
    partition rewrite that leaves every aggregate unchanged, a vector
    delete and an added column — keep the image-path views equal to a
    direct ``groupBy`` after every refresh, without one call to
    ``table_changes``. The unchanged-aggregate commit refreshes no group
    and rewrites nothing in the store."""
    calls = []
    real = KeyedTable.table_changes

    def spy(self, *a, **k):
        calls.append(self.path)
        return real(self, *a, **k)

    monkeypatch.setattr(KeyedTable, "table_changes", spy)
    rng = random.Random(14 if granularity else 41)
    t = KeyedTable(
        spark,
        str(tmp_path / "t"),
        TableSpec("img", partition_granularity=granularity),
        retain_versions=8,
        deletion_vectors=True,
    )
    live = {i: _row(i, 0, rng) for i in range(80)}
    t.initial_load(_batch(spark, live.values(), extra=False))
    views = [
        DeltaMaterializedView(t, str(tmp_path / "vg"), ["g"], IMAGE_AGGS),
        DeltaMaterializedView(
            t,
            str(tmp_path / "vm"),
            ["m"],
            {"n": "count(*)", "sx": "sum(x)"},
            group_exprs={"m": "date_trunc('month', create_at)"},
        ),
    ]
    for v in views:
        v.refresh()

    kinds = ["move", "delete_insert", "unchanged", "vector", "add_column", "move"]
    rng.shuffle(kinds)
    extra, ver = False, 0
    for kind in kinds:
        ver += 1
        if kind == "add_column":
            extra = True
        if kind in ("move", "add_column"):
            keys = rng.sample(sorted(live), 12)
            for i in keys:
                live[i] = _row(i, ver, rng, day=int(live[i][1][8:10]))
            t.upsert(_batch(spark, [live[i] for i in keys], extra))
        elif kind == "delete_insert":
            dels = [live.pop(i) for i in rng.sample(sorted(live), 6)]
            new = {i: _row(i, ver, rng) for i in range(100 + ver * 10, 106 + ver * 10)}
            live.update(new)
            t.upsert(
                _batch(spark, dels, extra, "D").unionByName(
                    _batch(spark, new.values(), extra, "I")
                ),
                delete_mode="apply",
            )
        elif kind == "unchanged":
            day1 = [i for i, r in live.items() if r[1].endswith("-01T00:00:00")]
            for i in day1:
                live[i] = (*live[i][:2], f"2024-03-01T{ver:02d}:00:00", *live[i][3:])
            t.upsert(_batch(spark, [live[i] for i in day1], extra))
        else:  # vector delete
            gone = rng.sample(sorted(live), 5)
            ids = ", ".join(f"'{live.pop(i)[0]}'" for i in gone)
            assert t.delete_where(f"id IN ({ids})", strategy="vector") == 5
        stores = [set(v.store.read().inputFiles()) for v in views]
        for v, before in zip(views, stores):
            info = v.refresh()
            assert info["mode"] == "delta", (kind, info)
            assert _got(v) == _direct(t, v.group_cols, v.group_exprs, v.aggs), kind
            if kind == "unchanged":
                assert info["groups_refreshed"] == 0
                assert set(v.store.read().inputFiles()) == before
    assert calls == []


def test_other_delta_views_keep_table_changes(spark, tmp_path, monkeypatch):
    """Views whose unchanged rows would not cancel exactly or cheaply —
    a double sum, min/max, count(DISTINCT) — keep ``table_changes``; an
    image-path view over the same table does not call it."""
    calls = []
    real = KeyedTable.table_changes

    def spy(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(KeyedTable, "table_changes", spy)
    rng = random.Random(7)
    t = KeyedTable(
        spark, str(tmp_path / "t"), TableSpec("img2", partition_granularity="day"),
        retain_versions=4,
    )
    live = {i: _row(i, 0, rng) for i in range(40)}
    t.initial_load(_batch(spark, live.values(), extra=False))
    cases = [
        ({"sf": "sum(f)"}, 1),
        ({"lo": "min(x)", "hi": "max(x)"}, 1),
        ({"nd": "count(DISTINCT y)"}, 1),
        (IMAGE_AGGS, 0),
    ]
    views = [
        DeltaMaterializedView(t, str(tmp_path / f"v{n}"), ["g"], aggs)
        for n, (aggs, _) in enumerate(cases)
    ]
    for v in views:
        v.refresh()
    keys = rng.sample(sorted(live), 8)
    t.upsert(_batch(spark, [_row(i, 1, rng, day=int(live[i][1][8:10])) for i in keys], False))
    for v, (aggs, want) in zip(views, cases):
        del calls[:]
        assert v.refresh()["mode"] == "delta"
        assert len(calls) == want, aggs
        if "sf" not in aggs:  # double sums may differ in the last ulps
            assert _got(v) == _direct(t, ["g"], {}, aggs)
