"""Schema handoff: a commit that wrote its files in the schema it read
hands that schema to the reads after it, which then run no inference
job. Whatever each kind of commit hands off or not, every read must
equal the inferred read the table gave before: ``read()`` and every
readable ``read_as_of(v)`` in schema (names, types, nullability,
order) and rows, and ``table_changes`` over the last commit."""

from __future__ import annotations

import pytest

from rds_to_datalake_project_spark.operators import upsert as U
from rds_to_datalake_project_spark.operators.compact import compact_table
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

COLS = "id string, create_at string, update_at string, amount int, note string"


def _row(i: int, ver: int, **extra):
    return (
        f"k{i:04d}",
        f"2024-01-{i % 4 + 1:02d}T00:00:00",
        f"2024-02-01T00:{ver:02d}:00",
        i * 10 + ver,
        None if i % 5 == 0 else f"n{i}",
        *extra.values(),
    )


def _frame(spark, ids, ver, cols=COLS, **extra):
    return spark.createDataFrame([_row(i, ver, **extra) for i in ids], cols)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _handed_off(t) -> bool:
    return U.handed_off_schema(t._plan_cache_entry()) is not None


def _inferred_changes(t, a, b):
    """``table_changes`` with the handoff set aside: what it read
    before schemas were handed off."""
    key = U._norm_table_path(t.path)
    rec = U._HANDOFF.get(key)
    U.invalidate_plan_cache(t.path)
    try:
        return t.table_changes(a, b, include_preimage=True)
    finally:
        if rec is not None:
            U._hand_off(t.path, rec)


def _check(t):
    got, want = t.read(), t._read_uncached()
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    versions = t.readable_versions()
    for v in versions:
        got, want = t.read_as_of(v), t._read_as_of_uncached(v)
        assert got.schema == want.schema, v
        assert _rows(got) == _rows(want), v
    if len(versions) >= 2:
        a, b = versions[-2], versions[-1]
        got = t.table_changes(a, b, include_preimage=True)
        want = _inferred_changes(t, a, b)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)


def _upsert_same(spark, t, ver):
    t.upsert(
        _frame(spark, [1, 2, 7, 40 + ver], ver, COLS + ", Op string", Op="U"),
        delete_mode="apply",
    )


TABLES = {
    # day-partitioned, retained: the uniform run and read_as_of
    "versioned": dict(granularity="day", retain=2),
    # unpartitioned, unretained: every commit replaces the whole file set
    "unversioned": dict(granularity=None, retain=0),
}


@pytest.mark.parametrize("kind", list(TABLES))
def test_every_commit_kind_reads_like_inference(spark, tmp_path, kind):
    cfg = TABLES[kind]
    spec = TableSpec("handoff", partition_granularity=cfg["granularity"])
    path = str(tmp_path / kind)
    t = KeyedTable(spark, path, spec, retain_versions=cfg["retain"])
    t.initial_load(_frame(spark, range(20), 0))
    assert not _handed_off(t)  # initial_load hands no schema off
    _check(t)

    _upsert_same(spark, t, 1)
    assert _handed_off(t)
    _check(t)

    other = KeyedTable(spark, path, spec, retain_versions=cfg["retain"])
    _upsert_same(spark, other, 2)
    _check(t)
    _check(other)

    # a column added: this commit hands nothing off
    t.upsert(_frame(spark, [3, 50], 3, COLS + ", tag string", tag="t"))
    assert not _handed_off(t)
    _check(t)
    _upsert_same(spark, t, 4)
    _check(t)

    # stored-side type widening: a schema-migration commit
    widened = COLS.replace("amount int", "amount bigint")
    t.upsert(_frame(spark, [4], 5, widened))
    assert not _handed_off(t)
    _check(t)

    t.delete_where("id = 'k0006'", strategy="rewrite")
    _check(t)
    t.delete_where("id = 'k0008'", strategy="vector")
    assert not _handed_off(t)
    _check(t)
    t.update_where("id = 'k0009'", {"amount": "amount + 1"})
    _check(t)
    compact_table(t)
    assert not _handed_off(t)
    _check(t)
    if cfg["retain"]:
        t.restore_to_version(t.readable_versions()[0])
        assert not _handed_off(t)
        _check(t)

    # a reset starts a new uniform run
    t.initial_load(_frame(spark, range(12), 6))
    assert not _handed_off(t)
    _check(t)
    _upsert_same(spark, t, 7)
    assert _handed_off(t)
    _check(t)


def test_plain_load_then_retained_commits_vouch_their_versions(
    spark, tmp_path, monkeypatch
):
    """A load through a handle that keeps no versions records no
    vouched version; the first commit through a retaining handle starts
    the run at the version it publishes, so ``table_changes`` over the
    next two versions reads both endpoints with no mergeSchema read."""
    from pyspark.sql.readwriter import DataFrameReader

    spec = TableSpec("handoff", partition_granularity="day")
    path = str(tmp_path / "plain")
    KeyedTable(spark, path, spec).initial_load(_frame(spark, range(20), 0))
    t = KeyedTable(spark, path, spec, retain_versions=2)
    _upsert_same(spark, t, 1)
    _upsert_same(spark, t, 2)
    a, b = t.readable_versions()[-2:]

    merged = []
    real = DataFrameReader.option

    def spy(self, key, value):
        if key == "mergeSchema":
            merged.append(value)
        return real(self, key, value)

    monkeypatch.setattr(DataFrameReader, "option", spy)
    got = _rows(t.table_changes(a, b, include_preimage=True))
    assert merged == []
    monkeypatch.undo()
    assert got == _rows(_inferred_changes(t, a, b))
    _check(t)
