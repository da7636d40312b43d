"""The bloom index as append-only generations (operators/bloomfilter.py).

A reconcile writes one part for the files no generation indexes and
publishes the ``_GENERATIONS`` manifest; it reads the sidecar only when
it folds the live generations into one. These tests pin the layout, the
job counts of a build and a reconcile, and the crash contract: a
failure between any two publish steps leaves probes exact, and the next
reconcile converges with its orphans removed.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators import bloomfilter as bf
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.operators.zonemap import _norm, _resolve_table
from rds_to_datalake_project_spark.schema import TableSpec

COLS = "id string, create_at string, update_at string, v long"


class Boom(RuntimeError):
    pass


def _rows(spark, keys, day: int, ver: int, op: str | None = None):
    rows = [
        (f"k{i:04d}", f"2024-01-{day:02d}T00:00:00", f"2024-02-01T00:{ver:02d}:00", i)
        for i in keys
    ]
    if op is None:
        return spark.createDataFrame(rows, COLS)
    return spark.createDataFrame([(*r, op) for r in rows], COLS + ", Op string")


def _table(spark, tmp_path) -> KeyedTable:
    """A day-partitioned table over three days, 60 keys a day."""
    t = KeyedTable(spark, str(tmp_path / "t"), TableSpec("bg", partition_granularity="day"))
    t.initial_load(
        _rows(spark, range(0, 60), 1, 0)
        .unionByName(_rows(spark, range(60, 120), 2, 0))
        .unionByName(_rows(spark, range(120, 180), 3, 0))
    )
    return t


def _commit(spark, t, ver: int) -> None:
    """Updates in day 1 and inserts into a new day."""
    t.upsert(
        _rows(spark, range(0, 20), 1, ver, "U").unionByName(
            _rows(spark, range(1000 + ver * 10, 1010 + ver * 10), 3 + ver, ver, "I")
        ),
        delete_mode="apply",
    )


def _manifest(t) -> dict:
    with open(os.path.join(t.path, ".bloomindex", "_GENERATIONS")) as f:
        return json.load(f)


def _jobs(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    return sched.nextJobId() - j0, out


def _assert_exact(spark, t) -> None:
    """Every live key's file survives its probe, on the driver memo and
    on the in-Spark route, and lookups return exactly the live rows."""
    where = {
        r.id: _norm(r.f)
        for r in t.read().select("id", F.input_file_name().alias("f")).collect()
    }
    keys = sorted(where) + ["absent-1", "absent-2"]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for threshold in (old, "1"):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        try:
            covered, survives = bf.bloom_value_survivors(spark, t.path, "id", keys)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert covered is not None
        for k, f in where.items():
            assert f not in covered or f in survives[k], (k, f)
    probe = [keys[0], keys[-3], "absent-1"]
    assert sorted(r.id for r in t.lookup_many(probe).collect()) == sorted(probe[:2])


def _assert_converged(spark, t) -> None:
    """The sidecar holds exactly the manifest's parts, no staging dir,
    and the manifest indexes exactly the live files."""
    idx = os.path.join(t.path, ".bloomindex")
    man = _manifest(t)
    named = {n for g in man["gens"] for n in g["parts"]}
    on_disk = {n for n in os.listdir(idx) if n.endswith(".parquet") and n[0] not in "._"}
    assert on_disk == named
    assert not [n for n in os.listdir(idx) if n.startswith(bf._STAGING)]
    live = {_norm(f) for f in t.read().inputFiles()}
    assert sorted(f for g in man["gens"] for f in g["files"]) == sorted(live)
    assert bf.refresh_bloom_index(spark, t.path, ["id"]) == (0, 0)


def test_build_writes_generation_zero_and_reads_no_data_to_size(spark, tmp_path):
    """A build sizes the filter from footer row counts and counts what it
    wrote from the parts' footers: 2 Spark jobs once the table's live
    set is resolved, the scan and the shuffle of the one write (it ran 7
    when it counted the table, and checkpointed and counted its own
    output). The manifest names every part it wrote and every live
    file."""
    t = _table(spark, tmp_path)
    _resolve_table(spark, t.path)
    jobs, n_rows = _jobs(spark, lambda: bf.build_bloom_index(spark, t.path, ["id"]))
    assert jobs <= 2, jobs
    man = _manifest(t)
    assert man["cols"] == ["id"] and len(man["gens"]) == 1
    parts = [os.path.join(t.path, ".bloomindex", n) for n in man["gens"][0]["parts"]]
    assert n_rows == spark.read.schema(bf._SIDECAR_SCHEMA).parquet(*parts).count() > 0
    for p in parts:
        assert os.path.getsize(p) == man["gens"][0]["parts"][os.path.basename(p)]
    assert sorted(man["gens"][0]["files"]) == sorted(
        _norm(f) for f in t.read().inputFiles()
    )
    m, _k = bf._stored_mk(spark, f"{t.path}/.bloomindex")
    assert m == bf._auto_m_bits(180, len(t.read().inputFiles()))


def test_probe_reads_the_manifest_parts_by_name(spark, tmp_path):
    """The in-Spark probe names the manifest's parts instead of reading
    the dot-named sidecar root, which Spark treats as a hidden path."""
    t = _table(spark, tmp_path)
    bf.build_bloom_index(spark, t.path, ["id"])
    idx = f"{t.path}/.bloomindex"
    frame = bf._sidecar_frame(spark, idx)
    parts = {f"{idx}/{n}" for g in _manifest(t)["gens"] for n in g["parts"]}
    assert {_norm(f) for f in frame.inputFiles()} == parts


def test_reconcile_appends_one_generation_and_reads_no_sidecar(spark, tmp_path, monkeypatch):
    """A reconcile after a commit writes one part holding only the new
    files' filters, in at most 2 Spark jobs, without reading the
    sidecar; retired files leave the manifest, a generation with no live
    file is deleted, and probes stay exact."""
    from pyspark.sql.readwriter import DataFrameReader

    t = _table(spark, tmp_path)
    bf.build_bloom_index(spark, t.path, ["id"])
    before = _manifest(t)
    _commit(spark, t, 1)
    live = {_norm(f) for f in t.read().inputFiles()}
    read_paths = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    jobs, (added, dropped) = _jobs(
        spark, lambda: bf.refresh_bloom_index(spark, t.path, ["id"])
    )
    monkeypatch.undo()
    assert jobs <= 2, jobs
    assert [p for p in read_paths if ".bloomindex" in p] == []
    old_files = set(before["gens"][0]["files"])
    assert added == len(live - old_files) > 0
    assert dropped == len(old_files - live) > 0
    man = _manifest(t)
    assert len(man["gens"]) == 2
    assert len(man["gens"][1]["parts"]) == 1
    assert sorted(man["gens"][1]["files"]) == sorted(live - old_files)
    _assert_exact(spark, t)
    _assert_converged(spark, t)

    # an unpartitioned table's upsert retires every file: generation 0
    # dies and its parts are deleted
    u = KeyedTable(spark, str(tmp_path / "u"), TableSpec("bgu", partition_granularity=None))
    u.initial_load(_rows(spark, range(50), 1, 0))
    bf.build_bloom_index(spark, u.path, ["id"])
    gen0 = set(_manifest(u)["gens"][0]["parts"])
    u.upsert(_rows(spark, range(40, 60), 1, 1))
    bf.refresh_bloom_index(spark, u.path, ["id"])
    man = _manifest(u)
    assert len(man["gens"]) == 1 and not gen0 & set(man["gens"][0]["parts"])
    assert not gen0 & set(os.listdir(f"{u.path}/.bloomindex"))
    _assert_exact(spark, u)


def test_generations_fold_past_the_compact_threshold(spark, tmp_path, monkeypatch):
    """Past ``DEFAULT_COMPACT_THRESHOLD`` live generations the reconcile
    folds them into one that keeps only live files' rows."""
    monkeypatch.setattr(bf, "DEFAULT_COMPACT_THRESHOLD", 2)
    t = _table(spark, tmp_path)
    bf.build_bloom_index(spark, t.path, ["id"])
    _commit(spark, t, 1)
    bf.refresh_bloom_index(spark, t.path, ["id"])
    assert len(_manifest(t)["gens"]) == 2
    _commit(spark, t, 2)
    bf.refresh_bloom_index(spark, t.path, ["id"])
    man = _manifest(t)
    assert len(man["gens"]) == 1
    folded = [f"{t.path}/.bloomindex/{n}" for n in man["gens"][0]["parts"]]
    in_part = {
        _norm(r[0])
        for r in spark.read.schema(bf._SIDECAR_SCHEMA).parquet(*folded)
        .select(bf._FILE).distinct().collect()
    }
    assert in_part == {_norm(f) for f in t.read().inputFiles()}
    _assert_exact(spark, t)
    _assert_converged(spark, t)


@pytest.mark.parametrize(
    "point", ["generation_renamed", "fold_written", "manifest_published"]
)
def test_crash_between_publish_steps_stays_exact_and_converges(
    spark, tmp_path, monkeypatch, point
):
    """A reconcile killed after the new part's rename, inside the fold,
    or after the manifest publish leaves every probe exact; the next
    reconcile converges and removes the orphans the crash left."""
    monkeypatch.setattr(bf, "DEFAULT_COMPACT_THRESHOLD", 1)  # every reconcile folds
    t = _table(spark, tmp_path)
    bf.build_bloom_index(spark, t.path, ["id"])
    _commit(spark, t, 1)
    armed = [True]

    def fault(p):
        if p == point and armed[0]:
            armed[0] = False
            raise Boom(p)

    monkeypatch.setattr(bf, "_fault", fault)
    with pytest.raises(Boom):
        bf.refresh_bloom_index(spark, t.path, ["id"])
    idx = os.path.join(t.path, ".bloomindex")
    named = {n for g in _manifest(t)["gens"] for n in g["parts"]}
    orphans = [n for n in os.listdir(idx) if n.endswith(".parquet") and n not in named]
    assert orphans  # the crash left a part the manifest does not name
    _assert_exact(spark, t)
    bf.refresh_bloom_index(spark, t.path, ["id"])
    _assert_exact(spark, t)
    _assert_converged(spark, t)


def test_sidecar_without_manifest_rebuilds_once(spark, tmp_path):
    """A sidecar written before generations existed (parts and JSON
    ``_PARAMS``, no manifest) is no readable index: probes read every
    file, and the next reconcile rebuilds it, once."""
    t = _table(spark, tmp_path)
    bf.build_bloom_index(spark, t.path, ["id"])
    os.remove(os.path.join(t.path, ".bloomindex", "_GENERATIONS"))
    files, skipped = bf.bloom_prune_files(spark, t.path, "id", ["k0005"])
    assert skipped == 0
    n_live = len(t.read().inputFiles())
    assert bf.refresh_bloom_index(spark, t.path, ["id"]) == (n_live, 0)
    assert bf.refresh_bloom_index(spark, t.path, ["id"]) == (0, 0)
    _files, skipped = bf.bloom_prune_files(spark, t.path, "id", ["k0005"])
    assert skipped >= 1
    _assert_exact(spark, t)
