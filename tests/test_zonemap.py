"""Zone-map file skipping (operators/zonemap.py).

Pins the two halves of the contract separately: (a) pruned reads are
EXACTLY the full-scan filter under every index state (fresh, stale,
missing, partial coverage), (b) a clustered table really does skip
files — the read's inputFiles set shrinks.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import Row, functions as F

from rds_to_datalake_project_spark.catalog import load_table
from rds_to_datalake_project_spark.operators.zonemap import (
    build_zonemap,
    prune_files,
    pruned_read,
    zonemap_stats,
)

PRED = {"o_orderdate": ("1996-01-01 00:00:00", "1996-06-30 23:59:59")}


def _write_clustered(spark, sf_dir, path, n_files=8):
    (
        load_table(spark, sf_dir, "orders")
        .repartitionByRange(n_files, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )


def _expected(spark, sf_dir):
    lo, hi = PRED["o_orderdate"]
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between(lo, hi))
        .count()
    )


def test_pruned_read_skips_files_and_matches_full_filter(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path)
    build_zonemap(spark, path, ["o_orderdate", "o_totalprice"])

    total_files = len(spark.read.parquet(path).inputFiles())
    files, skipped = prune_files(spark, path, PRED)
    assert skipped > 0, "clustered half-year window must skip files"
    assert len(files) + skipped == total_files

    out = pruned_read(spark, path, PRED)
    assert len(set(out.inputFiles())) == len(files)
    assert out.count() == _expected(spark, sf_dir)


def test_stats_cover_every_file_and_rowcount(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path)
    build_zonemap(spark, path, ["o_orderdate"])
    stats = zonemap_stats(spark, path)
    assert stats.count() == len(spark.read.parquet(path).inputFiles())
    n = stats.agg(F.sum("n_rows")).first()[0]
    assert n == load_table(spark, sf_dir, "orders").count()


def test_missing_index_degrades_to_full_scan(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path)
    files, skipped = prune_files(spark, path, PRED)
    assert skipped == 0
    assert pruned_read(spark, path, PRED).count() == _expected(spark, sf_dir)


def test_stale_index_reads_unindexed_files(spark, sf_dir, tmp_path):
    """Files appended AFTER the index build are outside the index →
    always read (advisory contract), even when their rows match."""
    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path)
    build_zonemap(spark, path, ["o_orderdate"])
    # Append an in-window batch the index has never seen.
    lo, hi = PRED["o_orderdate"]
    extra = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between(lo, hi))
        .limit(7)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
    )
    extra.coalesce(1).write.mode("append").parquet(path)

    out = pruned_read(spark, path, PRED)
    assert out.count() == _expected(spark, sf_dir) + 7


def test_empty_window_returns_empty_with_schema(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path)
    build_zonemap(spark, path, ["o_orderdate"])
    out = pruned_read(
        spark, path, {"o_orderdate": ("2300-01-01 00:00:00", "2300-12-31 00:00:00")}
    )
    assert out.count() == 0
    assert out.columns == spark.read.parquet(path).columns


def test_all_null_zone_is_skipped_safely(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [Row(k=1, v=None), Row(k=2, v=None)], "k int, v int"
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [Row(k=3, v=10), Row(k=4, v=20)], "k int, v int"
    ).coalesce(1).write.mode("append").parquet(path)
    build_zonemap(spark, path, ["v"])
    files, skipped = prune_files(spark, path, {"v": (5, 15)})
    assert skipped == 1  # the all-null file can never match a range
    out = pruned_read(spark, path, {"v": (5, 15)})
    assert [r.k for r in out.collect()] == [3]


def test_open_bounds(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path)
    build_zonemap(spark, path, ["o_orderdate"])
    lo = "1997-06-01 00:00:00"
    out = pruned_read(spark, path, {"o_orderdate": (lo, None)})
    expected = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= lo)
        .count()
    )
    assert out.count() == expected
    _, skipped = prune_files(spark, path, {"o_orderdate": (lo, None)})
    assert skipped > 0


def _kv_rows(spark, ids, val, day="2024-01-01"):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [
            Row(
                id=f"k{i}",
                create_at=f"{day}T00:00:00.000000+00:00",
                update_at=f"{day}T00:{i % 60:02d}:00.000000+00:00",
                score=i,
                val=val,
            )
            for i in ids
        ]
    )


def test_keyed_table_maintains_zonemap_across_upserts(spark, tmp_path):
    """zonemap_columns turns on table-service maintenance: the index
    exists after initial_load, stays consistent with the live file set
    after an upsert (new files indexed, replaced files dropped), and
    read_where stays exact."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("t", record_key=("id",), precombine_key="update_at")
    t = KeyedTable(
        spark, str(tmp_path / "t"), spec, zonemap_columns=["score"]
    )
    t.initial_load(_kv_rows(spark, range(100), "v0"))
    live = set(spark.read.parquet(t.path).inputFiles())
    idx = {r[0] for r in zonemap_stats(spark, t.path).select("file_uri").collect()}
    assert idx == live

    # upsert rewrites the touched partition → file set changes
    t.upsert(_kv_rows(spark, range(50, 150), "v1"))
    live2 = set(spark.read.parquet(t.path).inputFiles())
    idx2 = {r[0] for r in zonemap_stats(spark, t.path).select("file_uri").collect()}
    assert idx2 == live2 and live2 != live

    out = t.read_where({"score": (120, 130)})
    got = sorted((r.id, r.val) for r in out.collect())
    assert got == [(f"k{i}", "v1") for i in range(120, 131)]


def test_refresh_zonemap_incremental_counts(spark, sf_dir, tmp_path):
    """refresh_zonemap only keeps the column list: it adds the columns
    the list lacks and reports them. Files appended afterwards carry
    their own footer zones, with no refresh."""
    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path, n_files=4)
    from rds_to_datalake_project_spark.operators.zonemap import refresh_zonemap

    assert refresh_zonemap(spark, path, ["o_orderdate"]) == ["o_orderdate"]
    assert zonemap_stats(spark, path).count() == 4
    assert refresh_zonemap(spark, path, ["o_orderdate"]) == []  # no-op
    load_table(spark, sf_dir, "orders").limit(5).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    stats = zonemap_stats(spark, path)
    assert stats.count() == 5
    assert stats.filter(F.col("min_o_orderdate").isNull()).count() == 0
    # a column the list lacks is added; the others stay
    assert refresh_zonemap(spark, path, ["o_orderdate", "o_totalprice"]) == [
        "o_totalprice"
    ]
    stats = zonemap_stats(spark, path)
    assert "min_o_totalprice" in stats.columns and stats.count() == 5


def test_fast_count_metadata_only_and_fallback(spark, sf_dir, tmp_path):
    from rds_to_datalake_project_spark.operators.zonemap import fast_count

    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path, n_files=4)
    expected = load_table(spark, sf_dir, "orders").count()
    assert fast_count(spark, path) == expected  # no index → real count
    build_zonemap(spark, path, ["o_orderdate"])
    assert fast_count(spark, path) == expected  # pure metadata
    # appended (unindexed) files are counted by the fallback scan
    load_table(spark, sf_dir, "orders").limit(9).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    assert fast_count(spark, path) == expected + 9
    # committed deletion vectors mask rows the file counts still hold
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("dvc", record_key=("id",), precombine_key="update_at")
    t = KeyedTable(
        spark, str(tmp_path / "dvc"), spec,
        deletion_vectors=True, zonemap_columns=["id"],
    )
    t.initial_load(_kv_rows(spark, range(40), "v0"))
    assert t.delete_where("score % 4 = 0") == 10
    assert fast_count(spark, t.path) == t.read().count() == 30


def test_zoned_reads_resolve_once_per_commit_token(spark, tmp_path, monkeypatch):
    """Zoned reads and counts take the live set from _resolve_table,
    memoized per commit token: within one token, two read_where calls
    and a fast_count build the resolution once, and the next upsert
    makes it resolve again — and see the new files."""
    from rds_to_datalake_project_spark.operators import upsert as up
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.operators.zonemap import fast_count
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("mt", record_key=("id",), precombine_key="update_at")
    t = KeyedTable(spark, str(tmp_path / "mt"), spec, zonemap_columns=["score"])
    t.initial_load(_kv_rows(spark, range(100), "v0"))
    t.upsert(_kv_rows(spark, range(50, 150), "v1"))
    expect = sorted(
        (r.id, r.val)
        for r in t.read().filter(F.col("score").between(120, 130)).collect()
    )
    total = t.read().count()

    builds = []
    real = up.cache_fill

    def counting(ent, slot, build):
        def counted():
            if slot == "zresolve":
                builds.append(slot)
            return build()

        return real(ent, slot, counted)

    monkeypatch.setattr(up, "cache_fill", counting)
    for _ in range(2):
        got = sorted(
            (r.id, r.val) for r in t.read_where({"score": (120, 130)}).collect()
        )
        assert got == expect
    assert fast_count(spark, t.path) == total
    assert len(builds) == 1

    t.upsert(_kv_rows(spark, range(150, 160), "v2"))
    builds.clear()
    assert t.read_where({"score": (150, 159)}).count() == 10
    assert fast_count(spark, t.path) == total + 10
    assert len(builds) == 1


def test_committed_table_writes_no_manifest_markers(spark, tmp_path):
    """A retained, zone-mapped table keeps one token: no commit —
    load, upsert or partition drop — writes ``.meta/_SEQ`` or a
    ``_SYNC`` / ``_SCHEMA`` stamp beside the zone map."""
    import os

    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("nm", record_key=("id",), precombine_key="update_at")
    t = KeyedTable(
        spark, str(tmp_path / "nm"), spec, retain_versions=2, zonemap_columns=["id"]
    )
    t.initial_load(
        _kv_rows(spark, range(20), "v0").unionByName(
            _kv_rows(spark, range(20, 40), "v0", day="2024-01-02")
        )
    )
    t.upsert(_kv_rows(spark, range(10, 30), "v1"))
    assert t.vacuum_partitions(lambda vals: vals[-1] != "01") == 1
    assert t.read().count() == 20
    for marker in (".meta/_SEQ", ".zonemap/_SYNC", ".zonemap/_SCHEMA"):
        assert not os.path.exists(os.path.join(t.path, marker)), marker


def test_indexless_table_reads_no_sidecar(spark, tmp_path, monkeypatch):
    """On a table without a zone map or bloom index, lookups, zoned
    reads and zone_intervals pay an existence check, never a Spark
    read of the missing sidecar directory."""
    from pyspark.sql.readwriter import DataFrameReader

    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.operators.zonemap import zone_intervals
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("pl", record_key=("id",), precombine_key="update_at")
    t = KeyedTable(spark, str(tmp_path / "pl"), spec)
    t.initial_load(_kv_rows(spark, range(40), "v0"))

    read_paths = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    assert _rows(t.lookup("k7")) == [("k7", "v0")]
    assert _rows(t.lookup_many(["k3", "k9"])) == [("k3", "v0"), ("k9", "v0")]
    assert t.read_where({"score": (3, 5)}).count() == 3
    assert zone_intervals(spark, t.path, "score") is None
    assert read_paths  # the data reads went through the spy
    assert [p for p in read_paths if ".zonemap" in p or ".bloomindex" in p] == []


def test_corrupt_zonemap_warns_once_and_reads_exact(
    spark, sf_dir, tmp_path, caplog, monkeypatch
):
    """Zone-map metadata that cannot be read degrades visibly and
    exactly: a legacy sidecar that is not parquet warns once per read
    and the read scans every file; a data file whose footer cannot be
    read warns once, has no zone, and is always read."""
    import logging
    import os
    import shutil

    from rds_to_datalake_project_spark.operators import zonemap as zm

    path = str(tmp_path / "orders")
    _write_clustered(spark, sf_dir, path, n_files=4)
    idx = os.path.join(path, ".zonemap")
    os.makedirs(idx)
    with open(os.path.join(idx, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    with caplog.at_level(logging.WARNING):
        got = pruned_read(spark, path, PRED).count()
    assert got == _expected(spark, sf_dir)
    warned = [r for r in caplog.records if ".zonemap" in r.getMessage()]
    assert len(warned) == 1
    assert prune_files(spark, path, PRED)[1] == 0

    build_zonemap(spark, path, ["o_orderdate"])
    files = sorted(spark.read.parquet(path).inputFiles())
    bad = zm._local_file(files[0])
    real = zm._read_footer

    def torn(local):
        if local == bad:
            raise OSError("torn footer")
        return real(local)

    monkeypatch.setattr(zm, "_read_footer", torn)
    caplog.clear()
    with caplog.at_level(logging.WARNING):
        for _ in range(2):
            out = pruned_read(spark, path, {"o_orderdate": ("2300-01-01", None)})
            assert out.count() == 0
            assert {zm._local_file(f) for f in out.inputFiles()} == {bad}
    warned = [r for r in caplog.records if bad in r.getMessage()]
    assert len(warned) == 1


def test_key_clustered_lookup_opens_few_files(spark, tmp_path):
    """range_by_key compaction + zone map = Hudi-style record lookup:
    a point read opens O(1) files, not the table."""
    from rds_to_datalake_project_spark.operators.compact import compact_table
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("lk", record_key=("id",), precombine_key="update_at",
                     partition_granularity=None)
    t = KeyedTable(
        spark, str(tmp_path / "lk"), spec, zonemap_columns=["id"]
    )
    t.initial_load(_kv_rows(spark, range(2000), "v0"))
    compact_table(t, target_file_bytes=4 * 1024, range_by_key=True)
    total = len(spark.read.parquet(t.path).inputFiles())
    assert total > 3, "fixture must produce several files"

    out = t.lookup("k150")
    assert [r.val for r in out.collect()] == ["v0"]
    assert len(set(out.inputFiles())) < total
    assert t.lookup("missing").count() == 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_vals = st.lists(
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    chunks=st.lists(_vals, min_size=1, max_size=4),
    lo=st.one_of(st.none(), st.integers(-60, 60)),
    hi=st.one_of(st.none(), st.integers(-60, 60)),
)
@pytest.mark.slow
def test_property_pruned_read_equals_full_filter(
    spark, tmp_path_factory, chunks, lo, hi
):
    """For ANY file layout (nulls, all-null files, empty-ish chunks)
    and ANY bound combination, the zoned read is exactly the full-scan
    filter — pruning may only drop provably-unmatchable files."""
    if lo is not None and hi is not None and lo > hi:
        lo, hi = hi, lo
    path = str(tmp_path_factory.mktemp("zm") / "t")
    for i, vals in enumerate(chunks):
        spark.createDataFrame(
            [Row(k=i * 100 + j, v=v) for j, v in enumerate(vals)], "k int, v int"
        ).coalesce(1).write.mode("append").parquet(path)
    build_zonemap(spark, path, ["v"])

    got = sorted(r.k for r in pruned_read(spark, path, {"v": (lo, hi)}).collect())
    full = spark.read.parquet(path)
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col("v") >= lo)
    if hi is not None:
        cond = cond & (F.col("v") <= hi)
    want = sorted(r.k for r in full.filter(cond).collect())
    assert got == want


def test_partitioned_read_where_keeps_partition_columns(spark, tmp_path):
    """Leaf-file reads must carry basePath: partition columns stay
    populated, predicates ON partition columns work, and indexing a
    partition column records real zones (review findings r5)."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("p", record_key=("id",), precombine_key="update_at",
                     partition_source="create_at", partition_granularity="month")
    t = KeyedTable(
        spark, str(tmp_path / "p"), spec,
        zonemap_columns=["score", "create_month"],
    )
    rows = _kv_rows(spark, range(40), "v0", day="2024-01-05").unionByName(
        _kv_rows(spark, range(40, 80), "v0", day="2024-03-05")
    )
    t.initial_load(rows)

    out = t.read_where({"score": (10, 12)})
    got = {(r.id, r.create_month) for r in out.collect()}
    assert got == {(f"k{i}", "01") for i in (10, 11, 12)}

    # predicate on the partition column itself
    march = t.read_where({"create_month": ("03", "03")})
    assert march.count() == 40
    assert {r.create_month for r in march.collect()} == {"03"}

    # predicate on an UNINDEXED column must degrade, not crash
    both = t.read_where({"score": (10, 12), "val": ("v0", "v0")})
    assert both.count() == 3


def test_pruned_read_pins_full_schema_across_evolution(spark, tmp_path):
    """Pruned reads resolve the FULL table schema, not a merge over
    only the pruned files: after schema evolution a pruned subset of
    old files can lack a column newer files carry, and a downstream
    select on it must surface NULLs, not an unresolved-column error."""
    from rds_to_datalake_project_spark.operators.zonemap import refresh_zonemap

    path = str(tmp_path / "evo")
    # old file: no 'extra' column; new file: evolved schema
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "key int, val string"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(50, 100)],
        "key int, val string, extra int",
    ).coalesce(1).write.mode("append").parquet(path)
    refresh_zonemap(spark, path, ["key"])

    out = pruned_read(spark, path, {"key": (0, 10)})
    assert len(out.inputFiles()) == 1  # prunes down to the OLD file only
    # ... and 'extra' must still exist
    rows = out.select("key", "extra").collect()
    assert len(rows) == 11
    assert all(r.extra is None for r in rows)
    # and the evolved rows keep their values through the same path
    got = pruned_read(spark, path, {"key": (60, 61)}).select(
        "key", "extra"
    ).collect()
    assert sorted((r.key, r.extra) for r in got) == [(60, 600), (61, 610)]


def test_bloom_index_point_lookup_skips_files(spark, sf_dir, tmp_path):
    """Per-file bloom filters prune point lookups on an unclustered
    high-cardinality key, and the pruned read is EXACTLY the
    full-scan filter (advisory contract)."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        bloom_prune_files,
        bloom_pruned_read,
        build_bloom_index,
    )

    path = str(tmp_path / "orders")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(path)
    n_rows = build_bloom_index(spark, path, ["o_orderkey"])
    assert n_rows > 0

    keys = [r.o_orderkey for r in orders.orderBy("o_orderkey").limit(3).collect()]
    keys += [r.o_orderkey for r in orders.orderBy(F.desc("o_orderkey")).limit(2).collect()]
    expect = sorted(
        map(tuple, orders.filter(F.col("o_orderkey").isin(keys)).collect())
    )
    files, skipped = bloom_prune_files(spark, path, "o_orderkey", keys)
    assert skipped >= 1  # clustered keys live in few files
    got = sorted(
        map(tuple, bloom_pruned_read(spark, path, "o_orderkey", keys).collect())
    )
    assert got == expect

    # absent values: (almost) everything prunes; result is exactly empty
    absent = [10**9 + 7, 10**9 + 11]
    _files2, skipped2 = bloom_prune_files(spark, path, "o_orderkey", absent)
    assert skipped2 >= 4  # false positives possible, wholesale reads are not
    assert bloom_pruned_read(spark, path, "o_orderkey", absent).count() == 0

    # out-of-band append: new file not in the index is ALWAYS read
    orders.limit(5).coalesce(1).write.mode("append").parquet(path)
    some_key = orders.limit(5).collect()[0].o_orderkey
    got3 = bloom_pruned_read(spark, path, "o_orderkey", [some_key]).count()
    want3 = (
        spark.read.parquet(path).filter(F.col("o_orderkey") == some_key).count()
    )
    assert got3 == want3 >= 2  # original + appended copy both visible


def test_bloom_index_service_follows_commits(spark, tmp_path):
    """attach_bloom_maintenance keeps the bloom sidecar reconciled
    through KeyedTable commits: refresh touches only new files, stale
    file rows drop, and lookups stay exact throughout."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        attach_bloom_maintenance,
        bloom_pruned_read,
        refresh_bloom_index,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("b", record_key=("id",), precombine_key="update_at",
                     partition_granularity=None)
    t = KeyedTable(spark, str(tmp_path / "b"), spec)
    attach_bloom_maintenance(t, ["id"])
    t.initial_load(_kv_rows(spark, range(200), "v0"))
    # index exists and serves (built by the initial-load hook)
    got = bloom_pruned_read(spark, t.path, "id", ["k17", "k181"]).count()
    assert got == 2
    # a commit reconciles: upsert rewrites the (unpartitioned) file set
    t.upsert(_kv_rows(spark, range(200, 260), "v1"))
    assert refresh_bloom_index(spark, t.path, ["id"]) == (0, 0)  # hook already ran
    assert bloom_pruned_read(spark, t.path, "id", ["k250"]).count() == 1
    assert bloom_pruned_read(spark, t.path, "id", ["nope"]).count() == 0


@pytest.mark.slow
def test_lookup_intersects_zonemap_and_bloom(spark, tmp_path):
    """On a table carrying BOTH sidecars, lookup reads the
    intersection of zone-map and bloom candidates — on an unclustered
    layout the zone map prunes nothing (every file spans the key
    range) while the bloom still cuts to the containing file(s); the
    result stays exact either way."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        attach_bloom_maintenance,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    from rds_to_datalake_project_spark.operators.bloomfilter import (
        build_bloom_index,
    )
    from rds_to_datalake_project_spark.operators.zonemap import build_zonemap

    spec = TableSpec("lk", record_key=("id",), precombine_key="update_at",
                     partition_granularity=None)
    path = str(tmp_path / "lk")
    # 6 physical files with INTERLEAVED string ids ("k0".."k299" spread
    # round-robin) → every file's zone spans the whole key range, so
    # the zone map alone prunes nothing; the bloom must do the cutting
    for i in range(6):
        _kv_rows(spark, range(i, 300, 6), "v0").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    build_zonemap(spark, path, ["id"])
    build_bloom_index(spark, path, ["id"])
    t = KeyedTable(spark, path, spec, zonemap_columns=["id"])
    assert attach_bloom_maintenance  # service attach covered elsewhere
    got = t.lookup("k123").collect()
    assert len(got) == 1 and got[0].id == "k123"
    assert t.lookup("absent-key").count() == 0
    # the probed plan reads fewer files than the table holds
    files = {f for f in t.lookup("k123").inputFiles()}
    all_files = {f for f in t.read().inputFiles()}
    assert len(files) < len(all_files)


def test_bloom_refresh_survives_corrupted_sidecar(spark, sf_dir, tmp_path):
    """A torn/garbage bloom sidecar must route refresh into a full
    rebuild, and reads degrade to full scans in the meantime — never
    a crash, never a wrong answer."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        _index_dir,
        bloom_pruned_read,
        build_bloom_index,
        refresh_bloom_index,
    )

    path = str(tmp_path / "orders")
    orders = load_table(spark, sf_dir, "orders").limit(400)
    orders.coalesce(2).write.mode("overwrite").parquet(path)
    build_bloom_index(spark, path, ["o_orderkey"])
    key = orders.collect()[0].o_orderkey

    # corrupt: replace the sidecar with a non-parquet file
    import shutil

    idx = _index_dir(path)
    shutil.rmtree(idx)
    import os

    os.makedirs(idx)
    with open(os.path.join(idx, "part-junk.parquet"), "w") as f:
        f.write("not parquet")
    # read degrades to a full scan but stays exact
    assert bloom_pruned_read(spark, path, "o_orderkey", [key]).count() == 1
    # refresh detects the unreadable index and rebuilds
    added, dropped = refresh_bloom_index(spark, path, ["o_orderkey"])
    assert added >= 1 and dropped == 0
    assert bloom_pruned_read(spark, path, "o_orderkey", [key]).count() == 1
    # torn part files under a valid _PARAMS rebuild too
    for name in os.listdir(idx):
        if name.endswith(".parquet"):
            with open(os.path.join(idx, name), "w") as f:
                f.write("not parquet")
    assert refresh_bloom_index(spark, path, ["o_orderkey"]) == (added, 0)
    assert bloom_pruned_read(spark, path, "o_orderkey", [key]).count() == 1


def test_bloom_build_is_single_scan_for_multi_column(spark, sf_dir):
    """Indexing k columns costs ONE scan of the table (one flattened
    struct-array explode + one (file,col,word) shuffle), not one scan
    per column — the build-time cost that dominates at scale."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.catalog import register_parquet_dir
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        _FILE,
        _filter_rows,
    )

    register_parquet_dir(spark, sf_dir, tables=["orders"])
    base = (
        spark.table("orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .withColumn(_FILE, F.input_file_name())
    )
    df = _filter_rows(
        base, ["o_orderkey", "o_custkey", "o_orderpriority"], 1024, 3
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1  # one table scan for all columns
    # and the rows are what the per-column form would have produced:
    # every (col, file) pair present, bits non-empty
    cols = {r["col"] for r in df.select("col").distinct().collect()}
    assert cols == {"o_orderkey", "o_custkey", "o_orderpriority"}


def test_bloom_auto_sizing_tracks_table_shape(spark, tmp_path):
    """m_bits=None sizes the filter from measured rows-per-file: a
    dense table gets a proportionally larger filter (the fixed 2 KiB
    legacy size saturates past ~2k keys/file → >70% false positives),
    refresh adopts the STORED size, and an explicit mismatching size
    forces a rebuild."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        M_BITS_MIN,
        _auto_m_bits,
        _stored_mk,
        bloom_prune_files,
        build_bloom_index,
        refresh_bloom_index,
    )

    import json

    path = str(tmp_path / "dense")
    spark.range(40_000).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(
        2, "k"
    ).write.mode("overwrite").parquet(path)
    build_bloom_index(spark, path, ["k"])
    idx = f"{path}/.bloomindex"
    m, _k = _stored_mk(spark, idx)
    assert m == _auto_m_bits(40_000, 2) > M_BITS_MIN * 10
    with open(f"{idx}/_PARAMS") as f:
        assert json.load(f) == {"m_bits": m, "k": _k}
    # properly sized: a burst of absent probes skips everything
    absent = [10**9 + i for i in range(25)]
    _files, skipped = bloom_prune_files(spark, path, "k", absent)
    assert skipped == 2
    # incremental refresh keeps the stored generation size
    spark.range(40_000, 40_050).selectExpr(
        "id AS k", "id * 2 AS v"
    ).coalesce(1).write.mode("append").parquet(path)
    refresh_bloom_index(spark, path, ["k"])
    assert _stored_mk(spark, idx)[0] == m
    # explicit mismatch → full rebuild under the requested size
    refresh_bloom_index(spark, path, ["k"], m_bits=M_BITS_MIN)
    assert _stored_mk(spark, idx)[0] == M_BITS_MIN


def test_legacy_bloom_params_rebuild_once_and_stay_exact(spark, tmp_path):
    """A pre-JSON ``"m k"`` _PARAMS marker is no readable index: the
    probe full-scans (exact), and the next refresh rebuilds under JSON
    params, after which probes prune again."""
    import json

    from rds_to_datalake_project_spark.operators.bloomfilter import (
        _stored_mk,
        bloom_prune_files,
        bloom_pruned_read,
        build_bloom_index,
        refresh_bloom_index,
    )

    path = str(tmp_path / "legacy")
    spark.range(4_000).selectExpr("id AS k", "id * 2 AS v").repartitionByRange(
        4, "k"
    ).write.mode("overwrite").parquet(path)
    build_bloom_index(spark, path, ["k"])
    idx = f"{path}/.bloomindex"
    with open(f"{idx}/_PARAMS", "w") as f:
        f.write("16384 5")
    assert _stored_mk(spark, idx) is None
    _files, skipped = bloom_prune_files(spark, path, "k", [17])
    assert skipped == 0  # no readable index: full scan
    assert [r.v for r in bloom_pruned_read(spark, path, "k", [17]).collect()] == [34]
    assert refresh_bloom_index(spark, path, ["k"]) == (4, 0)  # rebuilt
    with open(f"{idx}/_PARAMS") as f:
        assert set(json.load(f)) == {"m_bits", "k"}
    assert refresh_bloom_index(spark, path, ["k"]) == (0, 0)  # once
    _files, skipped = bloom_prune_files(spark, path, "k", [17])
    assert skipped >= 1
    assert [r.v for r in bloom_pruned_read(spark, path, "k", [17]).collect()] == [34]


@pytest.mark.slow
def test_lookup_many_matches_per_key_lookups(spark, tmp_path):
    """lookup_many == the union of per-key lookups == the plain IN
    filter, at ONE candidate read; its per-key pruning still opens
    fewer files than the table holds."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        build_bloom_index,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.operators.zonemap import build_zonemap
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec(
        "lkm",
        record_key=("id",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    path = str(tmp_path / "lkm")
    for i in range(6):
        _kv_rows(spark, range(i, 300, 6), "v0").coalesce(1).write.mode(
            "append"
        ).parquet(path)
    build_zonemap(spark, path, ["id"])
    build_bloom_index(spark, path, ["id"])
    t = KeyedTable(spark, path, spec, zonemap_columns=["id"])

    keys = ["k3", "k123", "k250", "absent-1", "absent-2"]
    got = sorted(r.id for r in t.lookup_many(keys).collect())
    want = sorted(
        r.id for r in t.read().filter(F.col("id").isin(keys)).collect()
    )
    assert got == want == ["k123", "k250", "k3"]
    assert len(set(t.lookup_many(keys).inputFiles())) < len(
        set(t.read().inputFiles())
    )
    # empty key set and all-absent set both return exactly nothing
    assert t.lookup_many([]).count() == 0
    assert t.lookup_many(["absent-9"]).count() == 0


def test_bloom_probe_pairs_match_build_expression(spark):
    """The probe's driver-side position → (word, mask) arithmetic is
    bit-identical to the build's Spark expressions (word = pos/64 cast
    int, mask = shiftleft(1L, pos % 64) — including the sign-bit wrap
    at pos % 64 == 63), for every position 0..127 plus the exact
    sign-bit edge. A divergence here would skip files that DO match."""
    rows = (
        spark.range(128)
        .select(
            F.col("id").alias("pos"),
            (F.col("id") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(id % 64 AS INT))"
            ).alias("m"),
        )
        .collect()
    )
    for r in rows:
        p = int(r["pos"])
        w, b = p // 64, p % 64
        m = 1 << b
        if m >= 1 << 63:
            m -= 1 << 64
        assert (w, m) == (int(r["w"]), int(r["m"])), p
    # bit 63 really is the negative sign-bit long on both sides
    assert any(int(r["m"]) == -(1 << 63) for r in rows)


def test_bloom_probe_empty_and_absent_values(spark, sf_dir, tmp_path):
    """Survivors contract holds through the LocalRelation probe:
    empty probe sets and absent values keep the covered-files answer
    (every indexed file named, nothing falsely survives)."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        bloom_value_survivors,
        build_bloom_index,
    )

    path = str(tmp_path / "orders")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartitionByRange(4, "o_orderkey").write.mode("overwrite").parquet(path)
    build_bloom_index(spark, path, ["o_orderkey"])

    covered, survives = bloom_value_survivors(spark, path, "o_orderkey", [])
    assert covered is not None and len(covered) == 4 and survives == {}

    present = orders.orderBy("o_orderkey").limit(1).collect()[0].o_orderkey
    covered2, survives2 = bloom_value_survivors(
        spark, path, "o_orderkey", [present, 10**9 + 7]
    )
    assert len(covered2) == 4
    assert len(survives2[present]) >= 1  # no false negatives, ever


# -- driver-held sidecar memo (zonemap.sidecar_memo) -------------------------


def _indexed_table(spark, path, n=400, bloom=True, **kw):
    """A committed (token-bearing) unpartitioned table whose commits
    maintain a zone map and (with ``bloom``) a bloom index on ``id``;
    string ids hash across files, so every zone spans the key range
    and the bloom does the pruning."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        attach_bloom_maintenance,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec("memo", record_key=("id",), precombine_key="update_at",
                     partition_granularity=None)
    t = KeyedTable(spark, str(path), spec, zonemap_columns=["id"], **kw)
    if bloom:
        attach_bloom_maintenance(t, ["id"])
    with _uncoalesced(spark):
        t.initial_load(_kv_rows(spark, range(n), "v0"))
    assert len(t.read().inputFiles()) > 1
    return t


@contextmanager
def _uncoalesced(spark):
    """AQE coalesces a test-sized shuffle into one file; keep the
    shuffle partitions so the table has several files to prune."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted((r.id, r.val) for r in df.collect())


def test_zone_overlaps_follows_spark_ordering():
    """NaN sorts above every double; mismatched types and comparisons
    that raise keep the file; an all-NULL zone overlaps nothing."""
    import datetime as dt
    from decimal import Decimal

    from rds_to_datalake_project_spark.operators.zonemap import zone_overlaps

    nan = float("nan")
    assert zone_overlaps(1.0, nan, 5.0, 5.0)
    assert zone_overlaps(1.0, nan, nan, nan)
    assert not zone_overlaps(10.0, 20.0, nan, nan)
    assert not zone_overlaps(10.0, 20.0, 5.0, 5.0)
    assert zone_overlaps(10.0, 20.0, None, 10.0)
    assert not zone_overlaps(None, None, 5.0, 5.0)
    # Spark would coerce these before comparing: keep the file
    assert zone_overlaps(Decimal("0.1"), Decimal("0.1"), 0.1, 0.1)
    assert zone_overlaps(2**53 + 1, 2**53 + 1, float(2**53), float(2**53))
    naive = dt.datetime(2024, 1, 1)
    aware = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
    assert zone_overlaps(naive, naive, aware, aware)
    assert not zone_overlaps("k5", "k7", "k8", "k9")


def test_nan_zone_keeps_file_on_driver_side_tests(spark, tmp_path):
    """Spark's max over {1.0, 5.0, NaN} is NaN. The driver-side zone
    test must keep that file for 5.0 and for NaN, as the plain filter
    does."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        build_bloom_index,
    )
    from rds_to_datalake_project_spark.operators.matview import (
        _zone_pruned_rows,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    path = str(tmp_path / "nan")
    for ids in ([1.0, 5.0, float("nan")], [10.0, 20.0]):
        spark.createDataFrame(
            [Row(id=i, update_at="2024-01-01", val=f"v{i}") for i in ids],
            "id double, update_at string, val string",
        ).coalesce(1).write.mode("append").parquet(path)
    build_zonemap(spark, path, ["id"])
    build_bloom_index(spark, path, ["id"])
    spec = TableSpec("nan", record_key=("id",), precombine_key="update_at",
                     partition_granularity=None)
    t = KeyedTable(spark, path, spec, zonemap_columns=["id"])
    for k in (5.0, float("nan")):
        want = spark.read.parquet(path).filter(F.col("id") == F.lit(k)).count()
        assert want == 1
        assert t.lookup_many([k]).count() == want
        assert t.lookup(k).count() == want
        # the matview recompute scan prunes through the same test
        touched = spark.createDataFrame([(k,)], "id double")
        scan = _zone_pruned_rows(t, touched, ["id"])
        assert scan.filter(F.col("id") == F.lit(k)).count() == want


def test_warm_lookups_run_one_job(spark, tmp_path):
    """Job budget: with both sidecars memoized, a lookup runs the data
    read and nothing else (the probe's bit positions fold into a local
    relation), and so does a 5-key lookup_many. The first lookup after
    a sidecar rewrite reloads the memos: today's cost, no more."""
    from rds_to_datalake_project_spark.operators import bloomfilter
    from rds_to_datalake_project_spark.operators import zonemap as zm

    t = _indexed_table(spark, tmp_path / "t")
    assert _jobs(spark, lambda: t.lookup("k7").collect()) <= 5
    assert _jobs(spark, lambda: t.lookup("k11").collect()) <= 1
    keys = ["k1", "k42", "k99", "absent-1", "k300"]
    assert _jobs(spark, lambda: t.lookup_many(keys).collect()) <= 1
    assert _rows(t.lookup("k11")) == [("k11", "v0")]
    zm.reset_prune_stats()
    bloomfilter.reset_prune_stats()
    assert [r[0] for r in _rows(t.lookup_many(keys))] == [
        "k1", "k300", "k42", "k99"
    ]
    # one zone verdict and one bloom verdict per probed key
    assert zm.LAST_PRUNE["probes"] == bloomfilter.LAST_PRUNE["probes"] == 5


def test_memo_follows_commits_and_out_of_band_rebuilds(spark, tmp_path):
    """A commit whose hooks rewrite both sidecars serves its new keys;
    an out-of-band bloom rebuild (same table token) replaces the memo
    instead of being shadowed by it."""
    from rds_to_datalake_project_spark.operators import bloomfilter

    t = _indexed_table(spark, tmp_path / "t")
    assert _rows(t.lookup("k5")) == [("k5", "v0")]
    with _uncoalesced(spark):
        t.upsert(_kv_rows(spark, range(400, 420), "v1"))
    assert _rows(t.lookup("k410")) == [("k410", "v1")]
    assert _rows(t.lookup_many(["k405", "k5"])) == [
        ("k405", "v1"), ("k5", "v0")
    ]

    # a 64-bit filter per file saturates: every file survives
    bloomfilter.build_bloom_index(spark, t.path, ["id"], m_bits=64)
    n_files = len(t.read().inputFiles())
    bloomfilter.reset_prune_stats()
    assert _rows(t.lookup("k7")) == [("k7", "v0")]
    assert bloomfilter.LAST_PRUNE["files_read"] == n_files > 1
    # a properly sized rebuild prunes again on the very next lookup
    bloomfilter.build_bloom_index(spark, t.path, ["id"])
    bloomfilter.reset_prune_stats()
    assert _rows(t.lookup("k7")) == [("k7", "v0")]
    assert bloomfilter.LAST_PRUNE["files_read"] < n_files


@pytest.mark.parametrize("deletes", [False, True])
def test_memo_path_matches_in_spark_aggregation(spark, tmp_path, deletes):
    """The driver memo and the in-Spark aggregation (forced by a
    broadcast threshold below the sidecar size) return identical
    ``(covered, survives)`` for present and absent keys, and identical
    lookup rows — deletion vectors included."""
    from rds_to_datalake_project_spark.operators.bloomfilter import (
        _index_dir,
        _load_words,
        bloom_value_survivors,
    )
    from rds_to_datalake_project_spark.operators.zonemap import sidecar_memo

    t = _indexed_table(spark, tmp_path / "t", deletion_vectors=deletes)
    if deletes:
        assert t.delete_where("id LIKE 'k1%'", strategy="vector") > 0
    keys = [f"k{i}" for i in range(0, 400, 4)] + [f"absent-{i}" for i in range(100)]
    idx = _index_dir(t.path)

    def probe():
        memo = sidecar_memo(spark, t.path, idx, lambda: _load_words(spark, idx))
        surv = bloom_value_survivors(spark, t.path, "id", keys)
        rows = [_rows(t.lookup(k)) for k in ("k12", "k13", "k200", "absent-3")]
        return memo is not None, surv, rows, _rows(t.lookup_many(keys))

    memo_used, *memo_out = probe()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try:
        spark_used, *spark_out = probe()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert memo_used and not spark_used
    assert memo_out == spark_out
    (covered, survives), lookups, _many = memo_out
    assert len(covered) > 1 and all(survives[k] for k in keys[:100])
    # k12 is masked by the vector delete; absent-3 never existed
    assert (lookups[0] == []) == deletes and lookups[3] == []


def test_first_lookup_after_a_commit_runs_one_job(spark, tmp_path):
    """On a zone-mapped table with no bloom index, the first lookup
    after an upsert runs one Spark job, the data read: the live set is
    listed with the handed-off schema, the zones come from the new
    files' footers and the range test collects a local relation."""
    from rds_to_datalake_project_spark.operators import zonemap as zm

    t = _indexed_table(spark, tmp_path / "t", bloom=False)
    with _uncoalesced(spark):
        t.upsert(_kv_rows(spark, range(400, 420), "v1"))
    zm.reset_prune_stats()
    assert _jobs(spark, lambda: t.lookup("k410").collect()) == 1
    assert zm.LAST_PRUNE["probes"] == 1  # the zones were consulted
    assert _rows(t.lookup("k410")) == [("k410", "v1")]


def test_commit_keeps_the_resolution_its_services_built(spark, tmp_path, monkeypatch):
    """The bloom reconcile resolves the table under the token its
    commit wrote; the commit's own invalidation keeps that resolution,
    so the first read after the commit lists nothing again."""
    from rds_to_datalake_project_spark.operators import upsert as up

    t = _indexed_table(spark, tmp_path / "t")
    builds = []
    real = up.cache_fill

    def counting(ent, slot, build):
        def counted():
            if slot == "zresolve":
                builds.append(slot)
            return build()

        return real(ent, slot, counted)

    monkeypatch.setattr(up, "cache_fill", counting)
    with _uncoalesced(spark):
        t.upsert(_kv_rows(spark, range(400, 420), "v1"))
    assert t.last_maintenance_errors == []
    assert t.read_where({"id": ("k405", "k405")}).count() == 1
    assert len(builds) == 1


def test_zone_map_is_a_column_list_and_reads_legacy_sidecars(spark, tmp_path):
    """Commits write no zone-map part file, only the column list; a
    legacy sidecar without the list takes its columns from its
    ``min_*`` fields, and its zones still come from the footers."""
    import json
    import os

    from rds_to_datalake_project_spark.operators import zonemap as zm

    t = _indexed_table(spark, tmp_path / "t", bloom=False)
    with _uncoalesced(spark):
        t.upsert(_kv_rows(spark, range(400, 420), "v1"))
    idx = os.path.join(t.path, ".zonemap")
    assert os.listdir(idx) == ["_COLUMNS"]
    with open(os.path.join(idx, "_COLUMNS")) as f:
        assert json.load(f) == ["id"]

    path = str(tmp_path / "legacy")
    _kv_rows(spark, range(0, 60), "v0").coalesce(1).write.parquet(path)
    _kv_rows(spark, range(60, 99), "v0").coalesce(1).write.mode("append").parquet(path)
    spark.createDataFrame(
        [("f", 1, 1, 5, "a", "b", 1, 1)],
        "file_uri string, n_rows long, min_score long, max_score long, "
        "min_id string, max_id string, min_x long, extra long",
    ).coalesce(1).write.parquet(os.path.join(path, ".zonemap"))
    assert sorted(zm.zoned_columns(spark, path)) == ["id", "score"]
    files, skipped = zm.prune_files(spark, path, {"score": (70, 80)})
    assert (len(files), skipped) == (1, 1)
    assert pruned_read(spark, path, {"score": (70, 80)}).count() == 11
