"""Persisted SQ8 ANN index (operators/ann_index.py): build/refresh
lifecycle, incremental-maintenance cost, and torn-build fallbacks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.fsio import write_text as _write_small
from rds_to_datalake_project_spark.operators.ann_index import (
    _idx,
    ann_index_topk,
    build_ann_index,
    refresh_ann_index,
)
from rds_to_datalake_project_spark.operators.sidecar import epoch_of, read_state
from rds_to_datalake_project_spark.operators.similarity import sq8_topk
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

SPEC = TableSpec(
    "emb_ann_t",
    record_key=("vec_id",),
    precombine_key="update_at",
    partition_granularity=None,
)


def _index_state(table):
    return read_state(table.spark, _idx(table))


def _epoch_of(table, part: str):
    return epoch_of(table.spark, _idx(table), part)


def _vec(seed: int, dim: int = 8) -> list[float]:
    # Deterministic, exactly-representable values (k/32).
    return [((seed * 7 + i * 13) % 64 - 32) / 32.0 for i in range(dim)]


def _corpus(spark, n: int, tag: str):
    return spark.createDataFrame(
        [(i, _vec(i), tag) for i in range(n)],
        "vec_id bigint, embedding array<float>, update_at string",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "emb"), SPEC, retain_versions=4)
    t.initial_load(_corpus(spark, 60, "v0"))
    return t


def _codes_map(table):
    # the MERGED family (base ∪ deltas, tombstones applied) is the
    # index's logical content — raw base files keep dead rows until
    # compaction by design
    from rds_to_datalake_project_spark.operators.sidecar import read_family

    rows = read_family(table.spark, _idx(table), "codes", "vec_id").collect()
    return {r["vec_id"]: (tuple(r["code"]), tuple(r["qvec"])) for r in rows}


def test_build_matches_retrained_sq8(spark, table):
    n = build_ann_index(table)
    assert n == 60
    served = ann_index_topk(table, query_vec_id=3, k=5, rerank=16).collect()
    fresh = sq8_topk(table.read(), query_vec_id=3, k=5, rerank=16).collect()
    assert [(r["vec_id"], r["approx_score"]) for r in served] == [
        (r["vec_id"], r["approx_score"]) for r in fresh
    ]
    assert [r["cosine_sim"] for r in served] == pytest.approx(
        [r["cosine_sim"] for r in fresh]
    )


@pytest.mark.slow
def test_refresh_is_incremental_and_survivors_untouched(spark, table):
    build_ann_index(table)
    before = _codes_map(table)
    epoch0 = _index_state(table)[1]
    batch = spark.createDataFrame(
        [(2, _vec(200), "v1", "U"), (5, _vec(5), "v1", "D"), (100, _vec(100), "v1", "I")],
        "vec_id bigint, embedding array<float>, update_at string, Op string",
    )
    table.upsert(batch, delete_mode="apply")
    n_up, n_del = refresh_ann_index(table)
    # cost ∝ change set: 2 recodes (update + insert), 1 delete
    assert (n_up, n_del) == (2, 1)
    after = _codes_map(table)
    assert 5 not in after and 100 in after
    assert after[2] != before[2]
    # every untouched id keeps BIT-IDENTICAL codes (fixed codebook)
    for vid, codes in before.items():
        if vid not in (2, 5):
            assert after[vid] == codes
    # epoch survives an incremental refresh; version advances
    v, epoch1 = _index_state(table)
    assert epoch1 == epoch0 and v == (table.versions()[-1])
    # idempotent: nothing to do at head
    assert refresh_ann_index(table) == (0, 0)


@pytest.mark.slow
def test_refresh_rebuilds_when_indexed_version_vacuumed(spark, table):
    build_ann_index(table)
    for tag in ("v1", "v2", "v3"):
        table.upsert(
            spark.createDataFrame(
                [(1, _vec(300), tag, "U")],
                "vec_id bigint, embedding array<float>, update_at string, Op string",
            )
        )
    table.vacuum_versions(keep_last=1)  # v0 no longer reconstructible
    n_up, n_del = refresh_ann_index(table)
    assert (n_up, n_del) == (60, 0)  # full rebuild path
    assert _index_state(table)[0] == table.versions()[-1]


def test_torn_build_epoch_mismatch_forces_rebuild(spark, table):
    """Crash between the bounds overwrite and the codes overwrite:
    bounds carry a NEW epoch while codes + _VERSION still hold the
    old one. The refresh must NOT take the incremental path (which
    would mix codebooks) — it rebuilds."""
    build_ann_index(table)
    table.upsert(
        spark.createDataFrame(
            [(7, _vec(700), "v1", "U")],
            "vec_id bigint, embedding array<float>, update_at string, Op string",
        )
    )
    _write_small(spark, f"{_idx(table)}/bounds/_EPOCH", "torn-new-epoch")
    n_up, n_del = refresh_ann_index(table)
    assert (n_up, n_del) == (60, 0)  # rebuild, not a 1-row recode
    # rebuilt sidecar is self-consistent again
    _, epoch = _index_state(table)
    assert _epoch_of(table, "bounds") == epoch == _epoch_of(table, "codes")


def test_partial_codes_overwrite_forces_rebuild(spark, table):
    """Crash mid-codes-overwrite: the marker (written after the data)
    is absent, so the refresh rebuilds instead of trusting a
    truncated codes dir."""
    build_ann_index(table)
    table.upsert(
        spark.createDataFrame(
            [(9, _vec(900), "v1", "U")],
            "vec_id bigint, embedding array<float>, update_at string, Op string",
        )
    )
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{_idx(table)}/codes/_EPOCH")
    p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, False)
    assert refresh_ann_index(table) == (60, 0)


def test_refresh_with_another_vector_column_rebuilds(spark, tmp_path):
    """The build records its id/vector columns: a refresh naming
    another vector column rebuilds under bounds trained on it, rather
    than coding that column under the old column's bounds."""
    t = KeyedTable(spark, str(tmp_path / "emb2"), SPEC, retain_versions=4)
    t.initial_load(
        _corpus(spark, 40, "v0").withColumn(
            "emb2", F.transform("embedding", lambda x: x * 4)
        )
    )
    build_ann_index(t)
    epoch0 = _index_state(t)[1]
    t.upsert(
        spark.createDataFrame(
            [(11, _vec(1100), [4 * x for x in _vec(1100)], "v1", "U")],
            "vec_id bigint, embedding array<float>, emb2 array<float>, "
            "update_at string, Op string",
        )
    )
    assert refresh_ann_index(t, vec_col="emb2") == (40, 0)
    assert _index_state(t)[1] != epoch0
    assert refresh_ann_index(t, vec_col="emb2") == (0, 0)


def test_topk_refuses_a_torn_sidecar(spark, table):
    """Serving never mixes one build's codes with another's bounds: a
    bounds part from another epoch makes the probe raise, as the
    secondary-index lookups do."""
    build_ann_index(table)
    _write_small(spark, f"{_idx(table)}/bounds/_EPOCH", "torn-new-epoch")
    with pytest.raises(ValueError, match="missing or torn"):
        ann_index_topk(table, query_vec_id=0, k=3, rerank=8)


def test_topk_serves_from_sidecar_only(spark, table):
    """The query plan reads the codes dir, never the base table: the
    scan's input files all live under .annindex."""
    build_ann_index(table)
    df = ann_index_topk(table, query_vec_id=0, k=3, rerank=8)
    files = df.inputFiles()
    assert files and all("/.annindex/" in f for f in files)


@pytest.mark.slow
def test_attached_maintenance_follows_commits(spark, tmp_path):
    """attach_ann_maintenance makes the index a table service: the
    first commit builds it, later commits refresh it incrementally —
    no explicit build/refresh calls anywhere."""
    from rds_to_datalake_project_spark.operators.ann_index import (
        attach_ann_maintenance,
    )

    t = KeyedTable(spark, str(tmp_path / "svc"), SPEC, retain_versions=4)
    attach_ann_maintenance(t)
    t.initial_load(_corpus(spark, 30, "v0"))
    v, _ = _index_state(t)
    assert v == 0  # built by the initial-load hook
    before = _codes_map(t)
    assert set(before) == set(range(30))
    t.upsert(
        spark.createDataFrame(
            [(3, _vec(303), "v1", "U"), (40, _vec(40), "v1", "I")],
            "vec_id bigint, embedding array<float>, update_at string, Op string",
        )
    )
    v, _ = _index_state(t)
    assert v == t.versions()[-1]  # refreshed by the publish hook
    after = _codes_map(t)
    assert 40 in after and after[3] != before[3]
    assert after[7] == before[7]  # survivor codes bit-identical
    # a served query right after the commit sees the new row
    ids = {r["vec_id"] for r in ann_index_topk(t, query_vec_id=40, k=1).collect()}
    assert ids == {40}


def _axis_centroids(dim=8, k=4):
    out = []
    for c in range(k):
        v = [0.0] * dim
        v[c] = 1.0
        out.append((c, v))
    return out


@pytest.mark.slow
def test_ivf_index_prunes_cells_and_matches_full_scan(spark, table):
    """An IVF-built index serves from probed cells only; with enough
    probes the answer equals the full-scan index, and with 1 probe the
    scanned row count shrinks to the query's cell."""
    cents = _axis_centroids()
    build_ann_index(table, centroids=cents)
    codes = spark.read.parquet(f"{_idx(table)}/codes")
    assert "cell" in codes.columns
    cell_sizes = {r["cell"]: r["n"] for r in
                  codes.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert sum(cell_sizes.values()) == 60 and len(cell_sizes) >= 2
    # all-cells probe == unpruned result
    full = ann_index_topk(table, query_vec_id=3, k=5, rerank=16).collect()
    probed = ann_index_topk(
        table, query_vec_id=3, k=5, rerank=16, probe_cells=len(cents)
    ).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in probed] == [
        (r["vec_id"], r["cosine_sim"]) for r in full
    ]
    # 1-cell probe returns only rows from the query's own cell
    qcell = codes.filter(F.col("vec_id") == 3).collect()[0]["cell"]
    one = ann_index_topk(table, query_vec_id=3, k=50, rerank=64, probe_cells=1)
    got_ids = [r["vec_id"] for r in one.collect()]
    cell_ids = {r["vec_id"] for r in codes.filter(F.col("cell") == qcell).collect()}
    assert set(got_ids) <= cell_ids and 3 in got_ids


@pytest.mark.slow
def test_ivf_refresh_keeps_centroids_and_assigns_cells(spark, table):
    cents = _axis_centroids()
    build_ann_index(table, centroids=cents)
    table.upsert(
        spark.createDataFrame(
            [(70, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0], "v1", "I")],
            "vec_id bigint, embedding array<float>, update_at string, Op string",
        )
    )
    assert refresh_ann_index(table) == (1, 0)
    from rds_to_datalake_project_spark.operators.sidecar import read_family

    codes = read_family(spark, _idx(table), "codes", "vec_id")
    row = codes.filter(F.col("vec_id") == 70).collect()[0]
    assert row["cell"] == "2"  # exactly on centroid e_2
    # centroid part untouched (fixed codebook across refreshes)
    from rds_to_datalake_project_spark.operators.ann_index import _read_centroids
    assert _read_centroids(table) == cents


def test_non_ivf_rebuild_clears_centroids(spark, table):
    build_ann_index(table, centroids=_axis_centroids())
    build_ann_index(table)  # explicit retrain WITHOUT ivf
    from rds_to_datalake_project_spark.operators.ann_index import _read_centroids
    assert _read_centroids(table) is None
    with pytest.raises(ValueError, match="centroids"):
        ann_index_topk(table, query_vec_id=0, probe_cells=1).collect()


def test_ivf_probe_prunes_at_file_level(spark, table):
    """The codes part is hive-partitioned by cell, so a probed query's
    scan carries a PartitionFilter on cell — directory-level pruning,
    not just a row filter. (inputFiles() reports the pre-pruning file
    index, so the assertion reads the executed plan.)"""
    build_ann_index(table, centroids=_axis_centroids())
    codes = spark.read.parquet(f"{_idx(table)}/codes")
    qcell = codes.filter(F.col("vec_id") == 3).collect()[0]["cell"]
    df = ann_index_topk(table, query_vec_id=3, k=5, rerank=16, probe_cells=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and any(f"= {qcell}" in p or f"IN ({qcell}" in p for p in pf)


@pytest.mark.slow
def test_centroid_drift_triggers_retrain_and_recovers(spark, table):
    """Centroid-drift trigger: centroids stay FIXED across normal
    refreshes, but with drift_rebuild_ratio armed a skewed cell
    population (here: a batch of far-away inserts crowding one cell)
    forces a full rebuild through the fixed-point Lloyd trainer —
    after which cells are balanced again and a 1-cell probe of the
    drifted region returns the same answer as the exhaustive index."""
    from rds_to_datalake_project_spark.operators.ann_index import (
        _cells_drifted,
        _read_centroids,
    )

    cents = [(0, _vec(0)), (1, _vec(15)), (2, _vec(30)), (3, _vec(45))]
    build_ann_index(table, centroids=cents)
    epoch0 = _index_state(table)[1]

    # a balanced change set does NOT retrain (fixed codebook holds)
    table.upsert(
        spark.createDataFrame(
            [(2, _vec(201), "v1", "U")],
            "vec_id bigint, embedding array<float>, update_at string, Op string",
        )
    )
    refresh_ann_index(table, drift_rebuild_ratio=2.0)
    assert _index_state(table)[1] == epoch0  # incremental, same epoch
    assert [cid for cid, _v in _read_centroids(table)] == [0, 1, 2, 3]

    # drifted inserts: 40 vectors far outside the corpus, one cell
    drift = spark.createDataFrame(
        [
            (1000 + i, [x + 100.0 for x in _vec(i)], "v2", "I")
            for i in range(40)
        ],
        "vec_id bigint, embedding array<float>, update_at string, Op string",
    )
    table.upsert(drift)
    refresh_ann_index(table, drift_rebuild_ratio=2.0, drift_train_iterations=3)

    # the rebuild happened: new epoch, retrained centroids, and the
    # drifted region now owns at least one centroid of its own (the
    # fixed codebook had none within 100 units of it)
    assert _index_state(table)[1] != epoch0
    new_cents = _read_centroids(table)
    assert new_cents is not None and len(new_cents) == 4
    assert new_cents != [(cid, [float(x) for x in v]) for cid, v in cents]
    assert any(all(x > 50 for x in vec) for _cid, vec in new_cents)

    # probe recall: a drifted query probing ONE cell finds itself and
    # only drifted neighbors (pre-drift the region had no centroid, so
    # its members were quantization noise in a foreign cell)
    probed = ann_index_topk(
        table, query_vec_id=1005, k=5, rerank=16, probe_cells=1
    ).collect()
    assert len(probed) == 5
    assert probed[0]["vec_id"] == 1005  # self is the cosine-1.0 top hit
    assert all(r["vec_id"] >= 1000 for r in probed)  # drifted neighbors


@pytest.mark.slow
def test_empty_cell_triggers_retrain_and_rebalances(spark, table):
    """The empty-cell arm of the drift trigger: when every member of
    a probed cell is deleted, a probe of that cell returns NOTHING
    while its would-be members crowd other cells — the armed refresh
    must retrain and leave no empty cell."""
    from rds_to_datalake_project_spark.operators.ann_index import (
        _cells_drifted,
        _read_centroids,
    )

    far = spark.createDataFrame(
        [
            (2000 + i, [x + 100.0 for x in _vec(i)], "v1", "I")
            for i in range(10)
        ],
        "vec_id bigint, embedding array<float>, update_at string, Op string",
    )
    table.upsert(far)
    cents = [
        (0, _vec(0)),
        (1, _vec(30)),
        (2, [x + 100.0 for x in _vec(0)]),
    ]
    build_ann_index(table, centroids=cents)  # cell 2 = the far ten
    epoch0 = _index_state(table)[1]

    deletes = spark.createDataFrame(
        [(2000 + i, _vec(0), "v2", "D") for i in range(10)],
        "vec_id bigint, embedding array<float>, update_at string, Op string",
    )
    table.upsert(deletes, delete_mode="apply")
    # ratio set huge: ONLY the empty-cell branch can fire
    refresh_ann_index(table, drift_rebuild_ratio=1000.0)

    assert _index_state(table)[1] != epoch0  # rebuilt
    new_cents = _read_centroids(table)
    assert new_cents is not None and len(new_cents) == 3
    assert not _cells_drifted(table, new_cents, 1000.0)  # no empty cell


@pytest.mark.slow
def test_ivf_probe_prunes_after_incremental_refresh(spark, table):
    """With a delta in the chain, the probed cell filter must still
    reach PartitionFilters on EVERY leg of the merged codes read (base
    and delta scans) — pushdown through the union and the tombstone
    join, not a post-merge row filter."""
    import re

    cents = _axis_centroids()
    build_ann_index(table, centroids=cents)
    table.upsert(
        spark.createDataFrame(
            [(71, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0], "v1", "I")],
            "vec_id bigint, embedding array<float>, update_at string, Op string",
        )
    )
    assert refresh_ann_index(table) == (1, 0)
    df = ann_index_topk(table, query_vec_id=3, k=5, rerank=16, probe_cells=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    with_cell = [p for p in pf if "cell" in p and p.strip()]
    assert len(with_cell) >= 2, (len(with_cell), plan[:800])
    # and the answer still includes the probed query itself
    assert 3 in {r["vec_id"] for r in df.collect()}
