"""Persisted LSH signature index (operators/lsh_index.py): batch
screening against an indexed corpus, incremental maintenance, torn
builds, parameter pinning."""

from __future__ import annotations

import pytest

from rds_to_datalake_project_spark.operators.lsh_index import (
    _idx,
    attach_lsh_maintenance,
    build_lsh_index,
    lsh_candidates_for,
    lsh_neardups_for,
    refresh_lsh_index,
)
from rds_to_datalake_project_spark.operators.sidecar import read_state
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec

SPEC = TableSpec(
    "docs_lsh",
    record_key=("doc_id",),
    precombine_key="update_at",
    partition_granularity=None,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun and the birds sing in the trees all day long"
)


def _corpus(spark, tag="v0"):
    rows = [
        (0, BASE, tag),
        (1, "completely different text about database systems and query engines", tag),
        (2, "ein ganz anderer deutscher text der nicht verwandt ist mit anderen", tag),
        (3, "yet another unrelated document talking about weather patterns today", tag),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, update_at string")


@pytest.fixture()
def table(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "docs"), SPEC, retain_versions=4)
    t.initial_load(_corpus(spark))
    return t


def _batch(spark, rows, tag="v1"):
    return spark.createDataFrame(
        [(i, txt, tag, op) for i, txt, op in rows],
        "doc_id bigint, text string, update_at string, Op string",
    )


def test_batch_screening_finds_corpus_neardup(spark, table):
    n = build_lsh_index(table)
    assert n == 4 * 16  # (doc, band) rows
    probe = spark.createDataFrame(
        [(100, BASE.replace("lazy dog", "sleepy dog")), (101, "totally novel content never seen")],
        "doc_id bigint, text string",
    )
    cand = {(r.batch_id, r.corpus_id) for r in lsh_candidates_for(table, probe).collect()}
    assert (100, 0) in cand
    assert not any(b == 101 for b, _ in cand)
    got = {
        (r.batch_id, r.corpus_id): r.jaccard
        for r in lsh_neardups_for(table, probe, threshold=0.5).collect()
    }
    assert (100, 0) in got and 0.5 <= got[(100, 0)] < 1.0


@pytest.mark.slow
def test_refresh_incremental_and_screening_follows(spark, table):
    build_lsh_index(table)
    # corpus evolves: doc 1 replaced by a BASE near-dup, doc 3 deleted,
    # doc 10 (new, unrelated) inserted
    table.upsert(
        _batch(
            spark,
            [
                (1, BASE.replace("warm sun", "cold sun"), "U"),
                (3, "x", "D"),
                (10, "fresh corpus entry about ocean currents and tides", "I"),
            ],
        ),
        delete_mode="apply",
    )
    n_up, n_del = refresh_lsh_index(table)
    assert (n_up, n_del) == (2, 1)
    probe = spark.createDataFrame([(200, BASE)], "doc_id bigint, text string")
    hits = {r.corpus_id for r in lsh_neardups_for(table, probe, threshold=0.5).collect()}
    assert hits == {0, 1}  # new near-dup copy of doc 1 is indexed
    # deleted doc 3 is out of the index entirely
    from rds_to_datalake_project_spark.operators.sidecar import read_family

    idx_ids = {
        r.doc_id
        for r in read_family(spark, _idx(table), "bands", "doc_id")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert idx_ids == {0, 1, 2, 10}
    assert refresh_lsh_index(table) == (0, 0)  # at head


def test_param_mismatch_forces_rebuild(spark, table):
    build_lsh_index(table, num_hashes=64, bands=16)
    table.upsert(_batch(spark, [(0, BASE + " extra", "U")]))
    # refresh under DIFFERENT banding params must rebuild, not mix
    n_up, n_del = refresh_lsh_index(table, num_hashes=32, bands=8)
    assert (n_up, n_del) == (4, 0)  # full rebuild (4 docs)
    rows = spark.read.parquet(f"{_idx(table)}/bands").count()
    assert rows == 4 * 8  # new banding in force


def test_torn_build_rebuilds(spark, table):
    build_lsh_index(table)
    table.upsert(_batch(spark, [(2, "replaced text entirely different now", "U")]))
    # simulate crash: bands rewritten under a new epoch, _VERSION stale
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{_idx(table)}/bands/_EPOCH")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    out.write(b"torn-epoch")
    out.close()
    assert refresh_lsh_index(table) == (4, 0)  # rebuild
    v, epoch = read_state(spark, _idx(table))
    assert v == table.versions()[-1]


def test_torn_sidecar_screens_with_a_warning(spark, table, caplog):
    """A torn ``bands`` family keeps serving — the streaming dedup
    screens a batch before the commit whose refresh rebuilds the index,
    so refusing would wedge it — but the probe says so, naming the
    sidecar."""
    import logging

    from rds_to_datalake_project_spark.fsio import write_text

    build_lsh_index(table)
    probe = spark.createDataFrame(
        [(100, BASE.replace("lazy dog", "sleepy dog"))], "doc_id bigint, text string"
    )

    def candidates():
        return {(r.batch_id, r.corpus_id) for r in lsh_candidates_for(table, probe).collect()}

    before = candidates()
    assert (100, 0) in before
    write_text(spark, f"{_idx(table)}/bands/_EPOCH", "torn-new-epoch")
    with caplog.at_level(logging.WARNING):
        after = candidates()
    assert after == before
    torn = [r for r in caplog.records if "torn" in r.getMessage()]
    assert len(torn) == 1 and _idx(table) in torn[0].getMessage()


@pytest.mark.slow
def test_attached_maintenance_follows_commits(spark, tmp_path):
    t = KeyedTable(spark, str(tmp_path / "svc"), SPEC, retain_versions=4)
    attach_lsh_maintenance(t)
    t.initial_load(_corpus(spark))
    assert read_state(spark, _idx(t))[0] == 0  # built by first commit
    t.upsert(_batch(spark, [(20, BASE.replace("birds", "bats"), "I")]))
    assert read_state(spark, _idx(t))[0] == t.versions()[-1]
    probe = spark.createDataFrame([(300, BASE)], "doc_id bigint, text string")
    hits = {r.corpus_id for r in lsh_neardups_for(t, probe, threshold=0.5).collect()}
    assert hits == {0, 20}


def test_stream_attach_honors_stored_signature_params(spark, table):
    """streaming.pipeline attaches the LSH service with the EXISTING
    index's stored parameters — not the defaults — so a table indexed
    under md5/32-hash does not get silently rebuilt under xxhash64
    defaults by the first post-commit refresh."""
    from rds_to_datalake_project_spark.streaming.pipeline import (
        _lsh_signature_params,
    )

    # no index yet → defaults
    assert _lsh_signature_params(table) == {
        "num_hashes": 64,
        "bands": 16,
        "shingle_n": 3,
        "hash_mode": "xxhash64",
    }
    build_lsh_index(table, num_hashes=32, bands=8, shingle_n=2,
                    hash_mode="md5")
    assert _lsh_signature_params(table) == {
        "num_hashes": 32,
        "bands": 8,
        "shingle_n": 2,
        "hash_mode": "md5",
    }
