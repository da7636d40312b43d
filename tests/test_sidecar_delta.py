"""Delta-family publish protocol (operators/sidecar.py): refresh I/O
must be ∝ the change set — the base part is never rewritten — and the
chain must fold back into the base at the compaction threshold with
content preserved. Closes VERDICT r8 "What's wrong" #3 (the index
services' full-rewrite refresh)."""

from __future__ import annotations

import pytest
import os

from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    read_delta_log,
    read_family,
)
from rds_to_datalake_project_spark.operators.text_index import (
    build_text_index,
    postings_of,
    read_postings,
    refresh_text_index,
    search_and,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable
from rds_to_datalake_project_spark.schema import TableSpec


def _files(root: str) -> dict[str, tuple[int, float]]:
    """{relpath: (size, mtime)} of every parquet data file under root."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime)
    return out


def _docs(spark, n, tag, start=0):
    rows = [
        (start + i, f"{tag} document number {start + i} about topic {i % 7}", 0)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, seq long")


def _mk(spark, tmp_path, n=200):
    spec = TableSpec(
        "d",
        record_key=("doc_id",),
        precombine_key="seq",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp_path / "t"), spec, retain_versions=16)
    t.initial_load(_docs(spark, n, "base"))
    return t


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, seq long"
    ).withColumn("Op", F.when(F.col("text") == "", "D").otherwise("U"))


def test_lsh_refresh_writes_only_the_change_set(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.lsh_index import (
        _idx,
        build_lsh_index,
        refresh_lsh_index,
    )

    t = _mk(spark, tmp_path)
    build_lsh_index(t)
    base_dir = f"{_idx(t)}/bands"
    base_before = _files(base_dir)
    assert base_before, "build produced no base files"

    t.upsert(
        _batch(
            spark,
            [(3, "edited document three entirely", 1), (500, "brand new", 1)],
        )
    )
    assert refresh_lsh_index(t) == (2, 0)

    # the base part is untouched byte-for-byte — refresh wrote only
    # the delta + tombstone parts
    assert _files(base_dir) == base_before
    log = read_delta_log(spark, _idx(t), "bands")
    assert log is not None and log[1] == [1]
    delta_bytes = sum(
        s for s, _m in _files(f"{_idx(t)}/bands__d0001").values()
    )
    base_bytes = sum(s for s, _m in base_before.values())
    assert 0 < delta_bytes < base_bytes / 4  # 2 docs of 200: far smaller

    # merged view == from-scratch banding of the final corpus
    from rds_to_datalake_project_spark.operators.minhash import band_rows

    merged = read_family(spark, _idx(t), "bands", "doc_id")
    fresh = band_rows(t.read(), "doc_id", "text", 64, 16, 3, "xxhash64")
    assert merged.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(merged).count() == 0


@pytest.mark.slow
def test_text_index_deletes_and_updates_are_incremental(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.text_index import _idir

    t = _mk(spark, tmp_path, n=50)
    build_text_index(t, "doc_id", "text")
    base_before = _files(f"{_idir(t)}/postings")

    # a window with an UPDATE and a DELETE — pre-delta this forced a
    # full rebuild; now it publishes one delta
    t.upsert(
        _batch(
            spark,
            [(1, "replacement text with zebra word", 1), (2, "", 1)],
        ),
        delete_mode="apply",
    )
    assert refresh_text_index(t, "doc_id", "text") == "incremental"
    assert _files(f"{_idir(t)}/postings") == base_before  # base untouched

    # the deleted doc's postings are logically gone, the update's old
    # terms replaced
    assert [r["id"] for r in search_and(t, ["zebra"]).collect()] == [1]
    ids = {r["id"] for r in search_and(t, ["document"]).collect()}
    assert 2 not in ids and 1 not in ids
    # merged == from-scratch postings of the final state
    fresh = postings_of(t.read(), "doc_id", "text")
    stored = read_postings(t).select(
        F.col("bucket").cast("int").alias("bucket"), "term", "id", "tf"
    )
    assert stored.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(stored).count() == 0


@pytest.mark.slow
def test_chain_compacts_at_threshold_and_content_survives(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.lsh_index import (
        _idx,
        build_lsh_index,
        lsh_candidates_for,
        refresh_lsh_index,
    )

    t = _mk(spark, tmp_path, n=40)
    build_lsh_index(t)
    for k in range(DEFAULT_COMPACT_THRESHOLD):
        t.upsert(_batch(spark, [(k, f"rewritten generation {k} text", k + 1)]))
        refresh_lsh_index(t)

    # the threshold-th refresh folded the chain: log empty, dirs gone
    log = read_delta_log(spark, _idx(t), "bands")
    assert log is not None and log[1] == []
    assert not os.path.exists(f"{_idx(t)}/bands__d0001")
    assert not os.path.exists(f"{_idx(t)}/bands__t0001")

    # content identical to a from-scratch banding of the final corpus
    from rds_to_datalake_project_spark.operators.minhash import band_rows

    merged = read_family(spark, _idx(t), "bands", "doc_id")
    fresh = band_rows(t.read(), "doc_id", "text", 64, 16, 3, "xxhash64")
    assert merged.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(merged).count() == 0

    # and the service still screens correctly post-compaction
    probe = spark.createDataFrame(
        [(9000, "rewritten generation 3 text")], "doc_id bigint, text string"
    )
    hits = {r.corpus_id for r in lsh_candidates_for(t, probe).collect()}
    assert 3 in hits


def test_ann_refresh_writes_only_the_change_set(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.ann_index import (
        _idx,
        build_ann_index,
        refresh_ann_index,
    )

    spec = TableSpec(
        "e",
        record_key=("vec_id",),
        precombine_key="update_at",
        partition_granularity=None,
    )
    t = KeyedTable(spark, str(tmp_path / "e"), spec, retain_versions=8)
    rows = [
        (i, [float((i * 7 + d) % 13) for d in range(8)], "v0")
        for i in range(300)
    ]
    t.initial_load(
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, update_at string"
        )
    )
    build_ann_index(t)
    base_before = _files(f"{_idx(t)}/codes")

    t.upsert(
        spark.createDataFrame(
            [(5, [1.0] * 8, "v1", "U"), (400, [2.0] * 8, "v1", "I")],
            "vec_id bigint, embedding array<float>, update_at string, Op string",
        )
    )
    assert refresh_ann_index(t) == (2, 0)
    assert _files(f"{_idx(t)}/codes") == base_before  # base untouched
    # the delta carries exactly the change window's rows (byte ratios
    # are meaningless at toy scale — parquet footers dominate)
    assert spark.read.parquet(f"{_idx(t)}/codes__d0001").count() == 2
    assert spark.read.parquet(f"{_idx(t)}/codes__t0001").count() == 2


def test_vacuum_family_removes_only_orphans(spark, tmp_path):
    from rds_to_datalake_project_spark.operators.lsh_index import (
        _idx,
        build_lsh_index,
        lsh_candidates_for,
        refresh_lsh_index,
    )
    from rds_to_datalake_project_spark.operators.sidecar import vacuum_family

    t = _mk(spark, tmp_path, n=30)
    build_lsh_index(t)
    t.upsert(_batch(spark, [(1, "first rewritten text", 1)]))
    refresh_lsh_index(t)

    # fabricate a crash orphan: a delta dir at a gen the log never saw
    orphan = spark.createDataFrame([(999, 0, 0)], "doc_id long, band int, bucket long")
    orphan.write.parquet(f"{_idx(t)}/bands__d0077")

    removed = vacuum_family(spark, _idx(t), "bands")
    assert removed == ["bands__d0077"]
    # the live delta chain is untouched and the service still works
    import os

    assert os.path.exists(f"{_idx(t)}/bands__d0001")
    assert os.path.exists(f"{_idx(t)}/bands__t0001")
    probe = spark.createDataFrame(
        [(900, "first rewritten text")], "doc_id bigint, text string"
    )
    assert 1 in {r.corpus_id for r in lsh_candidates_for(t, probe).collect()}


@pytest.mark.slow
def test_crash_between_family_publishes_replays_and_converges(spark, tmp_path, monkeypatch):
    """Multi-family atomicity: postings delta published, CRASH before
    the doclens publish and the _VERSION advance. The sidecar must
    look stale (not torn), the next refresh must replay the window for
    BOTH families, and the final state must equal a from-scratch
    rebuild — the generation rule absorbs the duplicated postings
    delta."""
    from rds_to_datalake_project_spark.operators import sidecar as sc

    t = _mk(spark, tmp_path, n=40)
    build_text_index(t, "doc_id", "text")
    t.upsert(_batch(spark, [(3, "crashy zebra window", 1)]))

    real_publish = sc.publish_family_delta
    calls = {"n": 0}

    def exploding_publish(*args, **kwargs):
        calls["n"] += 1
        out = real_publish(*args, **kwargs)
        if calls["n"] == 1:  # postings landed; die before doclens
            raise RuntimeError("injected crash between family publishes")
        return out

    monkeypatch.setattr(sc, "publish_family_delta", exploding_publish)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        refresh_text_index(t, "doc_id", "text")
    monkeypatch.setattr(sc, "publish_family_delta", real_publish)

    # stale, not torn: the replayed refresh is still incremental
    assert refresh_text_index(t, "doc_id", "text") == "incremental"
    assert [r["id"] for r in search_and(t, ["zebra"]).collect()] == [3]
    fresh = postings_of(t.read(), "doc_id", "text")
    stored = read_postings(t).select(
        F.col("bucket").cast("int").alias("bucket"), "term", "id", "tf"
    )
    assert stored.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(stored).count() == 0
    # BM25 sees consistent doclens too
    from rds_to_datalake_project_spark.operators.text_index import bm25_search

    got = [r["id"] for r in bm25_search(t, ["zebra"]).collect()]
    assert got == [3]


@pytest.mark.slow
def test_crash_before_log_update_leaves_invisible_orphan(spark, tmp_path, monkeypatch):
    """Crash AFTER the delta data part lands but BEFORE the log lists
    it: the orphan is invisible to readers (log unchanged), the next
    refresh re-publishes the same window AT THE SAME generation
    (overwriting the orphan), and the merged view converges."""
    from rds_to_datalake_project_spark.operators import sidecar as sc
    from rds_to_datalake_project_spark.operators.lsh_index import (
        _idx,
        build_lsh_index,
        lsh_candidates_for,
        refresh_lsh_index,
    )

    t = _mk(spark, tmp_path, n=30)
    build_lsh_index(t)
    t.upsert(_batch(spark, [(5, "orphaned window text", 1)]))

    real_log = sc._write_delta_log
    blow = {"armed": True}

    def exploding_log(*args, **kwargs):
        if blow["armed"]:
            blow["armed"] = False
            raise RuntimeError("injected crash before log update")
        return real_log(*args, **kwargs)

    monkeypatch.setattr(sc, "_write_delta_log", exploding_log)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        refresh_lsh_index(t)

    # log unchanged → reader sees the PRE-window index, consistent
    log = sc.read_delta_log(spark, _idx(t), "bands")
    assert log is None or log[1] == []
    # replay: same gen re-published over the orphan, now visible
    assert refresh_lsh_index(t) == (1, 0)
    probe = spark.createDataFrame(
        [(900, "orphaned window text")], "doc_id bigint, text string"
    )
    assert 5 in {r.corpus_id for r in lsh_candidates_for(t, probe).collect()}
    from rds_to_datalake_project_spark.operators.minhash import band_rows

    merged = read_family(spark, _idx(t), "bands", "doc_id")
    fresh = band_rows(t.read(), "doc_id", "text", 64, 16, 3, "xxhash64")
    assert merged.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(merged).count() == 0


@pytest.mark.slow
def test_randomized_lifecycle_merged_equals_recomputed(spark, tmp_path):
    """Seeded random upsert/delete windows with a LOW compaction
    threshold (forces folds mid-sequence): after every refresh, the
    merged postings AND doclens must equal a from-scratch recompute of
    the live corpus — the delta protocol's defining invariant under
    arbitrary interleavings."""
    import random

    from rds_to_datalake_project_spark.operators.text_index import (
        doclens_of,
        refresh_text_index,
    )
    from rds_to_datalake_project_spark.operators.sidecar import consistent
    from rds_to_datalake_project_spark.operators.text_index import _idir

    rng = random.Random(20260815)
    words = ["alpha", "beta", "gamma", "delta", "omega", "zeta", "kappa"]

    def text():
        return " ".join(rng.choice(words) for _ in range(rng.randint(3, 9)))

    t = _mk(spark, tmp_path, n=25)
    build_text_index(t, "doc_id", "text")
    live_ids = set(range(25))
    for step in range(1, 6):
        ups = rng.sample(sorted(live_ids), rng.randint(1, 3))
        ins = [25 + step * 10 + j for j in range(rng.randint(0, 2))]
        dels = rng.sample(sorted(live_ids - set(ups)), rng.randint(0, 2))
        rows = [(i, text(), step) for i in ups + ins] + [(i, "", step) for i in dels]
        t.upsert(_batch(spark, rows), delete_mode="apply")
        assert refresh_text_index(
            t, "doc_id", "text", compact_threshold=3
        ) == "incremental"
        live_ids = (live_ids | set(ins)) - set(dels)

        fresh_p = postings_of(t.read(), "doc_id", "text")
        stored_p = read_postings(t).select(
            F.col("bucket").cast("int").alias("bucket"), "term", "id", "tf"
        )
        assert stored_p.exceptAll(fresh_p).count() == 0, step
        assert fresh_p.exceptAll(stored_p).count() == 0, step
        from rds_to_datalake_project_spark.operators.sidecar import read_family

        st_d = consistent(spark, _idir(t), families=("doclens",))
        stored_d = read_family(
            spark, _idir(t), "doclens", "id", gens=st_d.gens["doclens"]
        )
        fresh_d = doclens_of(t.read(), "doc_id", "text")
        assert stored_d.exceptAll(fresh_d).count() == 0, step
        assert fresh_d.exceptAll(stored_d).count() == 0, step


def test_service_status_reports_lag_and_chain_lengths(spark, tmp_path):
    """One metadata-only row per attached service: lag > 0 exactly for
    the service that missed a commit; delta-chain lengths surface
    compaction pressure."""
    from pyspark.sql import functions as F

    from rds_to_datalake_project_spark.operators.secondary_index import (
        build_secondary_index,
        refresh_secondary_index,
    )
    from rds_to_datalake_project_spark.operators.sidecar import service_status
    from rds_to_datalake_project_spark.operators.text_index import (
        build_text_index,
    )
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable
    from rds_to_datalake_project_spark.schema import TableSpec

    spec = TableSpec(
        "t", record_key=("k",), precombine_key="seq", partition_granularity=None
    )
    t = KeyedTable(spark, str(tmp_path / "svc"), spec, retain_versions=8)
    t.initial_load(
        spark.createDataFrame(
            [(i, i % 5, f"alpha beta doc{i}", 0) for i in range(40)],
            "k long, grp long, text string, seq long",
        )
    )
    build_secondary_index(t, "grp")
    build_text_index(t, "k", "text")
    rows = {r["service"]: r for r in service_status(t)}
    assert set(rows) == {".secindex_grp", ".textindex"}
    assert all(r["lag"] == 0 for r in rows.values())
    assert set(rows[".textindex"]["families"]) == {"postings", "doclens"}

    # a commit NEITHER service saw (no maintenance hooks attached)
    t.upsert(
        spark.createDataFrame(
            [(100, 1, "gamma doc100", 1)],
            "k long, grp long, text string, seq long",
        ).withColumn("Op", F.lit("U"))
    )
    rows = {r["service"]: r for r in service_status(t)}
    assert rows[".secindex_grp"]["lag"] == 1
    assert rows[".textindex"]["lag"] == 1

    # refresh one: its lag clears, its delta chain grows; the other stays
    assert refresh_secondary_index(t, "grp") == "incremental"
    rows = {r["service"]: r for r in service_status(t)}
    assert rows[".secindex_grp"]["lag"] == 0
    assert rows[".secindex_grp"]["families"]["entries"] == 1
    assert rows[".textindex"]["lag"] == 1


@pytest.mark.slow
def test_read_family_partition_filter_prunes_listing_and_stays_exact(
    spark, tmp_path
):
    """partition_filter reads ONLY the probed bucket directories
    (inputFiles all live under them, across base AND delta legs) and,
    under the caller's IN residual, returns exactly what the unpruned
    read returns — through upserts, deletes, and a no-probed-delta
    window."""
    from rds_to_datalake_project_spark.operators.sidecar import (
        consistent,
        read_family,
    )
    from rds_to_datalake_project_spark.operators.text_index import (
        _bucket_py,
        _idir,
        attach_text_index_maintenance,
    )

    t = _mk(spark, tmp_path, n=120)
    attach_text_index_maintenance(t, "doc_id", "text")
    t.upsert(_batch(spark, [(3, "updated text about topic zebra", 1),
                            (7, "", 1)]))
    t.upsert(_batch(spark, [(200, "fresh doc mentioning quasar", 2)]))

    idx = _idir(t)
    state = consistent(spark, idx, families=("postings",))
    assert state is not None and state.gens["postings"], "needs a live delta chain"
    terms = ["zebra", "topic"]
    buckets = sorted({str(_bucket_py(w)) for w in terms})

    full = read_family(spark, idx, "postings", "id", gens=state.gens["postings"])
    pruned = read_family(
        spark, idx, "postings", "id", gens=state.gens["postings"],
        partition_filter=("bucket", buckets),
    )
    resid = F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    want = sorted(map(tuple, full.filter(resid).collect()))
    got = sorted(map(tuple, pruned.filter(resid).collect()))
    assert got == want and len(got) > 0

    # listing really shrank: every pruned input file sits in a probed
    # bucket dir (tombstone parts are unbucketed and exempt)
    frags = [f"/bucket={b}/" for b in buckets]
    data_files = [f for f in pruned.inputFiles() if "__t" not in f]
    assert data_files and all(
        any(fr in f for fr in frags) for f in data_files
    )
    assert len(set(pruned.inputFiles())) < len(set(full.inputFiles()))

    # probing buckets that exist nowhere: base falls back (schema
    # source), residual keeps the answer exactly empty
    none = read_family(
        spark, idx, "postings", "id", gens=state.gens["postings"],
        partition_filter=("bucket", ["999999"]),
    )
    assert none.filter(F.col("bucket").isin(["999999"])).count() == 0
