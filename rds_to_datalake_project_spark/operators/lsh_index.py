"""Persisted MinHash-LSH signature index — corpus dedup as a TABLE
SERVICE.

``minhash_neardup`` re-shingles and re-signs the whole corpus on
every run — right as a batch operator, wrong for the standing
workload a 100-TB training-data lake actually has: "does THIS
incoming batch duplicate anything already ingested?". This module
persists the banded-signature relation (operators/minhash.band_rows)
under the table and maintains it incrementally from the lake's own
commit history, so screening a batch costs one banding pass over the
BATCH plus one (band, bucket) equi-join against the index — the
corpus is never re-read, let alone re-signed.

Sidecar layout under ``<table>/.lshindex`` (epoch-stamped commit
protocol shared with the ANN index — operators/sidecar.py):

- ``bands``    one row per (doc, band): ``id, band, bucket``.
- ``_PARAMS``  the signature parameters (num_hashes/bands/shingle_n/
  hash_mode) the index was built with; a refresh under different
  parameters would silently mix incompatible bucket spaces, so any
  mismatch forces a rebuild under the caller's parameters.
- ``_VERSION`` ``"<base-table commit version> <build epoch>"``.

Incremental maintenance consumes ``KeyedTable.table_changes(indexed,
latest)``: deleted/replaced ids anti-join out, upserted docs are
re-banded — cost ∝ rows changed. Vacuumed-out indexed versions and
torn builds (epoch mismatch) fall back to a full rebuild.

Query paths:
- ``lsh_candidates_for(table, batch)``: candidate (batch_id, corpus
  id) pairs sharing ≥1 band bucket.
- ``lsh_neardups_for(table, batch)``: candidates verified by exact
  n-gram Jaccard against the CURRENT corpus text (only candidate
  corpus rows are fetched — a semi-join-sized read, not a scan).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio
from rds_to_datalake_project_spark.operators.minhash import band_rows
from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    clear_delta_log,
    family_consistent,
    publish_family_delta,
    read_family,
    write_part,
    write_state,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

_DIR = ".lshindex"


def _idx(table: KeyedTable) -> str:
    return f"{table.path.rstrip('/')}/{_DIR}"


def _params(
    num_hashes: int, bands: int, shingle_n: int, hash_mode: str
) -> dict:
    return {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "hash_mode": hash_mode,
    }


def _stored_params(table: KeyedTable) -> dict | None:
    txt = fsio.read_text(table.spark, f"{_idx(table)}/_PARAMS")
    if not txt:
        return None
    try:
        return json.loads(txt)
    except ValueError:
        return None


def build_lsh_index(
    table: KeyedTable,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> int:
    """Full (re)build: band the current corpus, stamp params, version
    and a fresh epoch. Returns (doc, band) rows written."""
    spark = table.spark
    epoch = uuid.uuid4().hex
    version = (table.versions() or [0])[-1]
    banded = band_rows(
        table.read(), id_col, text_col, num_hashes, bands, shingle_n, hash_mode
    )
    out = write_part(spark, _idx(table), "bands", banded, epoch)
    # A rebuild starts a fresh flat layout — any prior delta chain is
    # dead (its epoch no longer matches) and must be unlinked or every
    # later consistency check would read it as torn.
    clear_delta_log(spark, _idx(table), "bands")
    # Params BEFORE _VERSION: a refresh only trusts the index once the
    # epoch chain closes, and by then the parameter record is in place.
    fsio.write_text(
        spark,
        f"{_idx(table)}/_PARAMS",
        json.dumps(_params(num_hashes, bands, shingle_n, hash_mode)),
    )
    write_state(spark, _idx(table), version, epoch)
    return out.count()


def refresh_lsh_index(
    table: KeyedTable,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> tuple[int, int]:
    """Reconcile the signature index with commits since the indexed
    version — DELTA-PUBLISHED (sidecar.publish_family_delta): the
    refresh writes only the change window's re-banded rows plus a
    touched-id tombstone, so maintenance I/O is ∝ the change set, not
    the signature table (the r8 full-rewrite union is gone). Readers
    merge base+deltas; the chain folds into the base every
    ``DEFAULT_COMPACT_THRESHOLD`` refreshes. Returns
    ``(n_rebanded_docs, n_deleted_docs)``. Falls back to a full
    rebuild when no/torn index, parameter mismatch, or the indexed
    version was vacuumed out."""
    spark = table.spark
    latest = (table.versions() or [0])[-1]
    state = family_consistent(spark, _idx(table), "bands")
    if (
        state is None
        or state[0] not in table.readable_versions()
        or _stored_params(table)
        != _params(num_hashes, bands, shingle_n, hash_mode)
    ):
        n = build_lsh_index(
            table, id_col, text_col, num_hashes, bands, shingle_n, hash_mode
        )
        return (n // max(bands, 1), 0)
    v0, epoch, gens = state
    if v0 == latest:
        return (0, 0)
    changes = table.table_changes(v0, latest)
    upserts = changes.filter(F.col("_change_type") != "delete")
    fresh = band_rows(
        upserts, id_col, text_col, num_hashes, bands, shingle_n, hash_mode
    )
    n_up = upserts.count()
    n_del = changes.filter(F.col("_change_type") == "delete").count()
    publish_family_delta(
        spark,
        _idx(table),
        "bands",
        fresh,
        changes.select(id_col),  # every changed key leaves the index
        id_col,
        latest,
        epoch,
        gens,
        compact_threshold=compact_threshold,
    )
    return (n_up, n_del)


def lsh_candidates_for(
    table: KeyedTable,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup CANDIDATES of ``batch`` against the indexed corpus:
    band the batch with the index's own parameters, equi-join on
    (band, bucket). Returns distinct ``(batch_id, corpus_id)`` —
    directed, and batch self-pairs are excluded by id inequality, so
    a batch row that already lives in the corpus pairs with its own
    indexed copy only if ids differ. ``max_bucket_size`` drops corpus
    mega-buckets before the join (same bounded-recall guard as
    lsh_candidate_pairs)."""
    params = _stored_params(table)
    if params is None:
        raise ValueError(
            "no LSH index under this table — run build_lsh_index first"
        )
    spark = table.spark
    corpus = read_family(spark, _idx(table), "bands", id_col)
    if max_bucket_size is not None:
        big = (
            corpus.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .drop("__n")
        )
        corpus = corpus.join(big, ["band", "bucket"], "left_anti")
    probe = band_rows(
        batch,
        id_col,
        text_col,
        params["num_hashes"],
        params["bands"],
        params["shingle_n"],
        params["hash_mode"],
    )
    p = probe.select(
        F.col(id_col).alias("batch_id"), "band", "bucket"
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), "band", "bucket"
    )
    return (
        p.join(c, ["band", "bucket"])
        .filter(F.col("batch_id") != F.col("corpus_id"))
        .select("batch_id", "corpus_id")
        .distinct()
    )


def lsh_neardups_for(
    table: KeyedTable,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Verified near-duplicates of ``batch`` against the corpus:
    candidates from the index, exact n-gram Jaccard on candidate rows
    only. Corpus text is fetched for CANDIDATE ids alone (semi-join
    pushdown), so the verify cost tracks the candidate set, not the
    table. Output: ``batch_id, corpus_id, jaccard``."""
    params = _stored_params(table)
    if params is None:
        raise ValueError(
            "no LSH index under this table — run build_lsh_index first"
        )
    from rds_to_datalake_project_spark.operators.minhash import shingles

    n = params["shingle_n"]
    cand = lsh_candidates_for(
        table, batch, id_col, text_col, max_bucket_size
    )
    # Each side shingled FROM ITS OWN frame (a batch id that collides
    # with a corpus id keeps its batch text on the a-side and the
    # corpus text on the b-side — no ambiguity); corpus text fetched
    # for candidate ids only via semi-join pushdown.
    corpus_rows = table.read().join(
        cand.select(F.col("corpus_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    a_sh = batch.select(
        F.col(id_col).alias("batch_id"), shingles(text_col, n).alias("__a")
    )
    b_sh = corpus_rows.select(
        F.col(id_col).alias("corpus_id"), shingles(text_col, n).alias("__b")
    )
    inter = F.size(F.array_intersect("__a", "__b"))
    union = F.size(F.array_union("__a", "__b"))
    return (
        cand.join(a_sh, "batch_id")
        .join(b_sh, "corpus_id")
        .select(
            "batch_id",
            "corpus_id",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def attach_lsh_maintenance(
    table: KeyedTable,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> None:
    """Enroll the signature index as a table service: every commit
    triggers ``refresh_lsh_index`` in the post-commit maintenance slot
    (KeyedTable.add_maintenance_hook). Attach before the first load
    and the first commit builds the index."""
    table.add_maintenance_hook(
        lambda t: refresh_lsh_index(
            t, id_col, text_col, num_hashes, bands, shingle_n, hash_mode
        )
    )
    # Marker so composing call sites (streaming dedup-at-ingest) can
    # tell "LSH service attached" apart from "has some other hook".
    table._lsh_attached = True
