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

The sidecar under ``<table>/.lshindex`` is one delta family,
``bands`` (one ``id, band, bucket`` row per (doc, band)), in the
sidecar lifecycle (operators/sidecar.py). Its params are the
signature parameters (num_hashes/bands/shingle_n/hash_mode): a
refresh under others would silently mix incompatible bucket spaces,
so a mismatch rebuilds under the caller's parameters. A refresh
re-bands only the change window's upserted docs — cost ∝ rows
changed.

Query paths:
- ``lsh_candidates_for(table, batch)``: candidate (batch_id, corpus
  id) pairs sharing ≥1 band bucket.
- ``lsh_neardups_for(table, batch)``: candidates verified by exact
  n-gram Jaccard against the CURRENT corpus text (only candidate
  corpus rows are fetched — a semi-join-sized read, not a scan).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.minhash import band_rows
from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    Delta,
    Part,
    Sidecar,
    consistent,
    head_version,
    publish_build,
    read_family,
    read_params,
    refresh,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

_DIR = ".lshindex"
_LOG = logging.getLogger(__name__)


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
    return read_params(table.spark, _idx(table))


def build_lsh_index(
    table: KeyedTable,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> int:
    """Full (re)build: band the current corpus under these params.
    Returns (doc, band) rows written."""
    params = _params(num_hashes, bands, shingle_n, hash_mode)
    version = head_version(table)
    banded = band_rows(table.read(), id_col, text_col, **params)
    publish_build(
        table.spark,
        Sidecar(_idx(table), families=("bands",), params=params),
        version,
        [Part("bands", banded)],
    )
    return table.spark.read.parquet(f"{_idx(table)}/bands").count()


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
    version — only the change window's re-banded rows plus a
    touched-id tombstone are written, so maintenance I/O is ∝ the
    change set, not the signature table. Returns
    ``(n_rebanded_docs, n_deleted_docs)``; a rebuild (no or torn
    index, parameter mismatch, vacuumed indexed version) reports
    ``(docs, 0)``."""
    params = _params(num_hashes, bands, shingle_n, hash_mode)
    mode, out = refresh(
        table,
        Sidecar(_idx(table), families=("bands",), params=params),
        lambda: build_lsh_index(table, id_col, text_col, **params),
        lambda w: [Delta(
            "bands", band_rows(w.upserts, id_col, text_col, **params),
            w.changes.select(id_col),  # every changed key leaves the index
            id_col,
        )],
        compact_threshold,
    )
    if mode == "rebuild":
        return (out // max(bands, 1), 0)
    return out.counts() if mode == "incremental" else (0, 0)


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
    lsh_candidate_pairs).

    A torn sidecar (``sidecar.consistent`` fails) still screens, with
    a warning: the streaming dedup screens a batch BEFORE the commit
    whose maintenance rebuilds the index, so refusing would wedge it."""
    params = _stored_params(table)
    if params is None:
        raise ValueError(
            "no LSH index under this table — run build_lsh_index first"
        )
    spark = table.spark
    if consistent(spark, _idx(table), families=("bands",)) is None:
        _LOG.warning(
            "LSH sidecar %s is torn (its parts disagree on the build "
            "epoch); screening with it until the next refresh rebuilds it",
            _idx(table),
        )
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
    from rds_to_datalake_project_spark.operators.minhash import shingles

    # raises first when the table has no LSH index
    cand = lsh_candidates_for(
        table, batch, id_col, text_col, max_bucket_size
    )
    n = _stored_params(table)["shingle_n"]
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
    runs ``refresh_lsh_index`` in the post-commit maintenance slot.
    Attach before the first load and that load builds the index."""
    table.add_maintenance_hook(
        lambda t: refresh_lsh_index(
            t, id_col, text_col, num_hashes, bands, shingle_n, hash_mode
        )
    )
    # Marker so composing call sites (streaming dedup-at-ingest) can
    # tell "LSH service attached" apart from "has some other hook".
    table._lsh_attached = True
