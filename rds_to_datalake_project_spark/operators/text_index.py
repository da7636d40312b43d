"""Persisted inverted text index — keyword search over a lake table
without scanning the corpus.

The search-side analog of the other table services (zone map, bloom,
LSH, ANN): a ``<table>/.textindex`` sidecar holding the posting table
``(bucket, term, id, tf)``, hive-partitioned by a 256-way term-hash
``bucket`` so an N-term query prunes to ≤N partition directories at
the file-listing level and pushes ``term IN (...)`` into the parquet
scan. Query cost ∝ the queried terms' posting lists — never the
corpus.

Tokenization matches the text-operator family (operators/text.py):
lowercase, ``[^a-z]+`` splits, empties dropped — so the DuckDB twin
(``regexp_split_to_array``) reproduces postings bit-for-bit.

Maintenance: postings and doclens are two delta families in the
sidecar lifecycle (operators/sidecar.py), so inserts, updates and
deletes all refresh incrementally — a deleted/updated document's old
postings are tombstoned, never physically rewritten until the chain
compacts.

AND-search semantics: a document matches when it contains EVERY query
term; rank = Σ tf over the query terms (ties broken by id). Scale:
the per-term posting read is a pruned scan; the AND is one
``groupBy(id)`` over ≤ |terms| posting lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    Delta,
    Part,
    Sidecar,
    consistent,
    head_version,
    publish_build,
    read_family,
    refresh,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

_INDEX_DIR = ".textindex"
N_BUCKETS = 256

# Diagnostics: cumulative posting-bucket pruning since reset —
# bench.py reports these as the search path's I/O-avoided metric
# (wall time at sf0.1 cannot show what directory pruning buys at
# 100×; buckets skipped can).
LAST_SEARCH: dict = {}


def reset_search_stats() -> None:
    LAST_SEARCH.clear()


def _probe_buckets(want: list[str]) -> list[str]:
    """The query terms' posting buckets, recorded as the search-path
    pruning stat AND returned for the actual partition filter — one
    computation, so the reported buckets can never diverge from the
    buckets probed."""
    buckets = sorted({str(_bucket_py(t)) for t in want})
    LAST_SEARCH["searches"] = LAST_SEARCH.get("searches", 0) + 1
    LAST_SEARCH["terms"] = LAST_SEARCH.get("terms", 0) + len(want)
    LAST_SEARCH["buckets_total"] = LAST_SEARCH.get("buckets_total", 0) + N_BUCKETS
    LAST_SEARCH["buckets_probed"] = LAST_SEARCH.get("buckets_probed", 0) + len(
        buckets
    )
    LAST_SEARCH["buckets_skipped"] = (
        LAST_SEARCH["buckets_total"] - LAST_SEARCH["buckets_probed"]
    )
    return buckets


def _idir(table: KeyedTable) -> str:
    return f"{table.path}/{_INDEX_DIR}"


def _term_bucket(term) -> F.Column:
    # md5-based so the oracle twin can address the same buckets
    return (
        F.conv(F.substring(F.md5(term.cast("binary")), 1, 15), 16, 10).cast("long")
        % N_BUCKETS
    ).cast("int")


def postings_of(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(bucket, term, id, tf)`` posting rows for a document frame —
    one map-side explode + one (term, id) aggregation."""
    toks = F.explode(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z]+")
    ).alias("term")
    flat = df.select(F.col(id_col).alias("id"), toks).filter(F.col("term") != "")
    return (
        flat.groupBy("term", "id")
        .agg(F.count("*").alias("tf"))
        .select(
            _term_bucket(F.col("term")).alias("bucket"), "term", "id", "tf"
        )
    )


def doclens_of(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, dl)`` — total token count per document under the same
    tokenizer as the postings (= Σ tf over the doc's terms). Docs with
    zero tokens are excluded, matching a postings-derived length
    relation; they can never match a query anyway. BM25's length
    normalization reads this slim relation instead of re-aggregating
    the (much larger) postings."""
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z]+")
    dl = F.size(F.filter(toks, lambda x: x != F.lit("")))
    return (
        df.select(F.col(id_col).alias("id"), dl.cast("long").alias("dl"))
        .filter(F.col("dl") > 0)
    )


_FAMILIES = ("postings", "doclens")


def _sidecar(table: KeyedTable, id_col: str, text_col: str) -> Sidecar:
    params = {"id_col": id_col, "text_col": text_col}
    return Sidecar(_idir(table), families=_FAMILIES, params=params)


def _posting_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # partition columns read back as strings
    return postings_of(df, id_col, text_col).withColumn(
        "bucket", F.col("bucket").cast("string")
    )


def build_text_index(table: KeyedTable, id_col: str, text_col: str) -> None:
    """Full (re)build over the current snapshot: the term-bucketed
    postings (directory pruning at query time) plus the doclens
    relation BM25's length normalization needs."""
    version = head_version(table)
    corpus = table.read().select(id_col, text_col).cache()
    try:
        publish_build(table.spark, _sidecar(table, id_col, text_col), version, [
            Part("postings", _posting_rows(corpus, id_col, text_col),
                 partition_by=["bucket"]),
            Part("doclens", doclens_of(corpus, id_col, text_col)),
        ])
    finally:
        corpus.unpersist()


def read_postings(
    table: KeyedTable, buckets: list[str] | None = None
) -> DataFrame | None:
    """The merged posting relation (base ∪ deltas, tombstones applied)
    IF the sidecar is consistent, else None. ``buckets`` prunes the
    directory listing to the probed bucket dirs (advisory — callers
    keep their bucket IN filter)."""
    state = consistent(table.spark, _idir(table), families=("postings",))
    if state is None:
        return None
    return read_family(
        table.spark,
        _idir(table),
        "postings",
        "id",
        gens=state.gens["postings"],
        partition_filter=("bucket", buckets) if buckets else None,
    )


def refresh_text_index(
    table: KeyedTable,
    id_col: str,
    text_col: str,
    compact_threshold: int = DEFAULT_COMPACT_THRESHOLD,
) -> str:
    """Bring the index to the table's latest commit by publishing the
    change window as a delta of both families: the window's postings
    and doclens (inserts and the NEW text of updates) plus a tombstone
    of every touched id — so updates and deletes are as incremental as
    inserts, and refresh I/O is ∝ batch. Returns ``"noop" |
    "incremental" | "rebuild"``."""

    def deltas(w):
        touched = w.changes.select(F.col(id_col).alias("id"))
        return [
            Delta("postings", _posting_rows(w.upserts, id_col, text_col),
                  touched, "id", ["bucket"]),
            Delta("doclens", doclens_of(w.upserts, id_col, text_col),
                  touched, "id"),
        ]

    return refresh(
        table, _sidecar(table, id_col, text_col),
        lambda: build_text_index(table, id_col, text_col),
        deltas, compact_threshold,
    )[0]


def attach_text_index_maintenance(
    table: KeyedTable, id_col: str, text_col: str
) -> None:
    """Enroll the inverted index in the post-commit maintenance slot."""
    table.add_maintenance_hook(
        lambda t: refresh_text_index(t, id_col, text_col)
    )


def search_and(
    table: KeyedTable, terms: list[str], limit: int | None = None
) -> DataFrame:
    """Documents containing EVERY term, ranked by Σ tf descending
    (tie-break: id ascending). ``(id, rank)``; raises if the sidecar
    is missing/torn — search never silently degrades to a corpus
    scan."""
    if not terms:
        raise ValueError("terms must be non-empty")
    want = sorted({t.lower() for t in terms})
    probe = _probe_buckets(want)
    posts = read_postings(table, buckets=probe)
    if posts is None:
        raise ValueError("text index missing or torn — build_text_index first")
    # bucket filter prunes partition dirs; term filter pushes to parquet
    hits = posts.filter(
        F.col("bucket").isin(probe) & F.col("term").isin(want)
    )
    matched = (
        hits.groupBy("id")
        .agg(
            F.countDistinct("term").alias("__nt"),
            F.sum("tf").alias("rank"),
        )
        .filter(F.col("__nt") == len(want))
        .select("id", "rank")
        .orderBy(F.col("rank").desc(), F.col("id"))
    )
    return matched.limit(limit) if limit else matched


def _bucket_py(term: str) -> int:
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % N_BUCKETS


def bm25_search(
    table: KeyedTable,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    limit: int | None = None,
) -> DataFrame:
    """BM25-ranked AND-search served entirely from the sidecar —
    ``(id, score)`` for documents containing EVERY term, best first
    (tie-break: id).

    BIT-EXACT cross-engine by construction: the classic ln() idf is
    replaced with the rational Robertson-Sparck-Jones core
    ``(N - df + 0.5) / (df + 0.5)`` (no transcendentals — libm's ln
    differs by ULPs across engines), and every remaining operation is
    IEEE-754 double +/-/*/÷, which IS exactly specified, evaluated in
    a FIXED expression tree: per-term scores in sorted-term order,
    summed left-associatively. An oracle writing the same tree
    reproduces the doubles bit for bit.

    Scale shape: the postings read prunes to the query terms' bucket
    directories; df per term is a ≤|terms|-row collect off those
    posting lists; global (N, Σdl) is ONE aggregate over the slim
    doclens relation; candidates join doclens on id (broadcast-sized
    after the AND filter). The corpus is never scanned.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    want = sorted({t.lower() for t in terms})
    spark = table.spark
    state = consistent(spark, _idir(table), families=_FAMILIES)
    if state is None:
        raise ValueError(
            "text index missing, torn, or pre-BM25 (no doclens) — "
            "build_text_index first"
        )
    probe = _probe_buckets(want)
    posts = read_family(
        spark,
        _idir(table),
        "postings",
        "id",
        gens=state.gens["postings"],
        partition_filter=("bucket", probe),
    )
    dls = read_family(
        spark, _idir(table), "doclens", "id", gens=state.gens["doclens"]
    )

    hits = posts.filter(
        F.col("bucket").isin(probe) & F.col("term").isin(want)
    )
    # ONE driver round-trip for all scoring statistics: the per-term
    # document frequencies and the global (N, Σdl) union into a single
    # collect (the NULL-term row carries the globals) — the same
    # values the two separate jobs produced, so the fixed bit-exact
    # scoring tree below is untouched; only the job count per search
    # drops from 3 to 2.
    stat_rows = (
        hits.groupBy("term")
        .agg(
            F.countDistinct("id").alias("a"),
            F.lit(0).cast("long").alias("b"),
        )
        .unionByName(
            dls.agg(
                F.count(F.lit(1)).alias("a"),
                F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("b"),
            ).select(F.lit(None).cast("string").alias("term"), "a", "b")
        )
        .collect()
    )
    n_docs, total, dfs = 0, 0, {}
    for r in stat_rows:
        if r["term"] is None:
            n_docs, total = int(r["a"]), int(r["b"])
        else:
            dfs[r["term"]] = int(r["a"])
    if n_docs == 0:
        return dls.select(
            F.col("id"), F.lit(0.0).alias("score")
        ).limit(0)
    avgdl = total / n_docs  # python float division == IEEE double
    agg = (
        hits.groupBy("id")
        .agg(
            F.countDistinct("term").alias("__nt"),
            *[
                F.max(F.when(F.col("term") == t, F.col("tf"))).alias(f"__tf{i}")
                for i, t in enumerate(want)
            ],
        )
        .filter(F.col("__nt") == len(want))
    )
    cand = agg.join(dls, "id")
    score = None
    for i, t in enumerate(want):
        df_t = dfs.get(t, 0)
        idf = ((n_docs - df_t) + 0.5) / (df_t + 0.5)  # rational idf, driver-side
        tf = F.col(f"__tf{i}").cast("double")
        den = tf + F.lit(float(k1)) * (
            F.lit(1.0 - float(b))
            + F.lit(float(b)) * (F.col("dl").cast("double") / F.lit(avgdl))
        )
        s = F.lit(idf) * ((tf * F.lit(float(k1) + 1.0)) / den)
        score = s if score is None else score + s
    out = cand.select("id", score.alias("score")).orderBy(
        F.col("score").desc(), F.col("id")
    )
    return out.limit(limit) if limit else out
