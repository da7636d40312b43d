"""Mergeable distribution sketches — HyperLogLog registers and
Count-Min counters as maintained table artifacts.

At 100 TB, "how many distinct users" and "which keys are hot" cannot
be COUNT(DISTINCT) / GROUP BY sweeps on demand: the answers must live
in a tiny mergeable artifact that (a) is built with one scan and
map-side partial aggregation, (b) merges across partitions / days /
tables with a set-union-like operation, and (c) follows the table
incrementally from the commit log. The reference has no sketch layer
(its scale ceiling never required one — counts come from
``show_df_details`` eyeballing, glue_jobs/initial_load.py:77-85);
Spark's own ``approx_count_distinct`` is HLL++ but its state is
opaque — not persistable, not mergeable across separately-built
tables, not oracle-checkable. These sketches are plain DataFrames of
integers, so every build/merge/estimate step is exact, deterministic,
and cross-engine reproducible.

Sketch state:

- **HLL register table** — ``(bucket, rho)``, at most ``2^p`` rows.
  ``bucket`` = low ``p`` bits of a 60-bit hash; ``rho`` = position of
  the first set bit of the remaining ``60-p`` bits (1-based; the
  all-zero remainder maps to ``60-p+1``). Merging = union + max per
  bucket, the HLL union law — registers built over disjoint (or
  overlapping!) row sets merge into exactly the registers of the
  combined set. Estimation is the standard bias-corrected harmonic
  mean with linear counting for the small range; the harmonic sum is
  carried in EXACT integer arithmetic (terms are powers of two
  scaled to ``2^(60-p+1)``), so the estimate is bit-stable across
  engines and partition orders.
- **CMS counter table** — ``(row, bucket, cnt)``, at most
  ``depth × width`` rows. Each item increments one bucket per hash
  row; a key's count estimate is the MIN over its ``depth`` buckets
  (never an under-count, over-count bounded by ``2N/width`` w.h.p.).
  Counters are signed sums, so the sketch is a *turnstile* sketch:
  deletes subtract, and incremental maintenance from the table's
  changes feed (insert/delete/update pre+post) keeps it EXACTLY equal
  to a fresh build over the current snapshot.

Maintenance (``attach_sketch_maintenance``): the two sketches are
plain parts in the sidecar lifecycle (operators/sidecar.py). CMS
refreshes incrementally — cost ∝ change set via
``table_changes(include_preimage=True)``. HLL registers only grow
(a set sketch forgets nothing), so deletes schedule a full rebuild;
insert/update refreshes merge just the new values' registers.

Scale shape: build = one scan, map-side partial max/sum, shuffle of
at most ``2^p`` / ``depth×width`` rows; merge and estimate never read
the base table. Hash modes follow the repo convention: ``xxhash64``
(prod, JVM-codegen) and ``md5`` (cross-engine oracle twin).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.sidecar import (
    Part,
    Sidecar,
    consistent,
    head_version,
    publish_build,
    refresh,
)
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

_HASH_BITS = 60  # 15 hex chars of md5 — fits a signed long, both engines


def _h60(col: Column, hash_mode: str) -> Column:
    """Non-negative 60-bit hash of ``col``'s string form."""
    s = col.cast("string")
    if hash_mode == "md5":
        return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        )
    if hash_mode == "xxhash64":
        return F.shiftrightunsigned(F.xxhash64(s), 64 - _HASH_BITS)
    raise ValueError(f"hash_mode must be 'xxhash64' or 'md5', got {hash_mode!r}")


# --- HyperLogLog ------------------------------------------------------------


def hll_registers(
    df: DataFrame, col: str, p: int = 12, hash_mode: str = "xxhash64"
) -> DataFrame:
    """One-scan HLL register table ``(bucket int, rho int)`` for the
    values of ``col`` (nulls ignored, as COUNT(DISTINCT) does).

    ``groupBy(bucket).max(rho)`` does the map-side partial max before
    the ≤``2^p``-row shuffle — the scan dominates, never the sketch.
    """
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    m = 1 << p
    k = _HASH_BITS - p
    h = _h60(F.col(col), hash_mode)
    bucket = (h % m).cast("int")
    v = F.floor(h / m).cast("long")  # remaining 60-p bits
    # first-set-bit position of v within k bits: k - bitlength(v) + 1
    rho = (
        F.when(v == 0, F.lit(k + 1))
        .otherwise(F.lit(k) - F.length(F.bin(v)) + 1)
        .cast("int")
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*registers: DataFrame) -> DataFrame:
    """HLL union: registers of A ∪ B = per-bucket max. Inputs may
    come from different tables, days, or partitions — overlap is
    fine (that is the point of a set sketch)."""
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    return out.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, p: int) -> DataFrame:
    """One-row frame ``(est_distinct long, n_buckets int,
    empty_buckets int)`` from a register table.

    The harmonic denominator ``sum(2^-rho)`` is computed as an exact
    integer sum of ``2^(k+1-rho)`` scaled by ``T = 2^(k+1)`` (every
    term ≥ 1, total < 2^63), so the only floating-point steps are one
    multiply/divide chain written identically in the SQL twin —
    bit-stable across engines and aggregation orders."""
    m = 1 << p
    k = _HASH_BITS - p
    t_scale = 1 << (k + 1)
    alpha = 0.7213 / (1.0 + 1.079 / m)  # standard bias term, m >= 128
    agg = registers.agg(
        F.count("*").cast("int").alias("nb"),
        F.sum(F.expr(f"shiftleft(1L, {k + 1} - rho)")).alias("s_nonempty"),
    )
    nb = F.col("nb")
    empty = (F.lit(m) - nb).cast("int")
    s_int = F.coalesce(F.col("s_nonempty"), F.lit(0)) + empty.cast("long") * F.lit(
        t_scale
    )
    raw = F.lit(alpha * m * m * float(t_scale)) / s_int.cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double"))
    est = F.when((raw <= 2.5 * m) & (empty > 0), lc).otherwise(raw)
    return agg.select(
        F.floor(est + 0.5).cast("long").alias("est_distinct"),
        nb.alias("n_buckets"),
        empty.alias("empty_buckets"),
    )


# --- Count-Min --------------------------------------------------------------


def cms_counters(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    weight: Column | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """One-scan CMS counter table ``(row int, bucket int, cnt long)``.

    ``weight`` defaults to +1 per input row; pass a signed column to
    build turnstile updates (the incremental-maintenance path). The
    per-item explode is ``depth`` rows wide — map-side — and the
    shuffle is the ≤``depth×width``-row counter aggregation."""
    if depth < 1 or width < 2:
        raise ValueError(f"bad CMS shape depth={depth} width={width}")
    w = weight if weight is not None else F.lit(1).cast("long")
    rows = df.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("string").alias("__v"), w.alias("__w")
    )
    exploded = rows.select(
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row"),
        "__v",
        "__w",
    )
    bucket = (
        _h60(F.concat_ws("|", F.col("row").cast("string"), F.col("__v")), hash_mode)
        % width
    ).cast("int")
    return (
        exploded.select("row", bucket.alias("bucket"), "__w")
        .groupBy("row", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(*counters: DataFrame) -> DataFrame:
    """CMS union: counter tables add cell-wise (signed — a turnstile
    delta sheet merges the same way as a base sketch)."""
    out = counters[0]
    for c in counters[1:]:
        out = out.unionByName(c)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_point_estimates(
    counters: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 2048,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Estimated count per key in ``keys`` — MIN over the ``depth``
    probed cells, absent cells read 0. ``keys`` is data, not a driver
    list: the probe is ``|keys|×depth`` rows equi-joined against the
    ≤``depth×width``-row counter table (broadcast by AQE), so bulk
    probes scale with the probe set, never the corpus."""
    probes = keys.select(F.col(key_col).cast("string").alias("__v")).distinct()
    probes = probes.select(
        "__v",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row"),
    )
    probes = probes.withColumn(
        "bucket",
        (
            _h60(
                F.concat_ws("|", F.col("row").cast("string"), F.col("__v")),
                hash_mode,
            )
            % width
        ).cast("int"),
    )
    joined = probes.join(counters, ["row", "bucket"], "left")
    return joined.groupBy("__v").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
    ).select(F.col("__v").alias(key_col), "est_count")


# --- maintained sidecar -----------------------------------------------------

_SKETCH_DIR = ".sketch"


def _sdir(table: KeyedTable) -> str:
    return f"{table.path}/{_SKETCH_DIR}"


_PARTS = ("hll", "cms")


def _sidecar(
    table: KeyedTable, col: str, p: int, depth: int, width: int, hash_mode: str
) -> Sidecar:
    params = {"col": col, "p": p, "depth": depth, "width": width,
              "hash_mode": hash_mode}
    return Sidecar(_sdir(table), parts=_PARTS, params=params)


def build_sketches(
    table: KeyedTable,
    col: str,
    p: int = 12,
    depth: int = 4,
    width: int = 2048,
    hash_mode: str = "xxhash64",
) -> None:
    """Full (re)build of both sketches over the current snapshot —
    one epoch, one scan per sketch, sidecar stamped at the table's
    latest commit."""
    version = head_version(table)
    base = table.read()
    publish_build(
        table.spark, _sidecar(table, col, p, depth, width, hash_mode), version, [
            Part("hll", hll_registers(base, col, p, hash_mode), coalesce=1),
            Part("cms", cms_counters(base, col, depth, width, hash_mode=hash_mode),
                 coalesce=1),
        ],
    )


def read_sketches(table: KeyedTable) -> tuple[DataFrame, DataFrame] | None:
    """(hll_registers, cms_counters) IF the sidecar is consistent
    (epochs agree — torn or missing state reads as absent, never as a
    trusted stale artifact)."""
    if consistent(table.spark, _sdir(table), parts=_PARTS) is None:
        return None
    d = _sdir(table)
    return table.spark.read.parquet(f"{d}/hll"), table.spark.read.parquet(f"{d}/cms")


def refresh_sketches(
    table: KeyedTable,
    col: str,
    p: int = 12,
    depth: int = 4,
    width: int = 2048,
    hash_mode: str = "xxhash64",
) -> str:
    """Bring the sketch sidecar to the table's latest commit.

    - consistent sidecar, no deletes in the window → **incremental**:
      CMS gets the signed turnstile delta (−1 pre-image, +1
      post-image per changed row, so it stays exactly equal to a
      fresh build); HLL merges registers of the inserted/updated
      values (a set sketch only grows — stale entries from updated
      rows keep it an upper bound until the next full build). Both
      parts are rewritten merged, under a fresh epoch: a replayed
      turnstile delta would double-count, so the rewrite must never
      look consistent half-done.
    - deletes present, params changed, torn sidecar, or no retained
      base version → **full rebuild** (HLL cannot forget; CMS could,
      but a rebuild epoch is due anyway).

    Returns the path taken: ``"noop" | "incremental" | "rebuild"``.
    """
    spark = table.spark

    def merged(w):
        changes = table.table_changes(
            w.state.version, w.head, include_preimage=True
        )
        kinds = {
            r[0]
            for r in changes.select("_change_type").distinct().collect()
        }  # ≤4-row driver read
        if "delete" in kinds:
            return None
        d = _sdir(table)
        added = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        )
        hll_new = hll_merge(
            spark.read.parquet(f"{d}/hll"), hll_registers(added, col, p, hash_mode)
        )
        delta = cms_counters(
            added, col, depth, width, weight=F.lit(1).cast("long"),
            hash_mode=hash_mode,
        )
        if "update_preimage" in kinds:
            removed = changes.filter(F.col("_change_type") == "update_preimage")
            delta = cms_merge(delta, cms_counters(
                removed, col, depth, width, weight=F.lit(-1).cast("long"),
                hash_mode=hash_mode,
            ))
        cms_new = cms_merge(spark.read.parquet(f"{d}/cms"), delta).filter(
            F.col("cnt") != 0
        )
        # checkpointed: both rewrites read the dirs they overwrite
        return [Part("hll", hll_new, coalesce=1, checkpoint=True),
                Part("cms", cms_new, coalesce=1, checkpoint=True)]

    return refresh(
        table, _sidecar(table, col, p, depth, width, hash_mode),
        lambda: build_sketches(table, col, p, depth, width, hash_mode),
        merged,
    )[0]


def attach_sketch_maintenance(
    table: KeyedTable,
    col: str,
    p: int = 12,
    depth: int = 4,
    width: int = 2048,
    hash_mode: str = "xxhash64",
) -> None:
    """Enroll the sketch pair as a table service in the post-commit
    maintenance slot (failure-isolated like every other service —
    a hiccup leaves a stale-but-consistent sidecar)."""
    table.add_maintenance_hook(
        lambda t: refresh_sketches(t, col, p, depth, width, hash_mode)
    )
