"""Position-based deletion vectors — merge-on-read row deletes.

The reference's Hudi COPY_ON_WRITE tables pay a full partition rewrite
for every delete, however small (glue_jobs/incremental.py:214-243
applies D rows through the merge). This module is the Delta/Iceberg
deletion-vector design re-expressed over plain parquet and this
engine's rename-swap commit protocol:

- A vector DELETE writes ONLY the victims' physical coordinates —
  ``(partition values…, file basename, row index)`` — to a ``.dv/``
  sidecar. Commit I/O ∝ rows deleted, never partition size: at 100 TB
  a one-row GDPR-class soft delete stops costing a 128 MB partition
  rewrite and becomes a kilobyte-scale metadata commit.
- Every read subtracts the mask with ONE null-safe anti-join. The mask
  set is bounded by deletes since the last materialize, so it
  broadcasts; the join keys come from the vector files' own schema, so
  the mask needs no table spec to apply.
- Identity is POSITIONAL, not key-based. Any rewrite of a partition
  (upsert merge, compaction, restore, materialize) mints fresh file
  basenames, so stale vector entries match nothing: re-inserting a
  deleted key needs no mask surgery, and folded vectors die silently.
  ``file_name`` alone is NOT unique — one Spark write job reuses task
  basenames across partition directories — hence the partition values
  in the key (null-safely compared: ``__HIVE_DEFAULT_PARTITION__``
  reads back as NULL).
- Vectors are RENAME-STABLE: retiring a partition to ``.retired/v{k}``
  preserves partition values, basenames, and row order, so
  ``read_as_of(k)`` applies the vectors of commits ≤ k against retired
  copies and reconstructs every historical state exactly.
- ``KeyedTable.materialize_deletes`` folds outstanding vectors into
  the data files (a normal rewrite commit over ONLY the affected
  partitions) and advances the ``.dv/_FLOOR`` marker so live reads
  stop consulting folded vectors; snapshot readers keep using them
  until retention expires the snapshots they serve
  (``vacuum_versions`` then deletes the expired vector dirs).

Layout::

    table/.dv/v{j}/*.parquet   vector committed at table version j
    table/.dv/d{hex}/*.parquet vector on an unversioned table
    table/.dv/_FLOOR           fold floor: live reads skip v{j} < floor
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio

_DV_DIRNAME = ".dv"
_DV_FILE = "__dv_file"
_DV_POS = "__dv_pos"
_FLOOR_FILE = "_FLOOR"
# Mask sets small enough to broadcast outright; bigger ones are left
# to AQE (a materialize should have folded them long before this).
_BROADCAST_BYTES = 64 * 1024 * 1024


def dv_root(table_path: str) -> str:
    return f"{table_path}/{_DV_DIRNAME}"


def _dir_bytes(fs, path) -> int:
    try:
        return fs.getContentSummary(path).getLength()
    except Exception:
        return 0


def list_dv_dirs(spark: SparkSession, table_path: str) -> list[dict]:
    """Every committed vector dir under ``.dv/``:
    ``{"name", "version" (int | None), "path", "bytes"}``, version
    order (unversioned ``d*`` dirs last). Cheap no-vector fast path:
    one ``exists`` call when the table never had a vector delete."""
    root = dv_root(table_path)
    fs = fsio.fs_for(spark, root)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() or name.startswith((".", "_")):
            continue
        version: int | None = None
        if name.startswith("v") and name[1:].isdigit():
            version = int(name[1:])
        elif not name.startswith("d"):
            continue  # unknown debris — never mask on a guess
        out.append(
            {
                "name": name,
                "version": version,
                "path": f"{root}/{name}",
                "bytes": _dir_bytes(fs, st.getPath()),
            }
        )
    out.sort(key=lambda d: (d["version"] is None, d["version"] or 0, d["name"]))
    return out


def read_fold_floor(spark: SparkSession, table_path: str) -> int:
    """Vectors of commits < floor are folded into the live data files
    (their basenames no longer exist in the live tree); live reads
    skip them. 0 = never materialized."""
    raw = fsio.read_text(spark, f"{dv_root(table_path)}/{_FLOOR_FILE}")
    return int(raw.strip()) if raw and raw.strip() else 0


def write_fold_floor(spark: SparkSession, table_path: str, floor: int) -> None:
    fsio.write_text(spark, f"{dv_root(table_path)}/{_FLOOR_FILE}", str(floor))


def _select_dirs(
    spark: SparkSession, table_path: str, upto_version: int | None
) -> list[dict]:
    dirs = list_dv_dirs(spark, table_path)
    if not dirs:
        return []
    if upto_version is not None:
        # Snapshot read: every vector committed at or before the
        # requested version applies (folded ones self-neutralize
        # against post-fold file names — applying them is free).
        return [d for d in dirs if d["version"] is not None and d["version"] <= upto_version]
    floor = read_fold_floor(spark, table_path)
    return [d for d in dirs if d["version"] is None or d["version"] >= floor]


def with_provenance(df: DataFrame) -> DataFrame:
    """Attach the positional identity columns every vector keys on.
    ``_metadata`` is parquet-scan-native (no UDF, no shuffle)."""
    return df.withColumn(_DV_FILE, F.col("_metadata.file_name")).withColumn(
        _DV_POS, F.col("_metadata.row_index")
    )


def mask_deleted(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    upto_version: int | None = None,
    keep_provenance: bool = False,
) -> DataFrame:
    """Subtract committed deletion vectors from a parquet-backed frame
    of ``table_path`` rows.

    ``upto_version=None`` applies the LIVE mask (unfolded vectors);
    an int applies the snapshot mask (vectors committed ≤ version) —
    correct against retired copies because retirement preserves the
    positional identity. No ``.dv`` dir → the frame passes through
    untouched (one filesystem ``exists`` call).

    The join keys are read from the vector files themselves
    (partition columns + file + position), so the mask composes with
    any read shape — full scans, zone/bloom/bucket-pruned file reads,
    basePath snapshot reconstructions — without knowing the spec.
    """
    dirs = _select_dirs(spark, table_path, upto_version)
    if not dirs:
        if keep_provenance:
            return df if _DV_FILE in df.columns else with_provenance(df)
        return df.drop(_DV_FILE, _DV_POS)
    dv = spark.read.parquet(*[d["path"] for d in dirs]).alias("__dv")
    # ``_metadata`` resolves only on a file-scan relation — a caller
    # whose frame is a UNION of scans (read_as_of) must attach
    # provenance per scan BEFORE unioning and pass the result here.
    left = (
        df if _DV_FILE in df.columns else with_provenance(df)
    ).alias("__base")
    cond = reduce(
        lambda a, b: a & b,
        [
            F.col(f"__base.{c}").eqNullSafe(F.col(f"__dv.{c}"))
            for c in dv.columns
        ],
    )
    if sum(d["bytes"] for d in dirs) <= _BROADCAST_BYTES:
        dv = F.broadcast(dv)
    out = left.join(dv, cond, "left_anti")
    if keep_provenance:
        return out
    return out.drop(_DV_FILE, _DV_POS)


def has_vectors(
    spark: SparkSession, table_path: str, upto_version: int | None = None
) -> bool:
    """True when a mask would apply — callers assembling multi-scan
    frames use this to decide whether to attach per-scan provenance."""
    return bool(_select_dirs(spark, table_path, upto_version))


def dv_stats(spark: SparkSession, table_path: str) -> dict:
    """Observability: outstanding (live-applicable) vector dirs, their
    total entry count and bytes, and the fold floor."""
    live = _select_dirs(spark, table_path, None)
    rows = (
        spark.read.parquet(*[d["path"] for d in live]).count() if live else 0
    )
    return {
        "dirs": len(live),
        "rows": rows,
        "bytes": sum(d["bytes"] for d in live),
        "fold_floor": read_fold_floor(spark, table_path),
        "total_dirs": len(list_dv_dirs(spark, table_path)),
    }
