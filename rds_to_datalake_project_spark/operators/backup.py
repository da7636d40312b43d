"""Snapshot export / verified import — the engine's backup-restore
path.

The reference's disaster path is "re-export the RDS snapshot to S3
and reload" (/root/reference/README.rst pipeline step 1 — an external
service does the export). The lake engine needs the equivalent for
ITS OWN tables: ship a consistent snapshot somewhere, and later
rebuild a table from it with proof nothing was lost or corrupted in
transit.

- ``export_snapshot`` writes the table's rows (optionally AS OF a
  retained commit) as plain parquet plus a MANIFEST carrying the
  source version, row count, and an order-independent XOR content
  checksum per record-key hash slice (operators/compare.py:
  table_checksum — 16 slices, so a corrupt or lost file localizes).
- ``import_snapshot`` re-reads the export, recomputes the same
  checksums, REFUSES to load on any mismatch, and otherwise
  initial-loads a fresh KeyedTable.

Scale: the export is one scan + one 16-row checksum aggregate; the
import re-reads the export once for verification and once for the
load (both full scans are unavoidable for a verified restore). The
manifest is driver-small JSON.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio
from rds_to_datalake_project_spark.operators.compare import (
    strip_meta_columns,
    table_checksum,
)

_MANIFEST = "_SNAPSHOT_MANIFEST.json"
_SLICES = 16


def _checksums(df: DataFrame, keys: list[str]) -> list[dict]:
    slice_col = F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(_SLICES)
    ).alias("key_slice")
    sums = table_checksum(
        df.withColumn("key_slice", slice_col),
        sorted(c for c in df.columns),
        group_cols=["key_slice"],
    )
    return [
        {"slice": r["key_slice"], "n_rows": r["n_rows"], "xor_sig": r["xor_sig"]}
        for r in sums.collect()
    ]


def export_snapshot(table, dest: str, version: int | None = None) -> dict:
    """Write a verified snapshot of ``table`` (AS OF ``version`` when
    given, else live) to ``dest``. Returns the manifest dict."""
    df = table.read() if version is None else table.read_as_of(version)
    # derived partition / meta columns are re-derived on import — export
    # only the logical row (also keeps the manifest schema stable)
    df = strip_meta_columns(df)
    df.write.mode("errorifexists").parquet(f"{dest}/data")
    # checksum what was WRITTEN, not the source plan — a lost/garbled
    # file fails verification at export time, not restore time
    written = table.spark.read.parquet(f"{dest}/data")
    keys = list(table.spec.record_key)
    manifest = {
        "table": table.spec.name,
        "version": version,
        "record_key": keys,
        "columns": sorted(written.columns),
        "slices": _checksums(written, keys),
    }
    fsio.write_text(table.spark, f"{dest}/{_MANIFEST}", json.dumps(manifest))
    return manifest


def import_snapshot(spark: SparkSession, src: str, spec, dest_path: str, **kw):
    """Verify ``src`` against its manifest and initial-load a fresh
    ``KeyedTable`` at ``dest_path``. Raises ``ValueError`` on any
    checksum / row-count / column mismatch — a corrupt export never
    becomes a table."""
    from rds_to_datalake_project_spark.operators.upsert import KeyedTable

    raw = fsio.read_text(spark, f"{src}/{_MANIFEST}")
    if not raw:
        raise ValueError(f"no snapshot manifest at {src}")
    manifest = json.loads(raw)
    df = spark.read.parquet(f"{src}/data")
    if sorted(df.columns) != manifest["columns"]:
        raise ValueError(
            f"column mismatch: {sorted(df.columns)} != {manifest['columns']}"
        )
    got = {
        s["slice"]: (s["n_rows"], s["xor_sig"])
        for s in _checksums(df, manifest["record_key"])
    }
    want = {
        s["slice"]: (s["n_rows"], s["xor_sig"]) for s in manifest["slices"]
    }
    if got != want:
        bad = sorted(
            k for k in set(got) | set(want) if got.get(k) != want.get(k)
        )
        raise ValueError(f"snapshot verification failed on slices {bad}")
    t = KeyedTable(spark, dest_path, spec, **kw)
    t.initial_load(df)
    return t
