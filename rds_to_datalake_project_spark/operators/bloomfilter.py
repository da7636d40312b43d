"""Per-file Bloom-filter index — point-lookup file skipping.

The reference's lake is Hudi, whose default record index IS a
per-file bloom filter (upsert tagging reads only files whose bloom
may contain the key). Zone maps (operators/zonemap.py) skip files by
RANGE — great for clustered layouts, useless for point lookups of
high-cardinality keys scattered across an unclustered table. This
module adds the membership complement: a per-(file, column) bloom
sidecar, so an equality/IN probe opens only files whose filter may
contain one of the probed values.

Build is fully distributed and expression-only: each row emits its
column value's k seeded-hash bit positions (xxhash64 — JVM intrinsic),
positions explode to ``(file, word_idx, bit mask)`` and one
``bit_or`` aggregation per (file, word) folds the filter — no driver
state, no UDF, cost one shuffle keyed by (file, word). The sidecar
stores ``file, col, word_idx, bits`` rows (m/64 longs per file·col).

APPEND-ONLY GENERATIONS. The sidecar is a set of parquet parts named
by the JSON manifest ``<index>/_GENERATIONS``: ``{"cols": [...],
"gens": [{"parts": {name: byte length}, "files": [normalized data
paths]}]}``, beside the ``(m, k)`` marker ``_PARAMS``. A build writes
generation 0 (its parts, every live file). A reconcile works in
proportion to the commit, as Delta keeps per-file facts beside the
files a commit adds and removes: it writes ONE new part holding the
filters of only the files no generation indexes, drops retired files
from the manifest (a generation with no live file is dead), publishes
the manifest and deletes dead parts and orphans. It reads no sidecar
data except to fold the live generations into one when they exceed
``sidecar.DEFAULT_COMPACT_THRESHOLD``. Parts appear by atomic rename
from a dot-named staging dir, so a probe sees all of a file's words
or none; a file with no words is uncovered and always read, and words
of retired files are never tested (probes test live files only).

Probing hashes the VALUES through the same Spark expressions and
keeps files where EVERY bit of at least one probed value is present.
A sidecar within ``spark.sql.autoBroadcastJoinThreshold`` on a
memo-eligible table is read by pyarrow into the driver as ``{file:
{word_idx: bits}}`` plus its ``(m, k)`` (zonemap.sidecar_memo: dropped
on every commit-token change, keyed on the sidecar's file listing so a
rewrite never serves stale words), and the bits are tested there; the
probe's positions come from a job-free local relation, so a probe —
the first after a commit included — runs no Spark job. A larger
sidecar (or a remote / token-less table) keeps one aggregation over
the manifest's named parts against the broadcast probe. The advisory
contract matches the zone map's: files not covered by the index are
always read, the residual filter always applies, so the result is
EXACTLY the full-scan filter regardless of index state; only I/O
differs. False positives cost a read, never correctness.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rds_to_datalake_project_spark import fsio
from rds_to_datalake_project_spark.operators.sidecar import (
    DEFAULT_COMPACT_THRESHOLD,
    read_params,
)
from rds_to_datalake_project_spark.operators.zonemap import (
    _PRUNE_LOCK,
    _local_file,
    _norm,
    _record_prune,
    _resolve_table,
    fast_count,
    sidecar_memo,
    warn_fallback,
)

_FILE = "__file"
# Fixed sidecar layout (what _filter_rows emits): supplying it to the
# probe read skips per-probe parquet schema inference.
_SIDECAR_SCHEMA = f"{_FILE} string, col string, word_idx int, bits bigint"
_GENERATIONS = "_GENERATIONS"
# Spark writes a generation here, under the sidecar; the dot keeps the
# half-written dir out of probes and of the memo's listing key.
_STAGING = ".gen-"
# Auto-sizing targets (build_bloom_index m_bits=None): ~10 bits per
# key with 2x slack for file-size skew keeps the false-positive rate
# ~1e-3 at the AVERAGE file and <~1% at a 2x-overfull one. A fixed m
# is wrong at every scale at once — 2 KiB/file saturates (>70% FP)
# past ~2k keys/file while wasting space on tiny files.
BITS_PER_KEY = 10
M_BITS_MIN = 16384  # 2 KiB floor per file·column
M_BITS_MAX = 1 << 24  # 2 MiB cap per file·column (≈1.6M keys/file)
K_HASHES_DEFAULT = 5


def _auto_m_bits(n_rows: int, n_files: int) -> int:
    """Index size from measured shape: bits for 2x the average
    keys-per-file, rounded up to whole 64-bit words, clamped."""
    per_file = max(1, (n_rows + max(n_files, 1) - 1) // max(n_files, 1))
    want = BITS_PER_KEY * per_file * 2
    want = max(M_BITS_MIN, min(M_BITS_MAX, want))
    return ((want + 63) // 64) * 64

# Diagnostics: CUMULATIVE pruning verdicts since reset_prune_stats()
# (point-lookup flows probe once per key, so per-probe numbers alone
# would under-report) — what bench.py reports as the index's
# I/O-avoided metric. Recorded by zonemap._record_prune.
LAST_PRUNE: dict = {}


def reset_prune_stats() -> None:
    with _PRUNE_LOCK:
        LAST_PRUNE.clear()


def _index_dir(table_path: str) -> str:
    return f"{table_path.rstrip('/')}/.bloomindex"


def _positions(col, m_bits: int, k: int):
    """array of k bit positions for a value — seeded xxhash64 family,
    identical expressions at build and probe time."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(F.xxhash64(col, i), F.lit(m_bits)),
    )


def _filter_rows(base: DataFrame, columns: list[str], m_bits: int, k: int):
    """``(file, col, word_idx, bits)`` sidecar rows from ONE scan of
    ``base``: every row emits its (column name, bit position) pairs
    for ALL indexed columns as one flattened struct array, a single
    explode fans them out, and one ``bit_or`` aggregation keyed by
    (file, col, word) folds the filters. Indexing k columns this way
    costs one table read + one shuffle — a per-column loop would
    re-scan the table (and re-shuffle) once per column, multiplying
    the dominant cost at scale."""
    def _col_entries(c: str):
        # single-arg lambda only: a 2-arg transform lambda receives
        # (element, index), which would shadow the closed-over name
        return F.transform(
            _positions(F.col(c), m_bits, k),
            lambda p: F.struct(F.lit(c).alias("col"), p.alias("pos")),
        )

    entries = F.explode(
        F.flatten(F.array(*[_col_entries(c) for c in columns]))
    ).alias("__e")
    return (
        base.select(_FILE, entries)
        .select(
            F.col(_FILE),
            F.col("__e.col").alias("col"),
            (F.col("__e.pos") / 64).cast("int").alias("word_idx"),
            # shiftleft needs a column shift amount — SQL form
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__e.pos % 64 AS INT))"
            ).alias("__bit"),
        )
        .groupBy(_FILE, "col", "word_idx")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    index_dir: str | None = None,
    m_bits: int | None = None,
    k_hashes: int = K_HASHES_DEFAULT,
) -> int:
    """Build per-file bloom filters for ``columns`` as generation 0:
    the sidecar is overwritten with one table scan and one shuffle
    regardless of how many columns are indexed, then ``_PARAMS`` and
    the manifest (every live file) are published. Returns the number
    of (file, col, word) rows written, from the parts' footers.

    ``m_bits=None`` (default) sizes the filter from the table itself
    (``zonemap.fast_count``: footer row counts / live file count — no
    data read); pass an explicit value to pin it. Probes always use the
    stored ``_PARAMS``, so differently-sized generations never mix."""
    idx = index_dir or _index_dir(table_path)
    full, live = _resolve_table(spark, table_path)
    if m_bits is None:
        m_bits = _auto_m_bits(fast_count(spark, table_path), len(live))
    base = full.select(*columns).withColumn(_FILE, F.input_file_name())
    _filter_rows(base, columns, m_bits, k_hashes).write.mode("overwrite").parquet(idx)
    fs = fsio.fs_for(spark, idx)
    parts = {
        name: size
        for name, size in _listing(fs, idx).items()
        if _is_part(name)
    }
    _write_mk(spark, idx, m_bits, k_hashes)
    _publish_manifest(fs, idx, columns, [{"parts": parts, "files": sorted(live)}])
    return _part_rows(spark, idx, sorted(parts))


def _write_mk(spark: SparkSession, idx: str, m_bits: int, k: int) -> None:
    # params ride a marker so probes use the same (m, k)
    fsio.write_text(
        spark, f"{idx}/_PARAMS", json.dumps({"m_bits": m_bits, "k": k})
    )


def _stored_mk(spark: SparkSession, idx: str) -> tuple[int, int] | None:
    """The stored ``(m, k)``, or None when ``_PARAMS`` is missing or
    not the JSON object a build writes — no readable index: probes
    full-scan and the next refresh rebuilds."""
    params = read_params(spark, idx)
    try:
        return int(params["m_bits"]), int(params["k"])
    except (TypeError, KeyError, ValueError):
        return None


# -- the generation manifest ------------------------------------------------


def _fault(point: str) -> None:
    """Crash-injection seam between the reconcile's filesystem steps
    (tests patch it to raise); a no-op."""


def _is_part(name: str) -> bool:
    return name.endswith(".parquet") and not name.startswith((".", "_"))


def _listing(fs, idx: str) -> dict[str, int] | None:
    """``{name: byte length}`` of the sidecar dir's entries, or None
    when it cannot be listed (no index)."""
    try:
        return {st.getPath().getName(): st.getLen() for st in fs.listStatus(idx)}
    except Exception:
        return None


def _manifest(fs, idx: str) -> dict | None:
    """The ``_GENERATIONS`` manifest, or None when it is missing or not
    the JSON a build or reconcile writes (a sidecar written before
    generations existed has none: no readable index, rebuilt once)."""
    txt = fs.read_text(f"{idx}/{_GENERATIONS}")
    if txt is None:
        return None
    try:
        raw = json.loads(txt)
        return {
            "cols": [str(c) for c in raw["cols"]],
            "gens": [
                {
                    "parts": {str(n): int(size) for n, size in g["parts"].items()},
                    "files": [str(f) for f in g["files"]],
                }
                for g in raw["gens"]
            ],
        }
    except (ValueError, TypeError, KeyError, AttributeError):
        return None


def _publish_manifest(fs, idx: str, columns: list[str], gens: list[dict]) -> None:
    fs.publish_text(
        f"{idx}/{_GENERATIONS}", json.dumps({"cols": list(columns), "gens": gens})
    )


def _part_paths(idx: str, man: dict) -> list[str]:
    return [f"{idx}/{name}" for g in man["gens"] for name in sorted(g["parts"])]


def _part_rows(spark: SparkSession, idx: str, names: list[str]) -> int:
    """Rows in the named parts: their footers' ``num_rows`` on a local
    sidecar, one Spark count elsewhere."""
    local = _local_file(idx)
    if local is not None:
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(local, n)).num_rows for n in names
        )
    return (
        spark.read.schema(_SIDECAR_SCHEMA)
        .parquet(*[f"{idx}/{n}" for n in names])
        .count()
    )


def _write_generation(spark: SparkSession, fs, idx: str, rows: DataFrame) -> dict:
    """Write ``rows`` as new parts: Spark writes them into a dot-named
    staging dir under the sidecar, each part is renamed into the
    sidecar as ``g<uuid>[-i].parquet`` and the staging dir is dropped.
    Returns ``{name: byte length}`` for the manifest."""
    tag = uuid.uuid4().hex
    stage = f"{idx}/{_STAGING}{tag}"
    rows.write.parquet(stage)
    staged = sorted(
        (name, size) for name, size in _listing(fs, stage).items() if _is_part(name)
    )
    parts = {}
    for i, (name, size) in enumerate(staged):
        dst = f"g{tag}.parquet" if len(staged) == 1 else f"g{tag}-{i}.parquet"
        if not fs.rename(f"{stage}/{name}", f"{idx}/{dst}"):
            raise IOError(f"rename {stage}/{name} -> {idx}/{dst} failed")
        parts[dst] = size
    fs.delete(stage, True)
    return parts


def bloom_prune_files(
    spark: SparkSession,
    table_path: str,
    col: str,
    values: list,
    index_dir: str | None = None,
    _resolved=None,
) -> tuple[list[str], int]:
    """Files that MAY contain any of ``values`` in ``col`` (plus every
    file the index does not cover — advisory). Returns
    ``(files_to_read, n_skipped)``. ``_resolved``: a caller's prior
    ``_resolve_table`` result, so composed lookups (KeyedTable.lookup
    intersecting zone map + bloom) pay ONE directory listing."""
    full, live = _resolved or _resolve_table(spark, table_path)
    covered, survives = bloom_value_survivors(
        spark, table_path, col, values, index_dir, _resolved=(full, live)
    )
    if covered is None:
        return sorted(live.values()), 0  # no index → full scan
    any_hit = set().union(*survives.values()) if survives else set()
    files = [
        orig
        for path, orig in sorted(live.items())
        if path not in covered or path in any_hit
    ]
    _record_prune(LAST_PRUNE, len(live), len(files))
    return files, len(live) - len(files)


def _probe_relation(spark, order: list, dtype, m_bits: int, k: int):
    """``(vid, word_idx, mask, needed)`` probe rows, built IN-PLAN over
    ``range(1)``: one literal array of the cast values (posexplode
    keeps each value's id = its position in ``order``), ONE transform
    lambda mapping each value's hash positions to the build's
    (word = pos/64, mask = shiftleft(1L, pos%64)) pairs,
    array_distinct + size for the per-value requirement. No
    createDataFrame anywhere — a Python-list frame is RDD-backed and
    spins a Python worker on EVERY action (~0.6 s each measured) —
    no per-value expression either (969 per-value HOF literals
    measured 16-25 s of Catalyst planning; one array of plain literals
    is linear and cheap), and no probe-side exchange: broadcast-built
    from Generate nodes only."""
    if not order:
        return spark.range(0).select(
            F.lit(0).alias("vid"),
            F.lit(0).alias("word_idx"),
            F.lit(0).cast("bigint").alias("mask"),
            F.lit(0).alias("needed"),
        )

    def _pair(p):
        return F.struct(
            (p / 64).cast("int").alias("word_idx"),
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int")
            ).alias("mask"),
        )

    def _chunk(start: int, vals: list):
        return (
            spark.range(1)
            .select(
                F.posexplode(
                    F.array(*[F.lit(v).cast(dtype) for v in vals])
                ).alias("__i", "__v")
            )
            .select(
                (F.col("__i") + start).alias("vid"),
                F.array_distinct(
                    F.transform(_positions(F.col("__v"), m_bits, k), _pair)
                ).alias("__pairs"),
            )
            .select(
                "vid",
                F.size("__pairs").alias("needed"),
                F.explode("__pairs").alias("__pr"),
            )
            .select("vid", "__pr.word_idx", "__pr.mask", "needed")
        )

    # chunked so one literal array never grows unbounded (a very large
    # IN-probe stays a linear union of bounded Generate legs)
    step = 4096
    out = _chunk(0, order[:step])
    for i0 in range(step, len(order), step):
        out = out.unionByName(_chunk(i0, order[i0 : i0 + step]))
    return out


def _probe_positions(spark, order: list, dtype, m_bits: int, k: int) -> list:
    """Each value's k bit positions, evaluated by the build's own
    expression (_positions) over one literal array per chunk. The
    projection sits on an inline ``VALUES`` row, so the optimizer folds
    it into a local relation and the collect runs no Spark job."""
    out: list = []
    step = 4096  # bounded literal arrays, as in _probe_relation
    for i0 in range(0, len(order), step):
        vals = F.array(*[F.lit(v).cast(dtype) for v in order[i0 : i0 + step]])
        row = (
            spark.sql("VALUES (0)")
            .select(F.transform(vals, lambda v: _positions(v, m_bits, k)))
            .collect()
        )
        out.extend(row[0][0])
    return out


def _load_words(spark: SparkSession, idx: str):
    """``((m, k), {col: {normalized path: {word_idx: bits}}})`` from
    the manifest's parts, read on the driver by pyarrow (the memo only
    serves local sidecars within the broadcast threshold), or None
    without readable params and manifest."""
    import pyarrow.parquet as pq

    mk = _stored_mk(spark, idx)
    man = _manifest(fsio.fs_for(spark, idx), idx) if mk else None
    if man is None:
        return None
    words: dict = {}
    norm: dict = {}
    names = [_FILE, "col", "word_idx", "bits"]
    for part in _part_paths(idx, man):
        tbl = pq.ParquetFile(part).read(columns=names)
        for f, c, w, b in zip(*(tbl.column(n).to_pylist() for n in names)):
            p = norm.get(f)
            if p is None:
                p = norm[f] = _norm(f)
            per_file = words.setdefault(c, {}).setdefault(p, {})
            per_file[w] = per_file.get(w, 0) | b
    return mk, words


def _sidecar_frame(spark: SparkSession, idx: str) -> DataFrame | None:
    """The in-Spark probe's read of the sidecar: the manifest's parts,
    named — Spark treats the dot-named root as a hidden path — or None
    without a manifest naming a part."""
    man = _manifest(fsio.fs_for(spark, idx), idx)
    parts = _part_paths(idx, man) if man is not None else []
    if not parts:
        return None
    try:
        return spark.read.schema(_SIDECAR_SCHEMA).parquet(*parts)
    except Exception as exc:
        warn_fallback(idx, "unreadable", exc)
        return None


def bloom_value_survivors(
    spark: SparkSession,
    table_path: str,
    col: str,
    values: list,
    index_dir: str | None = None,
    _resolved=None,
) -> tuple[set | None, dict]:
    """Per-VALUE file survivorship: ``(covered, survives)`` where
    ``covered`` is the set of indexed (normalized) file paths — files
    outside it must always be read — and ``survives[value]`` is the
    subset whose filter MAY contain that value. ``covered is None``
    means no readable index (callers fall back to a full scan).
    Batched lookups (KeyedTable.lookup_many) intersect these per key
    with the zone intervals.

    Two routes, same answer. A small sidecar of a memo-eligible table
    is held in the driver (zonemap.sidecar_memo): the probe's bit
    positions come from a job-free local relation (_probe_positions)
    and the words are tested driver-side — a file survives when all k
    bits are set. Otherwise one in-Spark aggregation meets the sidecar
    with the broadcast probe."""
    idx = index_dir or _index_dir(table_path)
    full, _live = _resolved or _resolve_table(spark, table_path)
    order = list(dict.fromkeys(values))
    dtype = full.schema[col].dataType
    memo = sidecar_memo(spark, table_path, idx, lambda: _load_words(spark, idx))
    if memo is not None:
        (m_bits, k), words = memo
        files = words.get(col, {})
        try:
            positions = _probe_positions(spark, order, dtype, m_bits, k)
        except Exception as exc:
            warn_fallback(idx, "probe failed", exc)
            return None, {}
        survives = {
            v: {
                p
                for p, w in files.items()
                if all((w.get(pos // 64, 0) >> (pos % 64)) & 1 for pos in ps)
            }
            for v, ps in zip(order, positions)
        }
        return set(files), survives
    # A table with no bloom index (the common un-indexed case) costs
    # nothing here beyond the params read.
    mk = _stored_mk(spark, idx)
    sidecar = _sidecar_frame(spark, idx) if mk else None
    if sidecar is None:
        return None, {}  # no readable index → callers full-scan
    m_bits, k = mk
    # In-plan probe (see _probe_relation): the values hash through the
    # build's own expressions and the sidecar meets the broadcast
    # probe in ONE job, independent of probe-set size — also the
    # 100-TB shape: a sidecar of millions of (file, word) rows meets
    # any probe set in one shuffle-free pass.
    probe = _probe_relation(spark, order, dtype, m_bits, k)
    try:
        rows = (
            sidecar.filter(F.col("col") == col)
            .join(F.broadcast(probe), "word_idx", "left")
            .withColumn(
                "__hit",
                F.col("vid").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) != 0),
            )
            .groupBy(_FILE, "vid")
            .agg(
                F.countDistinct(
                    F.when(F.col("__hit"), F.struct("word_idx", "mask"))
                ).alias("got"),
                F.max("needed").alias("needed"),
            )
            .collect()
        )
    except Exception as exc:
        warn_fallback(idx, "probe failed", exc)
        return None, {}
    covered = {_norm(r[0]) for r in rows}
    survives: dict = {v: set() for v in order}
    for r in rows:
        if r["vid"] is not None and r["got"] == r["needed"]:
            survives[order[r["vid"]]].add(_norm(r[0]))
    return covered, survives


def bloom_pruned_read(
    spark: SparkSession,
    table_path: str,
    col: str,
    values: list,
    index_dir: str | None = None,
) -> DataFrame:
    """Read rows where ``col`` IN ``values``, opening only files whose
    bloom may match (advisory — EXACTLY the full-scan filter)."""
    full, _live = _resolve_table(spark, table_path)
    files, _skipped = bloom_prune_files(spark, table_path, col, values, index_dir)
    residual = F.col(col).isin(values)
    if not files:
        return full.filter(residual).limit(0)
    return (
        spark.read.option("basePath", table_path)
        .schema(full.schema)
        .parquet(*files)
        .filter(residual)
    )


def refresh_bloom_index(
    spark: SparkSession,
    table_path: str,
    columns: list[str],
    index_dir: str | None = None,
    m_bits: int | None = None,
    k_hashes: int = K_HASHES_DEFAULT,
) -> tuple[int, int]:
    """Reconcile the bloom sidecar with the live file set by appending
    a generation: cost ∝ the files changed since the last reconcile,
    and no sidecar read. Returns ``(files_added, files_dropped)``.

    1. One listing of the sidecar. It rebuilds (a full build) when
       ``_PARAMS`` or the manifest is missing or unreadable, the
       manifest's columns differ from ``columns``, an explicit
       ``m_bits`` differs from the stored one, or a manifest part is
       missing or has another length (torn). ``m_bits=None`` adopts the
       STORED size — a refresh never silently re-sizes the index, since
       mixed sizes cannot probe.
    2. Retired files leave the manifest; a generation with no live file
       left is dead.
    3. The live files no generation indexes are scanned (only those)
       into one new part (``_write_generation``).
    4. Past ``sidecar.DEFAULT_COMPACT_THRESHOLD`` live generations, they
       fold into one, keeping only live files' rows: the one path that
       reads the sidecar.
    5. The manifest is published.
    6. Parts the manifest does not name — dead or folded generations,
       orphans of a crashed reconcile — and stale staging dirs are
       deleted.

    A crash anywhere leaves a manifest that names only complete parts:
    probes stay exact and the next reconcile redoes the work and
    removes the orphans."""
    idx = index_dir or _index_dir(table_path)
    full, live = _resolve_table(spark, table_path)
    fs = fsio.fs_for(spark, idx)
    listing = _listing(fs, idx)
    stored = _stored_mk(spark, idx) if listing is not None else None
    man = _manifest(fs, idx) if stored is not None else None
    if (
        man is None
        or set(man["cols"]) != set(columns)
        or (m_bits is not None and stored != (m_bits, k_hashes))
        or any(
            listing.get(name) != size
            for g in man["gens"]
            for name, size in g["parts"].items()
        )
    ):
        build_bloom_index(spark, table_path, columns, idx, m_bits, k_hashes)
        return (len(live), 0)
    m_bits, k_hashes = stored
    gens, dropped = [], 0
    for g in man["gens"]:
        files = [f for f in g["files"] if f in live]
        dropped += len(g["files"]) - len(files)
        if files:
            gens.append({"parts": g["parts"], "files": files})
    indexed = {f for g in gens for f in g["files"]}
    new = [p for p in sorted(live) if p not in indexed]
    written: list[str] = []
    if new or dropped:
        if new:
            base = (
                spark.read.option("basePath", table_path)
                .schema(full.schema)
                .parquet(*[live[p] for p in new])
                .select(*columns)
                .withColumn(_FILE, F.input_file_name())
            )
            # one scan of the NEW files covers every indexed column
            rows = _filter_rows(base, columns, m_bits, k_hashes).coalesce(1)
            parts = _write_generation(spark, fs, idx, rows)
            written += parts
            gens.append({"parts": parts, "files": new})
            _fault("generation_renamed")
        if len(gens) > DEFAULT_COMPACT_THRESHOLD:
            gens = [_fold(spark, fs, idx, gens, live)]
        _publish_manifest(fs, idx, columns, gens)
        _fault("manifest_published")
    named = {name for g in gens for name in g["parts"]}
    for name in [*listing, *written]:
        if (_is_part(name) and name not in named) or name.startswith(_STAGING):
            fs.delete(f"{idx}/{name}", True)
    return (len(new), dropped)


def _fold(spark: SparkSession, fs, idx: str, gens: list[dict], live: dict) -> dict:
    """One generation holding the live files' rows of every generation
    in ``gens``, written beside them (the manifest publish retires the
    old parts)."""
    files = sorted({f for g in gens for f in g["files"]})
    rows = (
        spark.read.schema(_SIDECAR_SCHEMA)
        .parquet(*_part_paths(idx, {"gens": gens}))
        .filter(F.col(_FILE).isin([live[f] for f in files]))
    )
    out = {"parts": _write_generation(spark, fs, idx, rows), "files": files}
    _fault("fold_written")
    return out


def attach_bloom_maintenance(
    table,
    columns: list[str],
    m_bits: int | None = None,
    k_hashes: int = K_HASHES_DEFAULT,
) -> None:
    """Enroll the bloom index as a table service: every commit the
    KeyedTable publishes reconciles the sidecar in the post-commit
    maintenance slot — cost ∝ files the commit touched."""
    table.add_maintenance_hook(
        lambda t: refresh_bloom_index(
            t.spark, t.path, columns, m_bits=m_bits, k_hashes=k_hashes
        )
    )
