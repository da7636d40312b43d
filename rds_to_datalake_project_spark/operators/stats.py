"""Persisted table statistics — the engine's cost-model input.

The reference leans on Glue catalog metadata and eyeballed
``show_df_details`` counts (glue_jobs/initial_load.py:77-85); at
100 TB the numbers a planner needs (row counts, per-column NDV,
null fractions, min/max) must be a maintained artifact, not a query
you remember to run. This module persists the one-pass profile
(:func:`~rds_to_datalake_project_spark.operators.profile.profile_table`)
as a ``profile`` part under ``<table>/.stats`` in the sidecar
lifecycle shared with the index services (operators/sidecar.py) — and
derives planning decisions from it:

- :func:`advise_join` — broadcast the under-threshold side / shuffle /
  salt, decided from persisted row counts and key NDV instead of
  guesswork (the static analog of AQE's runtime decisions, available
  BEFORE the first shuffle materializes and to external schedulers);
- :func:`stats_informed_join` — executes the advice: applies the
  broadcast hint, or routes through the measured salted join
  (operators/skew.py) when rows-per-key says the keyspace is skewed.

Scale notes: the stats build is one scan with map-side partial
aggregation collapsing to one row per column — no data-sized shuffle;
maintenance cost is bounded by ``refresh_every`` commits. Decisions
read a k-row sidecar, never the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rds_to_datalake_project_spark.operators.profile import profile_table
from rds_to_datalake_project_spark.operators.sidecar import (
    Part,
    Sidecar,
    consistent,
    head_version,
    publish_build,
    refresh,
)
from rds_to_datalake_project_spark.operators.skew import salted_join
from rds_to_datalake_project_spark.operators.upsert import KeyedTable

_STATS_DIR = ".stats"


def _sidecar(table: KeyedTable) -> Sidecar:
    return Sidecar(f"{table.path}/{_STATS_DIR}", parts=("profile",))


def build_table_stats(table: KeyedTable, exact_distinct: bool = False) -> int:
    """(Re)build the persisted profile at the table's current commit.
    Returns the number of column rows written. ``exact_distinct``
    swaps HyperLogLog NDV for exact COUNT(DISTINCT) — one extra
    shuffle per column, test/oracle territory (profile_table docs)."""
    sc = _sidecar(table)
    version = head_version(table)
    prof = profile_table(table.read(), exact_distinct=exact_distinct)
    publish_build(table.spark, sc, version, [Part("profile", prof, coalesce=1)])
    return table.spark.read.parquet(f"{sc.dir}/profile").count()


def read_table_stats(table: KeyedTable) -> DataFrame | None:
    """The persisted profile IF consistent (epochs agree), else None
    — torn or missing stats mean "no estimate", never a stale guess
    served as fresh."""
    sc = _sidecar(table)
    if consistent(table.spark, sc.dir, sc.parts) is None:
        return None
    return table.spark.read.parquet(f"{sc.dir}/profile")


def stats_version(table: KeyedTable) -> int | None:
    sc = _sidecar(table)
    state = consistent(table.spark, sc.dir, sc.parts)
    return state.version if state else None


def attach_stats_maintenance(
    table: KeyedTable, exact_distinct: bool = False, refresh_every: int = 1
) -> None:
    """Post-commit hook keeping the stats sidecar fresh (same
    failure-isolated advisory slot as the bloom index). A stats build is
    a full scan — ``refresh_every=N`` amortizes it to every Nth
    commit; in between, consumers see the last consistent profile
    (row counts at most N commits stale, which a cost model
    tolerates). An unversioned table rebuilds on every commit: with
    no commit log its lag cannot be told."""

    def stats_refresh(t: KeyedTable) -> None:
        refresh(
            t, _sidecar(t),
            lambda: build_table_stats(t, exact_distinct=exact_distinct),
            lambda w: None if w.head - w.state.version >= refresh_every else [],
        )

    table.add_maintenance_hook(stats_refresh)


# -- planning ----------------------------------------------------------------


def _stat(stats: DataFrame, column: str) -> tuple[int, int]:
    """(n_rows, ndv) for ``column`` from a profile frame (k rows —
    a driver-side lookup, not a data-path collect)."""
    row = stats.filter(F.col("column") == column).select(
        "n_rows", "n_distinct"
    ).head()
    if row is None:
        raise ValueError(f"column {column!r} not present in stats profile")
    return int(row[0]), int(row[1])


def advise_join(
    left_stats: DataFrame,
    right_stats: DataFrame,
    left_key: str,
    right_key: str,
    broadcast_max_rows: int = 1_000_000,
    skew_rows_per_key: int = 2_000_000,
) -> dict:
    """Pick a physical join strategy from persisted stats.

    Rules (in order):
    1. either side's row count ≤ ``broadcast_max_rows`` → broadcast
       that side (the smaller when both qualify);
    2. else if the BIG side averages more than ``skew_rows_per_key``
       rows per distinct key → salted shuffle join (the static twin
       of salted_join's sampled auto_salt);
    3. else plain shuffle join (AQE handles residual runtime skew).

    Returns ``{"strategy", "broadcast_side", "left_rows",
    "right_rows", "left_key_ndv", "right_key_ndv",
    "big_rows_per_key"}``.
    """
    l_rows, l_ndv = _stat(left_stats, left_key)
    r_rows, r_ndv = _stat(right_stats, right_key)
    big_rows, big_ndv = (l_rows, l_ndv) if l_rows >= r_rows else (r_rows, r_ndv)
    rows_per_key = big_rows // max(big_ndv, 1)
    out = {
        "strategy": "shuffle",
        "broadcast_side": None,
        "left_rows": l_rows,
        "right_rows": r_rows,
        "left_key_ndv": l_ndv,
        "right_key_ndv": r_ndv,
        "big_rows_per_key": rows_per_key,
    }
    if min(l_rows, r_rows) <= broadcast_max_rows:
        out["strategy"] = "broadcast"
        out["broadcast_side"] = "left" if l_rows <= r_rows else "right"
    elif rows_per_key > skew_rows_per_key:
        out["strategy"] = "salted"
    return out


def stats_informed_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_stats: DataFrame,
    right_stats: DataFrame,
    how: str = "inner",
    broadcast_max_rows: int = 1_000_000,
    skew_rows_per_key: int = 2_000_000,
) -> tuple[DataFrame, dict]:
    """Execute the join the advisory picks. Broadcast applies the
    explicit hint (beats waiting for AQE when stats already know);
    salted routes through the measured salted join; shuffle falls
    through to the planner. Returns (joined, advice)."""
    advice = advise_join(
        left_stats,
        right_stats,
        left_key,
        right_key,
        broadcast_max_rows,
        skew_rows_per_key,
    )
    cond = left[left_key] == right[right_key]
    if advice["strategy"] == "broadcast":
        if advice["broadcast_side"] == "left":
            joined = F.broadcast(left).join(right, cond, how)
        else:
            joined = left.join(F.broadcast(right), cond, how)
    elif advice["strategy"] == "salted" and (
        how == "inner"
        or (how == "left" and advice["left_rows"] >= advice["right_rows"])
    ):
        # salted_join replicates its SECOND argument and preserves
        # left semantics for its FIRST — an outer join whose preserved
        # side is the small one can't ride it; that case falls through
        # to the plain join (AQE skew handling still applies).
        big, small = (
            (left, right)
            if advice["left_rows"] >= advice["right_rows"]
            else (right, left)
        )
        pair = [(left_key, right_key)] if big is left else [(right_key, left_key)]
        joined = salted_join(big, small, pair, auto_salt=True, how=how)
    else:
        joined = left.join(right, cond, how)
    return joined, advice
