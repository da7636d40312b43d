"""Seeded input generator and independent oracle for the CDC-lake benchmark.

The generator writes what a DMS replication task would leave on S3, and
nothing else: one full-load snapshot (``LOAD00000001.parquet``) of the
reference ``transactions`` table and a sequence of CDC files carrying
the ``Op`` (I/U/D) envelope, each named for its commit time in the
``YYYY/MM/DD/HH/YYYYMMDD-HHMMSSfff.parquet`` layout. The engine under
test only ever reads those files.

Two oracles share no code with the engine:

- ``expected_state`` recomputes the lake's content from the files with
  DuckDB: latest version per key by ``update_at``, deletes applied;
- ``Truth`` replays the generator's own record of each file's changes,
  so a read can be checked against the table as of any commit prefix.

Everything here is a pure function of ``(profile, seed)``: the same
seed writes byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference ``transactions`` contract (schema.TRANSACTIONS), in
# Arrow types: ids and timestamps are strings, amounts 32-bit ints.
BASE_FIELDS = [
    ("id", pa.string()),
    ("account_id", pa.string()),
    ("create_at", pa.string()),
    ("update_at", pa.string()),
    ("entity", pa.string()),
    ("amount", pa.int32()),
    ("is_credit", pa.int32()),
    ("note", pa.string()),
]
SNAPSHOT_SCHEMA = pa.schema(BASE_FIELDS)
CDC_SCHEMA = pa.schema(BASE_FIELDS + [("Op", pa.string())])
COLUMNS = [name for name, _ in BASE_FIELDS]

ENTITIES = np.array([f"e{i}" for i in range(8)])
DAY0 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000
# CDC commit times start after every snapshot update_at, so a CDC row
# always supersedes the snapshot version of its key.
CDC_T0 = datetime(2024, 3, 1)


@dataclass(frozen=True)
class Profile:
    """Shape of one workload's inputs."""

    snapshot_rows: int
    days: int
    file_rows: int
    n_files: int
    # Share of inserts, updates and deletes in each CDC file.
    mix: tuple[float, float, float]
    # Updates and deletes pick keys created in the newest ``hot_days``
    # day partitions; 0 spreads them uniformly over every partition.
    hot_days: int = 0


@dataclass
class CdcFile:
    name: str  # YYYY/MM/DD/HH/YYYYMMDD-HHMMSSfff.parquet
    commit_ts: datetime
    rows: int
    bytes: int


@dataclass
class Generated:
    snapshot: str
    snapshot_rows: int
    pending_dir: str  # CDC files, in landing layout, not yet landed
    files: list[CdcFile]
    # Per CDC file, the keys it changed: {id: row tuple, or None if
    # deleted}. ``Truth`` replays these.
    changes: list[dict] = field(repr=False)
    snapshot_state: dict = field(repr=False)
    n_keys: int = 0  # keys ever created: snapshot plus every file's inserts


def cdc_file_name(commit_ts: datetime) -> str:
    stamp = commit_ts.strftime("%Y%m%d-%H%M%S%f")[:-3]
    return f"{commit_ts:%Y/%m/%d/%H}/{stamp}.parquet"


def _ts(us: np.ndarray) -> list[str]:
    """Microseconds since 2024-01-01 → the reference's ISO-8601 strings."""
    s = np.datetime_as_string(DAY0 + us.astype("timedelta64[us]"), unit="us")
    return [x + "+00:00" for x in s.tolist()]


class _State:
    """Live rows of the simulated OLTP table, as column arrays indexed
    by the integer key. Keys grow with ``create_at``, so each day
    partition holds one contiguous key range."""

    def __init__(self, capacity: int):
        self.n = 0
        self.live = np.zeros(capacity, dtype=bool)
        self.day = np.zeros(capacity, dtype=np.int64)
        self.create_us = np.zeros(capacity, dtype=np.int64)
        self.update_us = np.zeros(capacity, dtype=np.int64)
        self.amount = np.zeros(capacity, dtype=np.int32)
        self.credit = np.zeros(capacity, dtype=np.int32)
        self.note = np.full(capacity, "load", dtype=object)

    def columns(self, keys: np.ndarray) -> list[list]:
        return [
            [f"t{k:09d}" for k in keys.tolist()],
            [f"a{a:06d}" for a in ((keys * 7919) % 50_000).tolist()],
            _ts(self.create_us[keys]),
            _ts(self.update_us[keys]),
            ENTITIES[keys % len(ENTITIES)].tolist(),
            self.amount[keys].tolist(),
            self.credit[keys].tolist(),
            self.note[keys].tolist(),
        ]


def _table(cols: list[list], ops: np.ndarray | None) -> pa.Table:
    arrays = [pa.array(c, type=t) for c, (_, t) in zip(cols, BASE_FIELDS)]
    if ops is None:
        return pa.Table.from_arrays(arrays, schema=SNAPSHOT_SCHEMA)
    return pa.Table.from_arrays(arrays + [pa.array(ops.tolist(), type=pa.string())], schema=CDC_SCHEMA)


def _rows(cols: list[list]) -> list[tuple]:
    return list(zip(*cols))


def generate(profile: Profile, seed: int, out_dir: str) -> Generated:
    """Write the snapshot and ``profile.n_files`` CDC files under
    ``out_dir`` (``snapshot/`` and ``pending/``)."""
    rng = np.random.default_rng(seed)
    p = profile
    n_ins = int(round(p.file_rows * p.mix[0]))
    n_del = int(round(p.file_rows * p.mix[2]))
    n_upd = p.file_rows - n_ins - n_del
    st = _State(p.snapshot_rows + n_ins * p.n_files)

    # Snapshot: key k is created on day k*days/rows, in key order, and
    # last updated up to an hour later.
    n = st.n = p.snapshot_rows
    st.live[:n] = True
    st.day[:n] = np.arange(n, dtype=np.int64) * p.days // n
    st.create_us[:n] = st.day[:n] * DAY_US + np.sort(rng.integers(0, DAY_US, size=n))
    st.update_us[:n] = st.create_us[:n] + rng.integers(0, 3_600_000_000, size=n)
    st.amount[:n] = rng.integers(1, 100_000, size=n, dtype=np.int32)
    st.credit[:n] = rng.integers(0, 2, size=n, dtype=np.int32)
    snap_cols = st.columns(np.arange(n))
    snap_dir = os.path.join(out_dir, "snapshot")
    os.makedirs(snap_dir, exist_ok=True)
    snapshot = os.path.join(snap_dir, "LOAD00000001.parquet")
    pq.write_table(_table(snap_cols, None), snapshot)
    snapshot_state = {r[0]: r for r in _rows(snap_cols)}

    pending = os.path.join(out_dir, "pending")
    files: list[CdcFile] = []
    changes: list[dict] = []
    last_day = p.days - 1
    hot_from = max(0, p.days - p.hot_days) if p.hot_days else 0
    for j in range(p.n_files):
        commit = CDC_T0 + timedelta(seconds=j + 1)
        commit_us = int((commit - datetime(2024, 1, 1)).total_seconds()) * 1_000_000
        # Updates and deletes: distinct live keys from the hot range.
        lo = int(np.searchsorted(st.day[: st.n], hot_from))
        cand = np.flatnonzero(st.live[lo : st.n]) + lo
        picked = rng.choice(cand, size=n_upd + n_del, replace=False)
        dele = picked[n_upd:]
        # Inserts: new keys created on the newest day.
        ins = np.arange(st.n, st.n + n_ins)
        st.n += n_ins
        st.live[ins] = True
        st.day[ins] = last_day
        st.create_us[ins] = last_day * DAY_US + np.sort(rng.integers(0, DAY_US, size=n_ins))
        ops = np.array(["I"] * n_ins + ["U"] * n_upd + ["D"] * n_del)
        order = rng.permutation(len(ops))
        keys = np.concatenate([ins, picked])[order]
        ops = ops[order]
        # Strictly increasing update_at, inside a file and across files.
        st.update_us[keys] = commit_us - len(keys) + np.arange(len(keys))
        live = ops != "D"
        st.amount[keys[live]] = rng.integers(1, 100_000, size=int(live.sum()), dtype=np.int32)
        st.credit[keys[live]] = rng.integers(0, 2, size=int(live.sum()), dtype=np.int32)
        st.note[keys[live]] = f"c{j}"
        st.live[dele] = False
        cols = st.columns(keys)
        name = cdc_file_name(commit)
        path = os.path.join(pending, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(_table(cols, ops), path)
        files.append(CdcFile(name, commit, len(keys), os.path.getsize(path)))
        changes.append(
            {r[0]: (r if op != "D" else None) for r, op in zip(_rows(cols), ops.tolist())}
        )
    return Generated(snapshot, n, pending, files, changes, snapshot_state, st.n)


class Truth:
    """The table as the generator left it after a prefix of the CDC
    files: the oracle for reads issued between commits."""

    def __init__(self, g: Generated):
        self._changes = g.changes
        self.state = dict(g.snapshot_state)
        self.applied = 0

    def advance(self, n_files: int) -> None:
        while self.applied < n_files:
            for k, row in self._changes[self.applied].items():
                if row is None:
                    self.state.pop(k, None)
                else:
                    self.state[k] = row
            self.applied += 1

    def rows(self, keys) -> set[tuple]:
        return {self.state[k] for k in keys if k in self.state}

    def range_rows(self, lo: str, hi: str) -> set[tuple]:
        return {r for k, r in self.state.items() if lo <= k <= hi}

    def aggregate(self, group_cols: list[str]) -> set[tuple]:
        """``(*group, sum(amount), count(*))`` per group."""
        idx = [COLUMNS.index(c) for c in group_cols]
        amt = COLUMNS.index("amount")
        acc: dict[tuple, list[int]] = {}
        for r in self.state.values():
            a = acc.setdefault(tuple(r[i] for i in idx), [0, 0])
            a[0] += r[amt]
            a[1] += 1
        return {(*g, s, c) for g, (s, c) in acc.items()}


def expected_state(snapshot: str, cdc_paths: list[str], out_path: str) -> int:
    """Write the table's expected content after ``cdc_paths`` to a
    parquet file with DuckDB and return its row count: the latest
    version of every key by ``update_at``, keys whose latest version is
    a delete dropped."""
    import duckdb

    cols = ", ".join(COLUMNS)
    parts = [f"SELECT {cols}, 'I' AS Op FROM read_parquet('{snapshot}')"]
    if cdc_paths:
        listed = ", ".join(f"'{p}'" for p in cdc_paths)
        parts.append(f"SELECT {cols}, Op FROM read_parquet([{listed}])")
    sql = f"""
        SELECT {cols} FROM (
            SELECT *, row_number() OVER (PARTITION BY id ORDER BY update_at DESC) AS rn
            FROM ({' UNION ALL '.join(parts)})
        ) WHERE rn = 1 AND Op <> 'D'
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        tbl = con.execute(sql).arrow()
    finally:
        con.close()
    if not isinstance(tbl, pa.Table):  # newer DuckDB returns a reader
        tbl = tbl.read_all()
    pq.write_table(tbl.cast(SNAPSHOT_SCHEMA), out_path)
    return tbl.num_rows
