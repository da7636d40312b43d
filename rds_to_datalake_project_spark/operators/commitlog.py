"""The commit log: the one module that knows the commit-record format.

Every publish of a retained table leaves one record, ``.meta/v{N}.flag``
(N = the commit's version). It starts life as the staging dir's
``_PUBLISH_READY`` flag (the publish's commit point) and is renamed into
``.meta`` once every swap landed, so the bytes written at flag time are
the committed record. The text is ``#key=value`` meta lines, then the
manifest, one name per line::

    #version=N          commit number (retained tables only)
    #created=r1<TAB>r2  partition rels this commit made (absent before)
    #base_token=T       snapshot token the staged merge was computed
                        from; empty = the table had none. A flag without
                        the line is a legacy staging: it publishes
                        unconditionally.
    #dv_target=vN       deletion-vector commit: the vector's name in .dv/
    #dv_rels=r1<TAB>r2  partitions the vector masks rows in
    #appended=r/f<TAB>  MOR-update files renamed into live dirs
    part-0000.parquet   staged top-level data files (unpartitioned swap)

What a record does NOT hold is read from elsewhere, and only by the
callers that use it: the partitions a commit retired are the listing of
``.retired/v{N}`` (:attr:`CommitRecord.retired`), and its commit time is
the record file's mtime (:attr:`CommitRecord.commit_time_ms`).

Two partition rules live here, each written once:

- :attr:`CommitRecord.file_rels`: the partitions whose FILES the commit
  changed (created ∪ retired ∪ dirs of appended files — a MOR update
  appends one small file per partition). Auto-compact repairs these. It
  leaves a vector's reach out on purpose: a deletion vector masks rows
  without adding a file, so it cannot fragment one.
- :attr:`CommitRecord.touched`: ``file_rels`` ∪ ``dv_rels`` — every
  partition whose rows the commit may have changed. Partition-level OCC,
  ``table_changes`` pruning and clone ``promote`` use it. A vector
  commit without ``dv_rels`` has unknown reach: ``touched`` is None.

A missing record makes its range unknowable: :func:`read_range` raises
``FileNotFoundError`` (retention expired it, or it never existed), and a
caller with a safe fallback (strict token conflict, the full diff, a
promote conflict) takes it instead of guessing.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

_STAGED_NAME = "_PUBLISH_READY"


def record_path(root: str, version: int) -> str:
    """Where commit ``version``'s record lives under table ``root``."""
    return f"{root}/.meta/v{version}.flag"


def staged_path(staging: str) -> str:
    """The ready flag of a staging dir — the record before it commits."""
    return f"{staging}/{_STAGED_NAME}"


def versions(fs, root: str) -> list[int]:
    """Versions with a record under ``root``, ascending (one listing)."""
    meta = f"{root}/.meta"
    if not fs.exists(meta):
        return []
    out = []
    for st in fs.listStatus(meta):
        n = st.getPath().getName()
        if n.startswith("v") and n.endswith(".flag"):
            out.append(int(n[1 : -len(".flag")]))
    return sorted(out)


def _rels(value: str) -> tuple[str, ...]:
    return tuple(r for r in value.split("\t") if r)


@dataclass(frozen=True)
class CommitRecord:
    """One commit record. ``None`` fields are lines the record does not
    carry; tuples keep the order the writer chose, so :meth:`render`
    reproduces a parsed record byte for byte."""

    version: int | None = None
    created: tuple[str, ...] = ()
    base_token: str | None = None
    dv_target: str | None = None
    dv_rels: tuple[str, ...] | None = None
    appended: tuple[str, ...] = ()
    manifest: tuple[str, ...] = ()
    # the committed table, for the lazily read facts (None for a staged
    # record or a parsed text)
    table: object = field(default=None, compare=False, repr=False)

    def render(self) -> str:
        """The flag text — :func:`parse` inverted."""
        lines = []
        if self.version is not None:
            lines.append(f"#version={self.version}")
            lines.append("#created=" + "\t".join(self.created))
        if self.base_token is not None:
            lines.append("#base_token=" + self.base_token)
        if self.dv_target is not None:
            lines.append("#dv_target=" + self.dv_target)
        if self.dv_rels is not None:
            lines.append("#dv_rels=" + "\t".join(self.dv_rels))
        if self.appended:
            lines.append("#appended=" + "\t".join(self.appended))
        lines.extend(self.manifest)
        return "\n".join(lines)

    @cached_property
    def retired(self) -> tuple[str, ...]:
        """Partition rels whose pre-commit copy this commit parked under
        ``.retired/v{N}``, in listing order (one walk of that dir, on
        first use)."""
        t = self.table
        root = f"{t.path}/.retired/v{self.version}"
        if not t._fs.exists(root):
            return ()
        return tuple(t._staged_partition_dirs(root))

    @cached_property
    def commit_time_ms(self) -> int:
        """The record file's mtime, epoch ms (the commit's clock)."""
        t = self.table
        return t._fs.getFileStatus(
            record_path(t.path, self.version)
        ).getModificationTime()

    @property
    def file_rels(self) -> frozenset[str]:
        """Partitions whose files this commit changed."""
        return frozenset(self.created).union(
            self.retired,
            (p.rsplit("/", 1)[0] for p in self.appended if "/" in p),
        )

    @property
    def touched(self) -> frozenset[str] | None:
        """Partitions whose rows this commit may have changed; None when
        a vector commit does not say which partitions it masks."""
        if self.dv_target and not self.dv_rels:
            return None
        return self.file_rels | frozenset(self.dv_rels or ())


def parse(text: str, table=None) -> CommitRecord:
    """The record a flag's text encodes."""
    meta: dict[str, str] = {}
    manifest = []
    for line in text.split("\n"):
        if line.startswith("#"):
            if "=" in line:
                k, v = line[1:].split("=", 1)
                meta[k] = v
        elif line:
            manifest.append(line)
    return CommitRecord(
        version=int(meta["version"]) if "version" in meta else None,
        created=_rels(meta.get("created", "")),
        base_token=meta.get("base_token"),
        dv_target=meta.get("dv_target"),
        dv_rels=_rels(meta["dv_rels"]) if "dv_rels" in meta else None,
        appended=_rels(meta.get("appended", "")),
        manifest=tuple(manifest),
        table=table,
    )


def read(fs, path: str, table=None) -> CommitRecord:
    """The record at ``path`` (a record or a staging's ready flag)."""
    text = fs.read_text(path)
    if text is None:
        raise FileNotFoundError(f"commit record missing: {path}")
    return parse(text, table)


def read_range(table, after: int | None = None, upto: int | None = None):
    """Records of commits ``(after, upto]`` in version order, one flag
    read each. A bound left None is that end of the retained history
    (one listing of ``.meta``). Raises ``FileNotFoundError`` when a
    record in the range is missing."""
    if after is None or upto is None:
        vs = table.versions()
        if not vs:
            return []
        after = vs[0] - 1 if after is None else after
        upto = vs[-1] if upto is None else upto
    return [
        read(table._fs, record_path(table.path, v), table)
        for v in range(after + 1, upto + 1)
    ]
