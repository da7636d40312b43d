"""Contract tests for the metadata-I/O layer (``fsio``).

The same script of operations runs against the native handle (a plain
local root) and the Hadoop adapter (the same kind of root as a
``file://`` URI, served by Hadoop's LocalFileSystem), and both must
observe the same results — the semantics the engine's publish protocol
relies on, whichever route a table's path takes."""

from __future__ import annotations

import threading

import pytest

from rds_to_datalake_project_spark import fsio


def _names(fs, path) -> list[str]:
    # Hadoop hides its .crc siblings, NativeFS shows them: compare
    # listings without dot-names
    return sorted(
        n for n in (st.getPath().getName() for st in fs.listStatus(path))
        if not n.startswith(".")
    )


def _raises(fn) -> bool:
    try:
        fn()
    except Exception:
        return True
    return False


def _write(fs, path: str, data: bytes, overwrite: bool = True) -> None:
    out = fs.create(path, overwrite)
    out.write(data)
    out.close()


def _script(fs, root: str, local_root: str) -> dict:
    """Run every contract operation under ``root``; return what was
    observed, with paths made relative so both routes compare."""
    obs: dict = {}
    r = root
    obs["mkdirs_twice"] = (fs.mkdirs(f"{r}/d"), fs.mkdirs(f"{r}/d"))
    _write(fs, f"{r}/d/f", b"hello")
    _write(fs, f"{r}/a", b"aa")
    _write(fs, f"{r}/b", b"bbb")

    # exclusive create
    try:
        fs.create(f"{r}/a", False)
        obs["create_excl_existing_raises"] = None
    except FileExistsError:
        obs["create_excl_existing_raises"] = "FileExistsError"
    obs["create_excl_kept_content"] = fs.open(f"{r}/a").read()
    out = fs.create(f"{r}/new/deep/x", False)  # parents made
    out.close()
    obs["create_made_parents"] = fs.exists(f"{r}/new/deep/x")

    # rename onto an existing (non-empty) dir moves the source inside
    obs["rename_into_dir"] = fs.rename(f"{r}/a", f"{r}/d")
    obs["rename_into_dir_listing"] = _names(fs, f"{r}/d")
    # ... and onto an existing EMPTY dir too (file and dir sources)
    fs.mkdirs(f"{r}/e")
    fs.mkdirs(f"{r}/e2")
    _write(fs, f"{r}/g", b"g")
    _write(fs, f"{r}/h/x", b"x")
    obs["rename_file_into_empty_dir"] = fs.rename(f"{r}/g", f"{r}/e")
    obs["rename_dir_into_empty_dir"] = fs.rename(f"{r}/h", f"{r}/e2")
    obs["empty_dir_targets"] = (_names(fs, f"{r}/e"), _names(fs, f"{r}/e2"))
    obs["moved_dir_listing"] = _names(fs, f"{r}/e2/h")

    # the False cases: nothing moves
    obs["rename_onto_file"] = fs.rename(f"{r}/b", f"{r}/d/f")
    obs["rename_into_missing_parent"] = fs.rename(f"{r}/b", f"{r}/nope/b")
    obs["missing_parent_not_made"] = fs.exists(f"{r}/nope")
    obs["rename_missing_source"] = fs.rename(f"{r}/zz", f"{r}/yy")
    obs["source_kept"] = fs.open(f"{r}/b").read()
    obs["target_file_kept"] = fs.open(f"{r}/d/f").read()

    # delete
    obs["delete_missing"] = fs.delete(f"{r}/zz", True)
    obs["delete_nonrecursive_nonempty_raises"] = _raises(
        lambda: fs.delete(f"{r}/d", False)
    )
    obs["nonempty_dir_kept"] = fs.exists(f"{r}/d/f")
    obs["delete_file"] = (fs.delete(f"{r}/b"), fs.exists(f"{r}/b"))
    obs["delete_recursive"] = (fs.delete(f"{r}/new", True), fs.exists(f"{r}/new"))

    # statuses and listings
    obs["listStatus_of_file"] = _names(fs, f"{r}/d/f")
    st = fs.getFileStatus(f"{r}/d/f")
    obs["file_status"] = (st.isDirectory(), st.isFile(), st.getLen())
    obs["dir_status"] = fs.getFileStatus(f"{r}/d").isDirectory()
    obs["getFileStatus_missing_raises"] = _raises(
        lambda: fs.getFileStatus(f"{r}/zz")
    )
    obs["listStatus_missing_raises"] = _raises(lambda: fs.listStatus(f"{r}/zz"))
    files = []
    it = fs.listFiles(r, True)
    while it.hasNext():
        p = str(it.next().getPath())
        rel = p.split(local_root, 1)[1]
        if not rel.rsplit("/", 1)[1].startswith("."):
            files.append(rel)
    obs["listFiles_recursive"] = sorted(files)
    obs["content_summary"] = fs.getContentSummary(f"{r}/d").getLength()

    # small marker files
    obs["read_missing"] = fs.read_text(f"{r}/zz")
    fs.write_text(f"{r}/m/t", "first")
    fs.write_text(f"{r}/m/t", "second")
    obs["write_read"] = fs.read_text(f"{r}/m/t")
    fs.write_text(f"{r}/m/empty", "")
    obs["write_empty"] = fs.read_text(f"{r}/m/empty")
    fs.publish_text(f"{r}/p/rec", "v1")  # parents made by create
    fs.publish_text(f"{r}/p/rec", "v2-longer")
    obs["publish_read"] = fs.read_text(f"{r}/p/rec")
    obs["publish_leaves_no_tmp"] = fs.exists(f"{r}/p/.rec.tmp")
    obs["publish_dir"] = _names(fs, f"{r}/p")
    return obs


EXPECTED = {
    "mkdirs_twice": (True, True),
    "create_excl_existing_raises": "FileExistsError",
    "create_excl_kept_content": b"aa",
    "create_made_parents": True,
    "rename_into_dir": True,
    "rename_into_dir_listing": ["a", "f"],
    "rename_file_into_empty_dir": True,
    "rename_dir_into_empty_dir": True,
    "empty_dir_targets": (["g"], ["h"]),
    "moved_dir_listing": ["x"],
    "rename_onto_file": False,
    "rename_into_missing_parent": False,
    "missing_parent_not_made": False,
    "rename_missing_source": False,
    "source_kept": b"bbb",
    "target_file_kept": b"hello",
    "delete_missing": False,
    "delete_nonrecursive_nonempty_raises": True,
    "nonempty_dir_kept": True,
    "delete_file": (True, False),
    "delete_recursive": (True, False),
    "listStatus_of_file": ["f"],
    "file_status": (False, True, 5),
    "dir_status": True,
    "getFileStatus_missing_raises": True,
    "listStatus_missing_raises": True,
    "listFiles_recursive": [
        "/d/a", "/d/f", "/e/g", "/e2/h/x",
    ],
    "content_summary": 7,
    "read_missing": None,
    "write_read": "second",
    "write_empty": "",
    "publish_read": "v2-longer",
    "publish_leaves_no_tmp": False,
    "publish_dir": ["rec"],
}


def test_fs_for_routes_by_scheme(spark, tmp_path):
    assert isinstance(fsio.fs_for(spark, str(tmp_path)), fsio.NativeFS)
    assert isinstance(fsio.fs_for(spark, f"file://{tmp_path}"), fsio.HadoopFS)


def test_native_and_hadoop_routes_observe_the_same_contract(spark, tmp_path):
    native_root = str(tmp_path / "native")
    hadoop_local = str(tmp_path / "hadoop")
    hadoop_root = f"file://{hadoop_local}"
    native = _script(fsio.fs_for(spark, native_root), native_root, native_root)
    hadoop = _script(fsio.fs_for(spark, hadoop_root), hadoop_root, hadoop_local)
    assert native == hadoop
    assert native == EXPECTED


def test_checksum_siblings_stay_consistent_across_routes(spark, tmp_path):
    """Files the Hadoop route wrote (with a ``.crc`` sibling) and the
    native route then rewrote, published over or renamed must read
    back through Hadoop without a checksum failure.

    The engine's session registers a checksum-free LocalFileSystem for
    ``file:``, so this test points the adapter at a private stock
    LocalFileSystem, which writes and verifies the siblings."""
    local = str(tmp_path)
    via_hadoop = f"file://{local}"
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(
        spark._jsc.hadoopConfiguration()
    )
    conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    native = fsio.fs_for(spark, local)
    hadoop = fsio.fs_for(spark, via_hadoop)
    hadoop._fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jvm.java.net.URI(via_hadoop), conf
    )
    try:
        # verification is live: a rewrite that ignores the sibling fails
        hadoop.write_text(f"{via_hadoop}/stale", "written through hadoop")
        assert native.exists(f"{local}/.stale.crc")
        with open(f"{local}/stale", "w") as f:
            f.write("rewritten behind the checksum's back")
        assert _raises(lambda: hadoop.read_text(f"{via_hadoop}/stale"))

        hadoop.write_text(f"{via_hadoop}/w", "written through hadoop")
        native.write_text(f"{local}/w", "native")
        assert hadoop.read_text(f"{via_hadoop}/w") == "native"

        hadoop.write_text(f"{via_hadoop}/p", "written through hadoop")
        native.publish_text(f"{local}/p", "published natively, longer")
        assert hadoop.read_text(f"{via_hadoop}/p") == "published natively, longer"

        hadoop.write_text(f"{via_hadoop}/src", "moves with its checksum")
        assert native.rename(f"{local}/src", f"{local}/dst")
        assert hadoop.read_text(f"{via_hadoop}/dst") == "moves with its checksum"
    finally:
        hadoop._fs.close()


def test_native_exclusive_create_admits_one_winner():
    """``create(p, overwrite=False)`` is the commit lock's arbitration
    point: racing creators of one path must see exactly one winner."""
    import sys
    import tempfile

    fs = fsio.NativeFS()
    n_threads, rounds = 8, 300
    barrier = threading.Barrier(n_threads, timeout=30)
    wins = [[0] * rounds for _ in range(n_threads)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with tempfile.TemporaryDirectory() as d:

            def racer(i: int) -> None:
                for k in range(rounds):
                    barrier.wait()
                    try:
                        out = fs.create(f"{d}/lock-{k}", False)
                    except OSError:
                        continue
                    out.write(str(i).encode())
                    out.close()
                    wins[i][k] = 1

            threads = [
                threading.Thread(target=racer, args=(i,))
                for i in range(n_threads)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            per_round = [sum(w[k] for w in wins) for k in range(rounds)]
            assert per_round == [1] * rounds
            with pytest.raises(FileExistsError):
                fs.create(f"{d}/lock-0", False)
    finally:
        sys.setswitchinterval(switch)


def test_no_module_outside_fsio_reaches_the_filesystem_itself():
    """``fsio`` is the only module that turns a path into a filesystem
    call: no other package module names the Hadoop FileSystem API or
    writes a ``.tmp`` file and renames it into place (that publish is
    ``publish_text``)."""
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(fsio.__file__).parent
    hadoop = re.compile(r"org\.apache\.hadoop|hadoopConfiguration|getFileSystem")
    offenders = []
    for src in sorted(pkg.rglob("*.py")):
        if src.name == "fsio.py":
            continue
        text = src.read_text()
        rel = src.relative_to(pkg.parent)
        for n, line in enumerate(text.splitlines(), 1):
            if hadoop.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
        for fn in ast.walk(ast.parse(text)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            tmp = any(
                isinstance(c, ast.Constant)
                and isinstance(c.value, str)
                and ".tmp" in c.value
                for c in ast.walk(fn)
            )
            renames = any(
                isinstance(c, ast.Call)
                and "rename" in getattr(c.func, "attr", getattr(c.func, "id", ""))
                for c in ast.walk(fn)
            )
            if tmp and renames:
                offenders.append(f"{rel}:{fn.lineno}: {fn.name} publishes via .tmp")
    assert offenders == []
