"""The ``file:`` filesystem override (``kafka_go_streamer_spark/localfs``):
the session resolves ``file:`` to it, and it leaves on disk exactly what
Hadoop's stock local filesystem leaves, with the same statuses."""

from __future__ import annotations

import logging
import os

import pytest
from py4j.protocol import Py4JJavaError

from kafka_go_streamer_spark import session
from kafka_go_streamer_spark.session import LOCAL_FS_CONF

STOCK_CONF = {
    "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}


def _uri(jvm, path: str = "/"):
    return jvm.java.net.URI("file://" + path)


@pytest.fixture(scope="module")
def filesystems(spark):
    """``(name, hadoop conf, FileSystem)`` for the session and for stock
    Hadoop; the stock side is a private instance so the shared
    ``FileSystem`` cache keeps the session's."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    for k, v in STOCK_CONF.items():
        stock_conf.set(k, v)
    stock_fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(_uri(jvm), stock_conf)
    yield [
        ("session", conf, jvm.org.apache.hadoop.fs.FileSystem.get(_uri(jvm), conf)),
        ("stock", stock_conf, stock_fs),
    ]
    stock_fs.close()


def test_session_resolves_file_scheme_to_override(spark, filesystems):
    jvm = spark._jvm
    _, conf, fs = filesystems[0]
    assert fs.getClass().getName() == LOCAL_FS_CONF["spark.hadoop.fs.file.impl"]
    assert fs.getRaw().getClass().getName() == (
        "kafka_go_streamer_spark.localfs.ForklessRawLocalFileSystem"
    )
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(_uri(jvm), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == (
        LOCAL_FS_CONF["spark.hadoop.fs.AbstractFileSystem.file.impl"]
    )
    _, stock_conf, stock_fs = filesystems[1]
    assert stock_fs.getRaw().getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"


def _status(st, root: str) -> tuple:
    def rel(p):
        return None if p is None else os.path.relpath(p.toUri().getPath(), root)

    return (
        rel(st.getPath()),
        st.isDirectory(),
        st.isSymlink(),
        st.getLen(),
        st.getModificationTime(),
        st.getPermission().toString(),
        st.getOwner(),
        st.getGroup(),
        rel(st.getSymlink()) if st.isSymlink() else None,
    )


def _statuses(spark, conf, fs, root: str) -> dict:
    """Every status call the checkpoint and sink paths make, through the
    checksummed ``FileSystem``, the raw one under it and the
    ``FileContext`` API, for qualified and bare paths. Only a bare path
    through the raw layer reports a symlink as one: Hadoop's non-native
    ``readlink`` is handed the path's ``file:`` URI string otherwise."""
    jvm = spark._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(_uri(jvm), conf)
    out = {}
    for name in ("file", "dir", "link", "dangling", "missing"):
        for form in ("qualified", "bare"):
            local = os.path.join(root, name)
            p = jvm.org.apache.hadoop.fs.Path(_uri(jvm, local) if form == "qualified" else local)
            for api, handle in (("fs", fs), ("raw", fs.getRaw()), ("fc", fc)):
                for call in ("getFileStatus", "getFileLinkStatus"):
                    try:
                        got = _status(getattr(handle, call)(p), root)
                    except Py4JJavaError as e:
                        got = e.java_exception.getClass().getName()
                    out[(name, form, api, call)] = got
    return out


def test_statuses_match_stock(spark, filesystems, tmp_path):
    root = str(tmp_path)
    (tmp_path / "file").write_bytes(b"x" * 100)
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")

    got = {name: _statuses(spark, conf, fs, root) for name, conf, fs in filesystems}
    assert got["session"] == got["stock"]
    ours = got["session"]
    for api in ("fs", "raw", "fc"):
        for call in ("getFileStatus", "getFileLinkStatus"):
            missing = ours[("missing", "qualified", api, call)]
            assert missing == "java.io.FileNotFoundException"
            assert ours[("file", "qualified", api, call)][1:4] == (False, False, 100)
            assert ours[("dir", "qualified", api, call)][1:3] == (True, False)
            # followed: the target's length, under the link's own name
            assert ours[("link", "qualified", api, "getFileStatus")][:4] == (
                "link", False, False, 100
            )
    link = ours[("link", "bare", "raw", "getFileLinkStatus")]
    assert (link[0], link[2], link[-1]) == ("link", True, "file")
    dangling = ours[("dangling", "bare", "raw", "getFileLinkStatus")]
    assert (dangling[0], dangling[2], dangling[-1]) == ("dangling", True, "gone")
    assert ours[("dangling", "bare", "raw", "getFileStatus")] == "java.io.FileNotFoundException"


def _write_tree(spark, conf, fs, root: str) -> None:
    """The writes a micro-batch makes: a checkpoint log entry (create a
    temp file, then rename it over, through ``FileContext``), a sink part
    file and its directories (through ``FileSystem``), plus explicit
    modes, one of them with the sticky bit."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    log_dir = hpath(_uri(jvm, os.path.join(root, "offsets")))
    manager = (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    ).create(log_dir, conf)
    manager.mkdirs(log_dir)
    for batch in range(2):
        out = manager.createAtomic(hpath(log_dir, str(batch)), True)
        out.write(f"v1\n{{\"batch\":{batch}}}".encode())
        out.close()

    part = hpath(_uri(jvm, os.path.join(root, "sink", "topic=a", "part-0.parquet")))
    out = fs.create(part)
    out.write(b"PAR1" * 1000)
    out.close()
    fs.mkdirs(hpath(_uri(jvm, os.path.join(root, "private"))), perm(0o700))
    fs.setPermission(part, perm(0o640))
    shared = hpath(_uri(jvm, os.path.join(root, "shared")))
    fs.mkdirs(shared)
    fs.setPermission(shared, perm(0o1777))


def _tree(root: str) -> dict:
    found = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            st = os.lstat(p)
            body = None
            if os.path.isfile(p):
                with open(p, "rb") as f:
                    body = f.read()
            found[os.path.relpath(p, root)] = (oct(st.st_mode), body)
    return found


def test_written_files_modes_and_crcs_match_stock(spark, filesystems, tmp_path):
    trees = {}
    for name, conf, fs in filesystems:
        root = str(tmp_path / name)
        os.mkdir(root)
        _write_tree(spark, conf, fs, root)
        trees[name] = _tree(root)
    assert trees["session"] == trees["stock"]

    ours = trees["session"]
    data = [p for p in ours if ours[p][1] is not None and not p.endswith(".crc")]
    assert sorted(data) == ["offsets/0", "offsets/1", "sink/topic=a/part-0.parquet"]
    for p in data:
        d, f = os.path.split(p)
        assert os.path.join(d, f".{f}.crc") in ours
    assert ours["private"][0] == oct(0o40700)
    assert ours["shared"][0] == oct(0o41777)
    assert ours["sink/topic=a/part-0.parquet"][0] == oct(0o100640)


def test_class_dir_ignores_per_run_jvm_options(monkeypatch, tmp_path):
    """The cache key is the sources and the javac version, not the
    ``Picked up JAVA_TOOL_OPTIONS`` notice a per-run option prints."""
    session.local_fs_classes.cache_clear()
    try:
        plain = session.local_fs_classes()
        monkeypatch.setenv("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp_path}")
        session.local_fs_classes.cache_clear()
        assert session.local_fs_classes() == plain
    finally:
        session.local_fs_classes.cache_clear()
    assert os.path.isfile(os.path.join(
        plain, "kafka_go_streamer_spark", "localfs", "ForklessLocalFileSystem.class"
    ))


def test_no_javac_falls_back_with_one_warning(monkeypatch, tmp_path, caplog):
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))
    session.local_fs_classes.cache_clear()
    try:
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            assert session.local_fs_classes() is None
            assert session.local_fs_classes() is None
    finally:
        session.local_fs_classes.cache_clear()
    assert [r.getMessage().split(";")[0] for r in caplog.records] == ["no javac found"]
