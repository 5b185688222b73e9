"""The session's local filesystem (``_jvm/NoForkLocalFs.java``).

``get_spark`` routes ``file://`` through a ``RawLocalFileSystem`` that
sets modes and reads link status in the JVM instead of starting
``chmod``/``readlink`` processes. These tests pin that the session
really uses it, through both Hadoop APIs, and that it leaves the same
files, modes, ``.crc`` checksums and link statuses as Hadoop's stock
local filesystem in the same JVM (same process umask).
"""

import os

import pytest
from pyspark import SparkContext

from watermark_detector_spark.session import _FS_CLASS, engine_conf

_STOCK = {
    "fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}


@pytest.fixture(scope="module")
def hadoop(spark):
    """(jvm, engine FileSystem, engine FileContext, stock FileSystem,
    stock FileContext) for ``file:///`` under the session's Hadoop conf."""
    jvm = spark._jvm
    H = jvm.org.apache.hadoop
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock_conf = H.conf.Configuration(conf)
    for k, v in _STOCK.items():
        stock_conf.set(k, v)
    stock_fs = H.fs.FileSystem.newInstance(uri, stock_conf)
    yield (jvm, H.fs.FileSystem.get(uri, conf), H.fs.FileContext.getFileContext(uri, conf),
           stock_fs, H.fs.FileContext.getFileContext(uri, stock_conf))
    stock_fs.close()


def test_session_resolves_file_scheme_to_engine_fs(spark, hadoop):
    _, fs, fc, stock_fs, stock_fc = hadoop
    assert fs.getClass().getName() == _FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == f"{_FS_CLASS}$Raw"
    assert fc.getDefaultFileSystem().getClass().getName() == f"{_FS_CLASS}$Fs"
    assert stock_fs.getClass().getName() == _STOCK["fs.file.impl"]
    assert (stock_fc.getDefaultFileSystem().getClass().getName()
            == _STOCK["fs.AbstractFileSystem.file.impl"])
    for key in ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl",
                "spark.driver.extraClassPath"):
        assert spark.conf.get(key) == engine_conf()[key]


def _array(cls, items):
    arr = SparkContext._gateway.new_array(cls, len(items))
    for i, x in enumerate(items):
        arr[i] = x
    return arr


def _tree(root):
    """{relative path: st_mode} for everything under ``root``."""
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            out[os.path.relpath(p, root)] = os.lstat(p).st_mode
    return out


def _fs_ops(jvm, fs, root):
    H = jvm.org.apache.hadoop
    Path = H.fs.Path
    out = fs.create(Path(f"{root}/default.bin"))
    out.write(bytearray(b"x" * 100))
    out.close()
    p = Path(f"{root}/explicit.bin")
    fs.create(p, H.fs.permission.FsPermission(0o640), False, 4096,
              fs.getDefaultReplication(p), fs.getDefaultBlockSize(p), None).close()
    fs.mkdirs(Path(f"{root}/a/b"))
    fs.mkdirs(Path(f"{root}/c/d"), H.fs.permission.FsPermission(0o750))
    fs.rename(Path(f"{root}/default.bin"), Path(f"{root}/a/b/moved.bin"))


def _fc_ops(jvm, fc, root):
    H = jvm.org.apache.hadoop
    Path = H.fs.Path
    Opts = H.fs.Options.CreateOpts
    flags = jvm.java.util.EnumSet.of(H.fs.CreateFlag.CREATE)
    out = fc.create(Path(f"{root}/default.bin"), flags, _array(Opts, [Opts.createParent()]))
    out.write(bytearray(b"x" * 100))
    out.close()
    perms = Opts.perms(H.fs.permission.FsPermission(0o640))
    fc.create(Path(f"{root}/explicit.bin"), flags, _array(Opts, [perms])).close()
    fc.mkdir(Path(f"{root}/a/b"), H.fs.permission.FsPermission.getDirDefault(), True)
    fc.mkdir(Path(f"{root}/c/d"), H.fs.permission.FsPermission(0o750), True)
    fc.rename(Path(f"{root}/default.bin"), Path(f"{root}/a/b/moved.bin"),
              _array(H.fs.Options.Rename, [H.fs.Options.Rename.NONE]))


@pytest.mark.parametrize("api", ["FileSystem", "FileContext"])
def test_created_files_and_dirs_match_stock(hadoop, tmp_path, api):
    """Same paths, same ``.crc`` siblings, same mode bits (including an
    explicit 0640 file and 0750 dir) as the stock local filesystem."""
    jvm, fs, fc, stock_fs, stock_fc = hadoop
    ops = _fs_ops if api == "FileSystem" else _fc_ops
    engine, stock = (fs, stock_fs) if api == "FileSystem" else (fc, stock_fc)
    ops(jvm, engine, str(tmp_path / "engine"))
    ops(jvm, stock, str(tmp_path / "stock"))
    got, want = _tree(tmp_path / "engine"), _tree(tmp_path / "stock")
    assert ".explicit.bin.crc" in want and "a/b/.moved.bin.crc" in want
    assert {p: oct(m) for p, m in got.items()} == {p: oct(m) for p, m in want.items()}
    assert oct(want["explicit.bin"] & 0o777) == oct(0o640)
    assert oct(want["c/d"] & 0o777) == oct(0o750)


def _link_status(st):
    return (st.isSymlink(), st.getSymlink().toString() if st.isSymlink() else None,
            st.getPath().toString(), st.isDirectory(), st.getLen())


def test_file_link_status_matches_stock(hadoop, tmp_path):
    """A symlink keeps its link status and target; a regular file or dir
    gets its plain file status; a missing path still raises."""
    jvm, fs, fc, stock_fs, stock_fc = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "target.txt").write_text("hello")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "target.txt", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    for name in ("link", "dangling", "target.txt", "dir"):
        p = Path(str(tmp_path / name))
        for engine, stock in ((fs, stock_fs), (fc, stock_fc)):
            assert _link_status(engine.getFileLinkStatus(p)) == _link_status(stock.getFileLinkStatus(p)), name
    assert fs.getFileLinkStatus(Path(str(tmp_path / "link"))).isSymlink()
    assert not fs.getFileLinkStatus(Path(str(tmp_path / "target.txt"))).isSymlink()
    with pytest.raises(Exception, match="FileNotFoundException"):
        fs.getFileLinkStatus(Path(str(tmp_path / "missing")))


def test_stock_fs_without_javac_or_under_spark_submit(spark, monkeypatch, tmp_path):
    """The platform decides: no ``javac`` (and no compiled classes) or a
    JVM that spark-submit launched keeps Hadoop's stock filesystem."""
    from watermark_detector_spark import session

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    session._local_fs_classes.cache_clear()
    try:
        assert session._local_fs_classes() is None
        assert "spark.hadoop.fs.file.impl" not in engine_conf()
        assert not os.listdir(tmp_path)
    finally:
        session._local_fs_classes.cache_clear()
    monkeypatch.undo()
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._local_fs_conf() == {}
