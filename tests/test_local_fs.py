"""The engine's fork-free ``file:`` filesystems
(``reactive_data_pipeline_spark.jvm``): the session selects them, and
they behave like Hadoop's stock local filesystem - modes, permissions, link status, FileContext renames and
``.crc`` sidecars - compared side by side on a temp dir."""

from __future__ import annotations

import glob
import os
import shutil
import stat

import pytest
from py4j.protocol import Py4JJavaError

from reactive_data_pipeline_spark import jvm as engine_jvm
from reactive_data_pipeline_spark import session

STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"
STOCK_AFS = "org.apache.hadoop.fs.local.LocalFs"
IMPLS = {
    "stock": (STOCK_FS, STOCK_AFS),
    "engine": (engine_jvm.FILE_SYSTEM, engine_jvm.ABSTRACT_FILE_SYSTEM),
}


def _conf(spark, umask=None):
    conf = spark._jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    if umask is not None:
        conf.set("fs.permissions.umask-mode", umask)
    return conf


def _fs(spark, impl, umask=None):
    """An uncached checksummed FileSystem of class ``IMPLS[impl][0]``."""
    j = spark._jvm
    conf = _conf(spark, umask)
    conf.set("fs.file.impl", IMPLS[impl][0])
    return j.org.apache.hadoop.fs.FileSystem.newInstance(j.java.net.URI("file:///"), conf)


def _fc(spark, impl):
    """A FileContext over ``IMPLS[impl][1]``."""
    j = spark._jvm
    conf = _conf(spark)
    conf.set("fs.AbstractFileSystem.file.impl", IMPLS[impl][1])
    return j.org.apache.hadoop.fs.FileContext.getFileContext(j.java.net.URI("file:///"), conf)


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _perm(spark, octal):
    return spark._jvm.org.apache.hadoop.fs.permission.FsPermission(octal)


def _java_error(call):
    with pytest.raises(Py4JJavaError) as e:
        call()
    return e.value.java_exception.getClass().getName()


def _modes(root):
    """Relative path -> st_mode of everything under ``root``."""
    out = {}
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = os.lstat(p).st_mode
    return out


def _write(spark, fs, p, data=b"0123456789" * 100):
    out = fs.create(_path(spark, p))
    out.write(bytearray(data))
    out.close()


def test_session_selects_the_engine_filesystems(spark):
    j = spark._jvm
    uri = j.java.net.URI("file:///")
    conf = spark._jsc.hadoopConfiguration()
    fs = j.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    assert fs.getClass().getName() == engine_jvm.FILE_SYSTEM
    assert fs.getRawFileSystem().getClass().getName() == (
        "reactive_data_pipeline_spark.jvm.ForkFreeRawLocalFileSystem"
    )
    afs = j.org.apache.hadoop.fs.AbstractFileSystem.get(uri, conf)
    assert afs.getClass().getName() == engine_jvm.ABSTRACT_FILE_SYSTEM


@pytest.mark.parametrize("umask", [None, "077"])
def test_create_and_mkdirs_modes_match_stock(spark, tmp_path, umask):
    """Files and directories get the stock umask-applied modes (the
    session's umask, then a stricter one), ``.crc`` sidecars included."""
    trees = {}
    for impl in IMPLS:
        fs = _fs(spark, impl, umask)
        root = tmp_path / impl
        assert fs.mkdirs(_path(spark, root / "a" / "b" / "c"))
        _write(spark, fs, root / "a" / "f.bin")
        _write(spark, fs, root / "a" / "b" / "c" / "g.bin")
        trees[impl] = _modes(root)
    assert trees["engine"] == trees["stock"]
    assert "a/.f.bin.crc" in trees["engine"]
    want = 0o700 if umask == "077" else 0o755
    assert stat.S_IMODE(trees["engine"]["a/b"]) == want


@pytest.mark.parametrize("mode", ["600", "755", "1777", "000"])
def test_set_permission_matches_stock(spark, tmp_path, mode):
    """Files and directories, the sticky bit included; a setgid
    directory keeps its setgid bit as under ``chmod 0NNN``."""
    got = {}
    for impl in IMPLS:
        fs = _fs(spark, impl)
        root = tmp_path / impl
        os.makedirs(root / "d")
        os.makedirs(root / "sgid")
        os.chmod(root / "sgid", 0o2755)
        (root / "f").write_bytes(b"x")
        for name in ("f", "d", "sgid"):
            fs.setPermission(_path(spark, root / name), _perm(spark, mode))
        got[impl] = {n: os.lstat(root / n).st_mode for n in ("f", "d", "sgid")}
        for name in ("d", "sgid"):
            os.chmod(root / name, 0o755)
    assert got["engine"] == got["stock"]
    assert stat.S_IMODE(got["engine"]["sgid"]) & stat.S_ISGID


def _status(st):
    return (
        st.isFile(),
        st.isDirectory(),
        st.isSymlink(),
        st.getLen(),
        st.getPermission().toString(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getPath().toUri().getPath(),
    )


def test_file_link_status_matches_stock(spark, tmp_path):
    (tmp_path / "file").write_bytes(b"abc")
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    fs = {impl: _fs(spark, impl).getRawFileSystem() for impl in IMPLS}
    for name in ("file", "link", "dangling"):
        p = _path(spark, tmp_path / name)
        assert _status(fs["engine"].getFileLinkStatus(p)) == _status(
            fs["stock"].getFileLinkStatus(p)
        ), name
    assert fs["engine"].getFileLinkStatus(_path(spark, tmp_path / "link")).isSymlink()
    missing = _path(spark, tmp_path / "missing")
    for impl in IMPLS:
        assert _java_error(lambda: fs[impl].getFileLinkStatus(missing)) == (
            "java.io.FileNotFoundException"
        )


def test_file_context_rename_onto_existing_matches_stock(spark, tmp_path):
    j = spark._jvm
    rename_opt = getattr(j.org.apache.hadoop.fs, "Options$Rename")
    none = spark.sparkContext._gateway.new_array(rename_opt, 0)
    overwrite = spark.sparkContext._gateway.new_array(rename_opt, 1)
    overwrite[0] = rename_opt.OVERWRITE
    listings = {}
    for impl in IMPLS:
        fs, fc = _fs(spark, impl), _fc(spark, impl)
        root = tmp_path / impl
        src, dst = _path(spark, root / "src"), _path(spark, root / "dst")
        _write(spark, fs, root / "src", b"new")
        _write(spark, fs, root / "dst", b"old")
        assert _java_error(lambda: fc.rename(src, dst, none)) == (
            "org.apache.hadoop.fs.FileAlreadyExistsException"
        )
        assert (root / "dst").read_bytes() == b"old"
        fc.rename(src, dst, overwrite)
        assert (root / "dst").read_bytes() == b"new"
        listings[impl] = _modes(root)
    assert listings["engine"] == listings["stock"]
    assert set(listings["engine"]) == {"dst", ".dst.crc"}


@pytest.mark.parametrize("impl", list(IMPLS))
def test_crc_sidecar_is_written_and_verified(spark, tmp_path, impl):
    """A flipped byte fails the read with ChecksumException. The read
    goes through the ``ChecksumFs`` directly (``FileContext.open`` skips
    verification in stock Hadoop too), whose checksum failure moves no
    file; ``LocalFileSystem`` would move the corrupt file to a
    ``bad_files`` directory at its device's mount point."""
    j = spark._jvm
    data = bytes(range(256)) * 8
    f = tmp_path / "data.bin"
    _write(spark, _fs(spark, impl), f, data)
    assert (tmp_path / ".data.bin.crc").exists()
    afs = _fc(spark, impl).getDefaultFileSystem()

    def read():
        sink = j.java.io.ByteArrayOutputStream()
        j.org.apache.hadoop.io.IOUtils.copyBytes(afs.open(_path(spark, f), 4096), sink, 4096, True)
        return bytes(sink.toByteArray())

    assert read() == data
    with open(f, "r+b") as fh:
        fh.seek(1000)
        fh.write(bytes([data[1000] ^ 0xFF]))
    assert _java_error(read) == "org.apache.hadoop.fs.ChecksumException"


def test_jvm_launched_by_spark_submit_keeps_the_stock_filesystem(monkeypatch):
    """Under spark-submit the driver JVM exists before Python starts
    (pyspark connects through ``PYSPARK_GATEWAY_PORT``) and its class
    path lacks the engine's classes, so the conf must not name them."""
    monkeypatch.setattr(session.SparkContext, "_jvm", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    conf = {}
    session._use_fork_free_fs(conf)
    assert conf == {}
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    session._use_fork_free_fs(conf)
    assert conf["spark.hadoop.fs.file.impl"] == engine_jvm.FILE_SYSTEM
    assert conf["spark.driver.extraClassPath"] == engine_jvm.classes_dir()


@pytest.mark.parametrize("failure", ["no_javac", "compile_error"])
def test_unbuildable_classes_keep_the_stock_filesystem(tmp_path, monkeypatch, caplog, failure):
    """Without ``javac``, or when the compile fails, the build logs a
    warning and the session conf keeps Hadoop's stock filesystem."""
    for src in glob.glob(os.path.join(engine_jvm.HERE, "*.java")):
        shutil.copy(src, tmp_path)
    monkeypatch.setattr(engine_jvm, "HERE", str(tmp_path))
    if failure == "no_javac":
        monkeypatch.setattr(engine_jvm.shutil, "which", lambda name: None)
    else:
        (tmp_path / "Broken.java").write_text("class Broken { int x = ; }")
    build = engine_jvm.classes_dir.__wrapped__
    with caplog.at_level("WARNING", logger=engine_jvm.__name__):
        assert build() is None
    assert "stock local filesystem" in caplog.text
    assert not glob.glob(str(tmp_path / "classes" / "*"))
    monkeypatch.setattr(engine_jvm, "classes_dir", build)
    conf = {}
    session._use_fork_free_fs(conf)
    assert conf == {}
