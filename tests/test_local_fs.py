"""The local-master fast paths of ``session.build_session``.

Two of them: the warm-fork Python daemon (``fastdaemon.py``) and the
fork-free local filesystem (``jvm/sparkgraft/fs/NioLocalFileSystem``).
The daemon patches the zip re-scan out and freezes its heap once,
before it forks; every worker inherits both and never freezes again.
Without the libhadoop native library, Hadoop's stock local filesystem
runs ``chmod`` on every create/mkdir and ``readlink`` on every
``FileContext.rename``; the replacement answers both with java.nio and
must otherwise behave exactly like the stock classes.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import threading
from pathlib import Path

import pytest
from conftest import SF_DIR
from py4j.protocol import Py4JJavaError

from sparkstreamingtohdfsofsensorsdata_spark import session

REPO = Path(__file__).resolve().parent.parent
DRIVER = REPO / "tests" / "localfs_driver.py"
FS_KEYS = {
    "spark.driver.extraClassPath",
    "spark.hadoop.fs.file.impl",
    "spark.hadoop.fs.AbstractFileSystem.file.impl",
}


def test_local_fast_path_conf_is_local_only(spark):
    """On the shared session's JVM (launched with the classes): every key
    for a local master, none for another, and no environment change."""
    local = session._local_fast_path_conf("local[2]")
    expected = {"spark.python.daemon.module"}
    if shutil.which("javac") is not None:
        expected |= FS_KEYS
        assert local["spark.hadoop.fs.file.impl"] == session.NIO_FS_CLASS
    assert set(local) == expected
    env = dict(os.environ)
    for master in ("spark://h:7077", "yarn"):
        assert session._local_fast_path_conf(master) == {}
        assert dict(os.environ) == env


def test_compile_java_builds_once(tmp_path, monkeypatch):
    """Concurrent callers get one complete classes dir and leave no temp
    dir behind; a later caller finds it without running javac."""
    if shutil.which("javac") is None:
        pytest.skip("no JDK")
    monkeypatch.setattr(session, "JVM_CLASSES", str(tmp_path))
    source = str(REPO / "jvm" / "sparkgraft" / "fs" / "NioLocalFileSystem.java")
    classpath = os.path.join(session.spark_jars(), "*")
    got = []
    threads = [
        threading.Thread(target=lambda: got.append(session.compile_java(source, classpath)))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert got[0] == got[1] is not None
    assert os.listdir(tmp_path) == [os.path.basename(got[0])]
    assert os.path.isfile(os.path.join(got[0], "sparkgraft", "fs", "NioLocalFileSystem.class"))

    def no_javac(*args, **kwargs):
        raise AssertionError("javac ran for a current classes dir")

    monkeypatch.setattr(subprocess, "run", no_javac)
    assert session.compile_java(source, classpath) == got[0]


def _run_driver(mode: str, work: Path, env: dict | None = None) -> None:
    work.mkdir()
    proc = subprocess.run(
        [sys.executable, str(DRIVER), mode, str(work)],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert proc.returncode == 0 and f"localfs {mode} OK" in proc.stdout, (
        f"localfs driver ({mode}) failed:\nstdout: {proc.stdout[-2000:]}\n"
        f"stderr: {proc.stderr[-3000:]}"
    )


def test_file_workload_forks_no_chmod_or_readlink(tmp_path):
    """A ``PATH`` shim logs every ``chmod``/``readlink`` the driver's JVM
    starts. The default session must start none during a stateful
    stream into the file sink plus a partitioned parquet write; with the
    stock classes the same workload logs hundreds, which proves the
    shim sees them. Only forks whose parent is the JVM count: on some
    hosts the ``python`` launcher is itself a shell script that runs
    ``readlink``."""
    if not session._local_fast_path_conf("local[2]").get("spark.hadoop.fs.file.impl"):
        pytest.skip("fork-free filesystem unavailable (no JDK)")
    shim = tmp_path / "shim"
    shim.mkdir()
    log = tmp_path / "forks.log"
    log.touch()
    for name in ("chmod", "readlink"):
        real = shutil.which(name)
        script = shim / name
        script.write_text(
            "#!/bin/sh\n"
            f'echo "{name} $* parent=$(cat /proc/$PPID/comm)" >> {log}\n'
            f'exec {real} "$@"\n'
        )
        script.chmod(0o755)
    env = dict(os.environ, PATH=f"{shim}{os.pathsep}{os.environ['PATH']}",
               PYSPARK_PYTHON=sys.executable)

    def jvm_forks() -> list[str]:
        lines = log.read_text().splitlines()
        log.write_text("")
        return [line for line in lines if line.endswith("parent=java")]

    _run_driver("nio", tmp_path / "nio", env)
    assert jvm_forks() == []
    _run_driver("stock", tmp_path / "stock", env)
    forks = jvm_forks()
    assert {line.split()[0] for line in forks} == {"chmod", "readlink"}, forks[:5]


def test_degraded_path_falls_back_to_stock_fs(tmp_path):
    """Without compiled classes (no JDK, javac failure, zip deploy) and
    without a reachable daemon module, the session keeps Hadoop's stock
    LocalFileSystem and the stock Python daemon, and a file-sink key and
    a Python-worker key still equal their oracles."""
    _run_driver("degraded", tmp_path / "degraded")


# --- the warm-fork daemon's fast path, on the shared session ----------


def _worker_probe(spark) -> list:
    """One row per task of a ``mapInArrow`` stage with 4 tasks per core:
    the worker's pid, its frozen-object count, how many zipimporters it
    caches for the Spark-distro zips, and how many of those still have
    the stock (re-scanning) ``invalidate_caches``. Zips shipped by
    ``addPyFile`` (under the SparkFiles root) get fresh finders on
    purpose and are not counted."""

    def probe(batches):
        import gc
        import os
        import sys
        import zipimport

        import pyarrow as pa
        from pyspark.files import SparkFiles

        for _ in batches:
            pass
        shipped = SparkFiles.getRootDirectory()
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and not f.archive.startswith(shipped)
        ]
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "frozen": [gc.get_freeze_count()],
            "zips": [len(zips)],
            "unpatched": [sum("invalidate_caches" not in vars(f) for f in zips)],
        })

    n = 4 * spark.sparkContext.defaultParallelism
    return spark.range(n, numPartitions=n).mapInArrow(
        probe, "pid long, frozen long, zips long, unpatched long"
    ).collect()


def test_forked_workers_inherit_the_fast_path(spark):
    """Every worker forked by the daemon starts with a frozen heap and
    with every distro zipimporter's re-scan patched out."""
    assert spark.conf.get("spark.python.daemon.module") == session.FASTDAEMON_MODULE
    rows = _worker_probe(spark)
    assert all(r.frozen > 0 for r in rows), rows
    assert all(r.zips > 0 and r.unpatched == 0 for r in rows), rows


def test_workers_freeze_once_per_process(spark):
    """Running Python-worker kernels never grows a worker's frozen set:
    only the daemon freezes, once, before it forks. The frozen count
    only shrinks as frozen objects are freed, so a later probe of the
    same pid must read no more than an earlier one."""
    from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all

    assert spark.conf.get("spark.python.daemon.module") == session.FASTDAEMON_MODULE
    before = _worker_probe(spark)
    load_all()["q_agg_heavy_hitters"].fn(spark, SF_DIR).collect()
    for _ in range(5):
        after = _worker_probe(spark)
        common = {r.pid for r in before} & {r.pid for r in after}
        if common:
            break
    assert common, "no worker served both probes"
    for pid in common:
        earlier = min(r.frozen for r in before if r.pid == pid)
        later = max(r.frozen for r in after if r.pid == pid)
        assert later <= earlier, (pid, earlier, later)


# --- semantics against the stock classes, on the shared session -------

STOCK = ("org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs")
NIO = (session.NIO_FS_CLASS, session.NIO_FS_CLASS + "$Fs")


class _Local:
    """A FileSystem and a FileContext over one pair of local-fs classes,
    each a fresh instance (not the JVM-wide FileSystem cache)."""

    def __init__(self, spark, classes: tuple[str, str]):
        jvm = spark._jvm
        self.jvm = jvm
        self.gateway = spark.sparkContext._gateway
        conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
        conf.set("fs.file.impl", classes[0])
        conf.set("fs.AbstractFileSystem.file.impl", classes[1])
        uri = jvm.java.net.URI("file:///")
        self.fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
        self.fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
        assert self.fs.getClass().getName() == classes[0]
        assert self.fc.getDefaultFileSystem().getClass().getName() == classes[1]

    def path(self, p) -> object:
        return self.jvm.org.apache.hadoop.fs.Path(f"file:{p}")

    def perm(self, octal: str | None):
        if octal is None:
            return None
        return self.jvm.org.apache.hadoop.fs.permission.FsPermission(octal)

    def fs_create(self, p, octal):
        if octal is None:
            out = self.fs.create(self.path(p))
        else:
            out = self.fs.createFile(self.path(p)).permission(self.perm(octal)).build()
        out.write(bytearray(b"abc"))
        out.close()

    def fc_create(self, p, octal, data: bytes = b"abc"):
        jvm = self.jvm
        flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
        create_opts = jvm.org.apache.hadoop.fs.Options.CreateOpts
        opts = self.gateway.new_array(create_opts, 1 if octal else 0)
        if octal:
            opts[0] = create_opts.perms(self.perm(octal))
        out = self.fc.create(self.path(p), flags, opts)
        out.write(bytearray(data))
        out.close()

    def fs_mkdirs(self, p, octal):
        if octal is None:
            assert self.fs.mkdirs(self.path(p))
        else:
            assert self.fs.mkdirs(self.path(p), self.perm(octal))

    def fc_mkdir(self, p, octal):
        if octal is None:  # FileContext.mkdir needs a mode; this is its default
            perm = self.jvm.org.apache.hadoop.fs.permission.FsPermission.getDirDefault()
        else:
            perm = self.perm(octal)
        self.fc.mkdir(self.path(p), perm, True)

    def rename_overwrite(self, src, dst):
        rename = self.jvm.org.apache.hadoop.fs.Options.Rename
        opts = self.gateway.new_array(rename, 1)
        opts[0] = rename.OVERWRITE
        self.fc.rename(self.path(src), self.path(dst), opts)


@pytest.fixture(scope="module")
def local_pair(spark):
    if spark.conf.get("spark.hadoop.fs.file.impl", None) != session.NIO_FS_CLASS:
        pytest.skip("fork-free filesystem unavailable (no JDK)")
    return _Local(spark, STOCK), _Local(spark, NIO)


@pytest.mark.parametrize("octal", [None, "600", "755"])
@pytest.mark.parametrize("op", ["fs_create", "fc_create", "fs_mkdirs", "fc_mkdir"])
def test_nio_fs_modes_equal_stock(local_pair, tmp_path, op, octal):
    modes = []
    for side, local in zip(("stock", "nio"), local_pair):
        (tmp_path / side).mkdir()
        p = tmp_path / side / "x"
        getattr(local, op)(p, octal)
        modes.append(stat.S_IMODE(os.stat(p).st_mode))
        if op.endswith("create"):
            assert (tmp_path / side / ".x.crc").is_file()
    # Hadoop's default umask is 022: 0644 files and 0755 directories
    default = "644" if op.endswith("create") else "755"
    assert modes == [int(octal or default, 8)] * 2, [oct(m) for m in modes]


def test_nio_fs_sticky_bit_falls_back(local_pair, tmp_path):
    modes = []
    for side, local in zip(("stock", "nio"), local_pair):
        p = tmp_path / side
        p.mkdir()
        local.fs.setPermission(local.path(p), local.perm("1777"))
        modes.append(stat.S_IMODE(os.stat(p).st_mode))
    assert modes == [0o1777, 0o1777], [oct(m) for m in modes]


def test_nio_fs_rename_overwrite_replaces_target(local_pair, tmp_path):
    for side, local in zip(("stock", "nio"), local_pair):
        d = tmp_path / side
        d.mkdir()
        local.fc_create(d / "src", None, b"new")
        local.fc_create(d / "dst", None, b"old")
        local.rename_overwrite(d / "src", d / "dst")
        assert sorted(os.listdir(d)) == [".dst.crc", "dst"]
        assert (d / "dst").read_bytes() == b"new"


def test_nio_fs_file_link_status(local_pair, tmp_path):
    """Stock Hadoop hands ``readlink`` the ``file:``-qualified path
    string, which names no file, so through a qualified path it never
    reports a symlink (it reports the link's target instead). The
    replacement reports links correctly; the engine creates none, so
    only the link cases differ, and they are checked against ``os``."""
    stock, nio = local_pair
    regular = tmp_path / "regular"
    regular.write_bytes(b"12345")
    link = tmp_path / "link"
    os.symlink(regular, link)
    dangling = tmp_path / "dangling"
    os.symlink(tmp_path / "gone", dangling)

    def summary(st):
        return (st.isFile(), st.isDirectory(), st.isSymlink(), st.getLen(),
                st.getPath().toString())

    got = nio.fs.getFileLinkStatus(nio.path(regular))
    assert summary(got) == summary(stock.fs.getFileLinkStatus(stock.path(regular)))
    assert summary(got) == (True, False, False, 5, f"file:{regular}")

    got = nio.fs.getFileLinkStatus(nio.path(link))
    assert got.isSymlink() and not got.isDirectory()
    assert got.getSymlink().toString() == f"file:{regular}"
    assert got.getLen() == 5

    got = nio.fs.getFileLinkStatus(nio.path(dangling))
    assert got.isSymlink() and got.getLen() == 0
    assert got.getSymlink().toString() == f"file:{tmp_path / 'gone'}"

    for local in local_pair:
        with pytest.raises(Py4JJavaError, match="FileNotFoundException"):
            local.fs.getFileLinkStatus(local.path(tmp_path / "missing"))
