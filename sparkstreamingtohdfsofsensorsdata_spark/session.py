"""SparkSession factory tuned for this engine.

Design notes (scale-first):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and SMJ->broadcast conversion replace hand-tuned partition counts when
  the same plan runs at 100 TB on a real cluster.
- Arrow on: every JVM<->Python crossing (pandas_udf, toPandas) is
  batch-columnar instead of row-pickled.
- UTC session timezone: parquet timestamps compare bit-identically with
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
- shuffle.partitions defaults to the local core count; on a real cluster
  AQE's coalescing makes the initial number far less critical, but a sane
  default avoids 200 tiny partitions on test data.
"""

from __future__ import annotations

import logging
import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "sparkstreamingtohdfsofsensorsdata-spark"

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_PKG_DIR)


def scratch_dir(prefix: str = "scratch_") -> str:
    """Ephemeral scratch directory, on tmpfs when the host has one.

    Shuffle spill, streaming checkpoints, and state-store commits are
    fsync-heavy; putting them on a RAM disk removes disk-throttle
    stalls on this single-node rig. The durable analogue on a real
    cluster is NVMe-local spark.local.dir + HDFS/S3 checkpoints — only
    *restart-critical* checkpoints need durable storage, and only the
    file-sink query here claims restartability.
    """
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def default_parallelism() -> int:
    """Local parallelism: honor the driver's SPARK_GRAFT_CPUS if set."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


_SHIPPED_APPS: set[str] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``sc.addPyFile``.

    Python UDFs that reference module-level functions are cloudpickled
    *by reference*: the worker must be able to ``import`` this package.
    That only happens for free when the driver process was launched from
    the repo root (workers inherit the cwd); a grading driver — or any
    library consumer — importing from elsewhere gets
    ``ModuleNotFoundError`` inside executors instead. Shipping a zip of
    the package once per SparkContext is the standard cluster deploy
    move (``spark-submit --py-files``) done at runtime, and it makes the
    driver contract location-independent.
    """
    sc = spark.sparkContext
    app = f"{sc.applicationId}-{sc.startTime}"
    if app in _SHIPPED_APPS:
        return
    sc.addPyFile(_package_zip())
    # _SHIPPED_APPS holds one short string per SparkContext ever seen in
    # this process — bounded by session restarts, never data volume.
    _SHIPPED_APPS.add(app)


_PKG_ZIP: str | None = None


def _package_zip() -> str:
    """Build the package zip ONCE per process and reuse it for every
    SparkContext: the package source cannot change under a running
    process, so the per-context rebuild (a fresh mkdtemp + full os.walk
    each time) was pure rework that also leaked one orphan pkgship_*
    dir per session restart (review r6)."""
    global _PKG_ZIP
    if _PKG_ZIP is not None and os.path.exists(_PKG_ZIP):
        return _PKG_ZIP
    import zipfile

    zpath = os.path.join(
        tempfile.mkdtemp(prefix="pkgship_"), "sparkstreamingtohdfsofsensorsdata_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(_PKG_DIR):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(dirpath, fname)
                    z.write(full, os.path.relpath(full, _ROOT))
    _PKG_ZIP = zpath
    return zpath


FASTDAEMON_MODULE = "sparkstreamingtohdfsofsensorsdata_spark.fastdaemon"
NIO_FS_CLASS = "sparkgraft.fs.NioLocalFileSystem"
JVM_CLASSES = os.path.join(_ROOT, "jvm", "classes")


def spark_jars() -> str:
    """The ``jars`` directory of the Spark install the JVM launches from."""
    from pyspark.find_spark_home import _find_spark_home

    return os.path.join(_find_spark_home(), "jars")


def compile_java(source: str, classpath: str) -> str | None:
    """Compiled classes of one ``jvm/`` source file, built at most once.

    The classes directory is ``jvm/classes/<stem>-<hash>``, where the
    hash covers the source text and ``classpath``: an existing directory
    is current, and an edited source or another Spark install gets a new
    one. javac writes into a temp dir that is then renamed into place,
    so concurrent processes never see a half-written directory and the
    loser of a race just drops its copy. Returns None, never raises,
    when the source is not on disk (zip or wheel deploy), there is no
    JDK, or javac fails.
    """
    import hashlib
    import shutil
    import subprocess

    try:
        with open(source, "rb") as f:
            digest = hashlib.sha1(f.read() + classpath.encode()).hexdigest()
    except OSError:
        return None
    stem = os.path.splitext(os.path.basename(source))[0]
    target = os.path.join(JVM_CLASSES, f"{stem}-{digest[:16]}")
    if os.path.isdir(target):
        return target
    javac = shutil.which("javac")
    if javac is None:
        return None
    try:
        os.makedirs(JVM_CLASSES, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{stem}-", dir=JVM_CLASSES)
    except OSError:
        return None
    try:
        proc = subprocess.run(
            [javac, "-nowarn", "-encoding", "UTF-8", "-cp", classpath,
             "-d", tmp, source],
            capture_output=True,
        )
        if proc.returncode != 0:
            logging.getLogger(__name__).warning(
                "javac failed on %s: %s", source, proc.stderr.decode()[-2000:]
            )
        else:
            os.chmod(tmp, 0o755)  # mkdtemp makes it 0700
            try:
                os.rename(tmp, target)
            except OSError:
                pass  # another process renamed its copy first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return target if os.path.isdir(target) else None


def _nio_fs_classes() -> str | None:
    """Classes dir of ``jvm/sparkgraft/fs/NioLocalFileSystem.java``, or
    None when it cannot be used: not compiled (see ``compile_java``), or
    a JVM already runs without it (the driver classpath is fixed at JVM
    launch, and naming a missing class in ``fs.file.impl`` would break
    every local file access)."""
    import glob

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    jars = glob.glob(os.path.join(spark_jars(), "hadoop-client-api-*.jar"))
    if not jars:
        return None
    source = os.path.join(_ROOT, "jvm", "sparkgraft", "fs", "NioLocalFileSystem.java")
    classes = compile_java(source, os.pathsep.join(sorted(jars)))
    gateway = SparkContext._gateway
    if classes is not None and gateway is not None:
        try:
            gateway.jvm.java.lang.Class.forName(NIO_FS_CLASS)
        except Py4JError:
            return None
    return classes


def _fastdaemon_available() -> bool:
    """True iff the warm-fork daemon module (fastdaemon.py) will be
    importable by the Python worker processes — which requires the
    package's parent directory on the PYTHONPATH **environment
    variable** (the daemon is a fresh ``python -m`` process; the
    driver's sys.path does not reach it). ``build_session`` exports it
    when the JVM has not launched yet; if a JVM is already up without
    it, the daemon module could not import, so the stock daemon stays
    (r17, see fastdaemon.py for the measured rationale)."""
    from pyspark import SparkContext

    if not os.path.isfile(os.path.join(_PKG_DIR, "fastdaemon.py")):
        return False  # running from a zip/egg: not reachable by -m
    if SparkContext._gateway is None:
        return True
    return _ROOT in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def _local_fast_path_conf(master: str) -> dict[str, str]:
    """Conf for the two fast paths that only hold when the executors are
    threads of this driver's JVM and its Python workers run on this
    host: the warm-fork Python daemon and the fork-free local
    filesystem. Empty for any other master, and for each path whose
    code cannot be reached (see the two predicates above)."""
    if not master.startswith("local"):
        return {}
    conf = {}
    if _fastdaemon_available():
        conf["spark.python.daemon.module"] = FASTDAEMON_MODULE
    classes = _nio_fs_classes()
    if classes is not None:
        conf["spark.driver.extraClassPath"] = classes
        conf["spark.hadoop.fs.file.impl"] = NIO_FS_CLASS
        conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] = NIO_FS_CLASS + "$Fs"
    return conf


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    All knobs that matter for both local testing and cluster scale are
    set here once so every entry point (batch, SQL, streaming, bench)
    runs under the same execution profile.
    """
    # getOrCreate returns any live session UNCHANGED — per-call knobs
    # (shuffle_partitions, extra_conf, master) never applied to it, and
    # building the config still evaluated scratch_dir(), leaking one
    # orphan spark_local_* tmpfs dir per call in long-lived processes
    # (review r6). Short-circuit explicitly: same semantics, no side
    # effects. Callers needing different knobs use a fresh process (as
    # the sweep/bench/ramp scripts do) or set runtime confs themselves.
    # getActiveSession() is thread-local — a call from a fresh thread
    # while a default session exists would miss it, evaluate
    # scratch_dir(), and leak one spark_local_* dir anyway (ADVICE r6).
    # The process-global default (what the JVM calls getDefaultSession;
    # PySpark exposes it as _instantiatedSession — getOrCreate consults
    # exactly this) covers that thread, with getOrCreate's own liveness
    # test so a stopped session never short-circuits a rebuild.
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    default = SparkSession._instantiatedSession
    if default is not None and default._sc._jsc is not None:
        return default

    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs every executor thread inside the driver JVM —
        # the 1g default heap GC-thrashes under 32-way parallelism, and a
        # long multi-query session (74 bench queries: cached LSH models,
        # memory-sink tables, state stores) still thrashes at 8g
        .config("spark.driver.memory", "32g")
        # --- optimizer / runtime re-planning ---
        # CBO consumes ANALYZE TABLE stats (bucketed catalog tables —
        # see operators/bucketing.py); path-based parquet reads are
        # unaffected. AQE re-plans at runtime on real shuffle sizes.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # --- JVM<->Python transfer ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism for the oracle comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scan efficiency ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # --- streaming: checkpoint checksum manager deadlocks across
        #     sequential queries in one session (see streaming/runner.py) ---
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # --- scratch on tmpfs: shuffle + block-manager spill files ---
        .config("spark.local.dir", scratch_dir("spark_local_"))
        # --- quieter local runs ---
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    # Local-master fast paths (see _local_fast_path_conf):
    # - Warm-fork Python daemon (r17, guide §4.5), the only home of the
    #   worker fast path: workers fork from a daemon that pre-imported
    #   numpy/pandas/pyarrow, patched out the zip re-scan and froze its
    #   heap, so a respawn (the JVM reaps idle workers after a hardcoded
    #   1 minute) is a bare fork and no task pays the per-task zip
    #   re-scan / full-gc costs. Other masters run stock workers.
    # - Fork-free local filesystem (jvm/sparkgraft/fs): without libhadoop,
    #   Hadoop forks chmod/readlink on every checkpoint, state-store and
    #   part-file create/rename: 50-100 forks per micro-batch in the
    #   perfbench streams.
    conf = _local_fast_path_conf(master)
    for key, value in (extra_conf or {}).items():
        if key == "spark.driver.extraClassPath" and key in conf:
            value = value + os.pathsep + conf[key]
        conf[key] = value
    for key, value in conf.items():
        builder = builder.config(key, value)
    if conf.get("spark.python.daemon.module") == FASTDAEMON_MODULE:
        current = os.environ.get("PYTHONPATH", "")
        if _ROOT not in current.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                current + os.pathsep + _ROOT if current else _ROOT
            )

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
