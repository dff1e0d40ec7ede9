"""Subprocess driver for the local fast-path tests.

Runs in a FRESH JVM (the driver classpath, the Hadoop filesystem
classes and the Python daemon module are fixed at launch, so the shared
test session cannot be reused). Modes:

- ``nio``: the default session. Asserts the fork-free classes are
  installed and that a caller's ``spark.driver.extraClassPath`` was
  merged with theirs, then runs the file workload.
- ``stock``: the two ``spark.hadoop.fs.*`` confs reset to Hadoop's
  stock classes, then the file workload.
- ``degraded``: the compile helper returns None, as without a JDK, and
  the warm-fork daemon is unreachable, as in a zip deploy. Asserts the
  session falls back to Hadoop's own local filesystem and the stock
  Python daemon, and that ``q_stream_sink`` and the Python-worker key
  ``q_agg_heavy_hitters`` still equal their DuckDB oracles.

The file workload, at sf0.001: a chunked replay directory, a stateful
``tumbling_counts`` stream into ``write_file_sink``, and a
``partitionBy`` parquet write.

Usage: python tests/localfs_driver.py <nio|stock|degraded> <work_dir>
Prints ``localfs <mode> OK`` and exits 0 on success.
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tests")]

from conftest import SF_DIR, make_duck_views, run_parity_exact  # noqa: E402

from sparkstreamingtohdfsofsensorsdata_spark import session  # noqa: E402

STOCK_FS = {
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}


def file_workload(spark, work: str) -> None:
    from pyspark.sql import functions as F

    from sparkstreamingtohdfsofsensorsdata_spark.sources.factory import (
        make_replay_dir,
        stream_source,
    )
    from sparkstreamingtohdfsofsensorsdata_spark.streaming.ops import tumbling_counts
    from sparkstreamingtohdfsofsensorsdata_spark.streaming.runner import (
        add_event_date,
        write_file_sink,
    )
    from sparkstreamingtohdfsofsensorsdata_spark.tables import load

    src = make_replay_dir(spark, SF_DIR, os.path.join(work, "src"), n_chunks=4)
    counts = tumbling_counts(
        stream_source(spark, src, max_files_per_trigger=1), watermark="10 minutes"
    )
    sink = os.path.join(work, "windows")
    write_file_sink(counts, sink, os.path.join(work, "ckpt"), output_mode="append")
    assert spark.read.parquet(sink).agg(F.sum("n")).first()[0] > 0

    out = os.path.join(work, "by_date")
    add_event_date(load(spark, SF_DIR, "events")).write.partitionBy(
        "event_date"
    ).parquet(out)
    assert any(p.startswith("event_date=") for p in os.listdir(out))


def local_fs_class(spark) -> str:
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    return fs.getClass().getName()


def main() -> None:
    mode, work = sys.argv[1], sys.argv[2]
    extra = {"spark.driver.memory": "1g"}
    if mode == "nio":
        caller_cp = os.path.join(work, "caller_classes")
        extra["spark.driver.extraClassPath"] = caller_cp
    elif mode == "stock":
        extra.update(STOCK_FS)
    elif mode == "degraded":
        session.compile_java = lambda source, classpath: None
        session._fastdaemon_available = lambda: False
    spark = session.build_session(
        app_name=f"localfs-{mode}", master="local[2]", shuffle_partitions=2,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    conf = spark.sparkContext.getConf()
    fs_class = local_fs_class(spark)
    if mode == "nio":
        assert fs_class == session.NIO_FS_CLASS, fs_class
        cp = conf.get("spark.driver.extraClassPath").split(os.pathsep)
        assert cp[0] == caller_cp and "NioLocalFileSystem-" in cp[1], cp
    elif mode == "stock":
        assert fs_class == STOCK_FS["spark.hadoop.fs.file.impl"], fs_class
    else:
        # whatever Hadoop picks without the conf (with Spark's bundled
        # jars, Hive's ProxyLocalFileSystem over the stock classes)
        assert not fs_class.startswith("sparkgraft."), fs_class
        assert conf.get("spark.hadoop.fs.file.impl", None) is None
        assert conf.get("spark.driver.extraClassPath", None) is None
        assert conf.get("spark.python.daemon.module", None) is None
    if mode == "degraded":
        duck = make_duck_views(SF_DIR)
        for key in ("q_stream_sink", "q_agg_heavy_hitters"):
            n, _ = run_parity_exact(spark, duck, key)
            assert n > 0, key
    else:
        file_workload(spark, work)
    spark.stop()
    print(f"localfs {mode} OK")


main()
