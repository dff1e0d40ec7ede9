"""Process-level plumbing shared by the workloads: where the run
writes, the Spark session, the warm-up, the streaming progress listener
and shutting the JVM and its workers down."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import threading
import time
from datetime import datetime

import pandas as pd

from meters import JobGroupMeter, descendants, read_procs


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rpartition(")")[2].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


# The engine puts its scratch (checkpoints, state commits, shuffle, the
# sinks of its write keys) on tmpfs when the host has one; see
# ``session.scratch_dir``. The run's own directories go there too.
TMPFS = "/dev/shm"


def work_root(checkout: str, run_id: str) -> str:
    """A fresh directory for everything the run writes: on tmpfs when
    the host has a writable one, as the engine's scratch is, in the
    checkout otherwise. Its ``tmp`` holds the process's and the JVM's
    temp files."""
    if os.path.isdir(TMPFS) and os.access(TMPFS, os.W_OK):
        work = os.path.join(TMPFS, f"perfbench-{run_id}")
    else:
        work = os.path.join(checkout, ".perfbench_work", f"run-{run_id}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return work


class ScratchDirs:
    """Removes, at exit, every directory this process made with
    ``tempfile.mkdtemp``.

    The engine makes its scratch directories that way (on tmpfs, see
    ``session.scratch_dir``) and leaves them behind, so without this
    every run would leave its shuffle, checkpoint and sink directories on
    the RAM disk. The engine's paths are unchanged: ``mkdtemp`` is only
    observed. Nothing another process made is touched.
    """

    def __init__(self) -> None:
        self.made: list[str] = []
        real = tempfile.mkdtemp

        def mkdtemp(*args, **kwargs):
            path = real(*args, **kwargs)
            self.made.append(path)
            return path

        tempfile.mkdtemp = mkdtemp

    def remove(self) -> None:
        for path in self.made:
            shutil.rmtree(path, ignore_errors=True)


def build(app_name: str, work: str):
    """``session.build_session`` with the status REST API on and the JVM's
    own temp files inside ``work``."""
    from sparkstreamingtohdfsofsensorsdata_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    return build_session(
        app_name=app_name,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def warmup(spark, sf_dir: str, batch_surface: bool) -> None:
    """Load the parquet reader. For the batch surface, also run one
    aggregate-join-window-sort query over generated rows and spawn a
    Python worker per core, so whichever key runs first does not pay for
    the JVM's first use of those operators or for worker start-up."""
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    if not batch_surface:
        return
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    rows = spark.range(200_000).select((F.col("id") % 997).alias("k"), F.col("id").alias("v"))
    agg = rows.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    ranked = agg.join(rows.select("k").distinct(), "k").withColumn(
        "r", F.row_number().over(Window.partitionBy(F.col("k") % 7).orderBy("s"))
    )
    ranked.orderBy("s").write.format("noop").mode("overwrite").save()

    @pandas_udf("long")
    def _identity(s: pd.Series) -> pd.Series:
        return s

    n = spark.sparkContext.defaultParallelism
    spark.range(64 * n).repartition(n).select(_identity("id")).write.format(
        "noop"
    ).mode("overwrite").save()


def epoch(iso: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-01-02T03:04:05.678Z."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_record(p) -> dict:
    return {
        "run_id": str(p.runId),
        "batch_id": p.batchId,
        "start": epoch(p.timestamp),
        "duration_ms": dict(p.durationMs),
        "input_rows": p.numInputRows,
        "watermark": (p.eventTime or {}).get("watermark"),
        "state": [
            {
                "rows_total": s.numRowsTotal,
                "memory_bytes": s.memoryUsedBytes,
                "commit_ms": s.commitTimeMs,
                "rows_dropped": s.numRowsDroppedByWatermark,
            }
            for s in p.stateOperators
        ],
    }


def make_listener():
    """A StreamingQueryListener that keeps every progress event.

    ``query.recentProgress`` keeps only the last 100; this keeps all.
    ``onQueryStarted`` runs before ``start()`` returns, so the label the
    benchmark set before starting a query names the op that owns it.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressCollector(StreamingQueryListener):
        def __init__(self) -> None:
            self.label: str | None = None
            self.run_label: dict[str, str | None] = {}
            self.started: dict[str, float] = {}
            self.progress: list[dict] = []
            self._terminated: set[str] = set()
            self._cond = threading.Condition()

        def onQueryStarted(self, event) -> None:
            with self._cond:
                self.run_label[str(event.runId)] = self.label
                self.started[str(event.runId)] = epoch(event.timestamp)

        def onQueryProgress(self, event) -> None:
            record = progress_record(event.progress)
            with self._cond:
                self.progress.append(record)

        def onQueryTerminated(self, event) -> None:
            with self._cond:
                self._terminated.add(str(event.runId))
                self._cond.notify_all()

        def wait_terminated(self, timeout_s: float = 60.0) -> None:
            """Block until every started query's terminated event arrived;
            progress events are delivered before it."""
            deadline = time.monotonic() + timeout_s
            with self._cond:
                while set(self.started) - self._terminated:
                    left = deadline - time.monotonic()
                    if left <= 0:
                        raise TimeoutError("streaming listener events did not arrive")
                    self._cond.wait(left)

        def runs(self, labels) -> list[str]:
            labels = set(labels)
            return [r for r, lab in self.run_label.items() if lab in labels]

        def batches(self, run_ids) -> list[dict]:
            run_ids = set(run_ids)
            return sorted(
                (p for p in self.progress if p["run_id"] in run_ids and "triggerExecution" in p["duration_ms"]),
                key=lambda p: (p["start"], p["batch_id"]),
            )

    return ProgressCollector()


class Session:
    """The run's Spark session, job-group meter and progress listener."""

    def __init__(self, app_name: str, work: str) -> None:
        self.spark = build(app_name, work)
        self.meter = JobGroupMeter(self.spark)
        self.listener = make_listener()
        self.spark.streams.addListener(self.listener)

    def label(self, group: str | None) -> None:
        """Tag the jobs and streaming queries started from here on."""
        self.listener.label = group
        if group is None:
            self.meter.clear_group()
        else:
            self.meter.set_group(group)

    def stop(self) -> None:
        """Stop Spark, the JVM and every process under it, and wait."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.streams.removeListener(self.listener)
            self.spark.stop()
        finally:
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            wait_descendants_gone()


def wait_descendants_gone(timeout_s: float = 60.0) -> None:
    """Wait until no process started from this one is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        procs = read_procs()
        left = descendants(os.getpid(), {p: v["ppid"] for p, v in procs.items()})
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)
        try:
            os.waitpid(-1, os.WNOHANG)  # reap any zombie child of ours
        except ChildProcessError:
            pass


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
