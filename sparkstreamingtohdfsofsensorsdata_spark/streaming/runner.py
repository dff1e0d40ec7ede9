"""Streaming execution helpers: run-to-completion + the file sink.

``run_to_memory`` drives a streaming DataFrame with
``trigger(availableNow=True)`` to completion and returns the result as
a batch DataFrame — the offline analogue of a continuously-running
query, used by both the driver-facing queries and the replay tests.

``write_file_sink`` is the reference's defining operation (stream ->
partitioned files on HDFS-style storage) done the Structured Streaming
way: checkpointed offsets + ``_spark_metadata`` commit log give
exactly-once file output; ``partitionBy(date)`` gives the
time-partitioned layout that enables partition pruning downstream.
"""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_dir


# State partitions for the run-to-completion replay queries. The number
# of shuffle partitions at stream START fixes the per-operator state
# store count for the checkpoint's lifetime — it is a DEPLOYMENT knob,
# not an optimizer decision (AQE never re-plans stateful streaming). On
# a real cluster size it ~2-3x executor count so state shards across
# the fleet; on this single node, 32 HDFS-backed stores per stateful
# operator is pure setup/commit overhead (measured: tumbling 7.0s ->
# 0.8s, stream-stream join 5.3s -> 2.1s going 32 -> 8). Those timings
# predate the fork-free local filesystem (session.build_session): each
# state-store file then forked chmod and readlink, so a store's commit
# cost more than it does now. Not re-measured.
STREAM_STATE_PARTITIONS = 8


def _prepare_streaming_session(result: DataFrame) -> str:
    """Per-query confs that must hold regardless of who built the session.

    Checkpoint file checksums (Spark 4.1's ChecksumCheckpointFileManager)
    share a bounded thread pool across queries; after a handful of
    sequential streaming queries in one session its state-store writes
    block indefinitely (observed: a 16s stream-stream join never
    completing). Checkpoint durability does not depend on them — disable.

    Also caps shuffle partitions at ``STREAM_STATE_PARTITIONS`` for the
    duration of the streaming query (state-store sizing, above).
    Returns the previous shuffle-partition setting so the caller can
    restore it for subsequent batch plans."""
    conf = result.sparkSession.conf
    conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    prev = conf.get("spark.sql.shuffle.partitions")
    try:
        cap = min(STREAM_STATE_PARTITIONS, int(prev))
    except (TypeError, ValueError):
        cap = STREAM_STATE_PARTITIONS
    conf.set("spark.sql.shuffle.partitions", str(cap))
    return prev


def run_to_memory(
    result: DataFrame,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink and
    return the materialized result.

    complete mode emits every window including those still above the
    watermark — that is what makes the result equal to the same
    aggregation run in batch, and therefore oracle-checkable. (The
    memory sink materializes the whole result: fine for aggregates,
    never for raw 100 TB passthrough — that's what the file sink is
    for.)

    The sink table itself is DROPPED before returning: a registered
    memory-sink table pins its rows in the driver for the session's
    lifetime, and a suite/bench run executes ~10 streaming queries —
    leaving every result registered is an unbounded driver-heap leak
    (one of the reasons the driver heap had to be raised; see
    session.py). The result rides back as an eagerly
    localCheckpointed DataFrame whose blocks the ContextCleaner
    releases once the caller is done with it.
    """
    prev_parts = _prepare_streaming_session(result)
    name = f"mem_{uuid.uuid4().hex[:12]}"
    # Explicit tmpfs checkpoint: state-store commits looked fsync-heavy
    # (measured while Hadoop still forked chmod/readlink for every
    # checkpoint file, which was most of that cost) and this checkpoint
    # is run-scoped (availableNow to completion), so RAM is the right
    # place — a restartable deployment would point this at HDFS/S3
    # instead (write_file_sink does).
    ckpt = scratch_dir("ckpt_")
    # start() itself can throw (unsupported plan/output-mode combo) —
    # it must sit INSIDE the try, or the finally never restores the
    # session's shuffle-partition override and the leak degrades every
    # later batch query in a long-lived session.
    q = None
    try:
        try:
            q = (
                result.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(timeout_s)
            if not finished:
                # A silently-partial memory table would surface later
                # as a baffling parity mismatch — fail loudly at the
                # source.
                raise TimeoutError(
                    f"streaming query {name!r} still running after "
                    f"{timeout_s}s; refusing to return a partial memory "
                    "table"
                )
        finally:
            if q is not None and q.isActive:
                q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
            result.sparkSession.conf.set(
                "spark.sql.shuffle.partitions", prev_parts
            )
        spark = result.sparkSession
        sink = spark.table(name)
        # Eager localCheckpoint decouples the result from the sink's
        # catalog entry JVM-side (no driver<->Python roundtrip), and
        # unlike the pinned temp view its blocks are released by the
        # ContextCleaner once the caller drops the returned DataFrame.
        return sink.localCheckpoint(eager=True)
    finally:
        # The drop runs on EVERY exit — a timeout/start failure used to
        # skip it and leave the partially-filled memory table pinned on
        # the driver heap for the session's lifetime, the exact leak
        # this function's docstring exists to prevent (review r6).
        # dropTempView on a never-registered name is a harmless False.
        result.sparkSession.catalog.dropTempView(name)


def write_file_sink(
    result: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = (),
    output_mode: str = "append",
) -> None:
    """Stream -> exactly-once partitioned parquet (the 'HDFS sink').

    ``path``/``checkpoint`` accept any Hadoop-FS URI (hdfs://, s3a://,
    file:/); readers only see files recorded in ``_spark_metadata``, so
    a crashed batch never exposes partial output, and restarting with
    the same checkpoint resumes from committed offsets.
    """
    prev_parts = _prepare_streaming_session(result)
    q = None
    try:
        writer = (
            result.writeStream.outputMode(output_mode)
            .format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
        )
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        q = writer.start()
        if not q.awaitTermination(300):
            raise TimeoutError("file-sink query still running after 300s")
    finally:
        if q is not None and q.isActive:
            q.stop()
        result.sparkSession.conf.set("spark.sql.shuffle.partitions", prev_parts)


def run_foreach_batch(
    result: DataFrame,
    fn,
    output_mode: str = "append",
    checkpoint: str | None = None,
) -> None:
    """foreachBatch sink: hands each micro-batch to ``fn(df, epoch_id)``
    as a batch DataFrame — the idiomatic escape hatch for sinks without
    native streaming support (JDBC, MERGE targets).

    Pass ``checkpoint`` to make epoch ids durable: only then does a
    restart resume from committed offsets and re-deliver the SAME
    epoch_id for an uncommitted batch — the property every idempotent
    foreachBatch commit protocol keys on. Without it the run is
    ephemeral (epoch ids restart at 0)."""
    prev_parts = _prepare_streaming_session(result)
    q = None
    try:
        writer = (
            result.writeStream.outputMode(output_mode)
            .foreachBatch(fn)
            .trigger(availableNow=True)
        )
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.start()
        if not q.awaitTermination(300):
            raise TimeoutError("foreachBatch query still running after 300s")
    finally:
        if q is not None and q.isActive:
            q.stop()
        result.sparkSession.conf.set("spark.sql.shuffle.partitions", prev_parts)


def add_event_date(events: DataFrame) -> DataFrame:
    """Derive the partition column for the time-partitioned sink layout."""
    return events.withColumn("event_date", F.to_date("ts"))
