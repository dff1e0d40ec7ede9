"""``stream_etl`` and ``stream_window_agg``: one backlog drain each.

The generator stages a backlog of chunk files; ``write_file_sink``
drains it with one chunk per micro-batch (``availableNow``) while the
listener records every batch's progress. The drain is the timed region.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass

import duckdb
import pyarrow as pa

from generator import EventReplay, Stager
from harness import epoch, fresh_dir
from sparkstreamingtohdfsofsensorsdata_spark.sources.factory import stream_source
from sparkstreamingtohdfsofsensorsdata_spark.streaming.ops import tumbling_counts
from sparkstreamingtohdfsofsensorsdata_spark.streaming.runner import (
    add_event_date,
    write_file_sink,
)

WINDOW = "1 hour"
WINDOW_US = 3_600_000_000
WATERMARK = "10 minutes"
WATERMARK_US = 600_000_000
# Events displaced by the generator, and how late they may arrive: half
# the watermark delay, so no displaced row is ever dropped.
DISPLACED_SHARE = 0.02
MAX_LAG_US = WATERMARK_US // 2
WARM_BATCHES = 3
# the tail percentile needs at least 10 samples beyond p50
MIN_BATCHES = 20


@dataclass(frozen=True)
class StreamSpec:
    name: str
    chunk_rows: int
    # batches per second measured on a 4-core host when the benchmark was
    # written: sizes the backlog so one drain lasts about --seconds
    nominal_batches_per_s: float


SPECS = {
    "stream_etl": StreamSpec("stream_etl", chunk_rows=2000, nominal_batches_per_s=3.5),
    "stream_window_agg": StreamSpec("stream_window_agg", chunk_rows=1000, nominal_batches_per_s=2.5),
}


def backlog_batches(spec: StreamSpec, seconds: int) -> int:
    return max(MIN_BATCHES, math.ceil(seconds * spec.nominal_batches_per_s))


def make_query(spark, spec: StreamSpec, source_dir: str):
    events = stream_source(spark, source_dir, max_files_per_trigger=1)
    if spec.name == "stream_etl":
        return add_event_date(events), ("event_date",)
    return tumbling_counts(events, window=WINDOW, watermark=WATERMARK), ()


class StreamPrep:
    """Generator prep: the replay and the encoded backlog chunks."""

    def __init__(self, events_path: str, spec: StreamSpec, seed: int, batches: int) -> None:
        self.replay = EventReplay(events_path, seed, spec.chunk_rows, DISPLACED_SHARE, MAX_LAG_US)
        self.tables = [self.replay.chunk(i) for i in range(batches)]
        self.payloads = [EventReplay.encode(t) for t in self.tables]


def drain(sess, spec: StreamSpec, prep: StreamPrep, n: int, base: str, label: str, tracer):
    """Stage ``n`` chunks under ``base`` and drain them into a file sink.

    Returns (construct_s, drain_s, sink_dir, sink span); only the drain
    is timed.
    """
    source, sink, ckpt = (fresh_dir(os.path.join(base, d)) for d in ("source", "sink", "ckpt"))
    stager = Stager(source, os.path.join(base, "staging"))
    for i in range(n):
        stager.stage(i, prep.payloads[i])
    sess.label(f"construct:{label}")
    with tracer.span("construct", op=label):
        t0 = time.perf_counter()
        df, parts = make_query(sess.spark, spec, source)
        t1 = time.perf_counter()
    sess.label(label)
    with tracer.span("write_file_sink", op=label) as sp:
        t2 = time.perf_counter()
        write_file_sink(df, sink, ckpt, partition_cols=parts, output_mode="append")
        t3 = time.perf_counter()
    sess.label(None)
    return t1 - t0, t3 - t2, sink, sp


def sink_files(sink_dir: str) -> list[dict]:
    """Files the sink committed, from its ``_spark_metadata`` log: the
    latest compacted file plus every later delta."""
    log_dir = os.path.join(sink_dir, "_spark_metadata")
    names = os.listdir(log_dir)
    batch_of = {n: int(n.split(".")[0]) for n in names if n.split(".")[0].isdigit()}
    compacts = [b for n, b in batch_of.items() if n.endswith(".compact")]
    floor = max(compacts, default=-1)
    files: dict[str, dict] = {}
    for name in sorted(batch_of, key=batch_of.get):
        b = batch_of[name]
        if b < floor or (b == floor and not name.endswith(".compact")):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the version
        for line in lines:
            entry = json.loads(line)
            path = entry["path"].removeprefix("file://")
            if entry.get("action", "add") == "delete":
                files.pop(path, None)
            else:
                files[path] = entry
    return list(files.values())


def _input_view(con, tables: list[pa.Table]) -> None:
    con.register("input_arrow", pa.concat_tables(tables))
    con.execute(
        "CREATE TEMP VIEW input AS SELECT *, epoch_us(ts) AS ts_us FROM input_arrow"
    )


def check_etl(tables: list[pa.Table], sink_dir: str) -> list[str]:
    """The sink holds every generated row exactly once, per event_date."""
    paths = [f["path"].removeprefix("file://") for f in sink_files(sink_dir)]
    if not paths:
        return ["the sink committed no files"]
    con = duckdb.connect()
    try:
        _input_view(con, tables)
        want = dict(con.execute(
            "SELECT CAST(DATE '1970-01-01' + CAST(ts_us // 86400000000 AS INTEGER) AS VARCHAR),"
            " count(*) FROM input GROUP BY 1"
        ).fetchall())
        got = con.execute(
            "SELECT CAST(event_date AS VARCHAR), count(*), count(DISTINCT event_id)"
            " FROM read_parquet(?, hive_partitioning = true) GROUP BY 1",
            [paths],
        ).fetchall()
    finally:
        con.close()
    errors = []
    if {d: n for d, n, _ in got} != want:
        errors.append(f"per-date counts differ: {len(want)} dates expected, {len(got)} written")
    if any(n != distinct for _, n, distinct in got):
        errors.append("an event was written more than once")
    return errors


def check_window(tables: list[pa.Table], sink_dir: str, watermark: str | None) -> list[str]:
    """Every emitted window equals DuckDB over the generated input, and
    every window the final watermark closed was emitted."""
    if watermark is None:
        return ["no watermark was reported"]
    wm_us = round(epoch(watermark) * 1e6)
    paths = [f["path"].removeprefix("file://") for f in sink_files(sink_dir)]
    con = duckdb.connect()
    try:
        _input_view(con, tables)
        off_grid = con.execute(
            "SELECT count(*) FROM input WHERE abs(value * 100 - round(value * 100)) > 1e-6"
        ).fetchone()[0]
        # values carry two decimals, so integer cents give the exact sum
        want = {
            (ws, et): (n, s)
            for ws, et, n, s in con.execute(
                f"SELECT ts_us // {WINDOW_US} * {WINDOW_US} AS ws, event_type, count(*),"
                " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100"
                f" FROM input GROUP BY 1, 2 HAVING ws + {WINDOW_US} <= ?",
                [wm_us],
            ).fetchall()
        }
        got_rows = con.execute(
            "SELECT epoch_us(window_start), event_type, n, value_sum FROM read_parquet(?)",
            [paths],
        ).fetchall() if paths else []
    finally:
        con.close()
    got = {(ws, et): (n, s) for ws, et, n, s in got_rows}
    errors = []
    if off_grid:
        errors.append(f"{off_grid} input values are not whole cents")
    if len(got) != len(got_rows):
        errors.append("a window was emitted twice")
    if got != want:
        wrong = [k for k in got if want.get(k) != got[k]]
        missing = len(set(want) - set(got))
        example = f" (e.g. {wrong[0]}: {got[wrong[0]]} vs {want.get(wrong[0])})" if wrong else ""
        errors.append(f"{len(wrong)} windows differ from DuckDB{example}, {missing} closed windows missing")
    return errors
