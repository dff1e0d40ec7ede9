"""Load generator for the stream workloads.

It is the benchmark's own pyarrow code, separate from the engine: it
reads the fixture ``events`` table, replays it pass after pass with
``ts`` shifted by the table's span (so event time keeps advancing) and
cuts the arrival-ordered rows into fixed-size parquet chunk files.

The seed selects which events arrive late. A displaced event keeps its
``ts`` but arrives as if it had been sent ``lag`` later, with ``lag``
below ``max_lag_us``. Every row that arrives before it therefore has
``ts <= its ts + lag``, so a watermark delay of at least ``max_lag_us``
never drops it and the windowed output stays exactly checkable.
"""

from __future__ import annotations

import io
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The declared stream schema of sources.factory.stream_source for files
# the engine did not write raw: a microsecond UTC instant.
TS_TYPE = pa.timestamp("us", tz="UTC")
COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


class EventReplay:
    """Deterministic, seed-displaced replay of the fixture events table.

    ``chunk(i)`` is row range ``[i * chunk_rows, (i + 1) * chunk_rows)``
    of the endless arrival-ordered stream. Pass ``p`` holds every fixture
    event once, with ``ts`` shifted by ``p * span`` and ``event_id`` by
    ``p * id_stride``, so ids stay unique across passes.
    """

    def __init__(
        self,
        events_path: str,
        seed: int,
        chunk_rows: int,
        displaced_share: float,
        max_lag_us: int,
    ) -> None:
        if chunk_rows < 1 or max_lag_us < 2 or not 0 <= displaced_share <= 1:
            raise ValueError("chunk_rows >= 1, max_lag_us >= 2, share in [0, 1]")
        table = pq.read_table(events_path, columns=list(COLUMNS))
        ts_us = (
            table.column("ts").cast(pa.timestamp("us"), safe=False).cast(pa.int64())
        ).to_numpy()
        event_id = table.column("event_id").to_numpy()
        order = np.lexsort((event_id, ts_us))
        self._base = table.take(pa.array(order))
        self._ts_us = ts_us[order]
        self._event_id = event_id[order]
        self.rows_per_pass = len(order)
        if self.rows_per_pass == 0:
            raise ValueError(f"{events_path} holds no events")
        self.span_us = int(self._ts_us[-1] - self._ts_us[0]) + 1
        self.id_stride = int(self._event_id.max()) + 1
        self.seed = seed
        self.chunk_rows = chunk_rows
        self.displaced_share = displaced_share
        self.max_lag_us = max_lag_us
        self._passes: dict[int, pa.Table] = {}

    def _pass(self, p: int) -> pa.Table:
        """Pass ``p`` in arrival order (cached; a chunk spans <= 2 passes)."""
        if p not in self._passes:
            rng = np.random.default_rng([self.seed, p])
            lag = np.zeros(self.rows_per_pass, dtype=np.int64)
            moved = rng.random(self.rows_per_pass) < self.displaced_share
            lag[moved] = rng.integers(1, self.max_lag_us, size=int(moved.sum()))
            arrival = np.lexsort((self._event_id, self._ts_us + lag))
            shifted_ts = self._ts_us[arrival] + p * self.span_us
            cols = {name: self._base.column(name).take(pa.array(arrival)) for name in COLUMNS}
            cols["event_id"] = pa.array(self._event_id[arrival] + p * self.id_stride)
            cols["ts"] = pa.array(shifted_ts, type=pa.int64()).cast(TS_TYPE)
            self._passes = {p: pa.table([cols[name] for name in COLUMNS], names=list(COLUMNS))}
        return self._passes[p]

    def chunk(self, i: int) -> pa.Table:
        start = i * self.chunk_rows
        parts = []
        while start < (i + 1) * self.chunk_rows:
            p, offset = divmod(start, self.rows_per_pass)
            take = min(self.chunk_rows - (start - i * self.chunk_rows), self.rows_per_pass - offset)
            parts.append(self._pass(p).slice(offset, take))
            start += take
        return pa.concat_tables(parts)

    @staticmethod
    def encode(table: pa.Table) -> bytes:
        """Parquet bytes of one chunk; the same table gives the same bytes."""
        buf = io.BytesIO()
        pq.write_table(table, buf, compression="snappy")
        return buf.getvalue()


class Stager:
    """Moves encoded chunks into a stream source directory.

    The file source orders new files by modification time at millisecond
    resolution, so each staged file gets a strictly later mtime than the
    one before it; the rename makes every file appear whole.
    """

    def __init__(self, source_dir: str, tmp_dir: str) -> None:
        self.source_dir = source_dir
        self.tmp_dir = tmp_dir
        os.makedirs(source_dir, exist_ok=True)
        os.makedirs(tmp_dir, exist_ok=True)
        self._last_ms = 0

    def stage(self, index: int, payload: bytes) -> str:
        tmp = os.path.join(self.tmp_dir, f"chunk_{index:06d}.parquet")
        with open(tmp, "wb") as fh:
            fh.write(payload)
        self._last_ms = max(self._last_ms + 1, int(time.time() * 1000))
        os.utime(tmp, ns=(self._last_ms * 1_000_000, self._last_ms * 1_000_000))
        dest = os.path.join(self.source_dir, os.path.basename(tmp))
        os.replace(tmp, dest)
        return dest
