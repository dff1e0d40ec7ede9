"""Tests for the benchmark's own parts: the percentile rule, the
descendant filter of the Python-worker meter, job-group attribution,
span self time and the load generator.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# The benchmark's modules import each other as top-level modules, the
# way perfbench/run.py runs them.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402
import meters  # noqa: E402
from generator import EventReplay  # noqa: E402
from spans import Tracer, covered  # noqa: E402

# --- percentile rule ------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(20, 50), (21, 52), (27, 62), (40, 75), (53, 81), (99, 89), (100, 90), (1000, 99)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, pct):
    assert meters.tail_percentile(n) == pct
    assert meters.samples_beyond(n, pct) >= 10
    assert all(meters.samples_beyond(n, p) < 10 for p in range(pct + 1, 100))


def test_fifty_three_samples_leave_thirteen_beyond_p75():
    assert meters.samples_beyond(53, 75) == 13


def test_too_few_samples_for_any_tail():
    assert meters.tail_percentile(19) is None


# --- Python-worker meter: descendants only, keyed on (pid, starttime) ------


def write_stat(proc, pid, comm, ppid, ticks, starttime):
    d = proc / str(pid)
    d.mkdir(exist_ok=True)
    # fields 3.. : state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime priority nice threads
    # itrealvalue starttime
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, ticks, 0, 0, 0, 20, 0, 1, 0, starttime]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, rest)) + "\n")


def test_parse_stat_handles_parentheses_in_comm():
    text = "42 (py (x) y) S 7 1 1 0 -1 0 0 0 0 0 30 12 0 0 20 0 1 0 9999 0\n"
    st = meters.parse_stat(text)
    assert (st["pid"], st["comm"], st["ppid"], st["ticks"], st["starttime"]) == (42, "py (x) y", 7, 42, 9999)


def test_descendants_follow_the_parent_chain():
    parent_of = {2: 1, 3: 2, 4: 3, 5: 1, 6: 99, 7: 6}
    assert meters.descendants(2, parent_of) == {3, 4}
    assert meters.descendants(1, parent_of) == {2, 3, 4, 5}
    assert meters.descendants(42, parent_of) == set()


def test_meter_counts_only_python_descendants(tmp_path):
    write_stat(tmp_path, 100, "python3", 1, 0, 1)  # the benchmark
    write_stat(tmp_path, 101, "java", 100, 900, 2)  # the JVM: not a worker
    write_stat(tmp_path, 102, "python3", 101, 50, 3)  # daemon
    write_stat(tmp_path, 103, "python3", 102, 70, 4)  # worker
    write_stat(tmp_path, 200, "python3", 1, 5000, 5)  # another app's worker
    meter = meters.PyWorkerCpuMeter(root=100, proc=str(tmp_path))
    assert meter.sample() == pytest.approx(120 / os.sysconf("SC_CLK_TCK"))
    assert meter.processes == 2


def test_meter_survives_pid_reuse_and_worker_exit(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    write_stat(tmp_path, 100, "python3", 1, 0, 1)
    write_stat(tmp_path, 101, "java", 100, 0, 2)
    write_stat(tmp_path, 103, "python3", 101, 70, 4)
    meter = meters.PyWorkerCpuMeter(root=100, proc=str(tmp_path))
    assert meter.sample() == pytest.approx(70 / tck)
    # the worker exits and its pid is reused by a new worker
    write_stat(tmp_path, 103, "python3", 101, 5, 8)
    assert meter.sample() == pytest.approx(75 / tck)
    # the new worker exits: its last sample is kept
    for f in (tmp_path / "103").iterdir():
        f.unlink()
    (tmp_path / "103").rmdir()
    assert meter.sample() == pytest.approx(75 / tck)


def test_descendants_of_real_processes():
    code = "import subprocess, sys, time; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(30)']); time.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.monotonic() + 10
        while True:
            procs = meters.read_procs()
            mine = meters.descendants(os.getpid(), {p: v["ppid"] for p, v in procs.items()})
            if len(mine & set(procs)) >= 2 or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        assert child.pid in mine
        grandchild = [p for p in mine if procs[p]["ppid"] == child.pid]
        assert len(grandchild) == 1
        # rooted at the child, only the grandchild counts
        assert meters.descendants(child.pid, {p: v["ppid"] for p, v in procs.items()}) == set(grandchild)
    finally:
        for pid in sorted(mine - {child.pid}):
            os.kill(pid, 9)
        child.kill()
        child.wait(timeout=10)


# --- job-group attribution ------------------------------------------------


def test_group_totals_count_a_shared_stage_once():
    jobs = [
        {"jobId": 0, "jobGroup": "exec:a", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "exec:b", "stageIds": [1, 2]},  # stage 1 reused
        {"jobId": 2, "stageIds": [3]},  # no group
    ]
    stages = [
        {"stageId": 0, "executorCpuTime": 1e9, "numCompleteTasks": 4},
        {"stageId": 1, "executorCpuTime": 2e9, "numCompleteTasks": 4},
        {"stageId": 2, "executorCpuTime": 3e9, "numCompleteTasks": 1, "diskBytesSpilled": 10,
         "memoryBytesSpilled": 5},
        {"stageId": 3, "executorCpuTime": 7e9, "numCompleteTasks": 1},
    ]
    totals = meters.group_totals(jobs, stages)
    assert totals["exec:a"]["executor_cpu_s"] == pytest.approx(3.0)
    assert totals["exec:b"]["executor_cpu_s"] == pytest.approx(3.0)
    assert totals["exec:b"]["spill_bytes"] == 15
    assert totals[None]["executor_cpu_s"] == pytest.approx(7.0)
    both = meters.sum_groups(totals, ["exec:a", "exec:b", "exec:a"])
    assert both["jobs"] == 2 and both["tasks"] == 9


# --- scratch clean-up -----------------------------------------------------


def test_scratch_dirs_removes_only_what_this_process_made(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "mkdtemp", tempfile.mkdtemp)  # restored after the test
    other = tmp_path / "made_elsewhere"
    other.mkdir()
    scratch = harness.ScratchDirs()
    made = tempfile.mkdtemp(prefix="scratch_", dir=tmp_path)
    (tmp_path / "after").mkdir()  # appeared meanwhile, not by mkdtemp
    scratch.remove()
    assert not os.path.exists(made)
    assert other.is_dir() and (tmp_path / "after").is_dir()


# --- spans ------------------------------------------------------------------


def test_covered_is_the_union_length():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert covered([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_children():
    tr = Tracer("r", enabled=True)
    parent = tr.add("sink", 0.0, 10.0, None)
    tr.add("microbatch", 1.0, 4.0, parent.id)
    tr.add("microbatch", 3.0, 6.0, parent.id)
    tr.finish()
    assert parent.self_s == pytest.approx(5.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


# --- generator ----------------------------------------------------------------

MAX_LAG_US = 300_000_000


@pytest.fixture(scope="module")
def events_path(tmp_path_factory):
    rng = np.random.default_rng(7)
    n = 3000
    ts = np.sort(rng.integers(0, 3 * 86_400_000_000, size=n)) + 1_704_067_200_000_000
    table = pa.table({
        "event_id": pa.array(rng.permutation(n), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "view", "error"], n)),
        "value": pa.array(np.round(rng.random(n) * 100, 2)),
        "props": pa.array([f'{{"k": {i % 100}}}' for i in range(n)]),
    })
    path = tmp_path_factory.mktemp("fixture") / "events.parquet"
    pq.write_table(table, path)
    return str(path)


def replay(path, seed, share=0.2):
    return EventReplay(path, seed, chunk_rows=700, displaced_share=share, max_lag_us=MAX_LAG_US)


def test_same_seed_gives_byte_identical_chunks(events_path):
    a, b = replay(events_path, 11), replay(events_path, 11)
    for i in (0, 3, 4, 9):  # chunk 4 straddles the first pass boundary
        assert EventReplay.encode(a.chunk(i)) == EventReplay.encode(b.chunk(i))
    c = replay(events_path, 12)
    assert EventReplay.encode(a.chunk(0)) != EventReplay.encode(c.chunk(0))


def test_seed_only_selects_which_events_move(events_path):
    a, b = replay(events_path, 1), replay(events_path, 2)
    rows = a.rows_per_pass
    ids_a = pa.concat_tables([a.chunk(i) for i in range(5)]).column("event_id").to_numpy()[:rows]
    ids_b = pa.concat_tables([b.chunk(i) for i in range(5)]).column("event_id").to_numpy()[:rows]
    assert sorted(ids_a) == sorted(ids_b) == list(range(rows))
    assert not np.array_equal(ids_a, ids_b)


def test_displacement_stays_within_the_watermark_delay(events_path):
    r = replay(events_path, 5)
    n_chunks = 3 * r.rows_per_pass // r.chunk_rows + 1
    stream = pa.concat_tables([r.chunk(i) for i in range(n_chunks)])
    ts = stream.column("ts").cast(pa.int64()).to_numpy()
    prior_max = np.maximum.accumulate(np.concatenate([[ts[0]], ts[:-1]]))
    lateness = prior_max - ts
    assert lateness.max() > 0  # events really arrive out of order
    assert lateness.max() < MAX_LAG_US
    # ids stay unique across passes
    ids = stream.column("event_id").to_numpy()
    assert len(np.unique(ids)) == len(ids)
