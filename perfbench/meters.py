"""Meters the benchmark reads outside every timed region.

- ``tail_percentile``: the percentile rule for latency tails (the
  percentiles themselves are ``numpy.percentile``, linear interpolation).
- ``JobGroupMeter``: executor metrics per Spark job group, read once from
  the status REST API after the listener bus has drained.
- ``PyWorkerCpuMeter``: CPU of the Python worker processes that descend
  from this process, monotone per (pid, starttime).
- ``host_signature``: what every result is tagged with.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import subprocess
import urllib.request
from collections.abc import Iterable


def samples_beyond(n: int, pct: int) -> int:
    """Samples strictly above the nearest-rank ``pct`` percentile of ``n``."""
    return n - math.ceil(n * pct / 100)


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile, p50 or above, with at least
    ``min_beyond`` samples beyond it: 27 samples give p62, 40 give p75,
    100 give p90. None when even p50 has fewer beyond it."""
    for pct in range(99, 49, -1):
        if samples_beyond(n, pct) >= min_beyond:
            return pct
    return None


# --- executor metrics by job group -------------------------------------

STAGE_FIELDS = {
    # REST stage field -> (our name, scale to seconds / bytes)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "executorDeserializeTime": ("deserialize_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}
GROUP_TOTALS = ("jobs", "tasks") + tuple(sorted({v[0] for v in STAGE_FIELDS.values()}))


def group_totals(jobs: Iterable[dict], stages: Iterable[dict]) -> dict[str, dict]:
    """Sum stage metrics per job group.

    A stage that several jobs list (a reused shuffle map stage) belongs
    to the first job that lists it, so it is counted once. Every attempt
    of a stage is counted.
    """
    owner: dict[int, str | None] = {}
    out: dict[str | None, dict] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup")
        out.setdefault(group, dict.fromkeys(GROUP_TOTALS, 0))["jobs"] += 1
        for sid in job.get("stageIds", ()):
            owner.setdefault(sid, group)
    for st in stages:
        if st["stageId"] not in owner:
            continue
        acc = out[owner[st["stageId"]]]
        acc["tasks"] += int(st.get("numCompleteTasks", 0)) + int(st.get("numFailedTasks", 0))
        for field, (name, scale) in STAGE_FIELDS.items():
            acc[name] += st.get(field, 0) * scale
    return out


class JobGroupMeter:
    """Executor metrics attributed by job group, not by time window.

    The benchmark tags its own actions with ``sc.setJobGroup``; Spark
    tags every micro-batch job of a streaming query with the query's run
    id. ``read()`` waits until the listener bus is empty, so every job
    and stage the status store will ever hold for the finished work is
    there, then reads the jobs and stages lists once.
    """

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the status REST API needs spark.ui.enabled=true")
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc._jsc.clearJobGroup()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as resp:
            return json.load(resp)

    def read(self) -> dict[str, dict]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return group_totals(self._get("jobs"), self._get("stages"))


def sum_groups(totals: dict, groups: Iterable[str]) -> dict[str, float]:
    acc = dict.fromkeys(GROUP_TOTALS, 0)
    for group in set(groups):
        for name, value in totals.get(group, {}).items():
            acc[name] += value
    return acc


# --- Python-worker CPU ---------------------------------------------------


def parse_stat(text: str) -> dict:
    """The fields of ``/proc/<pid>/stat`` this meter uses.

    ``comm`` may hold spaces and parentheses, so split after its last ')'.
    """
    head, _, rest = text.rpartition(")")
    fields = rest.split()
    # rest starts at field 3 (state): field k is fields[k - 3]
    return {
        "pid": int(head.split("(", 1)[0]),
        "comm": head.split("(", 1)[1],
        "ppid": int(fields[1]),
        "ticks": int(fields[11]) + int(fields[12]),  # utime + stime
        "starttime": int(fields[19]),
    }


def descendants(root: int, parent_of: dict[int, int]) -> set[int]:
    """Every pid whose parent chain reaches ``root`` (``root`` excluded)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        children.setdefault(ppid, []).append(pid)
    out: set[int] = set()
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, ()))
    return out


def read_procs(proc: str = "/proc") -> dict[int, dict]:
    procs = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                procs[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return procs


class PyWorkerCpuMeter:
    """CPU seconds of the Python processes descending from ``root``.

    Only descendants count, so another Spark application on the host
    cannot inflate the figure. Each process is keyed on (pid,
    starttime) and keeps the highest tick count seen, so a reused pid is
    a new process rather than a counter that went backwards. A worker's
    CPU after its last sample is lost when it exits; the benchmark
    samples at every op boundary to keep that window short.
    """

    def __init__(self, root: int | None = None, proc: str = "/proc") -> None:
        self.root = os.getpid() if root is None else root
        self._proc = proc
        self._tck = os.sysconf("SC_CLK_TCK")
        self._seen: dict[tuple[int, int], int] = {}

    def sample(self) -> float:
        procs = read_procs(self._proc)
        mine = descendants(self.root, {pid: p["ppid"] for pid, p in procs.items()})
        for pid in mine:
            p = procs[pid]
            if "python" not in p["comm"]:
                continue  # the JVM and anything else that is not a worker
            key = (pid, p["starttime"])
            self._seen[key] = max(self._seen.get(key, 0), p["ticks"])
        return sum(self._seen.values()) / self._tck

    @property
    def processes(self) -> int:
        return len(self._seen)


# --- host signature ------------------------------------------------------


def source_version(root: str, package: str) -> str:
    """HEAD of the checkout; where it is not a git repository, a hash of
    the engine package's Python sources."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    digest = hashlib.sha1()
    pkg = os.path.join(root, package)
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    return "tree:" + digest.hexdigest()


def host_signature(root: str, package: str, sf: str, seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "sf": sf,
        "git_commit": source_version(root, package),
        "seed": seed,
    }
