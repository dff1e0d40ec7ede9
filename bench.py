"""Benchmark harness: wall-clock per registered query at the bench SF.

Prints ONE JSON line: {"metric", "value" (total sec), "unit", "queries"
(per-query sec), "sf"}. Honors $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) and $SPARK_GRAFT_CPUS (default all cores).

Each query is forced end-to-end with a noop-format write so the full
physical plan executes (scan -> shuffle -> sink) without driver-side
collect skew; streaming queries already materialize inside their query
function, so their timing covers the streamed execution itself.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

import pandas as pd

from sparkstreamingtohdfsofsensorsdata_spark import memo
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session


class _CpuMeter:
    """Cumulative executor-CPU-time sampler (VERDICT r11 item 7).

    Wall-clock on this host swings 2-3x with external load, which is why
    58 floors had to be min-merged across three serialized r11 runs.
    Executor CPU time (sum of task ``executorCpuTime`` over stages) is
    the contention-immune cost of a plan: a key whose wall spiked but
    whose CPU sits at its committed floor is host contention by
    construction, and a key whose CPU grew is a real plan regression no
    quiet-host rerun will hide.

    Sampling rides the status REST API (one HTTP GET per key boundary,
    ~0.1 s, OUTSIDE every timed region) because py4j iteration over
    AppStatusStore's stage list costs 3 JVM round trips per stage.
    Accounting is monotone per (stageId, attemptId) so UI stage
    eviction can only under-count a stage once, never double-count or
    go backwards. Python-UDF worker CPU is NOT included (the JVM idles
    while Arrow batches are in Python) — cpu_s is the JVM-side cost,
    which is the right basis for floors because it is what the plan
    shape controls. Every failure degrades to ``enabled=False`` —
    metering must never sink a bench run."""

    def __init__(self, spark) -> None:
        self._seen: dict[tuple[int, int], int] = {}
        self._total_ns = 0
        self._url = None
        try:
            sc = spark.sparkContext
            base = sc.uiWebUrl
            if base:
                self._url = (
                    f"{base}/api/v1/applications/{sc.applicationId}"
                    "/stages?status=complete"
                )
        except Exception:
            self._url = None
        self.enabled = self._url is not None

    def _poll(self) -> float:
        with urllib.request.urlopen(self._url, timeout=15) as resp:
            stages = json.load(resp)
        for st in stages:
            key = (st["stageId"], st["attemptId"])
            cpu = int(st.get("executorCpuTime", 0))
            prev = self._seen.get(key, 0)
            if cpu > prev:
                self._total_ns += cpu - prev
                self._seen[key] = cpu
        return self._total_ns / 1e9

    def sample(self) -> float | None:
        """Advance the monotone counter; return cumulative CPU seconds.

        Settles before returning (r13, VERDICT r12 item 2): the status
        store is fed by the async listener bus, so stages of an action
        that JUST returned can land milliseconds after the first poll —
        under monotone accounting their CPU would then be charged to
        the NEXT key's window (the suspected mechanism behind r12's
        q_graph_local_clustering 1.92x-CPU-floor overage: a shared-memo
        build's tail attributed to whichever consumer ran next).
        Re-poll (0.12 s apart, outside every timed region) until TWO
        consecutive polls agree, with a 1.0 s hard cap (ADVICE r13: the
        fixed 2-retry loop still leaked listener-bus lag > ~0.24 s into
        the next key's window on a loaded host; requiring two stable
        polls under a time cap bounds the bleed without unbounded
        waiting)."""
        if not self.enabled:
            return None
        try:
            total = self._poll()
            stable = 0
            deadline = time.perf_counter() + 1.0
            while stable < 1 and time.perf_counter() < deadline:
                time.sleep(0.12)
                nxt = self._poll()
                if nxt - total < 1e-3:
                    stable += 1
                else:
                    stable = 0
                total = nxt
            return total
        except Exception as exc:  # pragma: no cover - meter must not sink bench
            print(f"bench: cpu meter disabled: {exc}", file=sys.stderr)
            self.enabled = False
            return None


class _PyCpuMeter:
    """Python-worker CPU sampler (VERDICT r16 item 3): r16 moved the
    hottest per-row work (simhash/minhash folds) from interpreted JVM
    expressions into Arrow kernels, which the JVM-side `_CpuMeter`
    cannot see — the JVM idles while batches are in Python, so a
    regression inside a kernel would be invisible to the CPU-floor
    audit. This meter reads /proc for the pyspark daemon/worker
    processes DESCENDING from this process (local mode: children of the
    driver JVM this process launched; ADVICE r17 — a concurrent Spark
    app's workers must not inflate the count) and sums their
    utime+stime, monotone per (pid, starttime) so a worker's CPU is
    never counted twice, survives the worker's death at its
    last-sampled value, and a reused PID is a new process rather than
    a counter that went backwards (workers are reused for the whole
    bench by default, so mid-key deaths — the only loss window — are
    rare). Sampled at the same key boundaries as the JVM meter,
    OUTSIDE every timed region; each poll is one /proc scan (~5 ms).
    Every failure degrades to ``enabled=False`` — metering must never
    sink a bench run."""

    def __init__(self, root: int | None = None) -> None:
        self._root = os.getpid() if root is None else root
        # (pid, starttime) -> max (utime+stime) ticks
        self._seen: dict[tuple[int, int], int] = {}
        try:
            self._tck = os.sysconf("SC_CLK_TCK") or 100
        except (OSError, ValueError):  # pragma: no cover
            self._tck = 100
        self.enabled = os.path.isdir("/proc")

    @staticmethod
    def _read_procs() -> dict[int, tuple[int, int, int, bytes]]:
        """pid -> (ppid, starttime, utime+stime ticks, cmdline)."""
        procs = {}
        for pid_dir in os.listdir("/proc"):
            if not pid_dir.isdigit():
                continue
            try:
                with open(f"/proc/{pid_dir}/stat") as fh:
                    st = fh.read()
                with open(f"/proc/{pid_dir}/cmdline", "rb") as fh:
                    cmd = fh.read()
                # fields after the ")" that closes comm start at field 3
                # (state): ppid is field 4, utime/stime 14/15, starttime 22
                f = st[st.rindex(")") + 2 :].split()
                procs[int(pid_dir)] = (
                    int(f[1]), int(f[19]), int(f[11]) + int(f[12]), cmd
                )
            except (OSError, ValueError, IndexError):
                continue  # process raced away mid-read
        return procs

    def _tally(self, procs: dict[int, tuple[int, int, int, bytes]]) -> float:
        """Advance the counters from one process table; return the
        cumulative Python-worker CPU seconds."""
        for pid, (_, start, ticks, cmd) in procs.items():
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            # argv[0] must be a python executable: a shell whose command
            # STRING merely mentions the module (e.g. a wrapper that
            # launched this bench) must not be counted as a worker
            if b"python" not in os.path.basename(cmd.split(b"\0", 1)[0]):
                continue
            ancestor, hops = procs[pid][0], 0
            while ancestor != self._root and ancestor in procs and hops < 64:
                ancestor, hops = procs[ancestor][0], hops + 1
            if ancestor != self._root:
                continue  # not ours: another application's worker
            if ticks > self._seen.get((pid, start), 0):
                self._seen[(pid, start)] = ticks
        return sum(self._seen.values()) / self._tck

    def sample(self) -> float | None:
        """Advance the monotone per-process counters; return cumulative
        Python-worker CPU seconds."""
        if not self.enabled:
            return None
        try:
            return self._tally(self._read_procs())
        except Exception as exc:  # pragma: no cover - meter must not sink bench
            print(f"bench: py cpu meter disabled: {exc}", file=sys.stderr)
            self.enabled = False
            return None


def _warmup(spark, sf_dir: str) -> None:
    """Start the JVM pipelines, the Python UDF workers, and the parquet
    reader before timing.

    The first Python-UDF query in a session pays ~15s of worker spin-up
    on local[32], and the first parquet scan pays footer/codec class
    loading; both are session costs, not operator costs, so pay them
    here once instead of inside whichever query runs first.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _identity(s: pd.Series) -> pd.Series:
        # spawn every worker up front with numpy/pyarrow imported (the
        # heavy-library init several kernels pay on their first key
        # otherwise), so per-key py_cpu_s reads kernel work, not worker
        # boot
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        return s

    n_par = spark.sparkContext.defaultParallelism
    spark.range(100 * n_par).repartition(n_par).select(
        _identity("id")
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    # Block-manager + localCheckpoint persistence paths: the iterative
    # CC queries checkpoint every round, and the first checkpointed
    # shuffle in a session pays several seconds of storage-layer
    # spin-up (measured: first cold q_llm_dedup_clusters 14.9s vs 5-7s
    # once warm) — a session cost, not an operator cost.
    spark.range(1_000_000).repartition(32).localCheckpoint().count()


def _load_1m() -> float:
    """1-minute load average — the contention index recorded per key.

    Three rounds (r6/r7/r8) adjudicated bench spikes as host contention
    by hand; recording the load the key actually ran under makes the
    call auditable from bench_last.json alone (VERDICT r8 item 3).
    """
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:  # pragma: no cover - getloadavg unsupported
        return -1.0


def _run_one(spec, spark, sf_dir: str, cold: bool = False) -> float:
    # Rerun-phase honesty: the shared memos legitimately carry across
    # the sequential first pass, but a RERUN of a payer must not get
    # credited a warm-cache time; ``cold`` clears EXACTLY the group that
    # payer's first-pass number was charged for, so min(first, rerun)
    # compares two honest runs. Other groups stay warm: the pairs payer
    # never reads labels, so dropping the label memo too would force a
    # later q_llm_dedup_keep rerun to pay a cold label recompute its
    # first-pass number never paid.
    if cold:
        for group in memo.GROUPS:
            if group.payer == spec.name:
                group.clear(spark)
    start = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - start
    # Session hygiene between queries, outside the timed region: drop
    # cached blocks left behind by ml-LSH models / memory sinks so query
    # N's storage does not shrink query N+1's execution memory.
    spark.catalog.clearCache()
    return elapsed


_STDOUT_BUDGET = 1800  # bytes; observed harness tail window is 2000


def _stdout_line(payload: dict) -> dict:
    """Shrink ``payload`` until its compact-JSON form fits the harness's
    stdout tail window, keeping the slowest queries (the ones regression
    checks compare) and dropping from the cheap end first.

    Failed queries (timing -1.0) must never be shrunk away: they would
    otherwise rank as the CHEAPEST keys, vanish from the kept map first,
    and leave a lower total that reads as a speedup — so they ride a
    dedicated always-present field instead of the ranked map.

    Self-containment (VERDICT r4 ask #4): the full 138-key map cannot
    fit as a named JSON object (the key names alone exceed the window),
    but it DOES fit as a value-only centisecond array over the sorted
    key order — ``t_cs[i]`` is the timing of ``sorted(queries)[i]`` in
    centiseconds (-1 = failed). ``t_keys_sha`` (sha256 of the
    newline-joined sorted keys, first 8 hex) pins the order against the
    committed registry so an auditor can detect key-set drift without
    ``bench_last.json``. The named ``queries`` map still carries the
    slowest keys by name for at-a-glance regression reads.
    """
    import hashlib

    failed = sorted(k for k, v in payload["queries"].items() if v < 0)
    ranked = sorted(
        ((k, v) for k, v in payload["queries"].items() if v >= 0),
        key=lambda kv: -kv[1],
    )
    skeys = sorted(payload["queries"])
    t_cs = [
        -1 if payload["queries"][k] < 0 else int(round(payload["queries"][k] * 100))
        for k in skeys
    ]
    t_sha = hashlib.sha256("\n".join(skeys).encode()).hexdigest()[:8]

    lvals = sorted(v for v in payload.get("load_1m", {}).values() if v >= 0)

    def build(keep: int, keep_failed: int, with_t: bool = True) -> dict:
        line = {
            "metric": payload["metric"],
            "value": payload["value"],
            "unit": payload["unit"],
            "sf": payload["sf"],
            # host-contention headline: median/max 1-min load across the
            # run + how many keys were floor-adjudicated by rerun; the
            # per-key detail lives in bench_last.json (load_1m/rerun_s)
            "load_med": lvals[len(lvals) // 2] if lvals else None,
            "load_max": lvals[-1] if lvals else None,
            "n_rerun": len(payload.get("rerun_s", {})),
            # contention-immune companion to `value`: total executor
            # CPU s of the kept runs (per-key map in bench_last.json)
            "cpu_total": payload.get("cpu_total"),
            # Python-worker CPU s (Arrow kernels; per-key map in
            # bench_last.json py_cpu_s) — r17, VERDICT r16 item 3
            "py_cpu_total": payload.get("py_cpu_total"),
            # rocksdb state-store canary rows/s (error → null)
            "stream_rps_rocksdb": payload.get("stream_canary", {})
            .get("rocksdb", {})
            .get("rows_per_s"),
            # streaming canary headline (rows/s; full record in
            # bench_last.json stream_canary)
            "stream_rps": payload.get("stream_canary", {}).get(
                "rows_per_s"
            ),
            "queries_total": len(ranked) + len(failed),
            "queries_failed_total": len(failed),
            "queries_failed": failed[:keep_failed],
            "queries_omitted": len(ranked) - keep,
            "queries_full": "bench_last.json",
            "queries": dict(sorted(ranked[:keep])),
        }
        if with_t:
            line["t_unit"] = "cs"
            line["t_order"] = "sorted_keys"
            line["t_keys_sha"] = t_sha
            line["t_cs"] = t_cs
        return line

    def fits(line: dict) -> bool:
        return len(json.dumps(line, separators=(",", ":"))) <= _STDOUT_BUDGET

    # Shrink the named timings first (failures and the full compact
    # array are the more important signals)…
    for keep in range(len(ranked), -1, -1):
        line = build(keep, len(failed))
        if fits(line):
            return line
    # …then, in a mass-failure run, the failed-name list itself — the
    # count survives even when the names cannot all fit…
    for keep_failed in range(len(failed), -1, -1):
        line = build(0, keep_failed)
        if fits(line):
            return line
    # …and only as a last resort the compact array (a sub-700-byte
    # budget, never the driver's observed window).
    for keep_failed in range(len(failed), -1, -1):
        line = build(0, keep_failed, with_t=False)
        if fits(line):
            return line
    # Only reachable if a caller shrank the budget below ~200 bytes;
    # emit the headline anyway — numbers beat nothing.
    return build(0, 0, with_t=False)


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _stream_canary(spark, sf_dir: str) -> dict:
    """Streaming micro-batch throughput canary (VERDICT r10 item 8).

    Replays the events table as N_CHUNKS distinct micro-batches
    (maxFilesPerTrigger=1 over the ts-ordered replay dir) through the
    representative stateful pipeline (tumbling event-time window agg,
    the reference's identity workload) with trigger(availableNow) to a
    memory sink, and reports input rows/s of end-to-end micro-batch
    execution — source listing, state-store commits per batch, and the
    window agg all inside the measured wall. One number per round in
    bench_last.json/stdout makes streaming-runtime regressions a
    visible trend; the q_stream_* keys alone hide slow drift inside
    per-key noise because each carries sink/rig setup too. Failures
    degrade to an ``error`` field — the canary must never sink a bench
    run.

    Since r12 (VERDICT r11 item 4) the canary runs TWICE: once on the
    default HDFS-backed state store and once on the RocksDB provider
    (`spark.sql.streaming.stateStore.providerClass`) — the knob every
    real deployment of a streaming-to-storage sensor engine flips for
    large state, exercised here instead of merely documented
    (SCALE.md). The headline stream_rps stays the default-provider
    number so the cross-round trend line is unbroken; the rocksdb
    record rides next to it. A missing JNI lib degrades to an ``error``
    field inside the rocksdb record only."""
    import shutil

    canary_chunks = 8
    provider_conf = "spark.sql.streaming.stateStore.providerClass"

    def one_run(stream_ops, replay: str, n_rows: int) -> dict:
        from sparkstreamingtohdfsofsensorsdata_spark.sources.factory import (
            stream_source,
        )
        from sparkstreamingtohdfsofsensorsdata_spark.streaming.runner import (
            run_to_memory,
        )

        stream = stream_source(spark, replay, max_files_per_trigger=1)
        start = time.perf_counter()
        out = run_to_memory(stream_ops(stream))
        out.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - start
        return {
            "rows": n_rows,
            "micro_batches": canary_chunks,
            "wall_s": round(wall, 3),
            "rows_per_s": int(n_rows / wall) if wall > 0 else -1,
            "load_1m": _load_1m(),
        }

    try:
        from sparkstreamingtohdfsofsensorsdata_spark.session import scratch_dir
        from sparkstreamingtohdfsofsensorsdata_spark.sources.factory import (
            make_replay_dir,
        )
        from sparkstreamingtohdfsofsensorsdata_spark.streaming import ops

        replay = scratch_dir("bench_replay_")
        try:
            make_replay_dir(spark, sf_dir, replay, n_chunks=canary_chunks)
            n_rows = spark.read.parquet(replay).count()
            record = one_run(ops.tumbling_counts, replay, n_rows)
            try:
                spark.conf.set(provider_conf, _ROCKSDB_PROVIDER)
                rocks = one_run(ops.tumbling_counts, replay, n_rows)
                rocks["provider"] = "rocksdb"
            except Exception as exc:  # e.g. JNI lib absent in sandbox
                print(
                    f"bench: rocksdb canary FAILED: {exc}", file=sys.stderr
                )
                rocks = {"provider": "rocksdb", "error": str(exc)[:200]}
            finally:
                spark.conf.unset(provider_conf)
            record["rocksdb"] = rocks
        finally:
            shutil.rmtree(replay, ignore_errors=True)
        return record
    except Exception as exc:  # pragma: no cover - canary must not sink bench
        print(f"bench: stream canary FAILED: {exc}", file=sys.stderr)
        return {"error": str(exc)[:200]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    except ValueError:
        # A non-sf<N> directory name is a valid bench target; a dead
        # bench over an unparseable LABEL is not. Null it and run.
        sf = None
    # UI on for bench only: the status REST endpoint is what the CPU
    # meter samples (one GET per key boundary, outside timed regions).
    # retainedStages is raised so 267 keys' stages never evict
    # mid-run; the suite/sweep sessions keep the UI off as before.
    spark = build_session(
        app_name="bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )

    _warmup(spark, sf_dir)
    meter = _CpuMeter(spark)
    cursor = meter.sample()  # cumulative CPU after warmup = key-0 baseline
    pymeter = _PyCpuMeter()
    py_cursor = pymeter.sample()  # Python-worker CPU after warmup
    specs = load_all()
    timings: dict[str, float] = {}
    cpus: dict[str, float] = {}  # executor CPU s of the KEPT run
    py_cpus: dict[str, float] = {}  # Python-worker CPU s of the KEPT run
    loads: dict[str, float] = {}  # 1-min load when the key's KEPT run started
    reruns: dict[str, float] = {}  # rerun wall-clock for adjudicated keys
    # Shared intermediates (memo.GROUPS: the graph edge layer, triangle
    # orientation, graph CC labels, SimHash pairs, dedup CC labels, ANN
    # exact top-k) are the production "persist once, read downstream"
    # shape. Under a naive sequential pass, whichever consumer runs
    # FIRST in registry order pays the one-time materialization, so
    # per-key times (and the committed floors) silently re-attribute
    # whenever the verification rotation reorders the registry. Each
    # group is materialized outside every timed region instead and its
    # cost charged to its canonical payer's slot.
    prepaid = {group.payer: 0.0 for group in memo.GROUPS}
    prepaid_cpu = dict.fromkeys(prepaid, 0.0)
    prepaid_py = dict.fromkeys(prepaid, 0.0)
    # Audit trail (VERDICT r12 item 2): every shared-memo build this
    # run actually executed — payer slot it was charged to, the key
    # boundary that triggered it ("<upfront>" for the pinned block
    # below), wall and CPU. Lands in bench_last.json.
    memo_payments: list[dict] = []

    def cpu_since_last() -> tuple[float | None, float | None]:
        """Executor and Python-worker CPU seconds since the previous
        sample (None while a meter is off)."""
        nonlocal cursor, py_cursor
        after, py_after = meter.sample(), pymeter.sample()
        cpu = after - cursor if None not in (cursor, after) else None
        py = py_after - py_cursor if None not in (py_cursor, py_after) else None
        cursor, py_cursor = after, py_after
        return cpu, py

    def charge(group, trigger: str) -> None:
        """Materialize ``group``, attributing its wall-clock, executor
        CPU, and Python-worker CPU to its payer's slot."""
        payer = group.payer
        wall = group.build(spark, sf_dir)
        cpu, py = cpu_since_last()
        prepaid[payer] += wall
        if cpu is not None:
            prepaid_cpu[payer] += cpu
            cpu = round(cpu, 3)
        if py is not None:
            prepaid_py[payer] += py
        memo_payments.append(
            {"payer": payer, "trigger": trigger, "wall_s": round(wall, 3), "cpu_s": cpu}
        )

    # Pin memo payment to the canonical payers BEFORE any key's timer
    # starts (VERDICT r12 item 2): build every shared intermediate now,
    # in dependency order, each charged to its payer's slot. The main
    # loop then times every key against fully-warm memos regardless of
    # how the verification rotation reordered the registry — no run
    # order can re-attribute a build. The lazy in-loop charges below
    # remain as a safety net (no-ops while the memos stay warm) and
    # record their trigger key if they ever fire. GROUPS is in build
    # order, so a group is never built from a cold earlier group.
    for group in memo.GROUPS:
        try:
            if not group.warm(spark, sf_dir):
                charge(group, "<upfront>")
        except Exception as exc:
            print(
                f"bench: upfront prepay for {group.payer} failed: {exc}",
                file=sys.stderr,
            )

    for name, spec in specs.items():
        # The payer-charged materializations sit OUTSIDE the consumer's
        # try: a shared build failure must not mark the CONSUMER
        # failed (its own query never ran) — the consumer's timed run
        # below then simply pays the cost itself, which is also the
        # honest attribution when the shared build is broken.
        try:
            for group in memo.GROUPS:
                if (
                    name in group.consumers
                    and name != group.payer
                    and not group.warm(spark, sf_dir)
                ):
                    charge(group, name)
        except Exception as exc:
            print(f"bench: prepay for {name} failed: {exc}", file=sys.stderr)
        try:
            # record the load locally and commit it only on success —
            # loads[] documents the load when the key's KEPT run
            # started, so a FAILED run must not leave an entry behind
            # (ADVICE r9: failed keys polluted load_med/load_max)
            load_at_start = _load_1m()
            timings[name] = round(_run_one(spec, spark, sf_dir), 3)
            loads[name] = load_at_start
            cpu, py = cpu_since_last()
            if cpu is not None:
                cpus[name] = round(cpu, 3)
            if py is not None:
                py_cpus[name] = round(py, 3)
        except Exception as exc:  # a failing query must not sink the run
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0
            cpu_since_last()  # don't charge the wreckage downstream
    for payer, cost in prepaid.items():
        if prepaid_cpu.get(payer) and cpus.get(payer, -1.0) >= 0:
            cpus[payer] = round(cpus[payer] + prepaid_cpu[payer], 3)
        if prepaid_py.get(payer) and py_cpus.get(payer, -1.0) >= 0:
            py_cpus[payer] = round(py_cpus[payer] + prepaid_py[payer], 3)
        if not cost:
            continue
        if timings.get(payer, -1.0) >= 0:
            timings[payer] = round(timings[payer] + cost, 3)
        else:
            # The build cost was really paid but its payer's own query
            # failed; say so instead of silently shrinking the total.
            print(
                f"bench: {cost:.3f}s of prepaid intermediate build is "
                f"unreported ({payer} failed)",
                file=sys.stderr,
            )

    # This host's CPU budget swings ~10x on a multi-second cadence
    # (measured: 81..890 fixed-size GEMMs per 5s window), so a single
    # pass charges random queries for host stalls. Re-run the
    # stall-suspect outliers once and keep the min — the steady-state
    # cost of the plan, which is what the number is meant to convey.
    # Suspects: absolute outliers (> max(3s, 4x median)) plus any key
    # that regressed > 1.8x against the committed per-key floor
    # (bench_floor.json) — the floor names the steady-state cost a
    # previous run proved achievable, so exceeding it flags a stall
    # even when the absolute time is small.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "bench_floor.json")) as fh:
            floor = json.load(fh)
    except (OSError, ValueError):
        floor = {}
    # CPU floors (VERDICT r11 item 7): committed per-key executor-CPU
    # floors, contention-immune by construction — a key over its CPU
    # floor regressed its PLAN (or its data), not its host, so it is a
    # rerun suspect even when wall-clock happens to look fine.
    try:
        with open(os.path.join(here, "bench_floor_cpu.json")) as fh:
            floor_cpu = json.load(fh)
    except (OSError, ValueError):
        floor_cpu = {}
    ok = sorted(t for t in timings.values() if t >= 0)
    deadline = time.perf_counter() + 150  # bound the rerun phase
    if ok:
        median = ok[len(ok) // 2]
        cutoff = max(3.0, 4 * median)
        suspects = {n for n, t in timings.items() if t > cutoff}
        # VERDICT r12 item 5: the ratio test alone drowns in sub-second
        # keys whose aggressively min-merged floors make 0.2-0.7s of
        # host noise look like a 3x regression (14 of 17 r12 flags were
        # this). Require an ABSOLUTE overage too — half a second is
        # far above scheduler jitter but far below any real plan
        # regression on a multi-second key. CPU-floor logic below stays
        # ratio-only by design (CPU is contention-immune).
        suspects |= {
            n
            for n, t in timings.items()
            if n in floor
            and floor[n] > 0
            and t > 1.8 * floor[n]
            and t - floor[n] > 0.5
        }
        # VERDICT r13 item 3: q_stream_* keys pick up micro-batch /
        # state-store BACKGROUND-thread CPU attributed to whichever
        # streaming key owns the sampling window — run-to-run noise,
        # not plan cost. For those keys require the WALL to also be
        # off its floor (>1.3x) before a CPU overage counts: a
        # streaming key whose wall sits at floor did not regress, no
        # matter what the shared background threads charged it.
        suspects |= {
            n
            for n, c in cpus.items()
            if n in floor_cpu
            and floor_cpu[n] > 0
            and c > 1.8 * floor_cpu[n]
            and (
                not n.startswith("q_stream_")
                # MISSING wall evidence must read as "not proven at
                # floor" (ADVICE r14 + r15): the exemption's premise
                # is a wall MEASURED and PROVEN at a KNOWN floor, so
                # a key lacking either a wall timing or a wall floor
                # cannot be exempted (the old 0.0 > 0.0 comparison
                # silently exempted a CPU-floored key with no wall
                # TIMING recorded).
                or n not in timings
                or n not in floor
                or timings[n] > 1.3 * floor[n]
            )
        }
        # Biggest absolute excess over the proven floor first: a 7s key
        # 2s over floor outranks a 0.5s key 0.3s over, and the cheap
        # tail of small noisy keys still fits before the deadline.
        for name in sorted(
            suspects, key=lambda n: -(timings[n] - floor.get(n, 0.0))
        )[:32]:
            if time.perf_counter() > deadline:
                break
            try:
                rerun_load = _load_1m()
                # Each payer carries its group's cost regardless of
                # registry order, so a payer rerun must start
                # correspondingly cold — see _run_one.
                rerun = round(_run_one(specs[name], spark, sf_dir, cold=True), 3)
                rerun_cpu, rerun_py = cpu_since_last()
                reruns[name] = rerun
                if rerun < timings[name]:
                    timings[name] = rerun
                    loads[name] = rerun_load
                    if rerun_cpu is not None:
                        cpus[name] = round(rerun_cpu, 3)
                    if rerun_py is not None:
                        py_cpus[name] = round(rerun_py, 3)
            except Exception as exc:
                print(f"bench: {name} rerun FAILED: {exc}", file=sys.stderr)
                cpu_since_last()
    canary = _stream_canary(spark, sf_dir)
    spark.stop()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # Executor CPU seconds of each key's KEPT run (VERDICT r11
        # item 7): the contention-immune per-key cost. Floors over this
        # live in bench_floor_cpu.json; the wall-clock floors stay the
        # headline because they are what BASELINE.md's history is in.
        "cpu_s": cpus,
        "cpu_total": round(sum(cpus.values()), 1) if cpus else None,
        # Python-worker CPU seconds of each key's KEPT run (VERDICT r16
        # item 3): the Arrow-kernel companion to cpu_s — work the JVM
        # meter cannot see because the JVM idles while batches are in
        # Python workers. Keys that never cross the Python boundary
        # read ~0; the simhash/minhash/heavy-hitters keys must read
        # nonzero or their kernels silently stopped being audited.
        "py_cpu_s": py_cpus,
        "py_cpu_total": round(sum(py_cpus.values()), 1) if py_cpus else None,
        "sf": sf,
        # Contention adjudication record (VERDICT r8 item 3): `load_1m`
        # is the 1-min load when each key's KEPT run started; `rerun_s`
        # lists every adjudicated rerun's own wall-clock (the kept
        # number is min(first, rerun)). A key whose first pass spiked
        # under load>>32 and whose rerun landed at floor is host
        # contention by construction — no manual paragraph needed.
        "load_1m": loads,
        "rerun_s": reruns,
        # Shared-memo build audit (VERDICT r12 item 2): which payer was
        # charged for each intermediate build, what triggered it
        # ("<upfront>" = the pinned pre-loop block), and its wall/CPU.
        "memo_payments": memo_payments,
        # Streaming throughput canary (VERDICT r10 item 8): one
        # multi-micro-batch stateful pipeline per round, as rows/s —
        # streaming regressions show up as a trend across rounds, not
        # just as wall-clock noise inside individual q_stream_* keys.
        "stream_canary": canary,
    }
    # Persist the full map next to this script: harnesses that keep only
    # a tail of stdout truncated the per-query timings in round 2
    # (ADVICE.md) — the on-disk copy keeps every claim auditable.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_last.json")
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")
    # ONE compact line on stdout (the driver contract). The observed
    # harness stores only the LAST 2000 bytes of stdout, and the full
    # 138-key map cannot fit (the key names alone total >2000 bytes), so
    # rounds 1-3 recorded `parsed: null` with a head-truncated line. Emit
    # instead a line guaranteed to fit: headline numbers plus as many of
    # the slowest per-query timings as the byte budget allows (the tail
    # of the cost distribution is what regression checks look at), with
    # an explicit omission count and a pointer to the committed full map.
    print(json.dumps(_stdout_line(payload), separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
