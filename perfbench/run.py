"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: stream_etl,
stream_window_agg, registry_mix (see perfbench/README.md). The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a report
with the host signature and the workload's own metric names.

Fixture tables are read from the directory that holds the engine's
default scale-factor directory (``tables.DEFAULT_SF_DIR``, moved with
``$SPARK_GRAFT_SF_DIR``). The run writes into a fresh directory on tmpfs
(``/dev/shm``), the medium the engine picks for its own scratch, or into
``.perfbench_work/`` in the checkout where the host has no tmpfs. At
exit it removes that directory and the engine's scratch directories.
Traces are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "sparkstreamingtohdfsofsensorsdata_spark"
WORKLOADS = ("stream_etl", "stream_window_agg", "registry_mix")
SF = {"stream_etl": "sf0.1", "stream_window_agg": "sf0.1", "registry_mix": "sf0.01"}
DEADLINE_S = 170


class Deadline(BaseException):
    """Raised by the alarm; not an Exception, so no per-op handler
    mistakes it for one failed op."""


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: engine package {ENGINE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from sparkstreamingtohdfsofsensorsdata_spark.tables import DEFAULT_SF_DIR

    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), SF[args.workload])
    if not os.path.isfile(os.path.join(sf_dir, "events.parquet")):
        print(f"perfbench: fixture tables not found in {sf_dir}", file=sys.stderr)
        return 2
    import harness

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".perfbench_work")
    scratch = harness.ScratchDirs()
    work = harness.work_root(ROOT, run_id)

    def on_alarm(signum, frame):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        report, result = run(args, sf_dir, work, base, run_id)
    except (Exception, Deadline):
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        scratch.remove()
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, sf_dir: str, work: str, base: str, run_id: str):
    import harness
    import meters
    from spans import Tracer

    tracer = Tracer(run_id, enabled=bool(args.trace))
    if args.workload == "registry_mix":
        import mix as workload
        from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all

        load_all()  # importing every operator module is part of set-up
    else:
        import streams as workload
    host = meters.host_signature(ROOT, ENGINE, SF[args.workload], args.seed)

    sess = None
    try:
        with tracer.span("session.build"):
            t = time.perf_counter()
            sess = harness.Session(f"perfbench-{args.workload}", work)
            build_s = time.perf_counter() - t
        host["spark_cores"] = sess.spark.sparkContext.defaultParallelism
        pymeter = meters.PyWorkerCpuMeter()
        if args.workload == "registry_mix":
            out = run_mix(args, sess, sf_dir, tracer, pymeter, workload)
        else:
            out = run_stream(args, sess, sf_dir, tracer, pymeter, workload, work)
        out["build_s"] = build_s
        with tracer.span("meter.read"):
            out["groups"] = sess.meter.read()
    finally:
        if sess is not None:
            sess.stop()
    host["loadavg_end"] = os.getloadavg()
    tracer.finish()
    trace_path = None
    if tracer.enabled:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_path = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-{run_id}.json")
        tracer.dump(trace_path)
    return assemble(args, out, sess, tracer, pymeter, host, trace_path)


def warm(sess, sf_dir, tracer, batch_surface: bool) -> float:
    import harness

    sess.label("setup")
    with tracer.span("session.warmup"):
        t = time.perf_counter()
        harness.warmup(sess.spark, sf_dir, batch_surface)
        if batch_surface:
            import mix

            mix.warm(sess.spark, sf_dir)
        warmup_s = time.perf_counter() - t
    sess.label(None)
    return warmup_s


def run_stream(args, sess, sf_dir, tracer, pymeter, streams, work) -> dict:
    import harness

    spec = streams.SPECS[args.workload]
    n = streams.backlog_batches(spec, args.seconds)
    events = os.path.join(sf_dir, "events.parquet")
    warmup_s = warm(sess, sf_dir, tracer, batch_surface=False)
    with tracer.span("generator.prep"):
        t = time.perf_counter()
        prep = streams.StreamPrep(events, spec, args.seed, n)
        prep_s = time.perf_counter() - t
    with tracer.span("warmup.drain"):
        streams.drain(sess, spec, prep, streams.WARM_BATCHES, os.path.join(work, "warm"), "warm", tracer)
    setup_s = harness.process_age_s()
    py0 = pymeter.sample()
    construct_s, drain_s, sink, sink_span = streams.drain(
        sess, spec, prep, n, os.path.join(work, "timed"), "drain", tracer
    )
    py1 = pymeter.sample()
    sess.listener.wait_terminated()
    runs = sess.listener.runs(["drain"])
    batches = sess.listener.batches(runs)
    with tracer.span("check"):
        if args.workload == "stream_etl":
            errors = streams.check_etl(prep.tables[:n], sink)
        else:
            errors = streams.check_window(prep.tables[:n], sink, batches[-1]["watermark"] if batches else None)
    if tracer.enabled and sink_span is not None:
        add_batch_spans(tracer, batches, sink_span.id)
    files = streams.sink_files(sink)
    return {
        "kind": "stream", "attempted": n, "setup_s": setup_s, "warmup_s": warmup_s, "prep_s": prep_s,
        "construct_s": construct_s, "drain_s": drain_s,
        "batches": batches, "runs": runs, "input_rows": sum(b["input_rows"] for b in batches),
        "expected_rows": sum(t.num_rows for t in prep.tables[:n]),
        "errors": errors, "python_cpu_s": py1 - py0, "labels": ["construct:drain", "drain"],
        "sink_files": len(files), "sink_bytes": sum(int(f.get("size", 0)) for f in files),
    }


# durationMs phases in the order MicroBatchExecution runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def add_batch_spans(tracer, batches, parent: int) -> None:
    """Each micro-batch becomes a child span of its write_file_sink span,
    rebuilt from its progress timestamp and durationMs phases."""
    for b in batches:
        d = b["duration_ms"]
        sp = tracer.add("microbatch", b["start"], b["start"] + d["triggerExecution"] / 1e3, parent,
                        batch_id=b["batch_id"], rows=b["input_rows"])
        at = b["start"]
        for phase in PHASES:
            if phase in d:
                tracer.add(f"phase.{phase}", at, at + d[phase] / 1e3, sp.id)
                at += d[phase] / 1e3


def run_mix(args, sess, sf_dir, tracer, pymeter, mix) -> dict:
    import harness

    warmup_s = warm(sess, sf_dir, tracer, batch_surface=True)
    setup_s = harness.process_age_s()
    py0 = pymeter.sample()
    res = mix.run(sess, sf_dir, args.seed, tracer, pymeter)
    py1 = pymeter.sample()
    sess.listener.wait_terminated()
    keys = list(res["per_key"])
    failures = dict(res["failed"])
    with tracer.span("check"):
        built = {k: res["per_key"][k].pop("df") for k in keys}
        failures.update(mix.check(sess, ROOT, sf_dir, built, tracer))
    labels = [f"{phase}:{k}" for k in keys for phase in ("construct", "exec")]
    runs = sess.listener.runs(labels)
    return {
        "kind": "mix", "setup_s": setup_s, "warmup_s": warmup_s, "prep_s": 0.0, **res,
        "errors": [f"{k}: {why}" for k, why in failures.items()], "failed_keys": sorted(failures),
        "python_cpu_s": py1 - py0, "labels": labels, "runs": runs,
        "batches": sess.listener.batches(runs),
    }


def _p50(values):
    return statistics.median(values) if values else 0.0


def assemble(args, out, sess, tracer, pymeter, host, trace_path):
    import numpy as np

    import meters

    groups = out["groups"]
    run_label = sess.listener.run_label
    work_groups = list(out["labels"]) + list(out["runs"])
    work = meters.sum_groups(groups, work_groups)
    construct_groups = [g for g in work_groups if (run_label.get(g) or g).startswith("construct:")]
    construct = meters.sum_groups(groups, construct_groups)
    exec_ = meters.sum_groups(groups, [g for g in work_groups if g not in construct_groups])
    batches = out["batches"]
    trig = [b["duration_ms"]["triggerExecution"] for b in batches]

    if out["kind"] == "stream":
        ops = trig
        attempted = out["attempted"]
        if out["input_rows"] != out["expected_rows"]:
            out["errors"].append(f"drained {out['input_rows']} rows of {out['expected_rows']}")
        throughput = out["input_rows"] / out["drain_s"]
        timed_wall = out["drain_s"]
        construct_wall, exec_wall = out["construct_s"], out["drain_s"]
    else:
        per_key = out["per_key"]
        ops = [(r["construct_s"] + r["exec_s"]) * 1e3 for r in per_key.values()]
        attempted = out["attempted"]
        failed = len(out["failed_keys"])
        throughput = attempted / out["mix_wall_s"]
        timed_wall = out["mix_wall_s"]
        construct_wall = sum(r["construct_s"] for r in per_key.values())
        exec_wall = sum(r["exec_s"] for r in per_key.values())
    tail = meters.tail_percentile(len(ops))
    if tail is None:
        out["errors"].append(f"{len(ops)} op samples leave no tail percentile")
    if out["kind"] == "stream":
        failed = attempted if out["errors"] else 0
    elif tail is None:
        failed = max(failed, 1)
    end_to_end = {
        "setup_s": (out["setup_s"], "s"),
        "throughput_per_s": (throughput, "1/s"),
        "op_p50_ms": (float(np.percentile(ops, 50)) if ops else None, "ms"),
        "op_tail_ms": (float(np.percentile(ops, tail)) if tail is not None else None, "ms"),
        "executor_cpu_s": (work["executor_cpu_s"], "s"),
    }

    def phase(name):
        return [b["duration_ms"].get(name, 0) for b in batches]

    state_last = batches[-1]["state"] if batches else []
    phase_sum = sum(sum(b["duration_ms"].get(p, 0) for p in PHASES) for b in batches)
    plan = {p: sum(r.get("plan_ms", {}).get(p, 0.0) for r in out.get("per_key", {}).values())
            for p in ("analysis", "optimization", "planning")}
    memo = out.get("memo", {"builds": 0, "hits": 0})
    query_start = sum(
        min((b["start"] for b in batches if b["run_id"] == r), default=sess.listener.started[r])
        - sess.listener.started[r]
        for r in out["runs"]
    )
    per_layer = {
        "session.build_s": (out["build_s"], "s"),
        "session.warmup_s": (out["warmup_s"], "s"),
        "generator.prep_s": (out["prep_s"], "s"),
        "construct.wall_s": (construct_wall, "s"),
        "construct.jobs": (construct["jobs"], "count"),
        "construct.executor_cpu_s": (construct["executor_cpu_s"], "s"),
        "plan.analysis_ms": (plan["analysis"], "ms"),
        "plan.optimization_ms": (plan["optimization"], "ms"),
        "plan.planning_ms": (plan["planning"], "ms"),
        "exec.wall_s": (exec_wall, "s"),
        "exec.jobs": (exec_["jobs"], "count"),
        "exec.tasks": (exec_["tasks"], "count"),
        "exec.executor_run_s": (exec_["executor_run_s"], "s"),
        "exec.executor_cpu_s": (exec_["executor_cpu_s"], "s"),
        "exec.gc_s": (exec_["gc_s"], "s"),
        "exec.deserialize_s": (exec_["deserialize_s"], "s"),
        "exec.shuffle_read_bytes": (exec_["shuffle_read_bytes"], "bytes"),
        "exec.shuffle_write_bytes": (exec_["shuffle_write_bytes"], "bytes"),
        "exec.spill_bytes": (exec_["spill_bytes"], "bytes"),
        "memo.builds": (memo["builds"], "count"),
        "memo.hits": (memo["hits"], "count"),
        "python.cpu_s": (out["python_cpu_s"], "s"),
        "python.workers": (pymeter.processes, "count"),
        "source.latest_offset_ms.p50": (_p50(phase("latestOffset")), "ms"),
        "source.latest_offset_ms.sum": (sum(phase("latestOffset")), "ms"),
        "source.get_batch_ms.p50": (_p50(phase("getBatch")), "ms"),
        "source.get_batch_ms.sum": (sum(phase("getBatch")), "ms"),
        "runner.query_start_s": (query_start, "s"),
        "runner.query_planning_ms.p50": (_p50(phase("queryPlanning")), "ms"),
        "runner.query_planning_ms.sum": (sum(phase("queryPlanning")), "ms"),
        "runner.add_batch_ms.p50": (_p50(phase("addBatch")), "ms"),
        "runner.add_batch_ms.sum": (sum(phase("addBatch")), "ms"),
        "runner.wal_commit_ms.p50": (_p50(phase("walCommit")), "ms"),
        "runner.wal_commit_ms.sum": (sum(phase("walCommit")), "ms"),
        "runner.commit_offsets_ms.p50": (_p50(phase("commitOffsets")), "ms"),
        "runner.commit_offsets_ms.sum": (sum(phase("commitOffsets")), "ms"),
        "runner.batches": (len(batches), "count"),
        "state.rows_total": (sum(s["rows_total"] for s in state_last), "count"),
        "state.memory_bytes": (sum(s["memory_bytes"] for s in state_last), "bytes"),
        "state.commit_ms.p50": (_p50([sum(s["commit_ms"] for s in b["state"]) for b in batches if b["state"]]), "ms"),
        "state.commit_ms.sum": (sum(s["commit_ms"] for b in batches for s in b["state"]), "ms"),
        "state.rows_dropped": (sum(s["rows_dropped"] for b in batches for s in b["state"]), "count"),
        "sink.files": (out.get("sink_files", 0), "count"),
        "sink.bytes": (out.get("sink_bytes", 0), "bytes"),
        "trace.timed_wall_s": (timed_wall, "s"),
        "trace.overhead_s": (tracer.overhead_s + out.get("trace_only_s", 0.0), "s"),
        "trace.layer_coverage": ((construct_wall + exec_wall) / timed_wall if out["kind"] == "mix"
                                 else (phase_sum / sum(trig) if trig else 0.0), "ratio"),
    }
    chosen = per_layer if tracer.enabled else end_to_end
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    report = {
        "workload": args.workload, "host": host, "trace_file": trace_path,
        "samples": len(ops), "tail_percentile": tail, "errors": out["errors"][:20],
        "ops_ms": {k: round((r["construct_s"] + r["exec_s"]) * 1e3, 1) for k, r in out["per_key"].items()}
        if out["kind"] == "mix" else [round(v, 1) for v in ops],
        "fail_ratio": failed / attempted, "attempted": attempted, "failed": failed,
        "named": named_metrics(out, end_to_end, tail, len(ops)),
    }
    return report, result


def named_metrics(out, e2e, tail, n) -> dict:
    """The workload's metrics under the names its docs use."""
    v = {k: val for k, (val, _) in e2e.items()}
    named = {"setup_s": v["setup_s"], "executor_cpu_s": v["executor_cpu_s"]}
    p = "_tail" if tail is None else f"{tail}"
    if out["kind"] == "stream":
        named.update({"stream_rows_per_s": v["throughput_per_s"], "microbatch_p50_ms": v["op_p50_ms"],
                      f"microbatch_p{p}_ms": v["op_tail_ms"], "microbatch_samples": n})
    else:
        seconds = {k: None if v[k] is None else v[k] / 1e3 for k in ("op_p50_ms", "op_tail_ms")}
        named.update({"mix_wall_s": out["mix_wall_s"], "query_p50_s": seconds["op_p50_ms"],
                      f"query_p{p}_s": seconds["op_tail_ms"], "query_samples": n})
    return named


if __name__ == "__main__":
    sys.exit(main())
