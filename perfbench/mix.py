"""``registry_mix``: a frozen sample of the registry, run key by key.

Each key is constructed (``spec.fn``) and executed (a ``noop`` write) in
a seed-permuted order, in a fresh process, so memos start cold. After
the pass, outside the timed regions, the very DataFrame each key built
is collected and put through the repo's exact oracle compare
(``tests/conftest.run_parity_exact``).
"""

from __future__ import annotations

import dataclasses
import importlib.util
import os
import random
import time
import traceback
import types

from sparkstreamingtohdfsofsensorsdata_spark.llm import dedup, similarity
from sparkstreamingtohdfsofsensorsdata_spark.operators import graph
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all

# sorted(registry)[5::12], frozen: every twelfth key from offset 5. The
# stride holds a Python-worker key (q_agg_heavy_hitters), a memo builder
# (q_graph_local_clustering), the write keys (q_sink_compact,
# q_merge_upsert) and a stateful streaming key (q_stream_dedup).
KEYS = (
    "q_agg_bool", "q_agg_heavy_hitters", "q_agg_pivot",
    "q_anon_kanonymity", "q_embed_label_separation", "q_events_step_latency",
    "q_fn_from_xml", "q_fn_try_datetime", "q_graph_local_clustering",
    "q_join_cross", "q_join_semi", "q_llm_dataset_card",
    "q_llm_fingerprint", "q_llm_ngram_novelty", "q_llm_shard_assign",
    "q_llm_split_leakage", "q_merge_upsert", "q_scan_multi_source",
    "q_sink_compact", "q_sql_offset", "q_stream_dedup",
    "q_subquery_correlated", "q_tpch_q17", "q_tpch_q8",
    "q_ts_median_filter", "q_ts_vwap", "q_win_frame_rows",
)

# Keys run once, untimed, during set-up, before the timed pass: none of
# them is in KEYS or reads a memo. They pay the process's one-time costs
# that would otherwise land on whichever timed key came first: the SQL
# views (``tables.register_views``), the first read of every fixture
# table and the JVM's first use of joins, aggregates, windows and sorts.
WARMUP_KEYS = (
    "q_sql_unpivot", "q_tpch_q9", "q_tpch_q10", "q_tpch_q22",
    "q_join_inner_equi", "q_agg_collect", "q_win_frame_range",
    "q_events_streaks", "q_fn_json", "q_ts_ewma",
    "q_embed_centroid_stats", "q_llm_token_budget",
)

# Public memo predicates and the keys that read each memo. A flip from
# cold to warm during a key is a build; a consumer that finds its memo
# already warm is a hit.
MEMOS = {
    "dedup.pairs": (dedup.pairs_warm, ("q_llm_simhash_banded", "q_llm_dedup_clusters", "q_llm_dedup_keep")),
    "dedup.labels": (dedup.labels_warm, ("q_llm_dedup_clusters", "q_llm_dedup_keep")),
    "similarity.exact_topk": (similarity.exact_topk_warm, (
        "q_llm_sim_topk", "q_llm_sim_topk_lsh", "q_llm_sim_topk_ivf", "q_llm_sim_topk_pq")),
    "graph.edges": (graph.edges_warm, ("q_graph_",)),
    "graph.orientation": (graph.orientation_warm, ("q_graph_triangles", "q_graph_local_clustering")),
    "graph.cc": (graph.cc_warm, ("q_graph_wcc", "q_graph_modularity")),
}
PLAN_PHASES = ("analysis", "optimization", "planning")


def order(seed: int) -> list[str]:
    keys = list(KEYS)
    random.Random(seed).shuffle(keys)
    return keys


def memo_state(spark, sf_dir: str) -> dict[str, bool]:
    return {name: probe(spark, sf_dir) for name, (probe, _) in MEMOS.items()}


def warm(spark, sf_dir: str) -> None:
    """Run WARMUP_KEYS the way the timed pass runs its keys."""
    specs = load_all()
    for key in WARMUP_KEYS:
        specs[key].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase times from the key's QueryExecution tracker.

    Analysis ran inside ``spec.fn``; optimization and planning run here,
    outside the timed regions, on the same logical plan the action used.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {p: float(phases.apply(p).durationMs()) if phases.contains(p) else 0.0 for p in PLAN_PHASES}


def repo_conftest(root: str):
    """The repo's test helpers, loaded from their file."""
    spec = importlib.util.spec_from_file_location(
        "repo_tests_conftest", os.path.join(root, "tests", "conftest.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def run(sess, sf_dir: str, seed: int, tracer, pymeter) -> dict:
    """One pass over the keys. Per key: construction and execution wall;
    when tracing, plan phases, memo flips and Python CPU as well."""
    specs = load_all()
    spark = sess.spark
    traced = tracer.enabled
    per_key: dict[str, dict] = {}
    memo = {"builds": 0, "hits": 0}
    failed: dict[str, str] = {}
    trace_only_s = 0.0
    t_mix = time.perf_counter()
    for key in order(seed):
        rec = per_key[key] = {}
        if traced:
            t = time.perf_counter()
            before = memo_state(spark, sf_dir)
            pymeter.sample()
            trace_only_s += time.perf_counter() - t
        try:
            with tracer.span("key", key=key):
                sess.label(f"construct:{key}")
                with tracer.span("construct", key=key):
                    t0 = time.perf_counter()
                    df = specs[key].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                sess.label(f"exec:{key}")
                with tracer.span("exec", key=key):
                    t2 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
        except Exception:  # a failing key is counted, not fatal
            failed[key] = traceback.format_exc(limit=2)
            del per_key[key]
            continue
        finally:
            sess.label(None)
        rec["construct_s"], rec["exec_s"], rec["df"] = t1 - t0, t3 - t2, df
        if traced:
            t = time.perf_counter()
            sess.label(f"plan:{key}")
            rec["plan_ms"] = plan_phases_ms(df)
            sess.label(None)
            after = memo_state(spark, sf_dir)
            for name, (_, consumers) in MEMOS.items():
                if after[name] and not before[name]:
                    memo["builds"] += 1
                elif before[name] and key.startswith(consumers):
                    memo["hits"] += 1
            pymeter.sample()
            trace_only_s += time.perf_counter() - t
    wall = time.perf_counter() - t_mix - trace_only_s
    return {"per_key": per_key, "failed": failed, "attempted": len(KEYS), "mix_wall_s": wall,
            "memo": memo, "trace_only_s": trace_only_s}


def check(sess, root: str, sf_dir: str, built: dict, tracer) -> dict[str, str]:
    """Failed keys and why. ``built`` maps each key to the DataFrame its
    timed op executed; ``run_parity_exact`` is handed that DataFrame in
    place of a fresh ``spec.fn`` call, so the check re-runs no
    construction and judges exactly what was measured."""
    conftest = repo_conftest(root)
    specs = load_all()
    duck = conftest.make_duck_views(sf_dir)
    failures = {}
    sess.label("check")
    try:
        for key, df in built.items():
            spec = dataclasses.replace(specs[key], fn=lambda spark, sf, df=df: df)
            conftest.registry = types.SimpleNamespace(load_all=lambda spec=spec: {spec.name: spec})
            with tracer.span("check", key=key):
                try:
                    conftest.run_parity_exact(sess.spark, duck, key, sf_dir)
                except Exception as exc:  # a wrong or failing output fails the key only
                    failures[key] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        sess.label(None)
        duck.close()
    return failures
