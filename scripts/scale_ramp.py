"""Scale-ramp measurement: headline queries timed at sf0.001/0.01/0.1.

The fixtures span 100x in data volume; this script times a
representative query per family at each tier and prints seconds plus
the time ratio against the 100x data ratio. A ratio far below the data
ratio means the plan is overhead-bound (scheduling, session fixed
costs) at these sizes — i.e. the distributed plan has headroom, which
is the property that matters for the 100 TB target. A ratio AT or
ABOVE the data ratio at these tiny sizes would flag a super-linear
plan (the thing the plan gates exist to prevent).

Usage: python scripts/scale_ramp.py   (~3-4 min, one Spark session)
Prints one JSON line per query and a markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from sparkstreamingtohdfsofsensorsdata_spark import memo
from sparkstreamingtohdfsofsensorsdata_spark.registry import load_all
from sparkstreamingtohdfsofsensorsdata_spark.session import build_session

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# one per family: flagship agg, narrow-shuffle LSH dedup, vector top-k,
# windowed streaming replay, keyed equi join with range residual — plus
# the iterative CC pipeline (the bench ceiling), whose rounds grow with
# graph diameter, not data volume; its curve is the one worth watching
# at 100x (VERDICT r7 item 7).
RAMP_KEYS = [
    "q_agg_group",
    "q_llm_minhash_lsh",
    "q_llm_sim_topk",
    "q_stream_tumbling",
    "q_join_range",
    "q_llm_dedup_clusters",
    # session-3 heavy additions: shingle self-join (fan-out bounded by
    # source cardinality), the one deliberate wide join (bigram probe),
    # and the Arrow mapInPandas sketch (Python-path cost vs volume).
    "q_llm_source_overlap",
    "q_llm_bigram_lm",
    "q_agg_heavy_hitters",
    # round-10 heavy additions: iterative peel + wedge join over the
    # derived graph (edge build included, memo cleared per tier), the
    # chunked two-level rank, and the three-rank RFM stack.
    "q_graph_triangles",
    "q_graph_kcore",
    "q_agg_gini",
    "q_agg_rfm",
    # round-12 heavy additions: the boundary sweep (two-level chunked),
    # SAX (per-user ntile + ordered word build), bounded-round LPA and
    # multi-source landmark BFS over the shared edge memo (memo cleared
    # per tier so each tier pays its own build).
    "q_events_concurrency",
    "q_ts_sax",
    "q_graph_label_propagation",
    "q_graph_landmark_closeness",
    # round-13 additions: the Python-DataSource scan (Arrow channel
    # cost vs volume), the two-grain cascade, and the chunked-rank
    # concentration fold.
    "q_scan_python_ds",
    "q_ts_rollup_cascade",
    "q_events_power_users",
    # round-14: the adjacency-array kernels (pagerank + BFS ride the
    # node-sized array join; memo cleared per tier so each tier pays
    # the array build) and the decorrelated DataFrame lateral join.
    "q_graph_pagerank",
    "q_graph_bfs",
    "q_join_lateral_df",
    # round-15: the grouped value-level band join (pair+signature memos
    # cleared per tier, so each tier pays signatures + value join +
    # expansion) and the standing-index delta probe (rides the shared
    # signature memo — its marginal cost is the batch band probe).
    "q_llm_simhash_banded",
    "q_llm_dedup_incremental",
]


def main() -> None:
    spark = build_session(app_name="scale-ramp")
    specs = load_all()
    # warm the session once (JVM pipelines, parquet reader, UDF workers)
    spark.read.parquet(f"{SFS[0]}/nation.parquet").write.format("noop").mode(
        "overwrite"
    ).save()
    rows = []
    for key in RAMP_KEYS:
        times = []
        for sf_dir in SFS:
            best = float("inf")
            for _ in range(2):  # min of 2 to shed host-load stalls
                start = time.perf_counter()
                specs[key].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - start)
                spark.catalog.clearCache()
                # the memo groups own their attribute names — private
                # names here would silently stop clearing on a rename
                for group in memo.GROUPS:
                    group.clear(spark)
            times.append(round(best, 3))
        ratio = round(times[2] / times[0], 2) if times[0] > 0 else None
        rows.append({"key": key, "sf0.001": times[0], "sf0.01": times[1],
                     "sf0.1": times[2], "t_ratio_100x_data": ratio})
        print(json.dumps(rows[-1]))
    spark.stop()
    print()
    print("| key | sf0.001 s | sf0.01 s | sf0.1 s | time ratio over 100x data |")
    print("| --- | --- | --- | --- | --- |")
    for r in rows:
        print(
            f"| `{r['key']}` | {r['sf0.001']} | {r['sf0.01']} | "
            f"{r['sf0.1']} | {r['t_ratio_100x_data']}x |"
        )


if __name__ == "__main__":
    main()
