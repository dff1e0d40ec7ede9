"""Graph analytics over relational data (SURVEY.md §2.12 extension).

The graph is derived, not stored: co-purchase edges between parts that
appear in the same order (lineitem self-join on the order key, one
co-partitioned shuffle). That is the production shape — at 100 TB the
edge list is a DataFrame like any other, re-derived or materialized to
parquet, never a driver-side adjacency structure.

Three classic kernels, each expressed relationally so Catalyst/AQE plan
them like any join-agg query:

- degree distribution: one groupBy cascade.
- triangle counting: the ordered-edge (a<b<c) two-hop join, each
  triangle counted exactly once. At planetary scale the standard
  refinement is degree-ordering the orientation (point edges from
  low-degree to high-degree nodes) so the wedge join's fan-out is
  bounded by the SMALLER endpoint degree; the id-ordering used here is
  the same plan shape with a different orientation key.
- PageRank: the canonical iterative join-agg. A fixed, oracle-mirrored
  round count (damping 0.85) — on a cluster you add a convergence test
  exactly like llm/dedup.propagate_min_labels does; the per-round plan
  (edges JOIN ranks co-partitioned on the node key, then groupBy dst)
  is what GraphX/GraphFrames compile to underneath.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..memo import Memo, session_memo
from ..registry import query
from ..tables import load

# Chained-CTE technique shared with llm/dedup._cc_oracle_ctes: every
# CTE is AS MATERIALIZED because DuckDB inlines references and an
# iterative pipeline referencing the previous round twice would expand
# exponentially.
_EDGES_CTE = """
        edges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        sym AS MATERIALIZED (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst, src FROM edges
        )
"""

PAGERANK_ROUNDS = 5
PAGERANK_DAMPING = 0.85


@session_memo("_copurchase_edges_memo")
def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (src < dst) between parts
    sharing an order. r17 (guide §2.3, VERDICT r16 item 5's sketched
    single-pass build, measured): the old lineitem self-join shuffled
    lineitem TWICE (both join sides hash on the order key) before the
    pair distinct; now one groupBy(order) folds each order's parts
    into a sorted distinct array (partial_collect_set map-side) and
    the src<dst pairs are generated in-stage by two chained Generates
    (posexplode + slice — no higher-order-function lambdas, so the
    pair gen stays codegen'd, not interpreted). Identical edge set
    (exceptAll both ways = 0 at sf0.1); measured min-of-4 at sf0.1:
    1.76 s wall / 1.66 CPU-s -> 0.96 / 1.68 (-45% wall), and at scale
    the biggest table in the build crosses the network once instead
    of twice. Per-order work is quadratic in order size under either
    spelling; orders are bounded (TPC-H <= 7 lines). Parts appearing
    only in single-part orders have no edge and are outside the graph
    by construction.

    Memoized per (live session, sf_dir fingerprint) — the same
    session-attached cache the SimHash dedup family uses (memo.py):
    all twelve graph kernels (degree, triangles, pagerank,
    common-neighbors, bfs, wcc, kcore, assortativity, modularity,
    local-clustering, label-propagation, landmark-closeness —
    EDGES.consumers, enumeration pinned by
    tests/test_memo.py::test_graph_family_docstring_in_sync so the
    count can never drift again) read this ONE table, which is the
    production "materialize the edge list once, bucket by src, every
    kernel reuses it" shape. bench.py charges the build to the EDGES
    payer so per-key numbers stay rotation-stable."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        per_order.select("ps", F.posexplode("ps").alias("i", "src"))
        .select(
            "src",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("dst"),
        )
        .distinct()
        # lazy: blocks materialize on first use and are owned by the
        # session; ContextCleaner reclaims them when the handle drops
        .localCheckpoint(eager=False)
    )


@session_memo("_graph_sym_memo")
def sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized SYMMETRIC adjacency (both orientations of the
    co-purchase edge list), lazily checkpointed (r13, VERDICT r12
    item 3 — graph-family CPU diet): before this memo every kernel
    re-derived ``_symmetric(edges)`` and most re-aggregated the degree
    table, paying the same union + shuffle up to twelve times per
    bench. At scale this IS the materialized adjacency list bucketed
    by src that every kernel mounts. Part of the EDGES group."""
    return _symmetric(copurchase_edges(spark, sf_dir)).localCheckpoint(
        eager=False
    )


@session_memo("_graph_degree_memo")
def degree_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized (node, degree) table — one map-side-combined
    groupBy over the memoized symmetric adjacency, checkpointed once
    and reused by every kernel that needs degrees or the node set
    (previously each paid its own shuffle). Node-sized, so at 100 TB
    it broadcasts. Part of the EDGES group (it is q_graph_degree's own
    first aggregation)."""
    return (
        sym_edges(spark, sf_dir)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )


@session_memo("_graph_stats_memo")
def graph_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Session-memoized graph summary — ``{"nodes", "sym_edges",
    "max_degree"}`` — one aggregate over the memoized degree table
    (node-sized, already checkpointed), ONE collected row per
    (session, sf_dir). Control-plane by design: these three numbers
    gate physical-plan choices that must not be hardwired —

    - broadcast hints (r15, ADVICE r14): q_graph_common_neighbors used
      to force ``F.broadcast`` on the adjacency-array and query-edge
      tables unconditionally, which at 100x would OOM the driver
      instead of falling back to the documented node-keyed SMJ. The
      hints are now applied only while the estimated build-side bytes
      sit under ``_BROADCAST_BYTES_CAP``.
    - the adjacency-array hub guard (r15, VERDICT r14 watch item):
      ``adj_arrays`` refuses to pack a hub whose degree exceeds
      ``ADJ_HUB_DEGREE_CEILING`` into a single collect_list row.

    Part of the EDGES group: a cleared edge layer must not keep serving
    its stats row.
    """
    row = (
        degree_table(spark, sf_dir)
        .agg(
            F.count(F.lit(1)).alias("v"),
            F.sum("degree").alias("e2"),
            F.max("degree").alias("dmax"),
        )
        .collect()[0]
    )
    # an EMPTY graph (hostile edge-values fixture: no co-purchase
    # pairs) aggregates sum/max to NULL — stats are all-zero then
    return {
        "nodes": int(row["v"]),
        "sym_edges": int(row["e2"] or 0),
        "max_degree": int(row["dmax"] or 0),
    }


# Broadcast a build side only while its estimated size stays under the
# session cap (the hint exists because the memoized tables are
# localCheckpointed LogicalRDDs whose size stats the static planner
# cannot see; AQE would eventually convert, but only after planning the
# exchange — and for deep iterative lineages it often never does).
#
# r16 (sf1 ramp finding): the cap was a FIXED 64 MB, which made the
# whole adjacency-join family fall off a cliff one decade past the
# driver fixtures — at sf1 the array table (~150-200 MB) stopped
# broadcasting and every kernel round became a sort-merge join that
# SORTS wide array rows (triangles measured 124x CPU at 10x data;
# pagerank 118x). A fixed threshold encodes the wrong invariant: what
# bounds a broadcast is EXECUTOR MEMORY, not a magic constant. The cap
# now scales with the JVM heap (heap/16, clamped to [64 MB, 1 GiB],
# overridable via spark.graft.broadcastCapBytes) — real clusters
# broadcast node-sized sides in the 100 MB-1 GiB range routinely.
# Above the cap the build side is hinted SHUFFLE_HASH instead of being
# left to the planner: a shuffled hash join still exchanges both
# sides, but never sorts the wide-array stream (the measured SMJ
# pathology); the hinted side stays the node-sized build.
_BROADCAST_BYTES_CAP = 64 << 20  # floor


def _parse_mem(text: str) -> int:
    text = text.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if text and text[-1] in mult:
        return int(float(text[:-1]) * mult[text[-1]])
    return int(text)


def _broadcast_cap(spark: SparkSession) -> int:
    """Session broadcast cap in bytes: explicit conf override, else
    heap/16 clamped to [64 MB, 1 GiB]. Memoized per live session."""
    cached = getattr(spark, "_graft_broadcast_cap", None)
    if cached is not None:
        return cached
    override = spark.conf.get("spark.graft.broadcastCapBytes", None)
    if override is not None:
        cap = int(override)
    else:
        sc_conf = spark.sparkContext.getConf()
        heap = 0
        for key in ("spark.executor.memory", "spark.driver.memory"):
            try:
                heap = max(heap, _parse_mem(sc_conf.get(key)))
            except Exception:
                pass
        cap = max(_BROADCAST_BYTES_CAP, min(1 << 30, heap // 16))
    spark._graft_broadcast_cap = cap
    return cap

# A single adjacency-array row holds one node's whole neighbor list
# (8 bytes/neighbor + row overhead). 2M neighbors = ~16 MB in ONE row —
# still fine for an executor, but an order of magnitude past it is not:
# a power-law hub at 100x would concentrate a whole web-scale
# neighborhood in one task's memory. adj_arrays fails LOUDLY at the
# ceiling with the fallback named (segment hubs into (src, chunk)
# sub-arrays + join degree_table instead of size(ns)) rather than
# letting collect_list OOM an executor mid-stage. Fixture max degree:
# ~1.2k at sf0.1 (SCALE.md r15) — three orders of headroom.
ADJ_HUB_DEGREE_CEILING = 2_000_000


def _maybe_broadcast(df: DataFrame, est_bytes: int) -> DataFrame:
    """``F.broadcast(df)`` while ``est_bytes`` fits the session cap
    (heap-scaled, see ``_broadcast_cap``); above it the frame is
    hinted SHUFFLE_HASH so the join hash-builds this (smaller) side
    instead of degrading to a sort-merge join that sorts the wide
    stream — the r16 sf1 finding. (ADVICE r14 still holds: no
    unconditional broadcast at EVERY scale.)"""
    if est_bytes <= _broadcast_cap(df.sparkSession):
        return F.broadcast(df)
    return df.hint("shuffle_hash")


# While the adjacency-array table itself sits under this size, AQE
# broadcast-converts the round joins on its own (observed at sf0.1:
# un-hinted pagerank rounds run 1.1-1.8 CPU-s vs 2-4 hinted — the
# explicit per-round broadcast relation builds are pure overhead when
# AQE was already going to broadcast a side). Matches the session's
# autoBroadcastJoinThreshold scale.
_AQE_RESCUE_BYTES = 32 << 20


def _node_state(spark: SparkSession, sf_dir: str, df: DataFrame,
                per_node_bytes: int = 32) -> DataFrame:
    """Gated build-side hint for a NODE-sized state table (ranks,
    frontier, labels, alive set) joined against the adjacency arrays.

    Below ``_AQE_RESCUE_BYTES`` of adjacency the hint is a NO-OP —
    AQE converts those joins to broadcast by itself and an explicit
    per-round broadcast only adds relation-build cost (measured +1-2
    CPU-s per kernel at sf0.1). Past it, AQE stops rescuing the deep
    checkpointed lineages and the un-hinted plan degrades to a
    sort-merge join that sorts the wide array stream (the r16 sf1
    cliff: pagerank 118x CPU at 10x data) — there the state side is
    hinted: broadcast under the heap-scaled cap, SHUFFLE_HASH build
    above it."""
    stats = graph_stats(spark, sf_dir)
    adj_bytes = stats["sym_edges"] * 8 + stats["nodes"] * 24
    if adj_bytes <= _AQE_RESCUE_BYTES:
        return df
    return _maybe_broadcast(df, stats["nodes"] * per_node_bytes)


@session_memo("_graph_adj_memo")
def adj_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized adjacency ARRAYS (src, ns: array<long>) of the
    symmetric co-purchase graph (r14, VERDICT r13 item 4 — graph CPU
    diet wave 2): one collect_list groupBy over the memoized symmetric
    adjacency, checkpointed once. Node-sized (20k rows / ~120-element
    arrays at sf0.1, ~25 MB), so the iterative kernels (pagerank, LPA
    rounds 2+, common-neighbors wedges) join THIS table per round —
    a node-sized broadcast-able join + explode — instead of shuffling
    the full E-row edge table every round (measured: pagerank 34.5 ->
    2.1 executor-CPU-s for the 5 rounds at sf0.1). At 100 TB this is
    the grouped adjacency-list layout every vertex-centric engine
    (GraphX/Pregel) stores; the explode re-expands to the edge stream
    inside the stage, never through a shuffle. Part of the EDGES group
    with the edge/degree builds."""
    # Hub guard (r15, VERDICT r14 watch item): one node's whole
    # neighbor list lands in ONE collect_list row, so a power-law
    # hub past the ceiling must fail loudly BEFORE the build, with
    # the fallback named, not OOM an executor mid-stage. The stats
    # read is one collected row off the memoized degree table.
    dmax = graph_stats(spark, sf_dir)["max_degree"]
    if dmax > ADJ_HUB_DEGREE_CEILING:
        raise RuntimeError(
            f"adj_arrays: max degree {dmax} exceeds the "
            f"{ADJ_HUB_DEGREE_CEILING}-neighbor single-row ceiling; "
            "segment hubs into (src, chunk) sub-arrays and switch "
            "size(ns) consumers (pagerank) to a degree_table join, "
            "or route this graph through the edge-table kernels"
        )
    return (
        sym_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.collect_list("dst").alias("ns"))
        .localCheckpoint(eager=False)
    )


@session_memo("_graph_cc_memo")
def cc_labels_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized connected-component labels of the co-purchase
    graph (min-label propagation via the shared llm/dedup library).
    Both q_graph_wcc (its own computation — the canonical payer) and
    q_graph_modularity (scores the CC partition) consume the SAME
    label table; before this memo each ran the full pointer-doubling
    iteration independently (r13, VERDICT r12 item 3)."""
    from ..llm.dedup import propagate_min_labels

    pairs = copurchase_edges(spark, sf_dir).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    return propagate_min_labels(
        pairs,
        sym=sym_edges(spark, sf_dir),
        adj=adj_arrays(spark, sf_dir),
        # r16: per-round state joins get the heap-gated build hint
        # (broadcast under cap, shuffle-hash above) — see
        # _broadcast_cap for the sf1 SMJ cliff this prevents
        build=lambda df: _node_state(spark, sf_dir, df),
    )


@session_memo("_tri_orientation_memo")
def triangle_orientation(spark: SparkSession, sf_dir: str) -> tuple:
    """Session-memoized orientation decision for the co-purchase graph
    (r12): BOTH wedge consumers (q_graph_triangles,
    q_graph_local_clustering) need the same per-graph decision, and
    the probe is two aggregations over the edge table — running it
    once per (session, sf) is the production "decide once per
    materialized graph" shape, and bench.py charges the one probe to
    the TRIANGLES payer so per-key numbers stay rotation-stable.
    choose_triangle_orientation stays pure for fixture graphs (tests
    probe synthetic hubs directly)."""
    return choose_triangle_orientation(
        copurchase_edges(spark, sf_dir),
        sym=sym_edges(spark, sf_dir),
        deg=degree_table(spark, sf_dir).select(
            F.col("node").alias("src"), "degree"
        ),
    )


@session_memo("_tri_ncounts_memo")
def triangle_node_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized per-node closed-triangle incidence counts
    ``(node, n_tri)`` under the probed orientation — the folded output
    of the expensive wedge intersection, materialized ONCE and
    consumed by both wedge consumers: q_graph_triangles sums it to the
    global count (sum/3 — each triangle contributes its three
    corners), q_graph_local_clustering joins it per node.

    r16 (sf1 finding): this used to checkpoint the RAW corner stream
    (one row per (triangle, corner-orientation) — 18.8M rows at sf1),
    and the checkpoint materialization dominated the build an order of
    magnitude past the fixtures (the intersect stage itself measures
    LINEAR: 65-71 warm CPU-s at sf1 = 7x sf0.1). Folding to node
    incidence INSIDE the build stage keeps the same one-pass
    intersection but checkpoints a node-sized table — the only two
    consumers ever needed the counts. Part of the TRIANGLES group with the
    orientation probe (it is the triangle key's own computation)."""
    edges = copurchase_edges(spark, sf_dir)
    orient, _, _ = triangle_orientation(spark, sf_dir)
    oriented = _oriented_edges(edges, orient)
    # r14 (VERDICT r13 item 4): forward-ADJACENCY-ARRAY intersection
    # instead of the two-hop hash join. For each oriented edge
    # (a, b), every c in fwd(a) ∩ fwd(b) closes a triangle — the
    # same (a, b, c) set the e1⋈e2⋈e3 join emits, but the
    # sum-in(b)·out(b) wedge stream (49.3M rows at sf0.1) never
    # exists: the two joins are E rows against the node-sized
    # forward-array table, and the intersection runs inside the
    # stage. The orientation probe still matters — it bounds
    # forward-degree (array width) exactly as it bounded the wedge
    # fan-out.
    fwd = oriented.groupBy("src").agg(F.collect_list("dst").alias("ns"))
    fa = fwd.select(F.col("src").alias("a2"), F.col("ns").alias("ns_a"))
    fb = fwd.select(F.col("src").alias("b2"), F.col("ns").alias("ns_b"))
    # r16: the forward-array table must be an explicit gated build
    # side — at sf1 it outgrows AQE's broadcast conversion and the
    # un-hinted plan SORTS the E-row-x-array join stream twice
    # (measured 124x CPU at 10x data; see _broadcast_cap)
    stats = graph_stats(spark, sf_dir)
    fwd_bytes = stats["sym_edges"] * 4 + stats["nodes"] * 24
    fa = _maybe_broadcast(fa, fwd_bytes)
    fb = _maybe_broadcast(fb, fwd_bytes)
    return (
        oriented.join(fa, oriented["src"] == F.col("a2"))
        .join(fb, oriented["dst"] == F.col("b2"))
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.explode(F.array_intersect("ns_a", "ns_b")).alias("c"),
        )
        .select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .localCheckpoint(eager=False)
    )


# The edge layer every graph kernel reads; its build is q_graph_degree's
# own first aggregations. The noop write of the degree table forces the
# edge, symmetric and degree checkpoints, the adjacency-array write
# forces the fourth (and the stats row its hub guard reads).
EDGES = Memo(
    name="graph_edges",
    parts=(copurchase_edges, sym_edges, degree_table, graph_stats, adj_arrays),
    force=(degree_table, adj_arrays),
    payer="q_graph_degree",
    consumers=(
        "q_graph_degree",
        "q_graph_triangles",
        "q_graph_pagerank",
        "q_graph_common_neighbors",
        "q_graph_bfs",
        "q_graph_wcc",
        "q_graph_kcore",
        "q_graph_assortativity",
        "q_graph_modularity",
        "q_graph_local_clustering",
        "q_graph_label_propagation",
        "q_graph_landmark_closeness",
    ),
)
# The orientation probe and the folded triangle table both wedge
# consumers read; both are the triangle key's own computation.
TRIANGLES = Memo(
    name="tri_orient",
    parts=(triangle_orientation, triangle_node_counts),
    force=(triangle_node_counts,),
    payer="q_graph_triangles",
    consumers=("q_graph_triangles", "q_graph_local_clustering"),
)
# q_graph_wcc's own computation IS the label propagation; modularity
# scores the same partition.
CC = Memo(
    name="graph_cc",
    parts=(cc_labels_graph,),
    force=(cc_labels_graph,),
    payer="q_graph_wcc",
    consumers=("q_graph_wcc", "q_graph_modularity"),
)
# public warmth probes (perfbench/mix.py counts memo builds and hits)
edges_warm = EDGES.warm
orientation_warm = TRIANGLES.warm
cc_warm = CC.warm


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both orientations; UNION ALL is exact because src < dst makes
    the orientations disjoint."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


@query(
    "q_graph_degree",
    oracle=f"""
        WITH {_EDGES_CTE}
        SELECT CAST(degree AS BIGINT) AS degree,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM (SELECT src AS node, count(*) AS degree FROM sym GROUP BY src)
        GROUP BY degree
    """,
    description="Co-purchase graph degree distribution (degree -> node count)",
    tags=("graph", "aggregate"),
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: two map-side
    combined groupBys over the symmetric edge list. The first groupBy's
    key (node) is the co-partitioning key of every other graph kernel
    here, so at scale the edge table bucketed by src serves all of
    them shuffle-free."""
    return (
        degree_table(spark, sf_dir)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


@query(
    "q_graph_triangles",
    oracle=f"""
        WITH {_EDGES_CTE},
        tri AS (
            SELECT count(*) AS t
            FROM edges e1
            JOIN edges e2 ON e1.dst = e2.src
            JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        deg AS (SELECT src AS node, count(*) AS degree FROM sym GROUP BY src)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg)       AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM edges)     AS n_edges,
               (SELECT CAST(t AS BIGINT) FROM tri)              AS n_triangles,
               round(3.0 * (SELECT t FROM tri)
                     / (SELECT sum(degree * (degree - 1) / 2.0) FROM deg),
                     6)                                         AS global_clustering
    """,
    description="Triangle count + global clustering coefficient via ordered two-hop edge join",
    tags=("graph", "join"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count via an ordered two-hop join, orientation
    CHOSEN PER GRAPH from the measured wedge work (r11, VERDICT r10
    item 6): wedges (a,b)-(b,c) built by one self-join over oriented
    edges, closed by a second join probing (a,c). Every triangle is
    emitted exactly once under either orientation — no /6 correction,
    no symmetric blow-up. The global clustering coefficient divides by
    the wedge count from the degree table.

    Orientation decision (choose_triangle_orientation): the wedge
    join's cost is sum over middle nodes b of in(b)·out(b) — the exact
    row count the (e1.dst == e2.src) join emits — under the chosen
    total order (sum(outdeg²) was the r10 proxy; it overbills hubs
    that sit at an end of the order, ADVICE r11). One cheap pass over
    the degree-annotated edge list computes that sum EXACTLY for both
    candidate orders — id order (a<b<c) and Schank-Wagner degree order
    (point each edge at its higher-(degree, id) endpoint, bounding
    outdeg by O(sqrt(m))) — and the kernel picks degree order only
    when its wedge work, times the ORIENT_PENALTY for the two extra
    degree-annotation joins the orientation pays, still beats id
    order. Round 10 measured that penalty on this near-uniform-degree
    co-purchase graph (38..222, no hubs): degree order ran 9.4 s vs
    6.0 s id-ordered while saving no wedge work, so the probe keeps id
    order HERE; on a power-law graph (hub outdeg collapses to 0 under
    degree order) the same probe flips — pinned both ways by
    tests/test_graph_corpus.py on this graph and a synthetic hub
    graph. At 100 TB the probe is two aggregations over the memoized
    edge list — noise next to one wedge join round."""
    edges = copurchase_edges(spark, sf_dir)
    # coalesce: an EMPTY graph aggregates sum to NULL where the old
    # corner count() yielded 0 (edge-values fixture)
    tri = triangle_node_counts(spark, sf_dir).agg(
        (F.coalesce(F.sum("n_tri"), F.lit(0)) / 3).cast("long").alias("t")
    )
    stats = degree_table(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2.0).alias("wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(stats)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            F.round(3.0 * F.col("t") / F.col("wedges"), 6).alias(
                "global_clustering"
            ),
        )
    )


# Degree order must beat id order by MORE than this factor of wedge
# work before the kernel pays the orientation's two extra joins over
# the edge list (measured round 10: 9.4 s vs 6.0 s at equal wedge work
# on the near-uniform co-purchase graph — a ~1.5x constant overhead).
ORIENT_PENALTY = 1.5


def _degree_annotated(
    edges: DataFrame, sym: DataFrame | None = None, deg: DataFrame | None = None
) -> DataFrame:
    """Symmetric edges with both endpoint degrees: (src, dst, deg_src,
    deg_dst). Two node-keyed joins against the (node-sized) degree
    table — the standard degree-annotation shape; at scale both sides
    hash-partition on the node key. Callers holding the memoized
    adjacency/degree tables pass them in; fixture-graph callers (pure
    tests) omit them and pay the derivation."""
    if sym is None:
        sym = _symmetric(edges)
    if deg is None:
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    da = deg.select(F.col("src").alias("a"), F.col("degree").alias("deg_src"))
    db = deg.select(F.col("src").alias("b"), F.col("degree").alias("deg_dst"))
    return (
        sym.join(da, sym["src"] == da["a"])
        .join(db, sym["dst"] == db["b"])
        .select("src", "dst", "deg_src", "deg_dst")
    )


def _deg_order_wins(ann: DataFrame):
    """Column: TRUE where dst follows src in the (degree, id) total
    order — the Schank-Wagner forward orientation."""
    return (F.col("deg_dst") > F.col("deg_src")) | (
        (F.col("deg_dst") == F.col("deg_src")) & (F.col("dst") > F.col("src"))
    )


def choose_triangle_orientation(
    edges: DataFrame, sym: DataFrame | None = None, deg: DataFrame | None = None
) -> tuple:
    """(orientation, wedge_work_id, wedge_work_degree) for the graph:
    the EXACT wedge-join row count under each candidate total order,
    computed in one degree-annotated pass; 'degree' only when it beats
    id order by more than ORIENT_PENALTY. The two scalars collected
    are one row — control-plane, like the IVF centroid round-trip.

    Cost model (ADVICE r11): the wedge join (e1.dst == e2.src) emits
    in(b)·out(b) rows at each middle node b, NOT out(b)² — a hub that
    sits at one END of the total order (all edges outgoing or all
    incoming) contributes zero wedges, which sum(outdeg²) wrongly
    bills as deg². Per node the annotated pass yields deg (symmetric
    neighbor count) and out under each order, so in·out =
    (deg - out)·out is exact for both candidates."""
    ann = _degree_annotated(edges, sym=sym, deg=deg)
    per_node = ann.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg"),
        F.sum(F.when(F.col("dst") > F.col("src"), 1).otherwise(0)).alias(
            "out_id"
        ),
        F.sum(F.when(_deg_order_wins(ann), 1).otherwise(0)).alias("out_deg"),
    )
    row = per_node.agg(
        F.sum((F.col("deg") - F.col("out_id")) * F.col("out_id")).alias(
            "w_id"
        ),
        F.sum((F.col("deg") - F.col("out_deg")) * F.col("out_deg")).alias(
            "w_deg"
        ),
    ).collect()[0]
    w_id = int(row["w_id"] or 0)
    w_deg = int(row["w_deg"] or 0)
    orient = "degree" if w_deg * ORIENT_PENALTY < w_id else "id"
    return orient, w_id, w_deg


def _oriented_edges(edges: DataFrame, orient: str) -> DataFrame:
    """The (src, dst) edge list under the chosen total order. Both
    orientations emit each undirected edge exactly once, so any
    consumer's triangle SET is identical either way — the choice is
    pure join-work economics. Shared by q_graph_triangles and
    q_graph_local_clustering (VERDICT r11 item 2)."""
    if orient == "degree":
        ann = _degree_annotated(edges)
        return ann.filter(_deg_order_wins(ann)).select("src", "dst")
    return edges  # already src < dst by construction


def _triangle_stats(edges: DataFrame, orient: str) -> DataFrame:
    """The triangle-count frame under the given orientation. Oriented
    edges form a DAG under a total order, so the (e1: a->b, e2: b->c,
    e3: a->c) join emits each triangle exactly once whichever order is
    used — both branches are exact against the same oracle."""
    sym = _symmetric(edges)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    oriented = _oriented_edges(edges, orient)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2.0).alias("wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(stats)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            F.round(3.0 * F.col("t") / F.col("wedges"), 6).alias(
                "global_clustering"
            ),
        )
    )


def _pagerank_oracle() -> str:
    """Bounded-round PageRank as chained materialized CTEs — the DuckDB
    mirror of the Spark loop below, same round count and damping."""
    d = PAGERANK_DAMPING
    ctes = [
        """deg AS MATERIALIZED (
            SELECT src AS node, count(*) AS degree FROM sym GROUP BY src
        ),
        n AS MATERIALIZED (SELECT count(*) AS n FROM deg),
        p0 AS MATERIALIZED (
            SELECT node, 1.0 / (SELECT n FROM n) AS pr FROM deg
        )"""
    ]
    for r in range(1, PAGERANK_ROUNDS + 1):
        prev = f"p{r - 1}"
        ctes.append(
            f"""p{r} AS MATERIALIZED (
            SELECT d.node,
                   (1 - {d}) / (SELECT n FROM n)
                   + {d} * coalesce(s.acc, 0.0) AS pr
            FROM deg d
            LEFT JOIN (
                SELECT e.dst AS node, sum(p.pr / dg.degree) AS acc
                FROM sym e
                JOIN {prev} p ON e.src = p.node
                JOIN deg dg ON dg.node = e.src
                GROUP BY e.dst
            ) s ON d.node = s.node
        )"""
        )
    return (
        "WITH "
        + _EDGES_CTE
        + ",\n        "
        + ",\n        ".join(ctes)
        + f"""
        SELECT node AS part_id,
               round(p{PAGERANK_ROUNDS}.pr * (SELECT n FROM n), 6) AS pr_scaled
        FROM p{PAGERANK_ROUNDS}
    """
    )


@query(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    description=f"PageRank ({PAGERANK_ROUNDS} damped rounds) over the co-purchase graph, scores scaled to mean 1",
    tags=("graph", "iterative"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank, PAGERANK_ROUNDS rounds, over the undirected
    co-purchase graph. Every node has degree >= 1 by construction
    (edges define the node set), so there is no dangling-mass term.
    Scores are reported scaled by N (mean 1.0) so the 6-dp rounding
    grid keeps significance at any graph size.

    Per round (r14, VERDICT r13 item 4): one join of the NODE-sized
    rank table against the node-sized memoized adjacency-array table
    (broadcast-able both sides), then explode(ns) re-expands to the
    edge stream INSIDE the stage and one map-side-combined groupBy on
    dst folds it straight back to node size — the E-row edge table
    never crosses a shuffle after the one-time array build (measured:
    34.5 -> 2.1 executor-CPU-s for the 5 rounds at sf0.1; this is the
    vertex-centric adjacency-list layout GraphX/Pregel store). The
    round count is fixed and mirrored by the oracle; a deployment adds
    the |delta| < eps convergence collect exactly like
    propagate_min_labels.
    """
    adj = adj_arrays(spark, sf_dir)
    deg = degree_table(spark, sf_dir)
    n = deg.count()
    if n == 0:
        # a corpus with no co-purchased pairs has no graph: return the
        # empty result with the contract schema rather than letting the
        # Python-side 1/n seed literal raise ZeroDivisionError
        return deg.select(
            F.col("node").alias("part_id"),
            F.lit(0.0).alias("pr_scaled"),
        )
    ranks = deg.select("node", (F.lit(1.0) / n).alias("pr"))
    for _ in range(PAGERANK_ROUNDS):
        # src's rank share is pr(src)/deg(src); deg(src) == size(ns)
        acc = (
            adj.join(_node_state(spark, sf_dir, ranks),
                     adj["src"] == ranks["node"])
            .select(
                F.explode("ns").alias("dst"),
                (F.col("pr") / F.size("ns")).alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("acc"))
        )
        ranks = (
            deg.join(_node_state(spark, sf_dir, acc),
                     deg["node"] == acc["dst"], "left")
            .select(
                "node",
                (
                    F.lit((1 - PAGERANK_DAMPING) / n)
                    + PAGERANK_DAMPING * F.coalesce("acc", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select(
        F.col("node").alias("part_id"),
        F.round(F.col("pr") * n, 6).alias("pr_scaled"),
    )


LINKPRED_TOP = 20
# query batch: link prediction runs FOR a node slice, not all pairs —
# the all-pairs wedge groupBy is sum(deg^2) rows (measured 474 s at
# sf0.1); the batch slice divides the fan-out by the modulus and is the
# realistic deployment shape (predict for today's active users).
LINKPRED_QUERY_MOD = 50


@query(
    "q_graph_common_neighbors",
    oracle=f"""
        WITH {_EDGES_CTE},
        wedge AS MATERIALIZED (
            -- candidate pair (a, c) through shared neighbor b, where a
            -- is a QUERY node (the batch link prediction is FOR); the
            -- count of distinct b = common-neighbor count. a <> c, and
            -- adjacency is removed below.
            SELECT e1.dst AS id_a, e2.dst AS id_b, count(*) AS cn
            FROM sym e1 JOIN sym e2
              ON e1.src = e2.src AND e1.dst <> e2.dst
            WHERE e1.dst % {LINKPRED_QUERY_MOD} = 0
            GROUP BY e1.dst, e2.dst
        ),
        deg AS MATERIALIZED (
            SELECT src AS node, count(*) AS degree FROM sym GROUP BY src
        ),
        nonadj AS (
            SELECT w.id_a, w.id_b, w.cn,
                   da.degree AS deg_a, db.degree AS deg_b
            FROM wedge w
            JOIN deg da ON da.node = w.id_a
            JOIN deg db ON db.node = w.id_b
            LEFT JOIN sym e ON e.src = w.id_a AND e.dst = w.id_b
            WHERE e.src IS NULL
        )
        SELECT id_a, id_b, CAST(cn AS BIGINT) AS common_neighbors,
               cn * 1.0 / (deg_a + deg_b - cn) AS jaccard
        FROM nonadj
        QUALIFY row_number() OVER (
            ORDER BY cn * 1.0 / (deg_a + deg_b - cn) DESC, id_a, id_b
        ) <= {LINKPRED_TOP}
        ORDER BY jaccard DESC, id_a, id_b
    """,
    description=f"Link prediction: top-{LINKPRED_TOP} non-adjacent pairs by neighborhood Jaccard (common-neighbor join)",
    tags=("graph", "join"),
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction: for every NON-adjacent pair
    with at least one shared neighbor, the Jaccard similarity of their
    neighborhoods — the classic \"people you may know\" primitive. One
    wedge self-join (the same plan core as q_graph_triangles) grouped
    to common-neighbor counts, degrees joined back, existing edges
    anti-joined away, global top-k via TakeOrdered.

    Determinism note: jaccard = cn / (deg_a + deg_b - cn) is a SINGLE
    IEEE double division of exact integers, so both engines produce
    bit-identical doubles — the ranking cannot diverge on an ulp (the
    same argument as q_ts_median_filter's raw-double order statistics).

    Scale shape (r16 rewrite — the pair groupBy is now EXCHANGE-FREE;
    VERDICT r15 item 3): the narrow (query-node, middle-node) side —
    E/mod rows — is hash-repartitioned BY QUERY NODE id before the
    broadcast join against the memoized adjacency-ARRAY table, so
    every wedge pair (id_a, id_b) a given query node generates is
    born in one partition; HashPartitioning(id_a) satisfies the pair
    groupBy's ClusteredDistribution(id_a, id_b), so Catalyst plans
    partial+final HashAggregate INSIDE the explode stage with no
    6M-row shuffle between them (the r15 plan's dominant cost: the
    wedge multiset has ~1.47 avg multiplicity, so map-side combine
    bought almost nothing and the shuffle moved nearly the whole
    stream). REPARTITION_BY_NUM pins the partition count so AQE
    cannot coalesce the narrow side before the explode (the r14
    trap). deg_a rides the narrow side via a V-row broadcast joined
    BEFORE the fan-out (48k rows probe it, not 4M) and folds through
    the agg as min(); deg_b stays a size-gated broadcast probe on the
    grouped output. Measured at sf0.1: warm 37.6 -> 17.3 CPU-s
    (-54%), identical top-20. Skew bound: per-query-node work is
    sum_{b in N(a)} deg(b) <= dmax^2, governed by the adj_arrays hub
    ceiling. The adjacency anti-filter is a broadcast LEFT ANTI
    against the QUERY-restricted edge slice (E/mod rows — hash-set
    probe per candidate pair; the array_contains form measured 4x the
    CPU, and the full-edge anti-join would shuffle E rows)."""
    adj = adj_arrays(spark, sf_dir)
    deg = degree_table(spark, sf_dir).select(
        F.col("node").alias("src"), "degree"
    )
    # Size-gated broadcast hints (r15, ADVICE r14): the hints exist
    # because the memoized tables are checkpointed LogicalRDDs the
    # static planner has no size stats for, but forcing them at EVERY
    # scale would OOM instead of taking the documented SMJ fallback.
    # Estimates: adj carries all 2E neighbor longs + V rows of
    # overhead; the query edge slice is ~2E/mod pairs; deg is V rows.
    stats = graph_stats(spark, sf_dir)
    adj_bytes = stats["sym_edges"] * 8 + stats["nodes"] * 24
    qedge_bytes = stats["sym_edges"] // LINKPRED_QUERY_MOD * 16 + 1024
    deg_bytes = stats["nodes"] * 16
    # (middle node b, query node a) pairs: a is adjacent to b and in
    # the query slice — E/mod rows off the memoized symmetric table.
    # deg_a attaches HERE (narrow side, one probe per qa row) and the
    # clustering repartition happens AFTER it so the join above it
    # cannot disturb the pinned distribution.
    npart = spark.sparkContext.defaultParallelism
    da = deg.select(F.col("src").alias("id_a"), F.col("degree").alias("deg_a"))
    qa = (
        sym_edges(spark, sf_dir)
        .filter(F.col("dst") % LINKPRED_QUERY_MOD == 0)
        .select(F.col("src").alias("b"), F.col("dst").alias("id_a"))
        .join(_maybe_broadcast(da, deg_bytes), "id_a")
        .repartition(npart, "id_a")
    )
    adj_b = _maybe_broadcast(adj, adj_bytes)
    wedge = (
        qa.join(adj_b, qa["b"] == adj["src"])
        .select("id_a", "deg_a", F.explode("ns").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("cn"), F.min("deg_a").alias("deg_a"))
    )
    # non-adjacency via broadcast LEFT ANTI against the query-sliced
    # edge table (E/mod rows), never the full E-row table
    qedges = (
        sym_edges(spark, sf_dir)
        .filter(F.col("src") % LINKPRED_QUERY_MOD == 0)
        .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    )
    nonadj = wedge.join(
        _maybe_broadcast(qedges, qedge_bytes), ["id_a", "id_b"], "left_anti"
    )
    db = deg.select(F.col("src").alias("id_b"), F.col("degree").alias("deg_b"))
    scored = (
        nonadj.join(_maybe_broadcast(db, deg_bytes), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("cn").alias("common_neighbors"),
            (
                F.col("cn") / (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "id_a", "id_b"
    ).limit(LINKPRED_TOP)


BFS_ROUNDS = 4  # bounded frontier expansion; oracle-mirrored
BFS_SEED_MOD = 100  # seed set: part ids divisible by this


def _bfs_oracle() -> str:
    """Bounded-round BFS as chained materialized CTEs: d0 = seeds at
    distance 0, each round relaxes dist over one edge hop (min of self
    and neighbors+1) — the unit-weight Bellman-Ford step, the same
    shape as the PageRank/CC oracles."""
    ctes = [
        f"""d0 AS MATERIALIZED (
            SELECT src AS node,
                   CASE WHEN src % {BFS_SEED_MOD} = 0 THEN 0 END AS dist
            FROM (SELECT DISTINCT src FROM sym)
        )"""
    ]
    for r in range(1, BFS_ROUNDS + 1):
        prev = f"d{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
            SELECT d.node,
                   least(
                       coalesce(d.dist, {BFS_ROUNDS + 1}),
                       coalesce(m.reach + 1, {BFS_ROUNDS + 1})
                   ) AS raw,
                   CASE WHEN least(
                       coalesce(d.dist, {BFS_ROUNDS + 1}),
                       coalesce(m.reach + 1, {BFS_ROUNDS + 1})
                   ) <= {BFS_ROUNDS} THEN least(
                       coalesce(d.dist, {BFS_ROUNDS + 1}),
                       coalesce(m.reach + 1, {BFS_ROUNDS + 1})
                   ) END AS dist
            FROM {prev} d
            LEFT JOIN (
                SELECT e.dst AS node, min(p.dist) AS reach
                FROM sym e JOIN {prev} p ON e.src = p.node
                WHERE p.dist IS NOT NULL
                GROUP BY e.dst
            ) m ON m.node = d.node
        )"""
        )
    body = ",\n        ".join(ctes)
    return f"""
        WITH {_EDGES_CTE},
        {body}
        SELECT CAST(dist AS BIGINT) AS dist,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM d{BFS_ROUNDS}
        WHERE dist IS NOT NULL
        GROUP BY dist
    """


def _bfs_relax(adj: DataFrame, dist: DataFrame,
               state_bytes: int | None = None) -> DataFrame:
    """One BFS relax round on the adjacency-array layout (r14): join
    the reached frontier (node-sized) against the array table
    (node-sized), explode the neighbor lists INSIDE the stage, and
    min-fold back to node size — the E-row edge stream exists only
    between the Generate and the partial aggregate of one stage,
    never across a shuffle. Split out so the plan gate
    (tests/test_plans.py) can assert the Generate on the real round
    plan, which the per-round localCheckpoint otherwise hides."""
    frontier = dist.filter(F.col("dist").isNotNull())
    if state_bytes is not None:
        frontier = _maybe_broadcast(frontier, state_bytes)
    return (
        adj.join(frontier, adj["src"] == F.col("node"))
        .select(
            F.explode("ns").alias("dst"),
            (F.col("dist") + 1).alias("via"),
        )
        .groupBy("dst")
        .agg(F.min("via").alias("reach"))
    )


@query(
    "q_graph_bfs",
    oracle=_bfs_oracle(),
    description=f"BFS hop-distance histogram from the seed set (ids % {BFS_SEED_MOD} = 0), {BFS_ROUNDS} bounded rounds",
    tags=("graph", "iterative"),
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance from the seed set over the
    co-purchase graph, reported as a (distance -> node count)
    histogram — the reachability primitive under influence/blast-
    radius questions. Each round is one edge join + groupBy taking
    min(dist)+1 over in-neighbors (unit-weight Bellman-Ford), the
    identical per-round plan as PageRank with min() in place of
    sum(); rounds are FIXED and oracle-mirrored, and nodes still
    unreached after BFS_ROUNDS hops are reported as unreached
    (excluded), which is the honest bounded-frontier contract. The
    relax round (r14, VERDICT r13 item 4) joins the node-sized
    frontier against the node-sized memoized adjacency-array table
    and explodes the neighbor lists inside the stage — the E-row edge
    table never crosses a shuffle, the pagerank plan with min() —
    and localCheckpoint truncates the per-round lineage exactly as in
    propagate_min_labels."""
    adj = adj_arrays(spark, sf_dir)
    dist = degree_table(spark, sf_dir).select(
        "node",
        F.when(F.col("node") % BFS_SEED_MOD == 0, F.lit(0)).alias("dist"),
    )
    sbytes = graph_stats(spark, sf_dir)["nodes"] * 32
    for _ in range(BFS_ROUNDS):
        reach = _bfs_relax(adj, dist, state_bytes=sbytes)
        dist = (
            dist.join(_maybe_broadcast(reach, sbytes),
                      dist["node"] == reach["dst"], "left")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(BFS_ROUNDS + 1)),
                    F.coalesce("reach", F.lit(BFS_ROUNDS + 1)),
                ).alias("raw"),
            )
            .select(
                "node",
                F.when(
                    F.col("raw") <= BFS_ROUNDS, F.col("raw")
                ).alias("dist"),
            )
            .localCheckpoint()
        )
    return (
        dist.filter(F.col("dist").isNotNull())
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def _wcc_oracle() -> str:
    """CC size distribution over the co-purchase graph: reuses the
    bounded-round min-label chained-CTE generator the SimHash dedup
    oracle ships (llm/dedup._cc_oracle_ctes) — the generator expects an
    in-scope ``edges(src, dst)`` CTE with both orientations, which is
    exactly `sym` renamed."""
    from ..llm.dedup import _cc_oracle_ctes

    ctes, final = _cc_oracle_ctes()
    return f"""
        WITH
        oedges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS MATERIALIZED (
            SELECT src, dst FROM oedges
            UNION ALL
            SELECT dst, src FROM oedges
        ),
        {ctes},
        comp AS (
            SELECT label, count(*) AS comp_size FROM {final} GROUP BY label
        )
        SELECT CAST(comp_size AS BIGINT) AS comp_size,
               CAST(count(*) AS BIGINT)  AS n_components
        FROM comp GROUP BY comp_size
    """


@query(
    "q_graph_wcc",
    oracle=_wcc_oracle(),
    description="Weakly-connected-component size distribution via the shared min-label propagation library",
    tags=("graph", "iterative"),
)
def q_graph_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph, reported as a
    (component size -> count) distribution — the fragmentation
    question ("is the catalog one market or many islands?"). The
    iteration is llm/dedup.propagate_min_labels REUSED AS A LIBRARY
    (pointer doubling + neighbor min, localCheckpoint per round,
    convergence-tested against a union-find oracle in the property
    suite); the DuckDB oracle reuses the matching bounded-round
    chained-CTE generator. One operator, two graphs, one kernel —
    the library story the CC family was built for."""
    labels = cc_labels_graph(spark, sf_dir)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("comp_size"))
        .groupBy("comp_size")
        .agg(F.count(F.lit(1)).alias("n_components"))
    )


KCORE_K = 80  # the k in k-core (co-purchase degrees run 38..222)
KCORE_ORACLE_ROUNDS = 10  # observed peel depth <= 6 at every SF
KCORE_MAX_ITERS = 20


def _kcore_oracle() -> str:
    """Bounded-round k-core peeling as chained materialized CTEs:
    a0 = all nodes; each round keeps nodes with >= k neighbors still
    alive. The alive set shrinks monotonically, so convergence is
    count-equality of the last two rounds — guarded with error() like
    the CC oracle (llm/dedup), so an under-converged oracle fails
    loudly instead of producing wrong core stats."""
    ctes = ["a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)"]
    for r in range(1, KCORE_ORACLE_ROUNDS + 1):
        prev = f"a{r - 1}"
        ctes.append(
            f"""a{r} AS MATERIALIZED (
            SELECT s.src AS node
            FROM sym s
            JOIN {prev} x ON s.src = x.node
            JOIN {prev} y ON s.dst = y.node
            GROUP BY 1 HAVING count(*) >= {KCORE_K}
        )"""
        )
    last = f"a{KCORE_ORACLE_ROUNDS}"
    prev = f"a{KCORE_ORACLE_ROUNDS - 1}"
    body = ",\n        ".join(ctes)
    return f"""
        WITH {_EDGES_CTE},
        {body},
        core_edges AS MATERIALIZED (
            SELECT s.src, s.dst FROM sym s
            JOIN {last} x ON s.src = x.node
            JOIN {last} y ON s.dst = y.node
        )
        SELECT CASE WHEN (SELECT count(*) FROM {prev}) <>
                         (SELECT count(*) FROM {last})
                    THEN error('k-core oracle under-converged after '
                               '{KCORE_ORACLE_ROUNDS} peel rounds - raise '
                               'KCORE_ORACLE_ROUNDS')
                    ELSE CAST((SELECT count(*) FROM {last}) AS BIGINT)
               END                                         AS n_core_nodes,
               CAST((SELECT count(*) FROM core_edges) // 2
                    AS BIGINT)                             AS n_core_edges,
               CAST((SELECT coalesce(sum(node), 0) FROM {last})
                    AS BIGINT)                             AS node_id_sum
    """


@query(
    "q_graph_kcore",
    oracle=_kcore_oracle(),
    description=f"k-core decomposition (k={KCORE_K}): iterative peeling to the maximal subgraph of min-degree k",
    tags=("graph", "iterative"),
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction: iteratively peel nodes with fewer than k
    alive neighbors until the maximal subgraph where EVERY node has
    degree >= k remains — the standard dense-community / spam-cluster
    / graph-robustness primitive (a node's coreness survives any
    presentation order, unlike raw degree cuts). The core can be
    EMPTY (it is at sf0.001 for k={k}) — reported as zero counts, a
    legitimate answer, not an error.

    Each peel round (r14 array layout) semi-joins the ALIVE set onto
    the node-sized adjacency-array table, explodes the neighbor lists
    INSIDE the stage, semi-filters the exploded neighbors against the
    alive set (broadcast once small), and takes one map-side-combined
    degree count + filter — the E-row edge table is never scanned or
    shuffled per round (measured 4x less executor CPU than the
    two-semi-join edge form at identical fixpoints). localCheckpoint
    truncates lineage per round; the alive set shrinks monotonically,
    so the loop exits on the first round that removes nothing (or
    empties the core); the per-round count() is a 1-scalar
    control-plane read, the same bounded driver-side step
    propagate_min_labels documents.

    Oracle: bounded {rounds}-round chained-CTE peel with an error()
    convergence guard (peel depth observed <= 6 at every SF)."""
    adj = adj_arrays(spark, sf_dir)
    # Seed the peel from the memoized degree table: round one of the
    # all-alive loop is exactly "keep nodes with full-graph degree
    # >= k", so starting from that set skips one whole-graph join
    # round (r13 CPU diet); the peel's fixed point — the unique
    # maximal k-core — is unchanged for any starting superset of it.
    alive = (
        degree_table(spark, sf_dir)
        .filter(F.col("degree") >= KCORE_K)
        .select("node")
    )
    prev_n = -1
    for _ in range(KCORE_MAX_ITERS):
        a_dst = alive.select(F.col("node").alias("n_dst"))
        alive = (
            adj.join(_node_state(spark, sf_dir, alive, 16),
                     adj["src"] == F.col("node"), "left_semi")
            .select("src", F.explode("ns").alias("nbr"))
            .join(_node_state(spark, sf_dir, a_dst, 16),
                  F.col("nbr") == F.col("n_dst"), "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
        n = alive.count()  # 1-scalar control plane, bounds the loop
        if n == prev_n or n == 0:
            break
        prev_n = n
    else:
        raise RuntimeError(
            f"k-core failed to converge in {KCORE_MAX_ITERS} rounds"
        )
    a_dst = alive.select(F.col("node").alias("n_dst"))
    edge_count = (
        adj.join(_node_state(spark, sf_dir, alive, 16),
                 adj["src"] == F.col("node"), "left_semi")
        .select(F.explode("ns").alias("nbr"))
        .join(_node_state(spark, sf_dir, a_dst, 16),
              F.col("nbr") == F.col("n_dst"), "left_semi")
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("n_core_edges"))
    )
    node_stats = alive.agg(
        F.count(F.lit(1)).alias("n_core_nodes"),
        F.coalesce(F.sum("node"), F.lit(0)).cast("long").alias("node_id_sum"),
    )
    return node_stats.crossJoin(edge_count).select(
        "n_core_nodes", "n_core_edges", "node_id_sum"
    )


q_graph_kcore.__doc__ = q_graph_kcore.__doc__.format(
    k=KCORE_K, rounds=KCORE_ORACLE_ROUNDS
)


@query(
    "q_graph_assortativity",
    oracle=f"""
        WITH {_EDGES_CTE},
        deg AS MATERIALIZED (
            SELECT src AS node, count(*) AS d FROM sym GROUP BY src
        ),
        pairs AS MATERIALIZED (
            SELECT a.d AS dx, b.d AS dy
            FROM sym s
            JOIN deg a ON s.src = a.node
            JOIN deg b ON s.dst = b.node
        ),
        sums AS (
            SELECT CAST(count(*) AS BIGINT)        AS n,
                   CAST(sum(dx) AS BIGINT)         AS sx,
                   CAST(sum(dy) AS BIGINT)         AS sy,
                   CAST(sum(dx * dy) AS BIGINT)    AS sxy,
                   CAST(sum(dx * dx) AS BIGINT)    AS sxx,
                   CAST(sum(dy * dy) AS BIGINT)    AS syy
            FROM pairs
        )
        SELECT n AS n_directed_edges,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                    THEN NULL
                    ELSE CAST(floor(
                        CAST(n * sxy - sx * sy AS DOUBLE)
                        / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                               * CAST((n * syy - sy * sy) AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT)
               END AS assortativity_micros
        FROM sums
    """,
    description="Degree assortativity: Pearson correlation of endpoint degrees over directed edges, exact integer sums + IEEE sqrt",
    tags=("graph", "stats"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity — Newman's r: the Pearson correlation of
    (deg(src), deg(dst)) over every directed edge. Positive = hubs
    attach to hubs (social nets), negative = hubs attach to leaves
    (the typical co-purchase / infrastructure shape); THE first-glance
    structural fingerprint after the degree histogram.

    Determinism contract: degrees are integers, so all five power sums
    are exact BIGINTs (order-independent); the correlation assembles
    them with one double division and one sqrt — and IEEE 754 REQUIRES
    sqrt correctly rounded (unlike ln/exp/pow, which this repo bans
    from hash-compared outputs), so the assembled double is
    bit-identical on both engines; floor-scaled to micros. Degenerate
    (zero-variance) endpoints yield NULL via the integer predicate.

    Scale shape: the eighth consumer of the memoized co-purchase edge
    table — one degree groupBy, two co-partitioned joins back onto the
    edge list (at scale the degree table is node-sized and broadcasts
    or buckets by the edge key), one map-side-combined power-sum agg.
    Nothing quadratic, no window.
    """
    sym = sym_edges(spark, sf_dir)
    deg = degree_table(spark, sf_dir)
    dx = deg.select(F.col("node").alias("na"), F.col("degree").alias("dx"))
    dy = deg.select(F.col("node").alias("nb"), F.col("degree").alias("dy"))
    pairs = (
        sym.join(dx, sym["src"] == F.col("na"))
        .join(dy, sym["dst"] == F.col("nb"))
        .select("dx", "dy")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = cov.cast("double") / F.sqrt(var_x.cast("double") * var_y.cast("double"))
    # guard each variance separately — their BIGINT product overflows
    # at sf0.1 edge counts (1e16 x 1e16), and the sqrt multiplies as
    # doubles anyway
    return sums.select(
        F.col("n").alias("n_directed_edges"),
        F.when(
            (var_x != 0) & (var_y != 0),
            F.floor(r * 1000000 + F.lit(0.5)).cast("long"),
        ).alias("assortativity_micros"),
    )


def _modularity_oracle() -> str:
    """Newman modularity of the CC partition, integer-exact: reuses the
    bounded-round min-label CTE generator (llm/dedup._cc_oracle_ctes)
    for the community labels, then pure BIGINT arithmetic — Q =
    (4m*sum(e_c) - sum(d_c^2)) / (4m^2), floor-scaled to micros. For a
    CC partition every edge is intra-community (sum(e_c) = m), so the
    numerator 4m^2 - sum(d_c^2) is provably non-negative — floor
    division is safe on both engines."""
    from ..llm.dedup import _cc_oracle_ctes

    ctes, final = _cc_oracle_ctes()
    return f"""
        WITH
        oedges AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS MATERIALIZED (
            SELECT src, dst FROM oedges
            UNION ALL
            SELECT dst, src FROM oedges
        ),
        {ctes},
        lab AS MATERIALIZED (SELECT node, label FROM {final}),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM oedges),
        ec AS (
            SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
            FROM oedges e
            JOIN lab la ON la.node = e.src
            JOIN lab lb ON lb.node = e.dst
            WHERE la.label = lb.label
            GROUP BY la.label
        ),
        dc AS (
            SELECT la.label, CAST(count(*) AS BIGINT) AS d_c
            FROM edges e JOIN lab la ON la.node = e.src
            GROUP BY la.label
        ),
        agg AS (
            SELECT (SELECT m FROM m) AS m,
                   CAST(count(*) AS BIGINT) AS n_communities,
                   CAST(sum(coalesce(ec.e_c, 0)) AS BIGINT) AS intra_edges,
                   CAST(sum(dc.d_c * dc.d_c) AS BIGINT)     AS sum_dc2,
                   CAST(max(dc.d_c) AS BIGINT)              AS max_dc
            FROM dc LEFT JOIN ec ON ec.label = dc.label
        )
        SELECT n_communities, m AS n_edges, intra_edges, sum_dc2, max_dc,
               CAST((4 * CAST(m AS HUGEINT) * intra_edges - sum_dc2) * 1000000
                    // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS q_micros
        FROM agg
    """


@query(
    "q_graph_modularity",
    oracle=_modularity_oracle(),
    description="Newman modularity of the connected-component partition: intra-edge and degree-mass sums per community, Q as exact BIGINT floor-division micros",
    tags=("graph", "iterative", "aggregate"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-quality audit: given a community assignment (here the
    WCC labels from the shared min-label library — the assignment with
    an exactly mirrorable oracle), compute Newman's Q = sum_c [e_c/m -
    (d_c/2m)^2] in pure BIGINT arithmetic, floor-scaled to micros. For
    a CC partition sum(e_c) = m by construction, so Q measures how
    evenly degree mass fragments across islands (0 for one giant
    component, -> 1 for many equal ones) — the go/no-go before trusting
    per-community statistics downstream.

    Scale shape: label propagation is the shared pointer-doubling
    kernel (O(log diameter) rounds over the memoized edge table); the
    modularity pass is two node-keyed joins of labels onto edges plus
    two map-side-combinable groupBys onto community cardinality; the
    final statistic folds ONE row. No floats anywhere."""
    edges = copurchase_edges(spark, sf_dir)
    labels = cc_labels_graph(spark, sf_dir)
    la = labels.select(F.col("node").alias("src"), F.col("label").alias("lab_a"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("lab_b"))
    ec = (
        edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    sym = sym_edges(spark, sf_dir)
    dc = (
        sym.join(la, "src")
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    agg = (
        dc.join(ec, "label", "left")
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum(F.coalesce("e_c", F.lit(0))).alias("intra_edges"),
            F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
            F.max("d_c").alias("max_dc"),
        )
        .crossJoin(F.broadcast(m))
    )
    return agg.select(
        "n_communities",
        F.col("m").alias("n_edges"),
        "intra_edges",
        "sum_dc2",
        "max_dc",
        # 128-bit-wide numerator (ADVICE r11): 4*m*intra_edges*1e6
        # overflows BIGINT once m exceeds ~2.4e6 edges — Spark
        # (non-ANSI) would wrap silently while DuckDB raises, a
        # silent-wrong-answer vs crash divergence at larger SFs. Widen
        # m to DECIMAL(38,0)/HUGEINT (the q_agg_herfindahl pattern) so
        # both engines compute the exact quotient; it is ~Q in [-1, 1]
        # micros so the final BIGINT cast is always safe.
        F.expr(
            "((4 * cast(m as decimal(38,0)) * intra_edges - sum_dc2)"
            " * 1000000) div (4 * cast(m as decimal(38,0)) * m)"
        )
        .cast("long")
        .alias("q_micros"),
    )


LCC_TOP_K = 20


@query(
    "q_graph_local_clustering",
    oracle=f"""
        WITH {_EDGES_CTE},
        tri AS MATERIALIZED (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM edges e1
            JOIN edges e2 ON e1.dst = e2.src
            JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        pertri AS (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ),
        tcount AS (
            SELECT node, CAST(count(*) AS BIGINT) AS n_tri
            FROM pertri GROUP BY node
        ),
        deg AS (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY src
        )
        SELECT d.node, d.degree,
               CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
               CAST(2 * coalesce(t.n_tri, 0) * 1000000
                    // (d.degree * (d.degree - 1)) AS BIGINT) AS lcc_ppm
        FROM deg d LEFT JOIN tcount t ON t.node = d.node
        WHERE d.degree >= 2
        ORDER BY lcc_ppm DESC, d.node
        LIMIT {LCC_TOP_K}
    """,
    description="Per-node local clustering coefficient: triangle incidences from the ordered triangle join exploded to all three corners, over per-node wedge counts; exact ppm, top-k via TakeOrdered",
    tags=("graph", "join", "window"),
)
def q_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts-Strogatz local clustering per node — "how clique-like is
    each product's neighborhood" — the node-granular complement of
    q_graph_triangles' one global coefficient. Each triangle from the
    two-hop join increments ALL THREE corners (an inline 3-element
    explode of the triangle stream — rows 3x triangles, far smaller
    than the wedge stream that produced them); coefficient =
    2*tri / (deg*(deg-1)) in exact BIGINT ppm (degree >= 2 guards the
    zero denominator). Top-k cut is orderBy+limit = TakeOrdered.
    9th consumer of the memoized edge table.

    The wedge join shares choose_triangle_orientation with
    q_graph_triangles (VERDICT r11 item 2): the triangle SET is
    orientation-invariant (each triangle emitted exactly once either
    way, and all three corners are exploded regardless of which corner
    was the join's middle), so on a power-law graph at 100x this
    kernel gets the same sum(in·out) collapse the global count does.
    The oracle stays pinned to id-order edges — same set."""
    deg = degree_table(spark, sf_dir)
    tcount = triangle_node_counts(spark, sf_dir)
    out = (
        deg.filter(F.col("degree") >= 2)
        .join(tcount, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.expr(
                "(2 * coalesce(n_tri, 0) * 1000000)"
                " div (degree * (degree - 1))"
            )
            .cast("long")
            .alias("lcc_ppm"),
        )
    )
    return out.orderBy(F.col("lcc_ppm").desc(), "node").limit(LCC_TOP_K)


# Synchronous majority label propagation: bounded rounds, no self-vote,
# ties broken to the SMALLEST label — all three choices pinned because
# LPA variants genuinely differ on them. The vote winner per node is
# picked by one packed ordering key: cnt * LPA_PACK - label (HUGEINT /
# DECIMAL(38)), max ⇒ highest count, then lowest label.
LPA_ROUNDS = 3
# PRECONDITION (ADVICE r12): the packed tie-break is exact only while
# every label < LPA_PACK. Labels are p_partkey values (~200k * SF;
# ~2e11 even at SF=1e6), so 1e12 has >=5x headroom at any plausible
# scale — but a label source that can exceed 1e12 must re-derive the
# pack from max(label)+1 on BOTH engine sides (mirrors the documented
# ARGMAX_SHIFT headroom bound in aggregates.py).
LPA_PACK = 1_000_000_000_000

# The ENFORCED precondition (ADVICE r13), compiled into the max_by
# ordering key: NULL (hence the + 0 at the use site) while it holds,
# raises the moment a label source or vote count violates the packed-
# BIGINT headroom. Module-level so the kernel and its behavioral test
# share ONE string (ADVICE r14: the test held a verbatim copy, which
# would keep passing if the kernel's bound drifted).
LPA_PACK_GUARD = (
    f"coalesce(cast(assert_true(nl >= 0 and nl < {LPA_PACK} "
    f"and c < 9223372, 'LPA_PACK precondition violated: "
    f"label/count exceed the packed-BIGINT headroom') "
    f"as bigint), 0)"
)


def _lpa_oracle() -> str:
    steps = []
    prev = "l0"
    for r in range(1, LPA_ROUNDS + 1):
        steps.append(
            f"""v{r} AS (
            SELECT e.src AS node, {prev}.lbl AS nl,
                   CAST(count(*) AS BIGINT) AS c
            FROM edges e JOIN {prev} ON {prev}.node = e.dst
            GROUP BY 1, 2
        ),
        l{r} AS MATERIALIZED (
            SELECT node,
                   arg_max(nl, CAST(c AS BIGINT) * {LPA_PACK} - nl) AS lbl
            FROM v{r} GROUP BY node
        )"""
        )
        prev = f"l{r}"
    chain = ",\n        ".join(steps)
    return f"""
        WITH oedges AS MATERIALIZED (
            SELECT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        edges AS MATERIALIZED (
            SELECT src, dst FROM oedges
            UNION ALL
            SELECT dst, src FROM oedges
        ),
        l0 AS (
            SELECT DISTINCT src AS node, src AS lbl FROM edges
        ),
        {chain},
        comm AS (
            SELECT lbl, CAST(count(*) AS BIGINT) AS comm_size
            FROM {prev} GROUP BY lbl
        )
        SELECT comm_size,
               CAST(count(*) AS BIGINT) AS n_communities
        FROM comm GROUP BY comm_size
    """


@query(
    "q_graph_label_propagation",
    oracle=_lpa_oracle(),
    description="Synchronous majority label propagation (3 bounded rounds, min-label ties, no self-vote): community-size distribution; vote winner via one packed BIGINT (count, -label) arg_max per node per round",
    tags=("graph", "iterative"),
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation (Raghavan's LPA) — the near-linear community
    detector run when modularity maximization is too expensive;
    complements q_graph_wcc (connectivity, min-label) and
    q_graph_modularity (partition QUALITY given communities — at scale
    this key produces the partition that one scores). Synchronous
    variant with the three determinism choices pinned: bounded
    LPA_ROUNDS rounds, no self-vote, ties to the smallest label. The
    per-node vote winner is max_by over cnt * 1e12 - label packed in
    BIGINT (exact under the documented LPA_PACK precondition; r13
    dropped the DECIMAL(38) pack — BigDecimal aggregation was ~30% of
    this kernel's CPU), one deterministic winner per node per round
    on both engines.

    Scale shape (r14, VERDICT r13 item 4): round 1 is ALGEBRAIC — the
    seed labels are the node ids and the edge list is distinct, so
    every neighbor votes exactly once with its own id and the packed
    winner (highest count, then lowest label) is simply the MINIMUM
    neighbor: one map-side-combined min-groupBy over the memoized
    adjacency, no join, no vote table. Rounds 2+ join the node-sized
    label table against the node-sized memoized adjacency-ARRAY table
    and explode(ns) re-expands to the vote stream inside the stage
    (sender d's label goes to every neighbor — exact by symmetry), so
    the E-row edge table never crosses a shuffle after the one-time
    array build. Per round that leaves ONE map-side-combinable
    (node, label) count + ONE max_by groupBy — node-keyed shuffles
    only, the GraphFrames aggregate-messages plan (measured: 39 -> 23
    executor-CPU-s for the 3 rounds at sf0.1). Rounds are bounded (3),
    so no convergence-dependent lineage growth."""
    adj = adj_arrays(spark, sf_dir)
    labels = sym_edges(spark, sf_dir).groupBy(
        F.col("src").alias("node")
    ).agg(F.min("dst").alias("lbl"))
    for _ in range(LPA_ROUNDS - 1):
        votes = (
            adj.join(_node_state(spark, sf_dir, labels),
                     adj["src"] == labels["node"])
            .select(
                F.explode("ns").alias("node"),
                F.col("lbl").alias("nl"),
            )
            .groupBy("node", "nl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # BIGINT pack (r13 CPU diet): cnt*1e12 - label stays far inside
        # int64 while label < LPA_PACK and cnt < 9.2e6 (see the
        # LPA_PACK precondition above) — long arithmetic in the max_by
        # instead of DECIMAL(38) Java BigDecimal, same exact winner on
        # both engines. ADVICE r13: the precondition is ENFORCED, not
        # just documented — assert_true costs one comparison per vote
        # row, returns NULL (hence + 0) while it holds, and raises
        # loudly the moment a label source or count violates it,
        # mirroring DuckDB's loud BIGINT-overflow behavior instead of
        # Spark's silent non-ANSI wraparound. The guard string itself
        # is module-level (LPA_PACK_GUARD) so the behavioral test
        # exercises the SAME expression the kernel compiles in.
        labels = votes.groupBy("node").agg(
            F.expr(
                f"max_by(nl, cast(c as bigint) * {LPA_PACK} - nl "
                f"+ {LPA_PACK_GUARD})"
            ).alias("lbl")
        )
    comm = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("comm_size"))
    return comm.groupBy("comm_size").agg(
        F.count(F.lit(1)).alias("n_communities")
    )


# Landmark closeness: bounded BFS from the top-degree landmark nodes.
LANDMARK_K = 4
LANDMARK_ROUNDS = 3


def _landmark_oracle() -> str:
    """Multi-source bounded BFS as chained CTEs — _bfs_oracle's relax
    step with the landmark id carried through the (lm, node) key."""
    far = LANDMARK_ROUNDS + 1
    ctes = [
        f"""deg AS MATERIALIZED (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY src
        ),
        lms AS MATERIALIZED (
            SELECT node AS lm FROM deg ORDER BY d DESC, node LIMIT {LANDMARK_K}
        ),
        d0 AS MATERIALIZED (
            SELECT l.lm, n.node,
                   CASE WHEN n.node = l.lm THEN 0 END AS dist
            FROM lms l CROSS JOIN (SELECT DISTINCT src AS node FROM sym) n
        )"""
    ]
    for r in range(1, LANDMARK_ROUNDS + 1):
        prev = f"d{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
            SELECT d.lm, d.node,
                   CASE WHEN least(
                       coalesce(d.dist, {far}),
                       coalesce(m.reach + 1, {far})
                   ) <= {LANDMARK_ROUNDS} THEN least(
                       coalesce(d.dist, {far}),
                       coalesce(m.reach + 1, {far})
                   ) END AS dist
            FROM {prev} d
            LEFT JOIN (
                SELECT p.lm, e.dst AS node, min(p.dist) AS reach
                FROM sym e JOIN {prev} p ON e.src = p.node
                WHERE p.dist IS NOT NULL
                GROUP BY p.lm, e.dst
            ) m ON m.lm = d.lm AND m.node = d.node
        )"""
        )
    body = ",\n        ".join(ctes)
    return f"""
        WITH {_EDGES_CTE},
        {body}
        SELECT lm,
               CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_d1,
               CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_d2,
               CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_d3,
               CAST(sum(CASE WHEN dist >= 1 THEN 1000000 // dist
                             ELSE 0 END) AS BIGINT) AS harmonic_ppm
        FROM d{LANDMARK_ROUNDS}
        WHERE dist IS NOT NULL
        GROUP BY lm
    """


@query(
    "q_graph_landmark_closeness",
    oracle=_landmark_oracle(),
    description=f"Landmark harmonic closeness: bounded {LANDMARK_ROUNDS}-hop multi-source BFS from the top-{LANDMARK_K} degree hubs, per-landmark ring sizes + exact harmonic centrality in ppm",
    tags=("graph", "iterative"),
)
def q_graph_landmark_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness from landmark hubs — the centrality the full
    all-pairs form can never afford at scale, so production systems
    (and the sketch literature) bound it: pick K high-degree landmarks
    deterministically ((degree DESC, id) — a TakeOrdered over the tiny
    degree table), run ONE bounded multi-source BFS carrying the
    landmark id through the (lm, node) key, and report per-landmark
    ring sizes plus the exact harmonic sum (1e6 // dist is integer
    ppm; the harmonic form handles unreached nodes by simply omitting
    them, which the truncated-BFS contract makes explicit).

    Scale shape: the relax round is q_graph_bfs's plan with a wider
    key — one node-sized join of the frontier against the memoized
    adjacency-array table with the neighbor lists exploded inside the
    stage (r14; the E-row edge table never crosses a shuffle), then
    one (lm, dst) min-groupBy per round, K multiplying the frontier
    rows, never the edge table; localCheckpoint truncates per-round
    lineage. K and the round bound cap the work at K x BFS, the
    standard landmark trade."""
    adj = adj_arrays(spark, sf_dir)
    far = LANDMARK_ROUNDS + 1
    deg = degree_table(spark, sf_dir)
    lms = (
        deg.orderBy(F.col("degree").desc(), F.col("node"))
        .limit(LANDMARK_K)
        .select(F.col("node").alias("lm"))
    )
    nodes = deg.select("node")
    dist = F.broadcast(lms).crossJoin(nodes).select(
        "lm",
        "node",
        F.when(F.col("node") == F.col("lm"), F.lit(0)).alias("dist"),
    )
    for _ in range(LANDMARK_ROUNDS):
        reach = (
            adj.join(
                _node_state(spark, sf_dir,
                            dist.filter(F.col("dist").isNotNull()),
                            LANDMARK_K * 40),
                adj["src"] == F.col("node"),
            )
            .select("lm", F.explode("ns").alias("dst"), "dist")
            .groupBy(
                F.col("lm").alias("rlm"), F.col("dst").alias("rnode")
            )
            .agg((F.min("dist") + 1).alias("reach"))
        )
        dist = (
            dist.join(
                _node_state(spark, sf_dir, reach, LANDMARK_K * 40),
                (F.col("lm") == F.col("rlm"))
                & (F.col("node") == F.col("rnode")),
                "left",
            )
            .select(
                "lm",
                "node",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(far)),
                    F.coalesce(F.col("reach"), F.lit(far)),
                ).alias("raw"),
            )
            .select(
                "lm",
                "node",
                F.when(
                    F.col("raw") <= LANDMARK_ROUNDS, F.col("raw")
                ).alias("dist"),
            )
            .localCheckpoint()
        )
    reached = dist.filter(F.col("dist").isNotNull())
    return reached.groupBy("lm").agg(
        F.sum(F.when(F.col("dist") == 1, 1).otherwise(0)).alias("n_d1"),
        F.sum(F.when(F.col("dist") == 2, 1).otherwise(0)).alias("n_d2"),
        F.sum(F.when(F.col("dist") == 3, 1).otherwise(0)).alias("n_d3"),
        F.sum(
            F.when(
                F.col("dist") >= 1, F.expr("1000000 div dist")
            ).otherwise(0)
        ).alias("harmonic_ppm"),
    )
