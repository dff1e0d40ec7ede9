"""Semantic invariants for the round-9 graph / governance / corpus
keys — properties the DuckDB parity oracle cannot distinguish from a
shared bug (both engines running the same wrong SQL), pinned
independently: brute-force triangle recount, PageRank mass
conservation, partition-law checks on the audit aggregates.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from sparkstreamingtohdfsofsensorsdata_spark import registry
from sparkstreamingtohdfsofsensorsdata_spark.operators.graph import (
    PAGERANK_ROUNDS,
    copurchase_edges,
)
from sparkstreamingtohdfsofsensorsdata_spark.tables import load

SF = "/root/testdata/sf0.001"


def _spec(name):
    return registry.load_all()[name]


def test_triangles_match_bruteforce(spark):
    # Independent recount: pull the (small at sf0.001) edge list to the
    # driver and count triangles by adjacency-set intersection — a
    # different algorithm than the ordered two-hop join.
    edges = [(r.src, r.dst) for r in copurchase_edges(spark, SF).collect()]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if c > b  # a < b by construction; c > b counts each triangle once
    )
    row = _spec("q_graph_triangles").fn(spark, SF).collect()[0]
    assert row.n_triangles == brute
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)


def test_pagerank_mass_conserved_and_positive(spark):
    # No dangling nodes (every node has degree >= 1), so total PageRank
    # mass is exactly 1 after any number of rounds; scaled scores
    # average 1. Also: every score strictly positive (teleport floor).
    rows = _spec("q_graph_pagerank").fn(spark, SF).collect()
    n = len(rows)
    total = sum(r.pr_scaled for r in rows)
    assert abs(total - n) < 1e-3 * n
    assert all(r.pr_scaled > 0 for r in rows)
    assert PAGERANK_ROUNDS >= 3  # the oracle mirrors this constant


def test_degree_distribution_sums_to_node_and_edge_counts(spark):
    deg = _spec("q_graph_degree").fn(spark, SF).collect()
    tri = _spec("q_graph_triangles").fn(spark, SF).collect()[0]
    assert sum(r.n_nodes for r in deg) == tri.n_nodes
    # handshake lemma: sum(degree * count) = 2 |E|
    assert sum(r.degree * r.n_nodes for r in deg) == 2 * tri.n_edges


def test_kanonymity_partitions_the_table(spark):
    rows = _spec("q_anon_kanonymity").fn(spark, SF).collect()
    n_customers = load(spark, SF, "customer").count()
    assert sum(r.n_rows for r in rows) == n_customers
    for r in rows:
        assert 0 <= r.n_rows_at_risk <= r.n_rows
        assert r.n_classes <= r.n_rows
        assert 0.0 <= r.risk_frac <= 1.0


def test_vocab_growth_monotone_and_totals(spark):
    rows = sorted(
        _spec("q_llm_vocab_growth").fn(spark, SF).collect(),
        key=lambda r: r.bucket,
    )
    toks = (
        load(spark, SF, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    assert rows[-1].cum_tokens == toks.count()
    assert rows[-1].cum_vocab == toks.distinct().count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur.cum_tokens > prev.cum_tokens
        assert cur.cum_vocab >= prev.cum_vocab


def test_dup_coverage_and_novelty_fractions_bounded(spark):
    for key, frac_col in (
        ("q_llm_dup_ngram_coverage", "avg_dup_frac"),
        ("q_llm_ngram_novelty", "avg_novelty"),
    ):
        rows = _spec(key).fn(spark, SF).collect()
        assert rows, key
        for r in rows:
            assert 0.0 <= r[frac_col] <= 1.0, (key, r)


def test_zipf_slope_negative_on_natural_ranking(spark):
    # Rank-frequency by construction: freq is non-increasing in rank,
    # so the log-log OLS slope can never be positive.
    rows = _spec("q_llm_zipf_slope").fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.zipf_slope <= 0.0
        assert r.n_ranked >= 1


def test_bfs_seeds_at_distance_zero_and_monotone_reach(spark):
    from sparkstreamingtohdfsofsensorsdata_spark.operators.graph import (
        BFS_SEED_MOD,
    )

    hist = {r.dist: r.n_nodes for r in _spec("q_graph_bfs").fn(spark, SF).collect()}
    seeds = (
        copurchase_edges(spark, SF)
        .select(F.explode(F.array("src", "dst")).alias("n"))
        .distinct()
        .filter(F.col("n") % BFS_SEED_MOD == 0)
        .count()
    )
    assert hist.get(0) == seeds  # every in-graph seed is at distance 0
    assert all(d >= 0 for d in hist)


def test_domain_cap_funnel_law(spark):
    from sparkstreamingtohdfsofsensorsdata_spark.llm.corpus_stats import (
        DOMAIN_CAP,
    )

    for r in _spec("q_llm_domain_cap").fn(spark, SF).collect():
        assert r.n_kept + r.n_dropped == r.n_docs
        assert r.n_kept <= DOMAIN_CAP
        assert (r.n_dropped > 0) == (r.n_docs > DOMAIN_CAP)


def test_snapshot_diff_partitions_v2(spark):
    for r in _spec("q_llm_snapshot_diff").fn(spark, SF).collect():
        assert r.n_added + r.n_changed + r.n_unchanged == r.n_docs_v2


def test_ab_test_counts_partition_users(spark):
    row = _spec("q_events_ab_test").fn(spark, SF).collect()[0]
    n_users = (
        load(spark, SF, "events").select("user_id").distinct().count()
    )
    assert row.n_users_a + row.n_users_b == n_users
    assert 0 <= row.n_conv_a <= row.n_users_a
    assert 0 <= row.n_conv_b <= row.n_users_b
    assert 0.0 <= row.rate_a <= 1.0 and 0.0 <= row.rate_b <= 1.0


def test_lsh_audit_estimator_granularity(spark):
    from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import N_MINHASH

    rows = _spec("q_llm_lsh_audit").fn(spark, SF).collect()
    assert rows
    for r in rows:
        # the estimate is k/N_MINHASH by construction
        assert abs(r.est_jaccard * N_MINHASH - round(r.est_jaccard * N_MINHASH)) < 1e-4  # 6dp rounding of k/12 leaves <=6e-6 slack
        assert 0.0 <= r.true_jaccard <= 1.0
        assert 0.0 <= r.abs_err <= 1.0


def test_wcc_sizes_sum_to_node_count(spark):
    rows = _spec("q_graph_wcc").fn(spark, SF).collect()
    tri = _spec("q_graph_triangles").fn(spark, SF).collect()[0]
    assert sum(r.comp_size * r.n_components for r in rows) == tri.n_nodes


def test_label_separation_positive_on_labeled_fixture(spark):
    # The fixture embeds labels as real clusters: members must sit
    # closer to their own centroid than to the global one, every label.
    rows = _spec("q_embed_label_separation").fn(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.separation > 0, r
        assert -1.0 - 1e-6 <= r.cos_global <= 1.0 + 1e-6
        assert -1.0 - 1e-6 <= r.cos_own <= 1.0 + 1e-6


def test_triangle_orientation_probe_both_ways(spark):
    """VERDICT r10 item 6: the orientation is chosen by DATA. On the
    near-uniform co-purchase graph the probe must keep id order (the
    round-10 measurement: degree order was 1.5x slower at equal wedge
    work); on a synthetic hub graph degree order must win AND both
    branches must count the same triangles as a brute-force recount."""
    from sparkstreamingtohdfsofsensorsdata_spark.operators.graph import (
        ORIENT_PENALTY,
        _triangle_stats,
        choose_triangle_orientation,
    )

    # fixture graph: near-uniform degrees -> id order
    edges = copurchase_edges(spark, SF)
    orient, w_id, w_deg = choose_triangle_orientation(edges)
    assert orient == "id"
    assert w_id > 0 and w_deg > 0

    # synthetic hub graph: node 30 joined to 0..29 and 31..61 (a hub
    # with a MIDDLE id), plus a sparse triangle mesh among low leaves.
    # Under id order the hub keeps in-degree 30 and out-degree 31 ->
    # the wedge join emits in*out ~ 930 rows at the hub; under degree
    # order every star edge points INTO the hub, so its out collapses
    # to 0 wedges and the probe must flip. (An id-0 hub would NOT
    # flip under the exact in*out model — all its edges outgoing means
    # zero wedges already, which is precisely the overbilling the r11
    # sum(outdeg^2) proxy had, ADVICE r11.)
    star = [(i, 30) for i in range(30)] + [(30, j) for j in range(31, 62)]
    mesh = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    hub = spark.createDataFrame(star + mesh, "src long, dst long")
    orient_h, w_id_h, w_deg_h = choose_triangle_orientation(hub)
    assert orient_h == "degree"
    assert w_deg_h * ORIENT_PENALTY < w_id_h

    # both orientations are exact: star+mesh has 2 mesh triangles plus
    # 6 hub-closed triangles ((1,2,30),(2,3,30),(1,3,30),(4,5,30),
    # (5,6,30),(4,6,30)) = 8
    for o in ("id", "degree"):
        row = _triangle_stats(hub, o).collect()[0]
        assert row.n_triangles == 8, (o, row)
        assert row.n_nodes == 62 and row.n_edges == 67


def test_tri_payer_in_bench_family():
    """The memo groups must stay in sync with the graph module: the
    triangle consumers are graph-edge consumers (the edges prepay runs
    first, so the probe never pays the edge build) and the payer is the
    triangle key."""
    from sparkstreamingtohdfsofsensorsdata_spark.operators import graph

    assert set(graph.TRIANGLES.consumers) <= set(graph.EDGES.consumers)
    assert graph.TRIANGLES.payer == "q_graph_triangles"
    assert graph.TRIANGLES.payer in graph.TRIANGLES.consumers
