"""Property-based relational-algebra invariants (SURVEY.md §5.4).

Randomized small relations through the same DataFrame operators the
registered queries use; each property is an algebraic law that must
hold for ANY input, so these catch semantic drift the fixture-pinned
oracle tests cannot (e.g. null-key join behavior, except/intersect
multiplicity). Row counts are kept tiny and examples few: the cost is
Spark job latency, not data size.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Rows: (key, value) with nullable keys — nulls never equi-join-match,
# which is exactly the edge the properties below pin down.
rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 5)),
        st.integers(-100, 100),
    ),
    min_size=0,
    max_size=12,
)

SCHEMA = "k int, v int"

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame(data, SCHEMA)


@PROP
@given(a=rows, b=rows)
def test_left_join_preserves_left_cardinality_on_unique_right(spark, a, b):
    # Dedup right keys so the left side can't fan out: then
    # count(a LEFT JOIN b) == count(a), null keys included (they
    # survive as unmatched rows).
    left = _df(spark, a)
    right = _df(spark, b).dropDuplicates(["k"]).withColumnRenamed("v", "w")
    joined = left.join(right, "k", "left")
    assert joined.count() == left.count()


@PROP
@given(a=rows, b=rows)
def test_semi_plus_anti_partition_left(spark, a, b):
    # Semi and anti joins partition the left relation exactly.
    left, right = _df(spark, a), _df(spark, b)
    semi = left.join(right, "k", "left_semi").count()
    anti = left.join(right, "k", "left_anti").count()
    assert semi + anti == left.count()


@PROP
@given(a=rows, b=rows)
def test_union_all_counts_add(spark, a, b):
    assert _df(spark, a).union(_df(spark, b)).count() == len(a) + len(b)


@PROP
@given(a=rows, b=rows)
def test_except_all_multiplicity(spark, a, b):
    # exceptAll removes one occurrence per right-side match:
    # count(a EXCEPT ALL b) == count(a) - count(a INTERSECT ALL b).
    left, right = _df(spark, a), _df(spark, b)
    except_all = left.exceptAll(right).count()
    intersect_all = left.intersectAll(right).count()
    assert except_all == left.count() - intersect_all


@PROP
@given(a=rows)
def test_groupby_sum_equals_global_sum(spark, a):
    # Partial/final aggregation decomposition: per-key sums re-summed
    # equal the ungrouped sum (null key forms its own group).
    from pyspark.sql import functions as F

    df = _df(spark, a)
    grouped = df.groupBy("k").agg(F.sum("v").alias("s"))
    regrouped = grouped.agg(F.sum("s").alias("t")).collect()[0]["t"]
    total = df.agg(F.sum("v").alias("t")).collect()[0]["t"]
    assert regrouped == total


# ---- Fixture-level structural invariants for the analytics operators.
# The oracle tests pin exact values; these pin cross-query consistency
# laws that would survive any fixture change.

SF = "/root/testdata/sf0.001"


def _spec(name):
    from sparkstreamingtohdfsofsensorsdata_spark import registry

    return registry.load_all()[name]


def test_sessionize_partitions_events(spark):
    # Sessions partition each user's events: per-user session counts
    # sum to the user's event count, and session ids are 1..n_sessions.
    from pyspark.sql import functions as F

    from sparkstreamingtohdfsofsensorsdata_spark.tables import load

    sess = _spec("q_ts_sessionize").fn(spark, SF)
    by_user = sess.groupBy("user_id").agg(
        F.sum("n_events").alias("tot"),
        F.count("*").alias("n_sess"),
        F.min("session_id").alias("lo"),
        F.max("session_id").alias("hi"),
    )
    ev_counts = (
        load(spark, SF, "events").groupBy("user_id").agg(F.count("*").alias("n"))
    )
    bad = (
        by_user.join(ev_counts, "user_id")
        .filter(
            (F.col("tot") != F.col("n"))
            | (F.col("lo") != 1)
            | (F.col("hi") != F.col("n_sess"))
        )
        .count()
    )
    assert bad == 0


def test_histogram_covers_all_rows(spark):
    from pyspark.sql import functions as F

    from sparkstreamingtohdfsofsensorsdata_spark.operators.aggregates import (
        HIST_BINS,
    )
    from sparkstreamingtohdfsofsensorsdata_spark.tables import load

    hist = _spec("q_agg_histogram").fn(spark, SF).collect()
    total = load(spark, SF, "events").count()
    assert sum(r["n"] for r in hist) == total
    assert all(0 <= r["bin"] < HIST_BINS for r in hist)
    # bins are value-disjoint: each bin's max stays below the next lo
    ordered = sorted(hist, key=lambda r: r["bin"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["hi"] <= b["lo"]


def test_funnel_conversions_bounded_by_signups(spark):
    rows = _spec("q_ts_funnel").fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_converted"] <= r["n_signup"]
        assert (r["n_converted"] == 0) == (r["total_lag_us"] == 0)


def test_retention_day_zero_equals_cohort_size(spark):
    # Every cohort member is active on their own first day, so the
    # offset-0 cell is the cohort size and no later cell exceeds it.
    from pyspark.sql import functions as F

    ret = _spec("q_ts_retention").fn(spark, SF)
    base = ret.filter(F.col("day_offset") == 0).select(
        "cohort_day", F.col("n_active").alias("cohort_size")
    )
    bad = (
        ret.join(base, "cohort_day")
        .filter(F.col("n_active") > F.col("cohort_size"))
        .count()
    )
    assert bad == 0


def test_quantized_rerank_recall_floor(spark):
    # The int8 prefilter keeps 3x the final k: against the exact
    # brute-force top-k it must preserve nearly all true neighbors
    # (quantization noise is bounded by the 127-level grid).
    exact = {
        (r["qid"], r["neighbor"])
        for r in _spec("q_llm_sim_topk").fn(spark, SF).collect()
    }
    quant = {
        (r["qid"], r["neighbor"])
        for r in _spec("q_llm_sim_topk_quant").fn(spark, SF).collect()
    }
    assert exact, "exact top-k returned nothing"
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"quantized rerank recall {recall:.3f}"


def test_split_leakage_content_keyed_is_leak_free(spark):
    rows = {r["method"]: r for r in _spec("q_llm_split_leakage").fn(spark, SF).collect()}
    assert rows["by_id"]["n_dup_groups"] > 0  # injected duplicates exist
    assert rows["by_id"]["n_leaked_groups"] > 0  # id-keyed split leaks
    assert rows["by_content"]["n_leaked_groups"] == 0  # content-keyed cannot


def test_scd2_writeto_commit_roundtrip(spark):
    # The V2 writeTo commit path: the committed catalog table must hold
    # exactly the merge result (rows + SCD-2 invariants), read back
    # from the catalog rather than from the uncommitted plan.
    from sparkstreamingtohdfsofsensorsdata_spark.operators.merge import (
        commit_scd2,
        q_merge_scd2,
    )

    sf = "/root/testdata/sf0.001"
    expected = q_merge_scd2(spark, sf)
    back = commit_scd2(spark, sf, table="customer_scd2_test")
    try:
        assert back.count() == expected.count()
        # exactly one current row per key
        from pyspark.sql import functions as F

        per_key = back.groupBy("c_custkey").agg(
            F.sum(F.col("is_current").cast("int")).alias("n_cur")
        )
        assert per_key.filter(F.col("n_cur") != 1).count() == 0
        # history rows are closed, current rows are open-ended
        assert back.filter(F.col("is_current") & F.col("valid_to").isNotNull()).count() == 0
        assert back.filter(~F.col("is_current") & F.col("valid_to").isNull()).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS customer_scd2_test")


# --- round-4 additions: format round-trip + session-window law ---

_field_text = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(
            codec="ascii", categories=("L", "N", "P", "Zs"), exclude_characters="|"
        ),
        max_size=12,
    ).filter(lambda s: s != "\\N"),
)


@PROP
@given(
    recs=st.lists(
        st.tuples(
            st.integers(0, 10**6),  # event_id
            st.datetimes(
                min_value=__import__("datetime").datetime(2020, 1, 1),
                max_value=__import__("datetime").datetime(2030, 1, 1),
            ).map(lambda d: d.replace(microsecond=0)),
            st.one_of(st.none(), st.integers(0, 10**6)),  # user_id
            _field_text,  # event_type
            st.one_of(  # value: finite, parse-stable doubles
                st.none(),
                st.integers(-10**6, 10**6).map(lambda i: i / 64.0),
            ),
            _field_text,  # props
        ),
        min_size=1,
        max_size=8,
    )
)
def test_text_line_round_trip_property(spark, recs):
    # serialize(parse^-1) is the identity on every serializable record:
    # any combination of nulls and delimiter-free text must come back
    # value-identical (ts at whole-second precision by format design).
    from sparkstreamingtohdfsofsensorsdata_spark.operators.scans import (
        parse_event_lines,
        serialize_event_lines,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    ev = spark.createDataFrame(recs, schema)
    back = parse_event_lines(serialize_event_lines(ev))
    assert sorted(map(repr, back.collect())) == sorted(
        map(repr, ev.collect())
    )


@PROP
@given(
    gaps=st.lists(
        st.one_of(
            st.integers(0, 3600),
            st.just(1800),  # force exact-gap ties to appear often
        ),
        min_size=1,
        max_size=10,
    )
)
def test_session_window_matches_relational_sessionization(spark, gaps):
    # Law behind the shared q_ts_session_window / q_stream_session
    # oracle: native session_window(30m) produces exactly the sessions
    # of the lag-based rule "new session iff gap > 1800s", including
    # events at exactly the gap boundary (end-inclusive merge).
    import datetime

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    t = datetime.datetime(2024, 1, 5, 0, 0, 0)
    ts_rows = []
    for g in gaps:
        t = t + datetime.timedelta(seconds=g)
        ts_rows.append((1, t))
    df = spark.createDataFrame(ts_rows, "user_id long, ts timestamp")

    native = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("session_window.start").cast("long").alias("start"), "n"
        )
    )
    w = W.partitionBy("user_id").orderBy("ts")
    relational = (
        df.withColumn(
            "new_sess",
            (
                F.coalesce(
                    F.col("ts").cast("long") - F.lag("ts").over(w).cast("long"),
                    F.lit(10**9),
                )
                > 1800
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").cast("long").alias("start"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("start", "n")
    )
    assert sorted(map(tuple, native.collect())) == sorted(
        map(tuple, relational.collect())
    )


# --- connected-components law: Spark propagation vs union-find ---

edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda p: p[0] != p[1]
    ),
    min_size=1,
    max_size=15,
)

# Worst case for min-label spread: a long path with the min at one end
# and ids shuffled so pointer chains actually need doubling. Deep
# chains are where plain diameter-rounds propagation and the O(log d)
# doubling loop diverge, so pin one explicitly.
PATH_PERM = [7, 19, 3, 23, 11, 0, 15, 27, 5, 21, 9, 25, 1, 17, 13,
             29, 2, 24, 8, 28, 4, 22, 10, 26, 6, 18, 12, 20, 14, 16]
PATH_EDGES = sorted(
    (min(a, b), max(a, b)) for a, b in zip(PATH_PERM, PATH_PERM[1:])
)


def _union_find_min_labels(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=edge_lists)
def test_min_label_propagation_matches_union_find(spark, pairs):
    # The iterative CC loop behind q_llm_dedup_clusters/_keep must
    # assign every node the min id of its component on ANY graph —
    # paths, stars, merged cliques — not just the fixture's near-dup
    # cliques. Union-find is the exact oracle.
    from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import (
        propagate_min_labels,
    )

    canon = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    df = spark.createDataFrame(canon, "id_a long, id_b long")
    got = {r["node"]: r["label"] for r in propagate_min_labels(df).collect()}
    assert got == _union_find_min_labels(canon)


# --- as-of join law: union-window trick vs brute-force argmax ---

events = st.lists(
    st.tuples(
        st.integers(0, 2),           # user_id
        st.integers(0, 4),           # ts (seconds — collisions likely)
        st.booleans(),               # True = purchase, False = view
    ),
    min_size=1,
    max_size=14,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events)
def test_asof_join_matches_bruteforce(spark, evs):
    # Equal-ts ties are the whole point: a view AT the purchase ts must
    # be visible, the max view id must win among equal-ts views, and a
    # user with no prior view must get NULL — on ANY arrival pattern.
    import datetime

    rows = [
        (u, datetime.datetime(2024, 1, 1, 0, 0, t), i, is_p)
        for i, (u, t, is_p) in enumerate(evs)
    ]
    views = [(u, ts, i) for u, ts, i, p in rows if not p]
    purchases = [(u, ts, i) for u, ts, i, p in rows if p]
    if not purchases:
        return
    from sparkstreamingtohdfsofsensorsdata_spark.operators.joins import asof_join

    schema_v = "user_id long, ts timestamp, view_event_id long"
    schema_p = "user_id long, ts timestamp, event_id long"
    vdf = spark.createDataFrame(views or [], schema_v)
    pdf = spark.createDataFrame(purchases, schema_p)
    out = asof_join(vdf, pdf).collect()
    # exactly one output row per purchase — a fan-out on equal-ts view
    # ties would silently dedupe in the dict below
    assert len(out) == len(purchases)
    got = {r["event_id"]: r["asof_view_id"] for r in out}
    want = {}
    for u, ts, i in purchases:
        cand = [(vts, vi) for vu, vts, vi in views if vu == u and vts <= ts]
        want[i] = max(cand)[1] if cand else None
    assert got == want


def test_min_label_propagation_deep_path(spark):
    # 30-node shuffled path: component min must reach the far end well
    # inside the iteration cap (doubling: ~log2(30) + slack rounds).
    from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import (
        propagate_min_labels,
    )

    df = spark.createDataFrame(PATH_EDGES, "id_a long, id_b long")
    got = {r["node"]: r["label"] for r in propagate_min_labels(df, max_iters=9).collect()}
    assert got == {n: 0 for n in range(30)}


# Embeddings as small-integer grids: dot products collide constantly,
# so the kernel's tie class (threshold selection must keep EVERY entry
# equal to the kth dot before the deterministic sort cuts to k) is
# exercised on nearly every example — random floats would never tie.
_vecs = st.lists(
    st.lists(st.integers(-2, 2), min_size=3, max_size=3),
    min_size=1,
    max_size=8,
)


@settings(max_examples=80, deadline=None)
@given(vecs=_vecs, k=st.integers(1, 6), diagonal=st.booleans())
def test_block_pair_topk_matches_bruteforce(vecs, k, diagonal):
    # Pure-numpy kernel (no Spark job): the group-local top-k of the
    # blocked GEMM must equal brute-force enumeration of the block
    # pair's valid (id_a < id_b) pairs under (dot desc, id_a, id_b) —
    # for BOTH the diagonal (same block both operands, self-pair and
    # reverse-orientation masking) and off-diagonal (disjoint blocks,
    # orientation by id) cases, ties and sub-k groups included.
    import numpy as np
    import pandas as pd

    from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import _block_pair_topk

    ids = [10 * i + 3 for i in range(len(vecs))]  # unique, unsorted-ish
    if diagonal:
        key, a_ids, b_ids = (2, 2), ids, ids
        a_vecs, b_vecs = vecs, vecs
        valid = [
            (ids[i], ids[j], float(np.dot(vecs[i], vecs[j])))
            for i in range(len(ids))
            for j in range(len(ids))
            if ids[i] < ids[j]
        ]
    else:
        half = (len(ids) + 1) // 2
        key = (1, 2)
        a_ids, b_ids = ids[:half], ids[half:]
        a_vecs, b_vecs = vecs[:half], vecs[half:]
        if not b_ids:
            b_ids, b_vecs = a_ids, a_vecs  # degenerate 1-vector draw
            key = (2, 2)
        valid = [
            (min(x, y), max(x, y), float(np.dot(vx, vy)))
            for x, vx in zip(a_ids, a_vecs)
            for y, vy in zip(b_ids, b_vecs)
            if x != y
        ]
    pdf = pd.DataFrame(
        {
            "operand": [0] * len(a_ids) + [1] * len(b_ids),
            "vec_id": a_ids + b_ids,
            "embedding": [np.array(v, dtype="float64") for v in a_vecs + b_vecs],
        }
    )
    got = _block_pair_topk(key, pdf, k)
    want = sorted(valid, key=lambda p: (-p[2], p[0], p[1]))[:k]
    assert list(zip(got["id_a"], got["id_b"], got["dot"])) == want


def test_block_pair_topk_nan_embedding_does_not_poison():
    # One all-NaN vector among the A-rows produces >= k NaN dots; the
    # threshold select must rank them as no-similarity instead of
    # landing the kth threshold on NaN (every >= NaN compare is False),
    # which silently emptied the whole block pair's output.
    import numpy as np
    import pandas as pd

    from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import _block_pair_topk

    ids = list(range(1, 27))
    vecs = [np.array([1.0, 0.0, 0.0]) for _ in ids]
    vecs[0] = np.array([np.nan, np.nan, np.nan])
    pdf = pd.DataFrame(
        {
            "operand": [0] * len(ids) + [1] * len(ids),
            "vec_id": ids + ids,
            "embedding": vecs + vecs,
        }
    )
    got = _block_pair_topk((2, 2), pdf, 20)
    assert len(got) == 20
    assert not got["dot"].isna().any()
    assert 1 not in set(got["id_a"]) | set(got["id_b"])


def test_block_pair_topk_all_tied_block_is_bounded_and_correct():
    # The dedup-corpus worst case: every vector identical, so every
    # pairwise dot EQUALS the kth threshold and the tie set is O(n^2).
    # The chunked candidate scan must still return exactly the k
    # smallest-(id_a, id_b) pairs — and do it without materializing the
    # full tie set (review r6; bounded-compaction contract).
    import numpy as np
    import pandas as pd

    from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import _block_pair_topk

    n, k = 400, 5  # ~80k tied pairs on the diagonal block
    ids = list(range(1, n + 1))
    vecs = [np.array([1.0, 0.0, 0.0]) for _ in ids]
    pdf = pd.DataFrame(
        {
            "operand": [0] * n + [1] * n,
            "vec_id": ids + ids,
            "embedding": vecs + vecs,
        }
    )
    got = _block_pair_topk((3, 3), pdf, k)
    want = [(1, b, 1.0) for b in range(2, 2 + k)]
    assert list(zip(got["id_a"], got["id_b"], got["dot"])) == want


def test_upsert_writeto_commit_roundtrip(spark):
    # The documented MERGE swap made executable (VERDICT r8 item 7):
    # commit_upsert materializes the target as a catalog table and
    # submits the V2 mergeInto builder (falling back to committing the
    # join-rewrite result on the V1 session catalog). Committed state
    # must equal the q_merge_upsert plan output row-for-row, minus the
    # op marker (an output-contract column, not table state).
    from sparkstreamingtohdfsofsensorsdata_spark.operators.merge import (
        commit_upsert,
        q_merge_upsert,
    )

    sf = "/root/testdata/sf0.001"
    expected = sorted(
        tuple(r) for r in q_merge_upsert(spark, sf).drop("op").collect()
    )
    back = commit_upsert(spark, sf, table="customer_upsert_test")
    try:
        got = sorted(
            tuple(r)
            for r in back.select(
                "c_custkey", "c_name", "c_mktsegment", "bal_cents"
            ).collect()
        )
        assert got == expected
        # the builder path's failure handling is narrowed to the V1
        # catalog's UNSUPPORTED_FEATURE.TABLE_OPERATION — on this
        # session catalog the commit MUST have taken the rewrite
        # fallback, and any genuine builder bug would have raised
        # instead of degrading silently (ADVICE r9)
        assert commit_upsert.committed_via == "rewrite"
    finally:
        spark.sql("DROP TABLE IF EXISTS customer_upsert_test")


def test_chunked_row_number_equals_plain_rank(spark):
    # The two-level rank (operators/ranking.chunked_row_number) must
    # equal a plain row_number for BOTH chunk recipes: value-range
    # chunks on a near-continuous metric, and (value, tiebreak-range)
    # composite chunks on a low-cardinality metric with heavy ties —
    # including rows landing exactly on chunk boundaries and a
    # single-row partition.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sparkstreamingtohdfsofsensorsdata_spark.operators.ranking import (
        chunked_row_number,
    )

    rows = [
        # (part, value, key): duplicates, boundary values (0, 100,
        # 200), negatives, and a lone partition "z"
        ("a", 0, 1), ("a", 0, 2), ("a", 99, 3), ("a", 100, 4),
        ("a", 100, 5), ("a", 101, 6), ("a", 200, 7), ("a", -50, 8),
        ("b", 5, 1), ("b", 5, 2), ("b", 5, 3), ("b", 7, 4),
        ("z", 42, 9),
    ]
    df = spark.createDataFrame(rows, ["part", "value", "key"])
    w = Window.partitionBy("part").orderBy("value", "key")
    expected = {
        (r["part"], r["key"]): r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    # recipe 1: value-range chunks (width 100)
    got1 = chunked_row_number(
        df,
        ["value", "key"],
        [(F.floor(F.col("value") / 100)).cast("long")],
        part_cols=["part"],
        rank_name="rk",
    )
    assert {
        (r["part"], r["key"]): r["rk"] for r in got1.collect()
    } == expected
    # recipe 2: (value, key-range) composite for tied values (width 2)
    got2 = chunked_row_number(
        df,
        ["value", "key"],
        [F.col("value"), (F.floor(F.col("key") / 2)).cast("long")],
        part_cols=["part"],
        rank_name="rk",
    )
    assert {
        (r["part"], r["key"]): r["rk"] for r in got2.collect()
    } == expected
    # prefix sums ride the same structure
    got3 = chunked_row_number(
        df,
        ["value", "key"],
        [(F.floor(F.col("value") / 100)).cast("long")],
        part_cols=["part"],
        rank_name="rk",
        prefix_sums={"value": "cum_value"},
    )
    w_sum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected_cum = {
        (r["part"], r["key"]): r["cum"]
        for r in df.withColumn("cum", F.sum("value").over(w_sum)).collect()
    }
    assert {
        (r["part"], r["key"]): r["cum_value"] for r in got3.collect()
    } == expected_cum


def test_upsert_mergeinto_commits_on_v2_catalog():
    """VERDICT r10 item 4: with a catalog that supports row-level
    operations registered, commit_upsert's PRIMARY branch must commit
    (committed_via == 'mergeInto') and the committed state must equal
    the join-rewrite plan output — the V1-fallback test above proves
    the degradation path; this proves the real one. Runs in a
    subprocess because spark.driver.extraClassPath only takes effect
    at JVM launch; compiles jvm/sparkgraft/mem/MemCatalog.java on
    demand (skip if no JDK)."""
    import os
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    from sparkstreamingtohdfsofsensorsdata_spark.session import compile_java, spark_jars

    repo = Path(__file__).resolve().parent.parent
    src = repo / "jvm" / "sparkgraft" / "mem" / "MemCatalog.java"
    if shutil.which("javac") is None:
        pytest.skip("no JDK: cannot compile the row-level catalog")
    classes = compile_java(str(src), os.path.join(spark_jars(), "*"))
    assert classes is not None, f"javac failed on {src}"
    proc = subprocess.run(
        [sys.executable, str(repo / "tests" / "memcat_driver.py"), classes],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, (
        f"memcat merge driver failed:\nstdout: {proc.stdout[-2000:]}\n"
        f"stderr: {proc.stderr[-2000:]}"
    )
    assert "via mergeInto" in proc.stdout
