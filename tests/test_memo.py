"""Session-attached memo hygiene (VERDICT r4 ask #5).

The CC-label and SimHash-pair memos (llm/dedup.py) carry materialized
localCheckpoint handles across queries in one session — exactly the
kind of state that silently poisons a cross-scale run if the keying or
lifetime is wrong. Pin the two contracts:

- keyed per sf_dir: two scales back-to-back in ONE session each get
  fresh labels, and each result hash-matches a memo-cold recompute;
- scoped per session OBJECT: a sibling `newSession()` does not see the
  handles (they die with the session that owns the checkpoint blocks).

Also pins the register_views fingerprint (ADVICE r4): rewriting a
fixture file in place must invalidate the view memo, and the contract of
every payer-charged memo group (memo.GROUPS) bench.py attributes by.
"""

from __future__ import annotations

import os

import pytest

from sparkstreamingtohdfsofsensorsdata_spark import memo, registry
from sparkstreamingtohdfsofsensorsdata_spark.llm.dedup import _cc_labels
from sparkstreamingtohdfsofsensorsdata_spark.tables import _dir_fingerprint

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _clear_memos(spark) -> None:
    getattr(spark, "_cc_labels_memo", {}).clear()
    getattr(spark, "_simhash_pairs_memo", {}).clear()


def _labels(spark, sf_dir):
    return sorted(tuple(r) for r in _cc_labels(spark, sf_dir).collect())


def test_cc_memo_keyed_per_sf_dir(spark):
    _clear_memos(spark)
    warm_a = _labels(spark, SF_A)
    warm_b = _labels(spark, SF_B)
    # two scales -> two distinct memo entries, not one overwritten slot
    assert len(spark._cc_labels_memo) == 2
    assert len(spark._simhash_pairs_memo) == 2
    # sf0.01 has ~10x the docs; identical label sets would mean the
    # second call was served the first scale's handle
    assert warm_a != warm_b

    # memo-cold recompute of BOTH scales hash-matches the memoized runs
    _clear_memos(spark)
    assert _labels(spark, SF_A) == warm_a
    _clear_memos(spark)
    assert _labels(spark, SF_B) == warm_b
    _clear_memos(spark)


def test_memos_die_with_the_session_object(spark):
    _clear_memos(spark)
    _cc_labels(spark, SF_A)
    assert spark._cc_labels_memo
    # A sibling session object (shared SparkContext, fresh state) must
    # not inherit the handles: the memo rides the session attribute,
    # never a module global.
    sibling = spark.newSession()
    assert getattr(sibling, "_cc_labels_memo", None) is None
    assert getattr(sibling, "_simhash_pairs_memo", None) is None
    _clear_memos(spark)


def test_register_views_fingerprint_tracks_file_changes(tmp_path):
    # Pure-fingerprint check (no Spark): same dir, same files -> equal;
    # a rewritten table file -> different. register_views keys its memo
    # on this, so rewriting fixtures in place invalidates the views.
    import os
    import shutil

    for name in ("region", "nation"):
        shutil.copy(f"{SF_A}/{name}.parquet", tmp_path / f"{name}.parquet")
    fp1 = _dir_fingerprint(str(tmp_path))
    fp2 = _dir_fingerprint(str(tmp_path))
    assert fp1 == fp2
    # rewrite one file with different content (size and/or mtime moves)
    src = tmp_path / "region.parquet"
    data = src.read_bytes()
    src.write_bytes(data + b"\x00")
    os.utime(src)
    assert _dir_fingerprint(str(tmp_path)) != fp1


def test_dedup_memos_keyed_on_file_fingerprint(spark):
    # ADVICE r5: the dedup memos must share register_views' (path,
    # fingerprint) keying, so an in-place fixture rewrite under the
    # SAME path cannot serve a stale checkpointed pair/label handle.
    _clear_memos(spark)
    _cc_labels(spark, SF_A)
    fp = _dir_fingerprint(SF_A)
    assert list(spark._cc_labels_memo) == [(os.path.abspath(SF_A), fp)]
    assert list(spark._simhash_pairs_memo) == [(os.path.abspath(SF_A), fp)]
    # a changed fingerprint (what a rewrite produces) misses the memo
    stale_key = (os.path.abspath(SF_A), ())
    assert stale_key not in spark._cc_labels_memo
    _clear_memos(spark)


def test_dedup_memos_evict_superseded_same_path_entries(spark):
    # A fingerprint miss must REPLACE the same-path entry, not pile a
    # new handle on top of it: a session rewriting fixtures in place N
    # times would otherwise leak N materialized checkpoint handles
    # (review r6). Simulate the rewrite by planting a stale-fingerprint
    # entry under the same path and recomputing.
    from sparkstreamingtohdfsofsensorsdata_spark.memo import memo_key

    _clear_memos(spark)
    _cc_labels(spark, SF_A)
    path = os.path.abspath(SF_A)
    for memo in (spark._cc_labels_memo, spark._simhash_pairs_memo):
        live = memo[memo_key(SF_A)]
        memo.clear()
        memo[(path, ("stale-fingerprint",))] = live
    _cc_labels(spark, SF_A)
    assert list(spark._cc_labels_memo) == [memo_key(SF_A)]
    assert list(spark._simhash_pairs_memo) == [memo_key(SF_A)]
    _clear_memos(spark)


def test_registry_window_is_the_stale_cohort():
    """The rotation policy (VERDICT r15 items 1-2, amended by VERDICT
    r16 item 1 for round 17): the driver checks a 50-key prefix of
    load_all(), so the prefix must be (a) the pinned optimization
    blast radius — keys whose physical plan the previous round rewrote
    without a driver re-verdict since (ROTATION_BLAST_HEAD; empty in a
    round with no standing blast radius) — then (b) the keys with NO
    driver verdict in any CORRECTNESS artifact the rotation could see,
    then (c) the stalest cohorts in round order (alphabetical within a
    cohort), truncated to fill the window. Computed from the committed
    driver artifacts, not hand-pinned indices, so the assertion IS the
    rotation policy.

    The artifact glob is FILTERED to rounds < registry.ROTATION_ROUND:
    the driver lands CORRECTNESS_r{N}.json AFTER the builder's close, so
    an unfiltered glob would flip the cohorts and turn this test red at
    every round-open (VERDICT r15 item 2). The pin keeps the suite
    green on a tree carrying newer artifacts; re-rotation at the NEXT
    round is enforced by scripts/round_close.py's rotation gate
    (ROTATION_ROUND must equal max artifact round + 1), not by a
    standing red test."""
    import glob
    import json
    import re

    from sparkstreamingtohdfsofsensorsdata_spark.registry import (
        ROTATION_BLAST_HEAD,
        ROTATION_NEW_KEYS,
        ROTATION_ROUND,
        VERIFICATION_PRIORITY,
    )

    latest: dict[str, int] = {}
    root = os.path.join(os.path.dirname(__file__), "..")
    artifacts = sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    assert artifacts, "driver CORRECTNESS artifacts missing"
    seen_rounds = []
    for f in artifacts:
        r = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        seen_rounds.append(r)
        if r >= ROTATION_ROUND:
            continue  # landed after this rotation was computed
        d = json.load(open(f))
        for k in d.get("queries", d):
            if k.startswith("q_"):
                latest[k] = max(latest.get(k, 0), r)
    allk = set(registry.load_all())
    # the pinned blast radius heads the window (VERDICT r16 item 1) and
    # must consist of registered keys
    assert set(ROTATION_BLAST_HEAD) <= allk
    # mid-round additions queue at the VP tail and head the NEXT
    # rotation — they are never-checked too, but were not visible when
    # this window was computed
    never = sorted(
        allk - set(latest) - set(ROTATION_NEW_KEYS) - set(ROTATION_BLAST_HEAD)
    )
    by_round: dict[int, list] = {}
    for k, v in latest.items():
        if k in allk and k not in ROTATION_BLAST_HEAD:
            by_round.setdefault(v, []).append(k)
    # blast radius first, then never-checked, then cohorts oldest-round
    # first; stop at the first cohort that crosses the 50-key boundary —
    # its tail (sliced alphabetically) is the queue for the NEXT
    # rotation.
    expected = list(ROTATION_BLAST_HEAD) + list(never)
    for r in sorted(by_round):
        if len(expected) >= 50:
            break
        expected.extend(sorted(by_round[r]))
    policy_msg = (
        "driver verification window diverges from the stale-cohort "
        f"policy (rotated for round {ROTATION_ROUND}, computed from "
        f"artifacts < r{ROTATION_ROUND}; committed artifact rounds: "
        f"{sorted(seen_rounds)}). If a NEW CORRECTNESS artifact landed, "
        "re-rotate VERIFICATION_PRIORITY and bump ROTATION_ROUND in "
        "registry.py - scripts/round_close.py gates on this."
    )
    front = list(registry.load_all())[:50]
    assert front == expected[:50], policy_msg
    assert front == list(VERIFICATION_PRIORITY)[:50], policy_msg
    # positions 51+: the sliced cohort's remainder queues for the next
    # rotation (keys registered mid-round append behind it as they land)
    queue = list(VERIFICATION_PRIORITY)[50:]
    assert queue[: len(expected) - 50] == expected[50:], policy_msg
    # additions registered after the rotation sit at the very tail
    tail = queue[len(expected) - 50 :]
    assert tail == list(ROTATION_NEW_KEYS), policy_msg
    assert len(set(front)) == 50
    # keys the previous driver window greened must NOT occupy slots
    # (r16-greened picks; the blast-radius head legitimately re-checks
    # keys older windows greened, so the canaries must be outside it)
    for greened in ("q_agg_observe", "q_fn_url_parse", "q_ts_ewma"):
        assert greened not in front, policy_msg


def test_graph_family_docstring_in_sync():
    """VERDICT r10 item 5: the copurchase_edges docstring enumerates the
    graph kernels that share the edge memo; this assertion makes the
    enumeration (and its spelled-out count) structurally equal to
    graph.EDGES.consumers so the r9/r10 drift class cannot recur."""
    import re

    from sparkstreamingtohdfsofsensorsdata_spark.operators import graph

    doc = graph.copurchase_edges.__doc__
    m = re.search(r"graph kernels \(([^)]*?)\s*—", doc, re.S)
    assert m, "docstring lost its kernel enumeration"
    names = re.findall(r"[a-z][a-z-]+", m.group(1))
    assert {"q_graph_" + n.replace("-", "_") for n in names} == set(
        graph.EDGES.consumers
    )
    count_word = re.search(r"all (\w+) graph kernels", doc).group(1)
    words = {7: "seven", 8: "eight", 9: "nine", 10: "ten",
             11: "eleven", 12: "twelve"}
    assert count_word == words[len(graph.EDGES.consumers)]


@pytest.mark.parametrize("group", memo.GROUPS, ids=lambda g: g.name)
def test_memo_group_contract(spark, group):
    """The contract bench.py's payer attribution rests on, for every
    memo group: cold after a clear; ``build`` warms it (one part alone
    does not) and nothing declared after it; later calls of each part
    return the same object; warmth is fingerprint-exact; ``clear`` makes
    it cold and leaves every other group as it was, including the
    groups built on it (serving those warm is their own payer's
    business)."""
    groups = list(memo.GROUPS)
    later = groups[groups.index(group) + 1 :]
    for g in groups:
        g.clear(spark)
    try:
        assert not group.warm(spark, SF_A)
        if len(group.parts) > 1:
            group.parts[0](spark, SF_A)
            assert not group.warm(spark, SF_A)
        assert group.build(spark, SF_A) > 0
        assert group.warm(spark, SF_A)
        # the pair build leaves the labels cold, the edge build the
        # triangle table, ...
        assert not any(g.warm(spark, SF_A) for g in later)
        # a group's readers are a strict subset of the readers of every
        # group it is built from
        assert group.payer in group.consumers
        for g in groups:
            if g is not group and any(p.warm(spark, SF_A) for p in g.parts):
                assert set(group.consumers) < set(g.consumers), g.name
        for part in group.parts:
            assert part(spark, SF_A) is part(spark, SF_A)
        # another sf_dir is still cold although the memo dicts are not
        # empty (the stale-entry trap)
        assert not group.warm(spark, SF_B)
        for g in later:
            if set(g.consumers) <= set(group.consumers):
                g.build(spark, SF_A)
        others = [g for g in groups if g is not group]
        before = [g.warm(spark, SF_A) for g in others]
        group.clear(spark)
        assert not group.warm(spark, SF_A)
        assert [g.warm(spark, SF_A) for g in others] == before
    finally:
        for g in groups:
            g.clear(spark)


def test_memo_payers_are_the_keys_that_compute_them():
    assert {g.name: g.payer for g in memo.GROUPS} == {
        "graph_edges": "q_graph_degree",
        "tri_orient": "q_graph_triangles",
        "graph_cc": "q_graph_wcc",
        "pairs": "q_llm_simhash_banded",
        "labels": "q_llm_dedup_clusters",
        "ann_exact": "q_llm_sim_topk",
    }


def test_memo_consumers_are_every_reader(spark):
    """Derive the readers instead of trusting the lists: construct every
    key of the memo-owning modules against cold memos; every part that
    turned warm must belong to a group that lists the key — bench.py's
    in-loop safety net only covers listed consumers."""
    owners = {
        "sparkstreamingtohdfsofsensorsdata_spark." + m
        for m in ("operators.graph", "llm.dedup", "llm.similarity")
    }
    specs = [s for s in registry.load_all().values() if s.fn.__module__ in owners]
    assert len(specs) > 30
    unlisted = []
    try:
        for spec in specs:
            for g in memo.GROUPS:
                g.clear(spark)
            spec.fn(spark, SF_A)
            unlisted += [
                (spec.name, g.name)
                for g in memo.GROUPS
                if spec.name not in g.consumers
                and any(p.warm(spark, SF_A) for p in g.parts)
            ]
    finally:
        for g in memo.GROUPS:
            g.clear(spark)
    assert not unlisted


def test_survey_s2_is_one_to_one_with_registry():
    """VERDICT r15 item 6: SURVEY §2 is the coverage contract a judge
    diffs mechanically, so every registry key must own EXACTLY ONE §2
    table row (first cell = the backticked key) — no slash-families,
    no addendum-only keys, no orphan rows."""
    import re

    lines = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read().splitlines()
    s2s = next(i for i, l in enumerate(lines) if l.startswith("## §2"))
    s2e = next(i for i, l in enumerate(lines) if l.startswith("## §3"))
    first: dict[str, int] = {}
    multi = []
    for l in lines[s2s:s2e]:
        if not l.startswith("| "):
            continue
        cells = l.split("|")
        if len(cells) < 3:
            continue
        keys = set(re.findall(r"`(q_[a-z0-9_]+)`", cells[1]))
        if len(keys) > 1:
            multi.append(sorted(keys))
        for k in keys:
            first[k] = first.get(k, 0) + 1
    allk = set(registry.load_all())
    assert not multi, f"slash-family rows regressed: {multi}"
    assert sorted(allk - set(first)) == [], (
        "registry keys without a literal SURVEY §2 row: "
        f"{sorted(allk - set(first))} — add one row per key"
    )
    assert sorted(set(first) - allk) == [], (
        f"SURVEY §2 rows for unregistered keys: {sorted(set(first) - allk)}"
    )
    dups = {k: n for k, n in first.items() if n > 1}
    assert not dups, f"duplicate §2 rows: {dups}"
