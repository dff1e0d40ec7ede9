"""Session memos: intermediates several registry keys share, built once
per (live session, fixture) and reused by every later reader.

Two pieces:

- ``session_memo(attr)`` turns a ``builder(spark, sf_dir)`` into its
  memoized form. The cache is a dict on the session object (it dies
  with the session that owns the checkpoint blocks, never a module
  global), keyed by ``memo_key`` (path, file fingerprint) so an
  in-place fixture rewrite under the same path misses instead of
  serving a stale handle (ADVICE r5). A miss first drops superseded
  entries for the same path: otherwise every rewrite would leak one
  more materialized handle for the session's lifetime (review r6).
  Dropping the reference is enough; the ContextCleaner releases
  localCheckpoint blocks once the DataFrame is garbage-collected.
  The memoized builder carries ``warm(spark, sf_dir)`` and
  ``clear(spark)``.
- ``Memo`` declares a group of memoized builders that one registry key
  pays for. bench.py charges the group's build to ``payer`` so per-key
  numbers do not depend on which ``consumers`` key runs first.
  ``GROUPS`` lists every group in build order: a group's build may read
  groups earlier in the list, never later ones.
"""

from __future__ import annotations

import functools
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from .tables import _dir_fingerprint


def memo_key(sf_dir: str) -> tuple:
    """(path, file fingerprint): the key of every session memo and of
    ``tables.register_views``. Warmth probes use exactly this key, so a
    stale-fingerprint entry never reads as warm."""
    return (os.path.abspath(sf_dir), _dir_fingerprint(sf_dir))


def session_memo(attr: str) -> Callable:
    """Memoize ``builder(spark, sf_dir)`` in the dict ``spark.<attr>``."""

    def decorate(builder: Callable) -> Callable:
        @functools.wraps(builder)
        def memoized(spark, sf_dir: str):
            cache = getattr(spark, attr, None)
            if cache is None:
                cache = {}
                setattr(spark, attr, cache)
            key = memo_key(sf_dir)
            if key not in cache:
                for stale in [k for k in cache if k[0] == key[0]]:
                    del cache[stale]
                cache[key] = builder(spark, sf_dir)
            return cache[key]

        memoized.warm = lambda spark, sf_dir: memo_key(sf_dir) in getattr(
            spark, attr, {}
        )
        memoized.clear = lambda spark: getattr(spark, attr, {}).clear()
        return memoized

    return decorate


@dataclass(frozen=True)
class Memo:
    """One payer-charged group of session memos.

    ``parts`` define the group: it is warm when every part is, and
    ``clear`` drops every part. ``force`` are the parts whose noop write
    materializes the whole group. ``consumers`` are the registry keys
    that read any part (the payer among them)."""

    name: str
    parts: tuple
    force: tuple
    payer: str
    consumers: tuple

    def warm(self, spark, sf_dir: str) -> bool:
        return all(part.warm(spark, sf_dir) for part in self.parts)

    def clear(self, spark) -> None:
        for part in self.parts:
            part.clear(spark)

    def build(self, spark, sf_dir: str) -> float:
        """Materialize the group now; return the wall-clock seconds."""
        start = time.perf_counter()
        for part in self.force:
            part(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start


def __getattr__(name: str):
    # GROUPS is resolved on first use: the groups are declared next to
    # their builders, and those modules import this one.
    if name != "GROUPS":
        raise AttributeError(name)
    from .llm import dedup, similarity
    from .operators import graph

    return (
        graph.EDGES,
        graph.TRIANGLES,
        graph.CC,
        dedup.PAIRS,
        dedup.LABELS,
        similarity.EXACT_TOPK,
    )
