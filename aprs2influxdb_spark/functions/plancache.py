"""The engine's two driver caches, one per scope.  Both hold values
derived once from IMMUTABLE inputs — plan handles, expression trees and
the knobs that parameterize plans (a count, a fit, a merge list).
Query results are never memoized: every action still scans its inputs.

:func:`table_plan` caches the unresolved DataFrame PLAN handle per
(session, key) — each ``spark.read.parquet`` costs ~85 ms of driver
py4j/footer round trips, and the bench's ~160 builders issue ~480 of
them per run for identical immutable inputs.  Keyed in ``spark.__dict__``
on the session OBJECT, so a new session can never see a stale handle.
A cached handle pins Spark's resolved schema and file listing at first
read, so a store REBUILT under the same path within the session must
call :func:`invalidate_path` before writing — the ensure_* writers do
this in their cold-build branch (ADVICE r11 medium).

:func:`memo` caches everything else the driver derives once: unresolved
Column trees (the serializer's ~50 field expressions and 9-way CASE,
the MinHash/banding trees), corpus counts (:func:`corpus_count`), the
PCA fit and the learned BPE merges.  A Column resolves against column
names afresh in every plan it joins, and none of these values holds a
plan, so each is valid in any session of its JVM.  Entries are keyed
on the ``SparkContext``, not the session: ``foreachBatch`` hands each
micro-batch a NEW Python ``SparkSession`` wrapper
(``ForeachBatchFunction.call``), so a session-keyed memo would miss on
every batch and repeat the serializer's ~17,000 py4j calls per
trigger.  All those wrappers share the context, and a restarted JVM
comes with a new context, so no entry outlives its JVM.

Contract: a memo key names everything its value depends on, and the
inputs it names are immutable.  A count or a fit keyed on
``semanticHash`` assumes the files under that plan do not change while
the JVM lives (true for the testdata tables and any immutable-snapshot
curation pipeline).  BPE's data-aware key is the exception: it also
carries each input file's (mtime_ns, size), so a file rewritten in
place misses instead of serving stale merges.
"""

from __future__ import annotations

import threading
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_CACHE_ATTR = "_aprs2_table_plan_cache"
_MEMO_ATTR = "_aprs2_memo"
_MEMO_LOCK = threading.Lock()

T = TypeVar("T")


def table_plan(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the cached lazy handle for ``key``, building (and
    caching) it with ``build()`` on first use."""
    cache = spark.__dict__.setdefault(_CACHE_ATTR, {})
    df = cache.get(key)
    if df is None:
        df = build()
        cache[key] = df
    return df


def memo(spark: SparkSession, key: tuple | None, build: Callable[[], T]) -> T:
    """Return what ``build()`` made for ``key`` in this SparkContext,
    building it on first use; a ``None`` key builds without memoizing.
    Builds run one at a time: a thread that misses while another builds
    (a stream's batch thread and a driver thread) waits for that build
    instead of repeating it beside it.  No build calls ``memo`` in
    turn, so the one lock cannot deadlock."""
    if key is None:
        return build()
    cache = spark.sparkContext.__dict__.setdefault(_MEMO_ATTR, {})
    if key not in cache:
        with _MEMO_LOCK:
            if key not in cache:
                cache[key] = build()
    return cache[key]


def corpus_count(df: DataFrame, n: int | None = None) -> int:
    """``df.count()``, run once per logical plan per SparkContext —
    the scale-derived knobs (``srp_planes_for``, ``ivf_centroids_for``,
    ``pack_shards_for``) of a composed pipeline share one count job
    even when each stage re-reads the corpus.  ``semanticHash`` covers
    the whole analyzed plan, so two filtered views never share a count;
    a plan it cannot hash counts uncached.  An explicit ``n`` (a driver
    that already knows the corpus size) runs no job at all."""
    if n is not None:
        return int(n)
    try:
        key = ("count", df.semanticHash())
    except Exception:
        key = None
    return memo(df.sparkSession, key, df.count)


def invalidate_path(spark: SparkSession, path: str) -> None:
    """Drop every cached handle whose key mentions ``path`` — called by
    store writers that are about to (re)build files there, so later
    reads re-resolve schema and file listing instead of reading through
    a stale pre-build plan."""
    cache = spark.__dict__.get(_CACHE_ATTR)
    if not cache:
        return
    stale = [k for k in cache if any(p == path for p in k if isinstance(p, str))]
    for k in stale:
        del cache[k]
