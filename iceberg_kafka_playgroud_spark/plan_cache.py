"""Session-memo registry, and the prepared-plan layer built on it.

Every engine memo (both plan tiers below, each module's ``_*_MEMO``)
is a ``session_memo(kind, release)``; resets and dead-session sweeps
loop over the registry, so this module imports no operator.

Prepared plans: memoize built (lazy) DataFrames per session.

Building a DataFrame plan from Python is not free: every column
expression, join, and alias is a py4j round trip, and ``cache()`` /
``semanticHash()`` trigger JVM-side analysis of the whole tree.  For
the expression-heavy operators (MinHash families, SimHash banding,
the seeded global shuffle) the measured DRIVER-side build cost is
0.2–0.9 s per call at any scale factor — pure fixed overhead that
(a) dwarfs the sub-second execution of these queries at bench scale
and (b) inflates further when the driver host is loaded, because it
is hundreds of serialized py4j latencies (the r10 driver-bench drift
on exactly these queries).

``plan_memo`` gives an operator prepared-statement semantics: the
FIRST call per (session, sf, gate-constants) builds the plan; later
calls return the same DataFrame object.  Two distinct things are
saved on warm calls: (a) the py4j plan build is skipped for every
wrapped operator, and (b) where the builder itself owns a
``cache()``/``localCheckpoint()`` of a shared intermediate (MinHash
signatures, the oriented edge list, the near-dup pair graph), warm
actions read those materialized intermediates instead of recomputing
them — that is answer-fragment caching, not just plan caching, and
it is why bench reports a separate RECOMPUTE-warm column that calls
``clear_materializations(spark)`` between timed reps (block cache,
memos, and single-tier plans all dropped; durable-tier plans are
retained BY DESIGN — their re-armed caches repopulate from a full
re-execution — while cold runs add ``drop_prepared_plans=True`` to
pay plan construction too; the growth batteries use the same reset).
At 100 TB the saved plan-build work is the same fixed driver cost
(plan building does not scale with data); the cached intermediates
are doc-count-sized tables any production system would persist.

Two tiers (r15): ``plan_memo`` entries are dropped by
``clear_materializations`` (their plans may reference cleared
memos/checkpoints); ``durable_plan_memo`` entries survive it — pure
lazy trees whose only materialization points are ``cached()``
markers, re-armed on warm hits so recompute reps skip ONLY the py4j
tree build, never any data work (contract pinned by
``test_durable_plan_memo_contract`` and the eligibility tripwire in
``test_properties.py``).

Rules for wrapping an operator:

1. PURE PLAN BUILDERS ONLY.  The function must return a LAZY frame
   and perform no per-call work a caller could observe (no driver
   collect of results, no ``createDataFrame`` of computed rows, no
   streaming-query lifecycle, no sink writes).  Memoizing an eager
   operator would skip its work entirely — that is caching the
   answer, not the plan.  (BFS/LPA, the stream harnesses, and the
   REST paths therefore stay unwrapped.)
2. DECLARE EVERY MODULE CONSTANT THAT SHAPES THE PLAN.  The memo key
   includes the named globals read at call time, so a test that
   monkeypatches a broadcast budget or prune gate gets a fresh build
   (and the patched plan), never a stale hit.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "session_memo",
    "unpersist_frames",
    "plan_memo",
    "durable_plan_memo",
    "cached",
    "evict_dead_sessions",
    "clear",
    "clear_materializations",
]


class SessionMemo(dict):
    """An engine memo keyed by tuples whose FIRST element is the owning
    ``applicationId``.  ``"derived"`` memos (plans, models, the IVF
    index, pair graphs, edges, labels, checkpoints) are released and
    emptied by ``clear_materializations``; ``"retained"`` ones (lazy
    scan handles, staged artifacts whose re-write would leak a copy
    per rep, durable plans) survive it.  ``release(value)`` frees what
    one entry holds.  The first write after a session change sweeps
    every registered memo of the stopped sessions' entries."""

    _swept_for: SparkContext | None = None

    def __init__(self, kind: str, release: Callable | None = None):
        if kind not in ("derived", "retained"):
            raise ValueError(f"unknown memo kind {kind!r}")
        super().__init__()
        self.kind = kind
        self.release = release

    def __setitem__(self, key, value) -> None:
        sc = SparkContext._active_spark_context
        if sc is not SessionMemo._swept_for:
            SessionMemo._swept_for = sc
            evict_dead_sessions()
        super().__setitem__(key, value)

    def drop(self) -> None:
        """Release every entry, then forget them all (callers evict
        dead sessions first: a stopped JVM has nothing to free)."""
        if self.release is not None:
            for value in list(self.values()):
                self.release(value)
        self.clear()

    def by_plan(self, df: DataFrame, build: Callable[[], object]):
        """``build()`` memoized per (session, logical plan of ``df``):
        (applicationId, semanticHash) buckets of ``(frame, value)``,
        scanned with ``sameSemantics`` so a hash collision never serves
        the wrong value nor overwrites (orphans) the first one."""
        key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
        bucket = self.get(key)
        if bucket is None:
            bucket = self[key] = []
        for prev, value in bucket:
            if df.sameSemantics(prev):
                return value
        value = build()
        bucket.append((df, value))
        return value


# every SessionMemo, in import order: THE memo inventory
_REGISTRY: list[SessionMemo] = []


def session_memo(kind: str, release: Callable | None = None) -> SessionMemo:
    """Create an engine memo at module level; it joins the registry
    when its module is imported."""
    memo = SessionMemo(kind, release)
    _REGISTRY.append(memo)
    return memo


def unpersist_frames(value) -> None:
    """``release`` for a cached frame or a tuple holding some."""
    for v in value if isinstance(value, (tuple, list)) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist()


# (applicationId, sf, qualname, gate-values...) → DataFrame
_PLAN_CACHE = session_memo("derived")

# second tier (r14 verdict #4): prepared plans that SURVIVE
# ``clear_materializations`` — the recompute-warm reset.  Eligible
# builders are pure lazy trees over source parquet whose ONLY
# materialization points are ``cache()`` markers on intermediates,
# registered via ``cached()`` so a warm hit can re-arm them after
# ``spark.catalog.clearCache()`` dropped their registrations.  This
# stays recompute-honest: retaining the DataFrame object retains the
# ANALYZED EXPRESSION TREE only (0.2-0.9 s of py4j round trips to
# rebuild — a fixed driver cost, the prepared-statement role); no
# result blocks survive the reset, so the next action re-executes the
# full distributed dataflow and re-populates the re-armed caches from
# scratch.  Builders embedding a localCheckpoint or any other eager
# materialization are NOT eligible (a retained plan over released
# checkpoint blocks is both dishonest and broken).  ``clear()`` (the
# full reset used by cold-path measurements) drops this tier too.
# value: (DataFrame, cache handles in build = dependency order)
_DURABLE_PLAN_CACHE = session_memo(
    "retained", release=lambda entry: unpersist_frames(entry[1])
)

# collector active during a durable build (nesting-safe via
# save/restore in the decorator; thread-local so a concurrent build —
# e.g. a streaming micro-batch thread calling a helper that uses
# cached() — can never attribute handles to another thread's entry)
import threading as _threading

_TLS = _threading.local()

# every durable_plan_memo-decorated builder, for the eligibility
# tripwire test (no localCheckpoint / collect / sink in their source)
_DURABLE_BUILDERS: list[Callable] = []


def cached(df: DataFrame) -> DataFrame:
    """``df.cache()`` that also registers the handle with an enclosing
    ``durable_plan_memo`` build for re-arming (plain cache otherwise).
    """
    df = df.cache()
    collect = getattr(_TLS, "collect", None)
    if collect is not None:
        collect.append(df)
    return df


def _fresh_view(df: DataFrame) -> DataFrame:
    """A new Dataset (hence a new JVM QueryExecution) over the same
    analyzed tree.  A Dataset freezes its execution plan on first
    action — cache substitutions and the scan's file-listing snapshot
    included — so handing the RETAINED object to a caller would let a
    direct re-collect serve that frozen plan after a reset instead of
    re-resolving against the CURRENT cache registrations (measured:
    stale result on a mutated source; pinned by
    ``test_durable_plan_not_frozen_across_reset``).  One py4j call +
    a JVM-side re-analysis per hand-out — negligible next to the
    hundreds of py4j round trips the retained tree saves."""
    return df.select("*")


def evict_dead_sessions(memo: dict | None = None) -> int:
    """Drop the entries owned by stopped sessions from ``memo``, or
    from every registered memo when it is None; returns how many.

    PySpark allows exactly ONE active SparkContext per process, so
    every appId other than the live one is provably dead; a long-lived
    process that creates several sessions (test runners, notebook
    restarts) would otherwise accumulate py4j handles to stopped JVMs.
    Evicted entries are not released: a stopped JVM has nothing to
    free, and temp dirs are reclaimed at exit.
    """
    sc = SparkContext._active_spark_context
    live = None
    if sc is not None and getattr(sc, "_jsc", None) is not None:
        live = sc.applicationId
    n = 0
    for m in _REGISTRY if memo is None else (memo,):
        for k in [k for k in list(m) if k[0] != live]:
            dict.pop(m, k, None)
            n += 1
    return n


def clear() -> None:
    """Drop every prepared plan, BOTH tiers (cold-path measurements
    use this so they cannot hit a warm plan)."""
    evict_dead_sessions()
    _PLAN_CACHE.drop()
    _DURABLE_PLAN_CACHE.drop()


def clear_materializations(
    spark: SparkSession | None = None, drop_prepared_plans: bool = False
) -> None:
    """Release and empty every ``"derived"`` registry memo and — when a
    session is passed — drop the whole Spark block cache.

    This is the shared cold-path reset used by BOTH the growth
    batteries and bench.py's RECOMPUTE-warm column: after calling it,
    the next action on any operator re-executes the full distributed
    dataflow (a memo or cache hit is corpus-size-insensitive, so any
    measurement claiming to scale must start from here).
    ``drop_prepared_plans=True`` also drops the durable plan tier, for
    cold-path measurements that must pay plan construction.
    """
    if spark is not None:
        spark.catalog.clearCache()
    evict_dead_sessions()
    for memo in _REGISTRY:
        if memo.kind == "derived":
            memo.drop()
    if drop_prepared_plans:
        clear()


def _memo_key(
    fn: Callable, gate_names: tuple, spark: SparkSession, sf: str
) -> tuple:
    """ONE key recipe for both plan-cache tiers: (applicationId, sf,
    qualname, gate values looked up in the builder's module at CALL
    time).  Kept single-sourced so a schema change can never split
    the tiers' keyspaces."""
    gates = tuple(fn.__globals__[g] for g in gate_names)
    return (
        spark.sparkContext.applicationId,
        sf.rstrip("/"),
        fn.__qualname__,
        gates,
    )


def plan_memo(*gate_names: str) -> Callable:
    """Decorator for ``fn(spark, sf) -> DataFrame`` pure plan builders.

    ``gate_names`` are module-global constants (looked up in the
    function's own module at CALL time) that alter the built plan —
    broadcast budgets, prune gates, iteration counts.  Their current
    values are part of the memo key.
    """

    def deco(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf: str) -> DataFrame:
            key = _memo_key(fn, gate_names, spark, sf)
            hit = _PLAN_CACHE.get(key)
            if hit is not None:
                return hit
            df = fn(spark, sf)
            _PLAN_CACHE[key] = df
            return df

        wrapped.__wrapped__ = fn
        return wrapped

    return deco


def durable_plan_memo(*gate_names: str) -> Callable:
    """``plan_memo`` whose prepared plan survives
    ``clear_materializations`` (see ``_DURABLE_PLAN_CACHE``).

    Eligibility is STRICTER than ``plan_memo``: the builder must be a
    pure lazy tree over source parquet whose only materialization
    points are ``cached()`` markers (never ``localCheckpoint`` /
    ``createDataFrame`` of computed rows / sink writes).  Eager
    plan-SHAPING statistics (e.g. a candidate count that gates a
    broadcast hint) are permitted and run once per (session, sf,
    gates) — that is query-planner work a production engine reads
    from table stats, not answer computation.

    On a warm hit after ``spark.catalog.clearCache()``, every
    registered cache handle whose registration was dropped is
    re-armed in build (= dependency) order, so within-rep cache reuse
    matches a fresh build while the next action still re-executes the
    full dataflow to populate them.
    """

    def deco(fn: Callable) -> Callable:
        _DURABLE_BUILDERS.append(fn)

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf: str) -> DataFrame:
            key = _memo_key(fn, gate_names, spark, sf)
            hit = _DURABLE_PLAN_CACHE.get(key)
            if hit is not None:
                df, handles = hit
                for h in handles:
                    lvl = h.storageLevel
                    if not (lvl.useMemory or lvl.useDisk):
                        h.cache()
                return _fresh_view(df)
            prev = getattr(_TLS, "collect", None)
            _TLS.collect = []
            try:
                df = fn(spark, sf)
                handles = tuple(_TLS.collect)
            except BaseException:
                # a builder raising mid-build would otherwise orphan
                # the cache registrations it made before failing (the
                # entry is never stored, so nothing would ever re-arm
                # or drop them)
                unpersist_frames(_TLS.collect)
                raise
            finally:
                _TLS.collect = prev
            _DURABLE_PLAN_CACHE[key] = (df, handles)
            # the build call hands out a fresh view too, so every
            # consumer sees the identical plan shape (semanticHash-
            # keyed memos stay consistent across build and hit calls)
            return _fresh_view(df)

        wrapped.__wrapped__ = fn
        return wrapped

    return deco
