"""Session-memo registry, and the memoized-builder layer built on it.

Every engine memo (each ``memoized`` function's ``.memo``, each
module's ``_*_MEMO``) is a ``session_memo(kind, release)``; resets
and dead-session sweeps loop over the registry, so this module
imports no operator.

Prepared plans and session artifacts: ``memoized(kind, release)``.

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

``memoized`` gives a builder ``fn(spark, *args)`` built-once-per-session
semantics — a table handle, a trained model, a staged file, a
prepared operator plan: the FIRST call per key builds; later calls
return the same object.  Two distinct things are saved on warm
calls: (a) the py4j plan build is skipped for every wrapped operator,
and (b) where the builder itself owns a ``cached()`` intermediate
(MinHash signatures, the candidate pairs, the near-dup pair graph),
warm actions read those materialized intermediates instead of
recomputing them — that is answer-fragment caching, not just plan
caching, and it is why bench reports a separate RECOMPUTE-warm column
that calls ``clear_materializations(spark)`` between timed reps: the
block cache, every derived memo and every prepared plan are dropped,
so a rep rebuilds its plan and re-executes the full dataflow, the
same work DuckDB pays per run (the growth batteries use the same
reset).  At 100 TB the saved plan-build work is the same fixed driver
cost (plan building does not scale with data); the cached
intermediates are doc-count-sized tables any production system would
persist.

A build's ``cached()`` intermediates are owned by its entry: dropping
the entry — with or without a session — unpersists them, and a build
that raises unpersists the ones it registered before failing.  A frame
cached outside any build is owned by one ``"derived"`` memo keyed by
its logical plan, so every reset releases it too.

Two memo mechanisms, one per kind of input:

- ``memoized`` when the artifact is a function of the call's arguments
  and the module's constants (tables, models, staged files, plans);
- ``SessionMemo.by_plan`` when it is a function of a DataFrame the
  caller passes in (labels of a pair graph, checkpoints, counts of a
  candidate frame, a staged copy of a given frame).

Rules for wrapping a function:

1. PURE PLAN BUILDERS ONLY (for operators).  An operator must return
   a LAZY frame and perform no per-call work a caller could observe
   (no driver collect of results, no ``createDataFrame`` of computed
   rows, no streaming-query lifecycle, no sink writes).  Memoizing an
   eager operator would skip its work entirely — that is caching the
   answer, not the plan.  (BFS/LPA, the stream harnesses, and the
   REST paths therefore stay unwrapped; their once-a-session inputs
   are memoized helpers.)
2. THE KEY IS ``(applicationId, *args, constants)``.  String args drop
   a trailing ``/``; ``constants`` is every upper-case global of the
   function's module whose value is an int, float, str, bytes, bool,
   tuple, frozenset or None, read at call time — so a test that
   monkeypatches a broadcast budget, prune gate or training constant
   gets a fresh build, never a stale hit, and no one keeps a list of
   the constants a memo depends on.  Upper-case module globals must
   therefore stay constant at run time.
3. CACHE INTERMEDIATES WITH ``cached()``, never a bare ``.cache()``,
   so a reset can release them: inside a build the entry owns them,
   outside one the session's cached-frame memo does.  Never
   ``cached()`` a per-micro-batch frame — each batch is a new plan, so
   the memo would grow once per batch.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "session_memo",
    "unpersist_frames",
    "memoized",
    "cached",
    "evict_dead_sessions",
    "clear_materializations",
]


class SessionMemo(dict):
    """An engine memo keyed by tuples whose FIRST element is the owning
    ``applicationId``.  ``"derived"`` memos (plans, models, the IVF
    index, pair graphs, edges, labels, checkpoints) are released and
    emptied by ``clear_materializations``; ``"retained"`` ones (lazy
    scan handles, staged artifacts whose re-write would leak a copy
    per rep, candidate counts) survive it.  ``release(value)`` frees
    what one entry holds.  The first write after a session change
    sweeps every registered memo of the stopped sessions' entries."""

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


# collector active during a memoized build (nesting-safe via
# save/restore in the decorator; thread-local so a concurrent build —
# e.g. a streaming micro-batch thread calling a helper that uses
# cached() — can never attribute handles to another thread's entry)
_TLS = threading.local()


def _unpersist_bucket(bucket: list) -> None:
    """``release`` for ``_CACHED_FRAMES``' ``by_plan`` buckets."""
    unpersist_frames([frame for _, frame in bucket])


# frames ``cached()`` outside any memoized build, per (session, logical
# plan) — ``by_plan`` buckets, so a repeat call returns the frame
# already cached instead of registering a second handle
_CACHED_FRAMES = session_memo("derived", release=_unpersist_bucket)


def cached(df: DataFrame) -> DataFrame:
    """``df.cache()`` with an owner that a reset releases: an enclosing
    ``memoized`` build's entry, or outside a build ``_CACHED_FRAMES``
    (which may return an earlier frame of the same plan — use the
    return value, by column name)."""
    collect = getattr(_TLS, "collect", None)
    if collect is None:
        return _CACHED_FRAMES.by_plan(df, df.cache)
    df = df.cache()
    collect.append(df)
    return df


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


def clear_materializations(spark: SparkSession | None = None) -> None:
    """Release and empty every ``"derived"`` registry memo — prepared
    plans included — and, when a session is passed, drop the whole
    Spark block cache.

    This is the shared cold-path reset used by BOTH the growth
    batteries and bench.py's cold and RECOMPUTE-warm columns: after
    calling it, the next call of any operator rebuilds its plan and
    the next action re-executes the full distributed dataflow (a memo
    or cache hit is corpus-size-insensitive, so any measurement
    claiming to scale must start from here).
    """
    if spark is not None:
        spark.catalog.clearCache()
    evict_dead_sessions()
    for memo in _REGISTRY:
        if memo.kind == "derived":
            memo.drop()


# the value types a module constant may have to join a memo key
_CONSTANT_TYPES = (int, float, str, bytes, bool, tuple, frozenset, type(None))


def _constants(module_globals: dict) -> tuple:
    """``(name, value)`` of every upper-case global of a module whose
    value is a plain constant — the part of a ``memoized`` key no one
    lists by hand."""
    return tuple(
        (name, v)
        for name, v in module_globals.items()
        if name.isupper() and isinstance(v, _CONSTANT_TYPES)
    )


def memoized(kind: str, release: Callable | None = None) -> Callable:
    """Decorator for a session artifact ``fn(spark, *args)``: built
    once per ``(applicationId, *args, constants)`` (module rule 2),
    stored in its own registry memo ``fn.memo`` as ``(value, handles)``.

    ``handles`` are the frames the build ``cached()``: dropping the
    entry calls ``release(value)`` (when given) and unpersists them,
    and a build that raises unpersists them at once.
    """

    def deco(fn: Callable) -> Callable:
        def drop(entry) -> None:
            value, handles = entry
            if release is not None:
                release(value)
            unpersist_frames(handles)

        memo = session_memo(kind, release=drop)

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, *args):
            key = (
                spark.sparkContext.applicationId,
                *(a.rstrip("/") if isinstance(a, str) else a for a in args),
                _constants(fn.__globals__),
            )
            hit = memo.get(key)
            if hit is not None:
                return hit[0]
            prev = getattr(_TLS, "collect", None)
            _TLS.collect = []
            try:
                value = fn(spark, *args)
                handles = tuple(_TLS.collect)
            except BaseException:
                # the entry is never stored, so nothing would ever
                # release what the build cached before failing
                unpersist_frames(_TLS.collect)
                raise
            finally:
                _TLS.collect = prev
            memo[key] = (value, handles)
            return value

        wrapped.memo = memo
        return wrapped

    return deco
