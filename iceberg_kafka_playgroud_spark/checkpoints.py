"""Local-checkpoint lifecycle management.

``DataFrame.localCheckpoint`` materializes the frame into
block-manager storage (a persisted internal RDD) and truncates
lineage.  Two properties make the raw API leak-prone:

1. ``DataFrame.unpersist()`` does NOT free a checkpoint: it only
   clears the CacheManager entry, and a checkpointed frame never had
   one.  The materialized RDD stays in ``getPersistentRDDs`` for the
   life of the session.  Measured consequence (round 8): ONE leaked
   LPA round's blocks degraded every later query in the session
   (q5 warm 1.0 s → 7.6 s).
2. Checkpoints are INSTANCE-keyed, not plan-keyed (unlike
   ``cache()``): calling an operator twice checkpoints twice, so
   best-of-N benching or any repeated invocation stacks N full
   copies of the frame in the block manager.

``release_local_checkpoint`` fixes (1): the checkpointed frame's
analyzed plan is exactly the ``LogicalRDD`` wrapping the persisted
RDD, so unpersisting THAT RDD frees the blocks.  Only call it when
no consumer will scan the frame again — lineage was truncated, so
the data is unrecoverable afterwards.

``memo_local_checkpoint`` fixes (2): one checkpoint per
(SparkSession, logical plan), the same session-keyed memo discipline
as ``schema.load_table`` — repeated calls reuse the single
materialized copy instead of stacking new ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .plan_cache import session_memo

__all__ = [
    "release_local_checkpoint",
    "release_checkpoint_bucket",
    "memo_local_checkpoint",
]


_PROBE_WARNED = False


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the block-manager storage held by a localCheckpoint'ed
    frame (see module docstring: ``df.unpersist()`` alone cannot).

    Safe no-op on frames that are not checkpoints (their analyzed
    plan is not a ``LogicalRDD``).
    """
    global _PROBE_WARNED
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception as exc:
        # never let storage cleanup break the query path (e.g. a
        # future Connect-only session without _jdf) — the leak is a
        # degradation, not a correctness failure.  But degradation
        # must not be SILENT (a Spark that renames LogicalRDD/rdd()
        # would re-open the exact r8 leak this module prevents), so
        # the first failure warns once per process.
        if not _PROBE_WARNED:
            _PROBE_WARNED = True
            import warnings

            warnings.warn(
                "release_local_checkpoint: JVM plan probe failed "
                f"({type(exc).__name__}: {exc}); checkpoint blocks may "
                "leak — storage release degraded to bare unpersist()",
                RuntimeWarning,
                stacklevel=2,
            )
    df.unpersist()


def release_checkpoint_bucket(bucket: list) -> None:
    """``release`` for ``SessionMemo.by_plan`` memos whose values are
    checkpoints: free each one (the keying frames are not owned)."""
    for _, ck in bucket:
        release_local_checkpoint(ck)


# (applicationId, semanticHash) → [(original frame, its checkpoint)]
# (``SessionMemo.by_plan`` buckets) — returning an unmemoized per-call
# checkpoint on a hash collision would leak it, since callers treat
# every return as memo-owned and never release it themselves.
_CKPT_MEMO = session_memo("derived", release=release_checkpoint_bucket)


def memo_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` with one materialization per
    (session, logical plan).

    Use for checkpoints that the RETURNED plan of an operator keeps
    referencing (pinned range partitionings, loop-free derived
    frames): they cannot be released before the caller consumes the
    result, so without the memo every invocation would leak a fresh
    full copy into block-manager storage.  The memo bounds the
    session's footprint to one entry per distinct plan — exactly the
    plan-keyed semantics ``cache()`` has natively — while keeping
    localCheckpoint's lineage cut.  Loop intermediates (BFS levels,
    LPA rounds) should NOT go through the memo: they are dead once
    the loop advances and must be released instead.
    """
    return _CKPT_MEMO.by_plan(df, lambda: df.localCheckpoint(eager=eager))
