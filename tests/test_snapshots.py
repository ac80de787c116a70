"""Snapshot log / time travel / compaction invariants."""

import os

import pytest
from pyspark.sql import functions as F

from iceberg_kafka_playgroud_spark import snapshots as S


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("timestamp", "user_id", "amount").collect()
    )


def test_append_commits_preserve_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = S._fabric_slice(spark, 0, 100)
    b = S._fabric_slice(spark, 100, 250)
    S.commit_append(spark, t, a)
    S.commit_append(spark, t, b)
    # snapshot 1 still reads exactly the first append after snapshot 2
    assert _rows(S.read_snapshot(spark, t, 1)) == _rows(a)
    assert _rows(S.read_snapshot(spark, t, 2)) == _rows(a.unionAll(b))
    meta = {r["snapshot_id"]: r for r in S.snapshots_df(spark, t).collect()}
    assert meta[2]["parent_id"] == 1 and meta[1]["parent_id"] is None
    assert meta[2]["total_records"] == 250


def test_compaction_rewrites_files_not_content(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.commit_append(spark, t, S._fabric_slice(spark, 0, 100))
    S.commit_append(spark, t, S._fabric_slice(spark, 100, 200))
    before = _rows(S.read_snapshot(spark, t))
    n_files_before = S.files_df(spark, t).count()
    sid = S.rewrite_data_files(spark, t)
    after = _rows(S.read_snapshot(spark, t, sid))
    assert after == before  # logical content identical
    assert S.files_df(spark, t).count() == S.N_BUCKETS < n_files_before
    op = {r["snapshot_id"]: r["operation"] for r in S.snapshots_df(spark, t).collect()}
    assert op[sid] == "replace"


def test_expire_drops_history_keeps_current(spark, tmp_path):
    t = str(tmp_path / "tbl")
    S.commit_append(spark, t, S._fabric_slice(spark, 0, 100))
    S.commit_append(spark, t, S._fabric_slice(spark, 100, 200))
    S.rewrite_data_files(spark, t)
    before = _rows(S.read_snapshot(spark, t))
    stats = S.expire_snapshots(spark, t, keep_last=1)
    assert stats["expired_snapshots"] == 2
    # current snapshot unaffected; history unreachable
    assert _rows(S.read_snapshot(spark, t)) == before
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        S.load_manifest(t, 1)


def test_incremental_read_is_append_diff(spark, tmp_path):
    t = str(tmp_path / "tbl")
    a = S._fabric_slice(spark, 0, 100)
    b = S._fabric_slice(spark, 100, 250)
    S.commit_append(spark, t, a)
    S.commit_append(spark, t, b)
    inc = S.read_incremental(spark, t, 1, 2)
    assert _rows(inc) == _rows(b)
    # empty window → empty frame with the right schema
    assert S.read_incremental(spark, t, 2, 2).count() == 0


def test_delete_all_rows_leaves_readable_empty_table(spark):
    """A predicate matching every row must leave an EMPTY current
    snapshot, not an unreadable one (the manifest records the schema
    so a file-less snapshot reconstructs an empty frame)."""
    from pyspark.sql import functions as F

    from iceberg_kafka_playgroud_spark import snapshots as sn

    td = sn._build_demo_table(spark)
    sn.delete_where(spark, td, F.lit(True))
    df = sn.read_snapshot(spark, td)
    assert df.count() == 0
    assert "user_id" in df.columns


def test_rollback_preserves_history_and_moves_pointer(spark):
    """rollback_to commits a NEW snapshot (history intact) whose state
    equals the target's; a later append builds on the rolled-back
    state, not the abandoned tip."""
    from iceberg_kafka_playgroud_spark import snapshots as sn

    td = sn._build_demo_table(spark)  # snapshots 1-3 appends, 4 replace
    rb = sn.rollback_to(td, 2)
    assert rb == 5  # new commit, nothing overwritten
    ops = {
        r["snapshot_id"]: r["operation"]
        for r in sn.snapshots_df(spark, td).collect()
    }
    assert ops[4] == "replace" and ops[5] == "rollback"
    assert sn.read_snapshot(spark, td, 5).count() == sn.read_snapshot(
        spark, td, 2
    ).count()
    # divergent append on the rolled-back state
    sn.commit_append(spark, td, sn._fabric_slice(spark, 1200, 1300))
    assert (
        sn.read_snapshot(spark, td, 6).count()
        == sn.read_snapshot(spark, td, 2).count() + 100
    )


def _mor_table(spark, t):
    """200 fabric rows, then an equality delete of id % 10 == 0: 180 live."""
    S.commit_append(spark, t, S._fabric_slice(spark, 0, 200))
    idx = ((F.col("timestamp") - 1740787200000) / 5000).cast("long")
    keys = S._fabric_slice(spark, 0, 200).where(idx % 10 == 0)
    S.commit_equality_delete(spark, t, keys.select("timestamp"), ["timestamp"])
    assert S.read_snapshot(spark, t).count() == 180


def _append_then_rollback(spark, t):
    S.commit_append(spark, t, S._fabric_slice(spark, 200, 300))
    return S.rollback_to(t, 2)


@pytest.mark.parametrize(
    "commit, live",
    [
        (S.rewrite_data_files, 180),
        (lambda spark, t: S.delete_where(spark, t, F.col("user_id") == "user_1"), 179),
        # ids 195-199 are live and replaced, 200-204 are inserted
        (
            lambda spark, t: S.merge_upsert(
                spark, t, S._fabric_slice(spark, 195, 205), "timestamp"
            ),
            185,
        ),
        (_append_then_rollback, 180),
    ],
    ids=["compaction", "cow_delete", "merge", "rollback"],
)
def test_commits_keep_equality_deletes(spark, tmp_path, commit, live):
    """Every commit on a merge-on-read table keeps the deleted rows
    deleted: rewrites read live rows, rollback restores the target's
    delete files."""
    t = str(tmp_path / "tbl")
    _mor_table(spark, t)
    sid = commit(spark, t)
    assert S.read_snapshot(spark, t, sid).count() == live


def test_expire_keeps_live_delete_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _mor_table(spark, t)
    S.expire_snapshots(spark, t, keep_last=1)
    (delete_file,) = S.load_manifest(t, 2)["delete_files"]
    assert os.path.exists(os.path.join(t, S.DATA_DIR, delete_file["path"]))
    assert S.read_snapshot(spark, t).count() == 180
