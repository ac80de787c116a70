"""Snapshot log, time travel, and compaction (SURVEY §2.4/§2.8).

The reference's center of gravity is a real Iceberg table: format-v2
snapshot commits every 5 s (connector-config.json:24-27), snapshot and
file metadata inspection (pyiceberg_rest_server.py:129-171,
init-scripts/init-iceberg-catalog.sql:10-38). The iceberg-spark-runtime
jar is not in this container, so the same CAPABILITIES are provided by
a minimal manifest-per-commit layer over parquet, following the public
Iceberg spec's shape:

- a **snapshot** is an immutable JSON manifest ``_snapshots/v{sid}.json``
  listing every live data file (with per-file record counts, the
  file-level stats Iceberg keeps in manifests) and every live
  equality-delete file;
- **one commit path**: every operation writes its files under
  ``data/s{sid}`` (deletes under ``data/s{sid}-del``), builds its
  manifest with ``_manifest`` (snapshot id, parent, ``added_files`` and
  ``total_records`` derived there, from the one parent manifest the
  commit loaded) and publishes it with ``_publish`` — a temp file
  renamed over ``v{sid}.json``, so a reader sees the whole manifest or
  none of it;
- **one read path**: ``read_snapshot`` opens exactly the manifest's
  files and anti-joins the equality deletes under Iceberg's sequence
  rule (a delete drops a row only if the row's file is older). The
  sequence number is the ``s{sid}`` segment of each file's path; with
  no delete files the plan is a bare parquet scan;
- **appends** carry the parent's data and delete files; **rollback**
  re-publishes the target's; **rewrites** (compaction, COW delete,
  MERGE, sort clustering — ``_rewrite``) read the live rows and list
  only their new files, so the deletes they applied leave the manifest;
- ``snapshots_df`` / ``files_df`` are the ``tbl.snapshots`` /
  ``tbl.files`` metadata tables.

With the Iceberg jar on the classpath, use the native path instead
(``USING iceberg``, ``VERSION AS OF``, ``CALL rewrite_data_files``) —
``streaming.ingest.iceberg_available`` is the gate. This module is the
jar-absent analog, not a replacement for the real runtime. Commits
assume one writer per table: the rename is atomic for readers, not a
compare-and-swap between concurrent writers.

100 TB posture: commits are metadata-only over the written files (the
per-bucket counts come from a map-side groupBy, no re-read); a time-
travel read opens exactly the manifest's file list, so planning cost is
O(live files) and data files are never copied. Rewrites are the only
data-moving operations and are a straight repartition-rewrite.
"""

from __future__ import annotations

import glob as _glob
import json
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tmpdirs import tmpdir_reclaimed_at_exit

DATA_DIR = "data"
SNAP_DIR = "_snapshots"
BUCKET_COL = "bucket"


def _snap_path(table_dir: str, sid: int) -> str:
    return os.path.join(table_dir, SNAP_DIR, f"v{sid}.json")


def _snapshot_ids(table_dir: str) -> list[int]:
    """Ids of the manifests on disk, ascending (expiry leaves gaps)."""
    d = os.path.join(table_dir, SNAP_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    )


def current_snapshot_id(table_dir: str) -> int:
    return max(_snapshot_ids(table_dir), default=0)


def load_manifest(table_dir: str, sid: int) -> dict:
    with open(_snap_path(table_dir, sid)) as fh:
        return json.load(fh)


def _head(table_dir: str) -> dict:
    """The current manifest — the parent of the next commit ({} for a
    table with no commits)."""
    sid = current_snapshot_id(table_dir)
    return load_manifest(table_dir, sid) if sid else {}


def _out_dir(table_dir: str, head: dict, suffix: str = "") -> str:
    """Where the commit after ``head`` writes its files. The ``s{sid}``
    segment is the files' sequence number for ``read_snapshot``."""
    sid = head.get("snapshot_id", 0) + 1
    return os.path.join(table_dir, DATA_DIR, f"s{sid}{suffix}")


def _manifest(
    head: dict,
    operation: str,
    schema: str,
    files: list[dict],
    delete_files: Iterable[dict] = (),
    **summary,
) -> dict:
    """The snapshot committed on top of ``head``: ``files`` and
    ``delete_files`` are its complete live lists; the files it added
    are the ones under its own ``s{sid}/`` directory."""
    sid = head.get("snapshot_id", 0) + 1
    return {
        "snapshot_id": sid,
        "parent_id": head.get("snapshot_id"),
        "operation": operation,
        "schema": schema,
        "files": files,
        "delete_files": list(delete_files),
        "added_files": sum(f["path"].startswith(f"s{sid}/") for f in files),
        "total_records": sum(f["record_count"] for f in files),
        **summary,
    }


def _publish(table_dir: str, manifest: dict, path: str | None = None) -> int:
    """Make ``manifest`` visible at ``path`` (default: its ``v{sid}.json``)
    by writing a temp file and renaming it over the target."""
    path = path or _snap_path(table_dir, manifest["snapshot_id"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, path)
    return manifest["snapshot_id"]


def _write_files(df: DataFrame, out_dir: str, col: str = BUCKET_COL) -> list[dict]:
    """Write df partitioned by ``col`` (one file per value) and return
    file entries [{path, col, record_count}] with counts taken from the
    dataframe itself — no post-write re-read."""
    counts = {
        r[col]: r["cnt"]
        for r in df.groupBy(col).agg(F.count("*").alias("cnt")).collect()
    }
    # one task → exactly one file per partition value
    df.repartition(1).write.partitionBy(col).parquet(out_dir)
    entries = []
    for f in sorted(_glob.glob(f"{out_dir}/{col}=*/part-*.parquet")):
        value = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        entries.append(
            {
                "path": os.path.relpath(f, os.path.dirname(out_dir)),
                col: value,
                "record_count": counts[value],
            }
        )
    return entries


def _read_files(spark: SparkSession, table_dir: str, paths: list[str]) -> DataFrame:
    """One scan over table-relative file paths."""
    return spark.read.parquet(*[os.path.join(table_dir, DATA_DIR, p) for p in paths])


def _with_bucket(df: DataFrame) -> DataFrame:
    # bucket= dirs aren't hive-discovered under per-file paths;
    # recover the bucket from each row's input file
    return df.withColumn(
        BUCKET_COL,
        F.regexp_extract(F.input_file_name(), f"{BUCKET_COL}=(\\d+)", 1).cast(
            "long"
        ),
    )


def _with_seq(df: DataFrame, name: str) -> DataFrame:
    # the committing snapshot id: the last data/s{sid} segment of the path
    return df.withColumn(
        name,
        F.regexp_extract(
            F.input_file_name(), f".*/{DATA_DIR}/s(\\d+)", 1
        ).cast("long"),
    )


def _read(
    spark: SparkSession, table_dir: str, m: dict, keep_bucket: bool = False
) -> DataFrame:
    """The live rows of manifest ``m``: its data files minus its
    equality deletes, each delete dropping a matching row only when the
    row's file is older than the delete (Iceberg's sequence rule, so a
    later re-insert of a deleted key survives). Planning stays O(files);
    the apply is one equi-anti-join keyed on the equality columns —
    deletes are usually tiny next to data, so AQE broadcast-sizes them."""
    if not m["files"]:
        # delete-all leaves a file-less snapshot: an EMPTY table, not
        # an unreadable one — rebuild the frame from the manifest's
        # recorded schema (a parquet scan of zero paths raises)
        from pyspark.sql import types as T

        if m.get("schema") is None:
            raise ValueError(
                f"snapshot {m['snapshot_id']} has no files and no recorded schema"
            )
        return spark.createDataFrame([], T.StructType.fromJson(json.loads(m["schema"])))
    df = _read_files(spark, table_dir, [f["path"] for f in m["files"]])
    if keep_bucket:
        df = _with_bucket(df)
    dels = m.get("delete_files", [])
    if not dels:
        return df
    cols = dels[0]["equality_cols"]
    keys = _with_seq(
        _read_files(spark, table_dir, [d["path"] for d in dels]).select(*cols),
        "_del_seq",
    )
    cond = F.col("d._seq") < F.col("k._del_seq")
    for c in cols:
        cond = cond & (F.col(f"d.{c}") == F.col(f"k.{c}"))
    return (
        _with_seq(df, "_seq").alias("d")
        .join(keys.alias("k"), cond, "left_anti")
        .drop("_seq")
    )


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    keep_bucket: bool = False,
) -> DataFrame:
    """Time-travel read of the requested (default: current) snapshot:
    its live rows, equality deletes applied."""
    sid = snapshot_id or current_snapshot_id(table_dir)
    return _read(spark, table_dir, load_manifest(table_dir, sid), keep_bucket)


def commit_append(spark: SparkSession, table_dir: str, df: DataFrame) -> int:
    """Append commit: write df's buckets as new data files; the
    manifest carries the parent's data files and its delete files —
    they still apply to the older data files."""
    head = _head(table_dir)
    new_files = _write_files(df, _out_dir(table_dir, head))
    return _publish(
        table_dir,
        _manifest(
            head,
            "append",
            df.schema.json(),
            head.get("files", []) + new_files,
            head.get("delete_files", []),
        ),
    )


def _rewrite(
    spark: SparkSession,
    table_dir: str,
    operation: str,
    transform: Callable[[DataFrame], DataFrame],
) -> int:
    """Copy-on-write commit: ``transform`` the current snapshot's live
    rows (with their bucket) and write the result as the snapshot's
    only files. The deletes the read applied are not carried."""
    head = _head(table_dir)
    out = transform(_read(spark, table_dir, head, keep_bucket=True))
    new_files = _write_files(out, _out_dir(table_dir, head))
    return _publish(
        table_dir, _manifest(head, operation, out.schema.json(), new_files)
    )


def rewrite_data_files(spark: SparkSession, table_dir: str) -> int:
    """Compaction commit (Iceberg ``rewrite_data_files`` analog):
    rewrite the current snapshot into one file per bucket; manifest
    lists ONLY the new files with operation="replace"."""
    return _rewrite(spark, table_dir, "replace", lambda cur: cur)


def snapshots_df(spark: SparkSession, table_dir: str) -> DataFrame:
    """``tbl.snapshots`` metadata table."""
    rows = [
        (
            m["snapshot_id"],
            m["parent_id"],
            m["operation"],
            len(m["files"]),
            m["total_records"],
        )
        for m in (load_manifest(table_dir, s) for s in _snapshot_ids(table_dir))
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, operation string, "
        "n_files long, total_records long",
    )


def files_df(spark: SparkSession, table_dir: str) -> DataFrame:
    """``tbl.files`` metadata table for the current snapshot."""
    m = load_manifest(table_dir, current_snapshot_id(table_dir))
    rows = [(f["path"], f["bucket"], f["record_count"]) for f in m["files"]]
    return spark.createDataFrame(
        rows, "file_path string, bucket long, record_count long"
    )


def _live_paths(table_dir: str, sids: Iterable[int]) -> set[str]:
    """Every data and delete file the given snapshots reference."""
    live: set[str] = set()
    for sid in sids:
        m = load_manifest(table_dir, sid)
        live.update(f["path"] for f in m["files"] + m.get("delete_files", []))
    return live


def _stored_files(table_dir: str) -> dict[str, str]:
    """Every parquet file under the table's data dir: relative → full path."""
    root = os.path.join(table_dir, DATA_DIR)
    return {
        os.path.relpath(p, root): p
        for p in _glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    }


# --- queries() entries ------------------------------------------------------

N_PER_APPEND = 400
N_APPENDS = 3
N_BUCKETS = 4


def _fabric_slice(spark: SparkSession, lo: int, hi: int) -> DataFrame:
    """Rows [lo, hi) of the deterministic purchase fabric, with the
    write bucket idx % N_BUCKETS."""
    from .sources.rate_fabric import purchase_events_batch

    base = 1740787200000
    fab = purchase_events_batch(spark, hi).select("timestamp", "user_id", "amount")
    idx = ((F.col("timestamp") - base) / 5000).cast("long")
    return fab.filter((idx >= lo) & (idx < hi)).withColumn(
        BUCKET_COL, idx % N_BUCKETS
    )


def _appended_table(spark: SparkSession, prefix: str, n_appends: int = N_APPENDS) -> str:
    """A fresh table holding n_appends appends of N_PER_APPEND fabric rows."""
    table_dir = tmpdir_reclaimed_at_exit(prefix)
    for k in range(n_appends):
        commit_append(
            spark, table_dir, _fabric_slice(spark, k * N_PER_APPEND, (k + 1) * N_PER_APPEND)
        )
    return table_dir


def _build_demo_table(spark: SparkSession) -> str:
    table_dir = _appended_table(spark, "snap_tbl_")
    rewrite_data_files(spark, table_dir)
    return table_dir


def snapshot_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Three append commits + one compaction over the deterministic
    fabric, then each snapshot's metadata joined with an as-of read:
    the historical row counts and exact amount sums must still be
    reachable after later commits (the Iceberg time-travel contract)."""
    table_dir = _build_demo_table(spark)
    asof = None
    for sid in range(1, current_snapshot_id(table_dir) + 1):
        part = (
            read_snapshot(spark, table_dir, sid)
            .agg(
                F.count("*").alias("asof_rows"),
                (
                    F.sum(F.round(F.col("amount") * 100).cast("long")).cast("double")
                    / F.lit(100.0)
                ).alias("asof_amount_sum"),
            )
            .select(F.lit(sid).cast("long").alias("snapshot_id"), "asof_rows", "asof_amount_sum")
        )
        asof = part if asof is None else asof.unionAll(part)
    return (
        snapshots_df(spark, table_dir)
        .join(asof, "snapshot_id")
        .select(
            "snapshot_id",
            "operation",
            "n_files",
            "total_records",
            "asof_rows",
            "asof_amount_sum",
        )
    )


def snapshot_files(spark: SparkSession, sf: str) -> DataFrame:
    """``tbl.files`` over the demo table's final (compacted) snapshot:
    per-bucket record counts survive the rewrite byte-for-byte."""
    table_dir = _build_demo_table(spark)
    return files_df(spark, table_dir).select("bucket", "record_count")


def expire_snapshots(
    spark: SparkSession, table_dir: str, keep_last: int = 1
) -> dict:
    """Iceberg ``expire_snapshots`` analog: drop all but the last
    ``keep_last`` snapshot manifests and unlink the files (data or
    equality-delete) no kept manifest references.  Metadata-only except
    the orphan unlink —
    planning cost is O(total files), no data is read or moved.
    Returns counts for inspection."""
    ids = _snapshot_ids(table_dir)
    cut = max(0, len(ids) - keep_last)
    live = _live_paths(table_dir, ids[cut:])
    for sid in ids[:cut]:
        os.remove(_snap_path(table_dir, sid))
    removed = 0
    for rel, p in _stored_files(table_dir).items():
        if rel not in live:
            os.remove(p)
            removed += 1
    return {"expired_snapshots": cut, "removed_files": removed,
            "live_files": len(live)}


def delete_where(spark: SparkSession, table_dir: str, predicate) -> int:
    """Row-level DELETE, copy-on-write (Iceberg COW semantics): rewrite
    the current snapshot WITHOUT the matching rows and commit an
    operation="delete" manifest. This analog rewrites the full bucket
    set even though the demo deletion only touches bucket 0 (user_0 =
    ids {0, 1000}, both ≡ 0 mod 4) — a file-pruned implementation
    would rewrite only matching files, which is exactly Iceberg's COW
    planning; at scale pair the predicate with partition pruning."""
    return _rewrite(
        spark, table_dir, "delete", lambda cur: cur.filter(~predicate)
    )


def snapshot_delete_rows(spark: SparkSession, sf: str) -> DataFrame:
    """DELETE lifecycle: build the demo table, delete one user's rows
    copy-on-write, and prove (a) the current snapshot no longer
    contains them, (b) time travel to the pre-delete snapshot still
    does — the GDPR-erasure flow with history intact until expire."""
    table_dir = _build_demo_table(spark)
    pre = current_snapshot_id(table_dir)
    post = delete_where(spark, table_dir, F.col("user_id") == "user_0")
    out = None
    for sid, label in [(pre, "1_pre_delete"), (post, "2_post_delete")]:
        part = (
            read_snapshot(spark, table_dir, sid)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum((F.col("user_id") == "user_0").cast("long"))
                .cast("long")
                .alias("n_target_user"),
                (
                    F.sum(F.round(F.col("amount") * 100).cast("long")).cast(
                        "double"
                    )
                    / F.lit(100.0)
                ).alias("amount_sum"),
            )
            .select(F.lit(label).alias("stage"), "n_rows", "n_target_user",
                    "amount_sum")
        )
        out = part if out is None else out.unionAll(part)
    return out


def rollback_to(table_dir: str, target_sid: int) -> int:
    """Roll the table back to an earlier snapshot by committing a NEW
    snapshot whose state is the target's (Iceberg's
    ``rollback_to_snapshot`` semantics: history is preserved, the
    current pointer moves; no data files are touched)."""
    tgt = load_manifest(table_dir, target_sid)
    return _publish(
        table_dir,
        _manifest(
            _head(table_dir),
            "rollback",
            tgt.get("schema"),
            tgt["files"],
            tgt.get("delete_files", []),
            rolled_back_to=target_sid,
        ),
    )


def snapshot_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """Rollback lifecycle: build the demo table (3 appends + rewrite),
    roll back to append 2, then commit a fresh append on the
    rolled-back state — the bad-batch recovery flow. Each stage's
    row count and exact amount sum must match the fabric invariants:
    rollback restores the old state without touching data files, and
    the divergent re-append builds on it.
    """
    table_dir = _build_demo_table(spark)
    pre = current_snapshot_id(table_dir)  # the rewrite snapshot
    rb = rollback_to(table_dir, 2)
    commit_append(
        spark, table_dir, _fabric_slice(spark, 3 * N_PER_APPEND, 4 * N_PER_APPEND)
    )
    post = current_snapshot_id(table_dir)
    stages = [
        (pre, "1_pre_rollback"),
        (rb, "2_post_rollback"),
        (post, "3_post_reappend"),
    ]
    out = None
    for sid, label in stages:
        part = (
            read_snapshot(spark, table_dir, sid)
            .agg(
                F.count("*").alias("n_rows"),
                (
                    F.sum(F.round(F.col("amount") * 100).cast("long")).cast(
                        "double"
                    )
                    / F.lit(100.0)
                ).alias("amount_sum"),
            )
            .select(F.lit(label).alias("stage"), "n_rows", "amount_sum")
        )
        out = part if out is None else out.unionAll(part)
    return out


def snapshot_expire(spark: SparkSession, sf: str) -> DataFrame:
    """Maintenance contract: after expiring to the compacted snapshot
    only, the historical manifests are gone, the pre-compaction data
    files are unlinked, and the table still reads back exactly — the
    row count and exact amount sum survive (VALUES-style deterministic
    oracle like the other snapshot queries)."""
    table_dir = _build_demo_table(spark)
    stats = expire_snapshots(spark, table_dir, keep_last=1)
    remaining = len(
        _glob.glob(os.path.join(table_dir, SNAP_DIR, "v*.json"))
    )
    final = read_snapshot(spark, table_dir).agg(
        F.count("*").alias("rows_after_expire"),
        (
            F.sum(F.round(F.col("amount") * 100).cast("long")).cast("double")
            / F.lit(100.0)
        ).alias("amount_sum"),
    )
    return final.select(
        F.lit(stats["expired_snapshots"]).cast("long").alias("expired_snapshots"),
        F.lit(stats["removed_files"]).cast("long").alias("removed_files"),
        F.lit(remaining).cast("long").alias("live_snapshots"),
        "rows_after_expire",
        "amount_sum",
    )


def read_incremental(
    spark: SparkSession, table_dir: str, from_sid: int, to_sid: int
) -> DataFrame:
    """Incremental scan (Iceberg incremental-append consumption): the
    rows in files added strictly after ``from_sid`` up to ``to_sid``.
    For append-only history this is exactly the manifest file-list
    difference — planning cost O(files), no diffing of row data."""
    base = {f["path"] for f in load_manifest(table_dir, from_sid)["files"]}
    target = load_manifest(table_dir, to_sid)
    added = [f["path"] for f in target["files"] if f["path"] not in base]
    if not added:
        return read_snapshot(spark, table_dir, to_sid).limit(0)
    return _read_files(spark, table_dir, added)


def snapshot_incremental_read(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-style consumption: per (from, to) snapshot window over the
    append history, the incremental read returns exactly the rows of
    the intervening appends — count and exact amount sum pinned by the
    deterministic fabric oracle."""
    table_dir = _build_demo_table(spark)
    out = None
    for lo, hi in [(1, 2), (2, 3), (1, 3)]:
        part = read_incremental(spark, table_dir, lo, hi).agg(
            F.count("*").alias("added_rows"),
            (
                F.sum(F.round(F.col("amount") * 100).cast("long")).cast(
                    "double"
                )
                / F.lit(100.0)
            ).alias("added_amount_sum"),
        ).select(
            F.lit(lo).cast("long").alias("from_snapshot"),
            F.lit(hi).cast("long").alias("to_snapshot"),
            "added_rows",
            "added_amount_sum",
        )
        out = part if out is None else out.unionAll(part)
    return out


BAND_CENTS = 250  # spec-2 partition transform: band = cents // 250


def snapshot_partition_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg partition-spec EVOLUTION analog: the table starts
    bucket-partitioned (spec 1, appends 1-2), then switches to
    amount-band partitioning (spec 2, append 3) WITHOUT rewriting old
    data — each file keeps the spec it was written under, exactly
    Iceberg's contract (spec-id per manifest entry).

    The audit read proves the planner consequence: a predicate on the
    NEW partition column (band = 2) prunes spec-2 files to the one
    matching band directory but must still scan every spec-1 file
    (their layout knows nothing of bands) — output pins both file
    counts, the pruned-read file count, and the exact matching
    row/cents totals so a wrong merge of specs breaks the oracle.
    At 100 TB this is why evolving a spec is metadata-cheap but only
    accelerates NEW data until old files are rewritten.
    """
    table_dir = tmpdir_reclaimed_at_exit("snap_evo_")
    commit_append(spark, table_dir, _fabric_slice(spark, 0, N_PER_APPEND))
    commit_append(
        spark, table_dir, _fabric_slice(spark, N_PER_APPEND, 2 * N_PER_APPEND)
    )
    head = _head(table_dir)
    spec1_files = head["files"]

    cents = F.round(F.col("amount") * 100).cast("long")
    df3 = (
        _fabric_slice(spark, 2 * N_PER_APPEND, 3 * N_PER_APPEND)
        .drop(BUCKET_COL)
        .withColumn("band", F.floor(cents / BAND_CENTS).cast("long"))
    )
    # each manifest entry names its spec's partition field (bucket/band)
    spec2_files = _write_files(df3, _out_dir(table_dir, head), col="band")
    _publish(
        table_dir,
        _manifest(
            head,
            "append",
            df3.drop("band").schema.json(),
            spec1_files + spec2_files,
            head["delete_files"],
        ),
    )

    # pruned read under band = 2: all spec-1 files + only the matching
    # spec-2 band directory
    pruned = spec1_files + [f for f in spec2_files if f["band"] == 2]
    scanned = _read_files(spark, table_dir, [f["path"] for f in pruned]).where(
        F.floor(cents / BAND_CENTS) == 2
    )
    agg = scanned.agg(
        F.count("*").cast("long").alias("n_rows_matching"),
        F.sum(cents).cast("long").alias("amount_cents_matching"),
    )
    total = spark.createDataFrame(
        [
            (
                len(spec1_files),
                len(spec2_files),
                len(pruned),
                sum(f["record_count"] for f in spec1_files + spec2_files),
            )
        ],
        "n_spec1_files long, n_spec2_files long, "
        "n_pruned_files long, n_total_rows long",
    )
    return total.crossJoin(agg)  # 1-row × 1-row


def snapshot_wap_publish(spark: SparkSession, sf: str) -> DataFrame:
    """Write-Audit-Publish (Iceberg's WAP branch workflow): the third
    append is STAGED under a name the snapshot log does not resolve
    (readers still see snapshot 2), audited while invisible (row count
    + exact cents against the manifest's own claim), and only then
    PUBLISHED by promoting the staged manifest to v3 — the atomic
    rename that is Iceberg's commit primitive.

    Output pins the reader-visible row count and cents at each stage:
    pre-stage, staged-but-unpublished (unchanged — the audit can't
    leak), published. A failed audit would simply delete the staged
    manifest; bytes never need rollback because they were never
    referenced.
    """
    table_dir = _appended_table(spark, "snap_wap_", 2)

    def visible():
        cur = read_snapshot(spark, table_dir)
        r = cur.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.round(F.col("amount") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        ).collect()[0]
        return r["n"], r["cents"]

    stages = []
    stages.append(("1_pre_stage", *visible()))

    # stage: write files + manifest under a NON-versioned name
    head = _head(table_dir)
    df3 = _fabric_slice(spark, 2 * N_PER_APPEND, 3 * N_PER_APPEND)
    new_files = _write_files(df3, _out_dir(table_dir, head))
    staged_path = os.path.join(table_dir, SNAP_DIR, "staged_v3.json")
    sid = _publish(
        table_dir,
        _manifest(
            head,
            "append",
            df3.schema.json(),
            head["files"] + new_files,
            head["delete_files"],
        ),
        staged_path,
    )
    stages.append(("2_staged_invisible", *visible()))

    # audit the staged data directly (not via the snapshot log)
    n = _read_files(spark, table_dir, [f["path"] for f in new_files]).count()
    claimed = sum(f["record_count"] for f in new_files)
    if n != claimed:
        raise RuntimeError(
            f"WAP audit failed: staged files hold {n} rows, manifest "
            f"claims {claimed}"
        )

    # publish: promote the staged manifest (atomic rename)
    os.replace(staged_path, _snap_path(table_dir, sid))
    stages.append(("3_published", *visible()))

    return spark.createDataFrame(
        stages, "stage string, n_rows long, amount_cents long"
    )


def snapshot_orphan_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Orphan-file audit (Iceberg ``remove_orphan_files`` analog): list
    every data file on storage and check it against the union of all
    LIVE manifests' file lists. The demo plants two orphans — a stray
    temp file and a file belonging only to an EXPIRED snapshot (the
    two real-world sources of orphans: failed writes and expiry that
    removed metadata before the janitor removed bytes).

    Output one row: live file count, referenced count, orphan count,
    and the orphan bytes — the numbers the cleanup job logs before
    deleting. Storage listing is a driver glob here (O(files)); at
    scale the same audit is a join between the file-listing DataFrame
    and the manifest union, both file-count-sized.
    """
    table_dir = _build_demo_table(spark)  # appends 1-3 + compaction 4
    # expire first: drops the pre-compaction snapshots AND unlinks
    # their files (the clean path)
    expire_snapshots(spark, table_dir, keep_last=1)
    # orphan 1: failed-write leftover (planted post-expiry, as a crash
    # between write and commit would leave it)
    stray = os.path.join(table_dir, DATA_DIR, "s1", "_tmp_failed_write.parquet")
    os.makedirs(os.path.dirname(stray), exist_ok=True)
    with open(stray, "wb") as fh:
        fh.write(b"PAR1 garbage PAR1")
    # orphan 2: a file of an expired snapshot whose bytes outlived the
    # metadata (janitor removed manifests first)
    ghost = os.path.join(table_dir, DATA_DIR, "s1", "ghost=9", "old.parquet")
    os.makedirs(os.path.dirname(ghost), exist_ok=True)
    with open(ghost, "wb") as fh:
        fh.write(b"PAR1 expired bytes")

    live = _live_paths(table_dir, _snapshot_ids(table_dir))
    on_disk = {
        rel: os.path.getsize(p) for rel, p in _stored_files(table_dir).items()
    }
    orphans = {p: sz for p, sz in on_disk.items() if p not in live}
    rows = [
        (
            len(on_disk),
            len(live),
            len(orphans),
            sum(orphans.values()),
        )
    ]
    return spark.createDataFrame(
        rows,
        "n_files_on_disk long, n_files_referenced long, "
        "n_orphans long, orphan_bytes long",
    )


def snapshot_changelog_diff(spark: SparkSession, sf: str) -> DataFrame:
    """CDC changelog between two snapshots (Iceberg
    ``create_changelog_view`` / ``table_changes`` analog): row-level
    INSERT/DELETE sets from snapshot 2 (second append) to snapshot 5
    (post-COW-delete), aggregated per (change_type, bucket).

    The diff is MANIFEST-PRUNED: files present in both snapshots'
    manifests are dropped before any data is read — only the
    symmetric difference of the file lists is scanned, which is how a
    changelog read stays O(changed files) instead of O(table) at
    100 TB. (This demo's delete rewrites every file, so the pruning
    keeps all of them — the worst case — but the plan shape is the
    scalable one.) Row-level changes then come from two exceptAll
    diffs over the changed-file rows; identical rows appearing in
    rewritten files cancel out, exposing the true inserts (append 3's
    rows, minus the deleted user's) and deletes (user_0's pre-delete
    rows).
    """
    table_dir = _build_demo_table(spark)  # snapshots 1-3 append, 4 replace
    delete_where(spark, table_dir, F.col("user_id") == "user_0")  # 5
    sid_a, sid_b = 2, 5
    ma, mb = load_manifest(table_dir, sid_a), load_manifest(table_dir, sid_b)
    fa = {f["path"] for f in ma["files"]}
    fb = {f["path"] for f in mb["files"]}

    def _rows(paths: set[str]) -> DataFrame:
        return _read_files(spark, table_dir, sorted(paths)).select(
            "user_id", "timestamp", "amount"
        )

    ra, rb = _rows(fa - fb), _rows(fb - fa)
    ins = rb.exceptAll(ra).withColumn("change_type", F.lit("INSERT"))
    dels = ra.exceptAll(rb).withColumn("change_type", F.lit("DELETE"))
    base = 1740787200000
    idx = ((F.col("timestamp") - base) / 5000).cast("long")
    return (
        ins.unionAll(dels)
        .select(
            "change_type",
            (idx % N_BUCKETS).alias("bucket"),
            F.round(F.col("amount") * 100).cast("long").alias("cents"),
        )
        .groupBy("change_type", "bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("cents").cast("long").alias("amount_cents"),
        )
        .orderBy("change_type", "bucket")
    )


QUERIES = {
    "snapshot_wap_publish": snapshot_wap_publish,
    "snapshot_orphan_audit": snapshot_orphan_audit,
    "snapshot_partition_evolution": snapshot_partition_evolution,
    "snapshot_changelog_diff": snapshot_changelog_diff,
    "snapshot_delete_rows": snapshot_delete_rows,
    "snapshot_rollback": snapshot_rollback,
    "snapshot_time_travel": snapshot_time_travel,
    "snapshot_files": snapshot_files,
    "snapshot_expire": snapshot_expire,
    "snapshot_incremental_read": snapshot_incremental_read,
}

# fabric invariants (sources/rate_fabric.py): row id's timestamp is
# 1740787200000 + id*5000 ms; amount = (ts_ms//10 % 1000)/100 dollars —
# integer cents, so SUM(cents)/100.0 is the exact double.
_FAB = """
fab AS (
  SELECT id, (1740787200000 + id * 5000) // 10 % 1000 AS cents,
         id % 4 AS bucket
  FROM (SELECT unnest(generate_series(0, 1199)) AS id)
)
"""

# wider fabric (ids 0..1599) for the rollback oracle's re-append window
_FAB2 = """
fab AS (
  SELECT id, (1740787200000 + id * 5000) // 10 % 1000 AS cents,
         id % 4 AS bucket
  FROM (SELECT unnest(generate_series(0, 1599)) AS id)
)
"""

ORACLES = {
    # ids < 800 visible before publish (two appends); staging changes
    # NOTHING a reader sees; publish exposes ids < 1200
    "snapshot_wap_publish": f"""
        WITH {_FAB}
        SELECT s.stage,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM fab
                WHERE id < s.hi) AS n_rows,
               (SELECT CAST(SUM(cents) AS BIGINT) FROM fab
                WHERE id < s.hi) AS amount_cents
        FROM (VALUES ('1_pre_stage', 800),
                     ('2_staged_invisible', 800),
                     ('3_published', 1200)) AS s(stage, hi)
    """,
    # deterministic by construction: expire leaves the 4 compacted
    # bucket files live; the audit plants exactly 2 orphans of
    # 17 + 18 bytes (snapshot_expire precedent for literal pins)
    "snapshot_orphan_audit": """
        SELECT CAST(6 AS BIGINT) AS n_files_on_disk,
               CAST(4 AS BIGINT) AS n_files_referenced,
               CAST(2 AS BIGINT) AS n_orphans,
               CAST(35 AS BIGINT) AS orphan_bytes
    """,
    # spec 1 = 2 appends x 4 buckets = 8 files; spec 2 = one file per
    # distinct amount band in append 3 (ids 800..1200); pruned read =
    # every spec-1 file + the band-2 directory
    "snapshot_partition_evolution": f"""
        WITH {_FAB}
        SELECT CAST(8 AS BIGINT) AS n_spec1_files,
               (SELECT CAST(COUNT(DISTINCT cents // {BAND_CENTS}) AS BIGINT)
                FROM fab WHERE id >= 800) AS n_spec2_files,
               CAST(8 AS BIGINT)
                 + (SELECT CAST(COUNT(DISTINCT cents // {BAND_CENTS})
                        AS BIGINT)
                    FROM fab WHERE id >= 800
                      AND cents // {BAND_CENTS} = 2) AS n_pruned_files,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM fab) AS n_total_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM fab
                WHERE cents // {BAND_CENTS} = 2) AS n_rows_matching,
               (SELECT CAST(SUM(cents) AS BIGINT) FROM fab
                WHERE cents // {BAND_CENTS} = 2) AS amount_cents_matching
    """,
    # diff snapshot 2 (ids < 800) -> snapshot 5 (ids < 1200 minus
    # user_0 = ids {0, 1000}): inserts are append 3's surviving rows,
    # deletes are user_0's rows that existed at snapshot 2
    "snapshot_changelog_diff": f"""
        WITH {_FAB},
        ch AS (
          SELECT 'INSERT' AS change_type, bucket, cents FROM fab
          WHERE id >= 800 AND id < 1200 AND id % 1000 != 0
          UNION ALL
          SELECT 'DELETE', bucket, cents FROM fab
          WHERE id < 800 AND id % 1000 = 0
        )
        SELECT change_type, CAST(bucket AS BIGINT) AS bucket,
               COUNT(*) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS amount_cents
        FROM ch GROUP BY change_type, bucket
        ORDER BY change_type, bucket
    """,
    "snapshot_time_travel": f"""
        WITH {_FAB},
        snaps AS (
          SELECT * FROM (VALUES
            (1, 'append',  4,  400), (2, 'append', 8, 800),
            (3, 'append', 12, 1200), (4, 'replace', 4, 1200)
          ) AS t(snapshot_id, operation, n_files, total_records)
        )
        SELECT CAST(s.snapshot_id AS BIGINT) AS snapshot_id,
               s.operation,
               CAST(s.n_files AS BIGINT) AS n_files,
               CAST(s.total_records AS BIGINT) AS total_records,
               (SELECT COUNT(*) FROM fab WHERE id < s.total_records) AS asof_rows,
               (SELECT CAST(SUM(cents) AS DOUBLE) / 100.0
                FROM fab WHERE id < s.total_records) AS asof_amount_sum
        FROM snaps s
    """,
    # fabric user rule: user_id = "user_{id % 1000}", so user_0 is
    # ids {0, 1000} of the 1200-row demo table
    "snapshot_delete_rows": f"""
        WITH {_FAB}
        SELECT stage, n_rows, n_target_user, amount_sum FROM (
          SELECT '1_pre_delete' AS stage,
                 (SELECT COUNT(*) FROM fab) AS n_rows,
                 (SELECT COUNT(*) FROM fab WHERE id % 1000 = 0)
                   AS n_target_user,
                 (SELECT CAST(SUM(cents) AS DOUBLE) / 100.0 FROM fab)
                   AS amount_sum
          UNION ALL
          SELECT '2_post_delete',
                 (SELECT COUNT(*) FROM fab WHERE id % 1000 != 0),
                 CAST(0 AS BIGINT),
                 (SELECT CAST(SUM(cents) AS DOUBLE) / 100.0 FROM fab
                  WHERE id % 1000 != 0)
        )
    """,
    # pre-rollback = the rewrite (ids < 1200); rollback to append 2
    # restores ids < 800; the divergent re-append adds ids [1200, 1600)
    "snapshot_rollback": f"""
        WITH {_FAB2}
        SELECT s.stage,
               (SELECT COUNT(*) FROM fab
                WHERE (id < s.hi1) OR (id >= s.lo2 AND id < s.hi2)) AS n_rows,
               (SELECT CAST(SUM(cents) AS DOUBLE) / 100.0 FROM fab
                WHERE (id < s.hi1) OR (id >= s.lo2 AND id < s.hi2))
                 AS amount_sum
        FROM (VALUES ('1_pre_rollback', 1200, 0, 0),
                     ('2_post_rollback', 800, 0, 0),
                     ('3_post_reappend', 800, 1200, 1600))
             AS s(stage, hi1, lo2, hi2)
    """,
    "snapshot_files": f"""
        WITH {_FAB}
        SELECT CAST(bucket AS BIGINT) AS bucket,
               COUNT(*) AS record_count
        FROM fab GROUP BY bucket
    """,
    # expire keeps only the compacted snapshot: 3 manifests dropped,
    # the 12 pre-compaction bucket files unlinked, 1 manifest left,
    # and the table reads back in full
    "snapshot_expire": f"""
        WITH {_FAB}
        SELECT CAST(3 AS BIGINT) AS expired_snapshots,
               CAST(12 AS BIGINT) AS removed_files,
               CAST(1 AS BIGINT) AS live_snapshots,
               (SELECT COUNT(*) FROM fab) AS rows_after_expire,
               (SELECT CAST(SUM(cents) AS DOUBLE) / 100.0 FROM fab)
                 AS amount_sum
    """,
    # append k covers fabric ids [k*400, (k+1)*400)
    "snapshot_incremental_read": f"""
        WITH {_FAB},
        w AS (SELECT * FROM (VALUES
            (1, 2, 400, 800), (2, 3, 800, 1200), (1, 3, 400, 1200)
        ) AS t(from_snapshot, to_snapshot, lo, hi))
        SELECT CAST(from_snapshot AS BIGINT) AS from_snapshot,
               CAST(to_snapshot AS BIGINT) AS to_snapshot,
               (SELECT COUNT(*) FROM fab
                WHERE id >= w.lo AND id < w.hi) AS added_rows,
               (SELECT CAST(SUM(cents) AS DOUBLE) / 100.0 FROM fab
                WHERE id >= w.lo AND id < w.hi) AS added_amount_sum
        FROM w
    """,
}


def snapshot_branch_tag(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg refs — named branches and tags (`ALTER TABLE … CREATE
    TAG / CREATE BRANCH`, `VERSION AS OF 'ref'`, fast-forward publish)
    re-expressed over the manifest-per-commit analog: a TAG pins an
    immutable snapshot id; a BRANCH is a movable head whose commits
    advance the branch WITHOUT moving main (the staging pattern WAP
    generalizes); publishing is a fast-forward of main's pointer to
    the branch head — a metadata-only O(1) operation, no data copied
    at any table size.

    Sequence: two appends (main → s2) → tag v1 @ s1 → branch exp
    from s2 → append ON THE BRANCH (s3, parent s2; main still
    resolves to s2 — the branch commit is invisible off-branch) →
    fast-forward main to s3. Output pins the reader-visible rows and
    exact cents AT EVERY REF at each stage, proving ref isolation.
    Cites reference connector behavior: the reference's Iceberg sink
    commits to main only (connector-config.json); refs are the
    engine-side surface a warehouse on top of it needs.
    """
    table_dir = _appended_table(spark, "snap_wap_", 2)  # s1, s2

    refs: dict[str, tuple[str, int]] = {
        "main": ("branch", current_snapshot_id(table_dir)),  # s2
        "v1": ("tag", 1),
    }
    # branch 'exp' starts at main's head, then takes its own commit:
    # commit_append writes s3 with parent s2 — main's pointer in
    # `refs` is untouched, so the commit is branch-local
    sid3 = commit_append(
        spark,
        table_dir,
        _fabric_slice(spark, 2 * N_PER_APPEND, 3 * N_PER_APPEND),
    )
    refs["exp"] = ("branch", sid3)

    def stat(sid: int):
        r = (
            read_snapshot(spark, table_dir, sid)
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.round(F.col("amount") * 100).cast("long"))
                .cast("long")
                .alias("cents"),
            )
            .collect()[0]
        )
        return r["n"], r["cents"]

    rows = []
    for name in ("main", "v1", "exp"):
        rtype, sid = refs[name]
        rows.append((f"1_{name}", rtype, sid, *stat(sid)))
    # fast-forward publish: main adopts the branch head (pointer move)
    refs["main"] = ("branch", refs["exp"][1])
    rows.append(("2_main_after_ff", "branch", refs["main"][1], *stat(refs["main"][1])))
    return spark.createDataFrame(
        rows,
        "ref string, ref_type string, snapshot_id long, "
        "n_rows long, amount_cents long",
    )


QUERIES["snapshot_branch_tag"] = snapshot_branch_tag
ORACLES["snapshot_branch_tag"] = f"""
WITH {_FAB}
SELECT s.ref, s.ref_type, CAST(s.sid AS BIGINT) AS snapshot_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM fab WHERE id < s.hi)
         AS n_rows,
       (SELECT CAST(SUM(cents) AS BIGINT) FROM fab WHERE id < s.hi)
         AS amount_cents
FROM (VALUES ('1_main', 'branch', 2, 800),
             ('1_v1',   'tag',    1, 400),
             ('1_exp',  'branch', 3, 1200),
             ('2_main_after_ff', 'branch', 3, 1200))
       AS s(ref, ref_type, sid, hi)
"""


def merge_upsert(
    spark: SparkSession, table_dir: str, updates: DataFrame, key: str
) -> int:
    """Copy-on-write MERGE (Iceberg's ``MERGE INTO`` under
    write.merge.mode=copy-on-write): matched rows are replaced by
    their update, unmatched updates are inserted, untouched rows are
    carried — all committed as ONE atomic manifest swap (operation
    "merge"). This analog rewrites the full bucket set; Iceberg's COW
    planner rewrites only files containing matches — pair the merge
    key with partition pruning at scale."""
    return _rewrite(
        spark,
        table_dir,
        "merge",
        lambda cur: cur.join(updates.select(key), key, "left_anti").unionByName(
            updates
        ),
    )


UPSERT_LO, UPSERT_HI = 1190, 1210  # 10 updates (matched) + 10 inserts
UPSERT_BUMP = 100.0  # amount delta applied by the upsert batch


def snapshot_upsert_rows(spark: SparkSession, sf: str) -> DataFrame:
    """UPSERT lifecycle — the write operation that completes the
    snapshot surface (append / delete / rewrite / rollback / WAP /
    branch already covered): a MERGE batch overlapping the table's id
    tail updates 10 existing rows (+100.00 each) and inserts 10 new
    ones, copy-on-write, in one atomic commit; time travel to the
    pre-merge snapshot still shows the original rows — the
    CDC-apply-into-the-lake flow (reference's sink is append-only;
    MERGE is what a warehouse on top of it runs for dimension
    maintenance).
    """
    table_dir = _build_demo_table(spark)
    pre = current_snapshot_id(table_dir)
    updates = _fabric_slice(spark, UPSERT_LO, UPSERT_HI).withColumn(
        "amount", F.col("amount") + F.lit(UPSERT_BUMP)
    )
    post = merge_upsert(spark, table_dir, updates, "timestamp")
    out = None
    for sid, label in [
        (pre, "1_pre_merge"),
        (post, "2_post_merge"),
        (pre, "3_time_travel_pre"),
    ]:
        part = (
            read_snapshot(spark, table_dir, sid)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.round(F.col("amount") * 100).cast("long"))
                .cast("long")
                .alias("amount_cents"),
            )
            .select(F.lit(label).alias("stage"), "n_rows", "amount_cents")
        )
        out = part if out is None else out.unionAll(part)
    return out


QUERIES["snapshot_upsert_rows"] = snapshot_upsert_rows
# fabric invariants as in _FAB; the merge bumps rows [1190, 1210) by
# +100.00 (=10000 cents): matched rows are REPLACED (their base cents
# still count once), inserts arrive with the bump too, so
# post = Σ cents(id<1210) + 20·10000
ORACLES["snapshot_upsert_rows"] = f"""
WITH fab AS (
  SELECT id, (1740787200000 + id * 5000) // 10 % 1000 AS cents
  FROM (SELECT unnest(generate_series(0, {UPSERT_HI - 1})) AS id)
)
SELECT s.stage, CAST(s.n AS BIGINT) AS n_rows,
       CAST((SELECT SUM(cents) FROM fab WHERE id < s.hi)
            + s.bump AS BIGINT) AS amount_cents
FROM (VALUES ('1_pre_merge', 1200, 1200, 0),
             ('2_post_merge', {UPSERT_HI}, {UPSERT_HI},
              {(UPSERT_HI - UPSERT_LO) * 10000}),
             ('3_time_travel_pre', 1200, 1200, 0))
       AS s(stage, n, hi, bump)
"""


# ---------------------------------------------------------------------------
# merge-on-read: equality-delete files with sequence-number semantics
# ---------------------------------------------------------------------------


def commit_equality_delete(
    spark: SparkSession, table_dir: str, keys_df: DataFrame, cols: list[str]
) -> int:
    """Row-delta delete commit (Iceberg v2 MERGE-ON-READ,
    write.delete.mode=merge-on-read): instead of rewriting data files
    (the COW ``delete_where``), write an EQUALITY-DELETE file holding
    just the key tuples and commit a manifest that carries the parent's
    data files untouched — an O(deleted keys) commit no matter how big
    the table is. The delete applies at READ time, and only to rows
    whose data file was committed BEFORE it (Iceberg's data-sequence <
    delete-sequence rule), so later re-inserts of the same key survive.
    """
    head = _head(table_dir)
    out = _out_dir(table_dir, head, "-del")
    keys_df.select(*cols).repartition(1).write.parquet(out)
    n_keys = keys_df.count()
    return _publish(
        table_dir,
        _manifest(
            head,
            "delete",
            head["schema"],
            head["files"],
            head.get("delete_files", [])
            + [
                {
                    "path": os.path.relpath(f, os.path.dirname(out)),
                    "equality_cols": cols,
                    "record_count": n_keys,
                }
                for f in sorted(_glob.glob(f"{out}/part-*.parquet"))
            ],
        ),
    )


MOR_BASE_ROWS = 400  # append A: fabric ids [0, 400)
MOR_REINSERT = 100  # append B re-inserts ids [0, 100) AFTER the delete
MOR_DEL_MOD = 7  # delete keys: id % 7 == 0 within append A


def snapshot_mor_read(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read lifecycle: append 400 fabric rows → equality-
    delete every id ≡ 0 (mod 7) as a ROW-DELTA commit (no data file
    rewritten) → re-append ids [0,100). The MOR read must drop the
    deleted ids from the FIRST append only — the re-inserted copies
    carry a data sequence newer than the delete and survive (the
    Iceberg v2 sequence rule; getting this wrong silently re-deletes
    every late-arriving upsert). Folded per bucket; the oracle replays
    the arithmetic from generate_series.
    """
    table_dir = tmpdir_reclaimed_at_exit("mor_tbl_")
    base = 1740787200000
    commit_append(spark, table_dir, _fabric_slice(spark, 0, MOR_BASE_ROWS))
    idx = ((F.col("timestamp") - base) / 5000).cast("long")
    del_keys = (
        _fabric_slice(spark, 0, MOR_BASE_ROWS)
        .where(idx % MOR_DEL_MOD == 0)
        .select("timestamp")
    )
    commit_equality_delete(spark, table_dir, del_keys, ["timestamp"])
    commit_append(spark, table_dir, _fabric_slice(spark, 0, MOR_REINSERT))
    return (
        read_snapshot(spark, table_dir, keep_bucket=True)
        .groupBy(BUCKET_COL)
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("amount") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
        )
        .orderBy(BUCKET_COL)
    )


QUERIES["snapshot_mor_read"] = snapshot_mor_read
ORACLES["snapshot_mor_read"] = f"""
WITH a AS (
  SELECT id, ({1740787200000} + id * 5000) // 10 % 1000 AS cents
  FROM (SELECT unnest(generate_series(0, {MOR_BASE_ROWS - 1})) AS id)
  WHERE id % {MOR_DEL_MOD} != 0
),
b AS (
  SELECT id, ({1740787200000} + id * 5000) // 10 % 1000 AS cents
  FROM (SELECT unnest(generate_series(0, {MOR_REINSERT - 1})) AS id)
),
live AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM live GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# sort-clustered rewrite (OPTIMIZE ... ZORDER/SORT analog)
# ---------------------------------------------------------------------------

SORTED_REWRITE_FILES = N_BUCKETS  # same file count, different clustering


def snapshot_sorted_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """Clustering rewrite — Iceberg's ``rewrite_data_files(strategy =>
    'sort')`` / Delta ``OPTIMIZE ZORDER``: the demo table's hash
    buckets each span the ENTIRE timestamp range (every file pair
    overlaps → a time-predicate scan must open every file); one
    replace commit rewrites the same 1200 rows into CONTIGUOUS
    time-chunk files. The audit reads per-file min/max FROM THE DATA
    and counts overlapping file pairs + the summed file span: 6
    overlapping pairs → 0, total span 4× range → 1× — the min/max
    pruning win that makes sorted layout pay at 100 TB (Iceberg plans
    with exactly these per-file bounds).

    Deterministic: chunk = id·files ÷ rows (no range-sampler
    boundaries); the pair join is bounded by file count (manifest-
    sized, never data-sized). The complementary `zorder_layout_audit`
    scores multi-column interleaving; this op proves the WRITE path +
    the before/after pruning delta on the snapshot lifecycle.
    """
    table_dir = tmpdir_reclaimed_at_exit("sorted_tbl_")
    n_rows = N_PER_APPEND * N_APPENDS
    parent = commit_append(spark, table_dir, _fabric_slice(spark, 0, n_rows))
    base = 1740787200000
    idx = ((F.col("timestamp") - base) / 5000).cast("long")
    sid = _rewrite(
        spark,
        table_dir,
        "replace-sorted",
        lambda cur: cur.withColumn(
            BUCKET_COL, (idx * SORTED_REWRITE_FILES / n_rows).cast("long")
        ),
    )

    def audit(snapshot_id: int, stage: str) -> DataFrame:
        data = read_snapshot(spark, table_dir, snapshot_id).select(
            F.input_file_name().alias("f"),
            ((F.col("timestamp") - base) / 5000).cast("long").alias("i"),
        )
        stats = data.groupBy("f").agg(
            F.min("i").alias("lo"), F.max("i").alias("hi")
        )
        a, b = stats.alias("a"), stats.alias("b")
        overlaps = a.join(
            b,
            (F.col("a.f") < F.col("b.f"))
            & (F.col("a.lo") <= F.col("b.hi"))
            & (F.col("b.lo") <= F.col("a.hi")),
        ).agg(F.count("*").cast("long").alias("overlapping_pairs"))
        summary = stats.agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.col("hi") - F.col("lo")).cast("long").alias("span_id_units"),
        )
        return summary.crossJoin(overlaps).select(
            F.lit(stage).alias("stage"),
            "n_files",
            "span_id_units",
            "overlapping_pairs",
        )

    return audit(parent, "1_hash_buckets").unionByName(
        audit(sid, "2_sort_clustered")
    )


QUERIES["snapshot_sorted_rewrite"] = snapshot_sorted_rewrite
# closed form: 4 hash-bucket files hold ids ≡ b (mod 4) over [0, 1200)
# → per-file span (1200-4) each, every pair overlaps (C(4,2) = 6);
# 4 contiguous chunks of 300 ids → span 299 each, 0 overlaps
ORACLES["snapshot_sorted_rewrite"] = f"""
SELECT * FROM (VALUES
  ('1_hash_buckets', CAST({N_BUCKETS} AS BIGINT),
   CAST({N_BUCKETS * (N_PER_APPEND * N_APPENDS - N_BUCKETS)} AS BIGINT),
   CAST({N_BUCKETS * (N_BUCKETS - 1) // 2} AS BIGINT)),
  ('2_sort_clustered', CAST({SORTED_REWRITE_FILES} AS BIGINT),
   CAST({SORTED_REWRITE_FILES * (N_PER_APPEND * N_APPENDS // SORTED_REWRITE_FILES - 1)} AS BIGINT),
   CAST(0 AS BIGINT)))
  AS t(stage, n_files, span_id_units, overlapping_pairs)
ORDER BY stage
"""


IVM_APPEND_1, IVM_APPEND_2 = 400, 800  # two append batches
IVM_DELETED_USER = "user_7"  # COW-deleted between snapshots 2 and 3


def snapshot_incremental_view_maintenance(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Incremental view maintenance (IVM) off the snapshot log — the
    pattern that keeps a serving aggregate fresh WITHOUT rescanning
    the table: initialize the per-bucket (count, cents) aggregate from
    snapshot 1, apply snapshot 2's APPEND as a manifest-pruned
    incremental read (+delta), apply snapshot 3's COW DELETE as a
    changelog diff (+inserts, −deletes via exceptAll over changed
    files only), and prove the maintained aggregate equals a full
    recompute of the final snapshot, column for column, in exact
    int64. Each maintenance step's cost is O(changed rows) — at
    100 TB the append step reads two new files while the table holds
    millions.

    (Iceberg analog: `table_changes` feeding a MERGE into the
    materialized aggregate; counts and sums are self-maintainable —
    min/max would need the deleted-value check that general IVM
    literature handles with auxiliary state.)
    """
    table_dir = tmpdir_reclaimed_at_exit("ivm_tbl_")
    s1 = commit_append(spark, table_dir, _fabric_slice(spark, 0, IVM_APPEND_1))
    s2 = commit_append(
        spark, table_dir, _fabric_slice(spark, IVM_APPEND_1, IVM_APPEND_2)
    )
    s3 = delete_where(
        spark, table_dir, F.col("user_id") == IVM_DELETED_USER
    )

    def agg_of(df: DataFrame, sign: int = 1) -> DataFrame:
        return df.groupBy(BUCKET_COL).agg(
            (F.count("*") * sign).cast("long").alias("n_rows"),
            (
                F.sum(F.round(F.col("amount") * 100).cast("long")) * sign
            )
            .cast("long")
            .alias("cents"),
        )

    # v1: full scan of snapshot 1 (the only full scan in the lifecycle)
    view = agg_of(read_snapshot(spark, table_dir, s1, keep_bucket=True))
    # +append delta: manifest-pruned incremental read
    view = view.unionByName(
        agg_of(_with_bucket(read_incremental(spark, table_dir, s1, s2)))
    )
    # ±changelog of the delete commit: exceptAll over changed files
    ma = load_manifest(table_dir, s2)
    mb = load_manifest(table_dir, s3)
    fa = {f["path"] for f in ma["files"]}
    fb = {f["path"] for f in mb["files"]}

    def _rows(paths: set[str]) -> DataFrame:
        return _with_bucket(_read_files(spark, table_dir, sorted(paths))).select(
            BUCKET_COL, "timestamp", "user_id", "amount"
        )

    rows_a = _rows(fa - fb)
    rows_b = _rows(fb - fa)
    inserts = rows_b.exceptAll(rows_a)
    deletes = rows_a.exceptAll(rows_b)
    view = view.unionByName(agg_of(inserts, 1)).unionByName(
        agg_of(deletes, -1)
    )
    maintained = view.groupBy(BUCKET_COL).agg(
        F.sum("n_rows").cast("long").alias("n_rows_maintained"),
        F.sum("cents").cast("long").alias("cents_maintained"),
    )
    recomputed = (
        read_snapshot(spark, table_dir, s3, keep_bucket=True)
        .groupBy(BUCKET_COL)
        .agg(
            F.count("*").cast("long").alias("n_rows_recomputed"),
            F.sum(F.round(F.col("amount") * 100).cast("long"))
            .cast("long")
            .alias("cents_recomputed"),
        )
    )
    return (
        maintained.join(recomputed, BUCKET_COL)
        .select(
            F.col(BUCKET_COL).alias("bucket"),
            "n_rows_maintained",
            "cents_maintained",
            "n_rows_recomputed",
            "cents_recomputed",
        )
        .orderBy("bucket")
    )


QUERIES["snapshot_incremental_view_maintenance"] = (
    snapshot_incremental_view_maintenance
)
# closed form: ids [0, 800) minus user_7 (ids 7 and 407); cents =
# (base + id·5000)//10 % 1000; bucket = id % 4
ORACLES["snapshot_incremental_view_maintenance"] = f"""
WITH fab AS (
  SELECT id, ({1740787200000} + id * 5000) // 10 % 1000 AS cents
  FROM (SELECT unnest(generate_series(0, {IVM_APPEND_2 - 1})) AS id)
  WHERE ('user_' || (id % 1000)) != '{IVM_DELETED_USER}'
)
SELECT CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows_maintained,
       CAST(SUM(cents) AS BIGINT) AS cents_maintained,
       CAST(COUNT(*) AS BIGINT) AS n_rows_recomputed,
       CAST(SUM(cents) AS BIGINT) AS cents_recomputed
FROM fab GROUP BY bucket ORDER BY bucket
"""


def snapshot_metadata_only_count(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only aggregation — Iceberg's COUNT(*) optimization:
    per-bucket row counts answered from the MANIFEST's per-file
    record_count stats (O(files) planning, zero data bytes read),
    cross-checked against the actual data scan. At 100 TB this is the
    difference between an instant dashboard tile and a full table
    scan; the cross-check column proves the manifest stats the engine
    trusts are truthful (they are written from the dataframe at commit
    time, never re-derived).
    """
    table_dir = _build_demo_table(spark)
    meta = (
        files_df(spark, table_dir)
        .groupBy("bucket")
        .agg(F.sum("record_count").cast("long").alias("n_rows_metadata"))
    )
    data = (
        read_snapshot(spark, table_dir, keep_bucket=True)
        .groupBy(F.col(BUCKET_COL).alias("bucket"))
        .agg(F.count("*").cast("long").alias("n_rows_scanned"))
    )
    return (
        meta.join(data, "bucket")
        .select("bucket", "n_rows_metadata", "n_rows_scanned")
        .orderBy("bucket")
    )


QUERIES["snapshot_metadata_only_count"] = snapshot_metadata_only_count
ORACLES["snapshot_metadata_only_count"] = f"""
SELECT CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows_metadata,
       CAST(COUNT(*) AS BIGINT) AS n_rows_scanned
FROM (SELECT unnest(generate_series(0, {N_PER_APPEND * N_APPENDS - 1})) AS id)
GROUP BY bucket ORDER BY bucket
"""


# -- small-file compaction audit --------------------------------------

TARGET_ROWS_PER_FILE = 250  # compaction target (rows stand in for MB)


def snapshot_file_size_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file audit + compaction plan — the table-maintenance
    dashboard behind Iceberg's ``rewrite_data_files`` decision: per
    partition (bucket), how many data files the append history has
    accumulated, how small they run, and how many files an ideal
    rewrite at TARGET_ROWS_PER_FILE would produce (files_saved =
    current − ⌈rows/target⌉). Built on the manifest ONLY (O(files)
    planning, zero data bytes) — at 100 TB the audit over millions of
    files is itself a metadata query, which is why the stats live in
    the manifest in the first place. Sizes are row counts, not bytes:
    byte sizes vary with encoder/codec versions, row counts are
    engine-invariant (and Iceberg plans compaction on both).

    The fixture table is three appends WITHOUT the demo rewrite, so
    every bucket really holds N_APPENDS small files.
    """
    table_dir = _appended_table(spark, "snap_fsa_")
    f = files_df(spark, table_dir)
    return (
        f.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("record_count").cast("long").alias("n_rows"),
            F.min("record_count").cast("long").alias("min_file_rows"),
            F.max("record_count").cast("long").alias("max_file_rows"),
            F.sum(
                (F.col("record_count") < TARGET_ROWS_PER_FILE).cast("long")
            )
            .cast("long")
            .alias("n_small_files"),
        )
        .select(
            "bucket",
            "n_files",
            "n_rows",
            "min_file_rows",
            "max_file_rows",
            "n_small_files",
            F.ceil(F.col("n_rows") / F.lit(TARGET_ROWS_PER_FILE))
            .cast("long")
            .alias("planned_files"),
            (
                F.col("n_files")
                - F.ceil(F.col("n_rows") / F.lit(TARGET_ROWS_PER_FILE))
            )
            .cast("long")
            .alias("files_saved"),
        )
        .orderBy("bucket")
    )


QUERIES["snapshot_file_size_audit"] = snapshot_file_size_audit
# analytic twin: append k covers fabric ids [k*400, (k+1)*400), bucket
# = id % N_BUCKETS, one file per (append, bucket) — the oracle derives
# the same file inventory from first principles
ORACLES["snapshot_file_size_audit"] = f"""
WITH files AS (
  SELECT id // {N_PER_APPEND} AS append_k,
         CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS record_count
  FROM (SELECT unnest(generate_series(0, {N_PER_APPEND * N_APPENDS - 1}))
          AS id)
  GROUP BY append_k, bucket
),
agg AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(record_count) AS BIGINT) AS n_rows,
         CAST(MIN(record_count) AS BIGINT) AS min_file_rows,
         CAST(MAX(record_count) AS BIGINT) AS max_file_rows,
         CAST(SUM(CASE WHEN record_count < {TARGET_ROWS_PER_FILE}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_small_files
  FROM files GROUP BY bucket
)
SELECT bucket, n_files, n_rows, min_file_rows, max_file_rows,
       n_small_files,
       CAST(ceil(CAST(n_rows AS DOUBLE) / {TARGET_ROWS_PER_FILE})
            AS BIGINT) AS planned_files,
       CAST(n_files - ceil(CAST(n_rows AS DOUBLE)
            / {TARGET_ROWS_PER_FILE}) AS BIGINT) AS files_saved
FROM agg ORDER BY bucket
"""
