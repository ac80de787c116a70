"""Regenerate __spark_entry__._PRIORITY for the next driver round.

Standing rotation (r11 rule, kept by every round since): the window
the driver checks is the FIRST 50 entries, so the list is ordered
  1. DIRTY — operators whose executed plan / code path / registration
     changed this round (edit the DIRTY list below each round);
  2. everything else by ASCENDING last-driver-checked round (computed
     from the union of CORRECTNESS_r*.json), ties broken by the
     previous _PRIORITY order (which already encodes prior staleness).

Run from the repo root:  python tools/rotate_priority.py
Rewrites the _PRIORITY block in place; run the docs-consistency tests
afterwards (they pin uniqueness and registry coverage).

MUST run BEFORE this round's CORRECTNESS_rN.json exists (i.e. before
the driver writes it): re-running after it lands would reshuffle the
tail relative to the committed list.
"""

from __future__ import annotations

import glob
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# EDIT EACH ROUND: the round being prepared (enforces the
# run-at-round-start invariant: this round's CORRECTNESS file must
# not exist yet, or the staleness ordering would double-credit it).
ROUND = 19

# the driver's correctness window: the first WINDOW _PRIORITY entries
WINDOW = 50

# EDIT EACH ROUND: this round's dirty set, most-critical first.
# r19: snapshots.py's commit and read paths were folded into one each
# (_manifest/_publish, read_snapshot with the equality-delete apply),
# so every registry entry that commits or reads a snapshot table is
# dirty: the merge-on-read, rewrite, rollback and expiry paths first,
# then the append/read-only lifecycles and the streaming commit loop.
# Also r19: similarity.py's fixed-point path (quantizer, cached corpus,
# argmin builder, Lloyd loop, query-row lookup) was folded into one,
# so every k-means, PQ, IVF-PQ and power-iteration consumer and the
# two per-dimension audits follow the snapshot set.
# Also r19: the four reference-index MinHash probes (incremental dedup
# and fuzzy decontamination, batch and streaming) were folded into one
# probe path, and ``cached()`` outside a plan build became memo-owned,
# so those four and the other ops that cache outside a build follow.
# Also r19: the query×corpus cosine and top-k blocks and the block-pair
# layout were folded into one owner each (_query_sims, _top_ranked,
# _block_pair_scan), so the ops rewritten onto them follow, then the
# three that consume the block-pair frame; this fills the window, so
# the other consumers wait for ROUND 20 (ROADMAP, rotation item).
DIRTY = [
    "snapshot_mor_read", "snapshot_expire", "snapshot_orphan_audit",
    "snapshot_rollback", "snapshot_delete_rows", "snapshot_upsert_rows",
    "snapshot_time_travel", "snapshot_sorted_rewrite",
    "snapshot_partition_evolution", "snapshot_wap_publish",
    "snapshot_changelog_diff", "snapshot_incremental_view_maintenance",
    "snapshot_incremental_read", "snapshot_files",
    "snapshot_metadata_only_count", "snapshot_file_size_audit",
    "snapshot_branch_tag", "stream_snapshot_ingest",
    "ann_pq_adc_topk", "ann_ivfpq_residual_topk", "embedding_kmeans_lloyd",
    "dedup_semantic_semdedup", "stream_ann_cell_assign",
    "embedding_top_component", "embedding_dim_variance",
    "embedding_norm_outliers",
    "dedup_incremental_minhash", "decontaminate_fuzzy_minhash",
    "stream_incremental_dedup", "stream_decontaminate_gate",
    "dedup_ngram_jaccard", "dedup_containment_pairs", "text_ngram_novelty",
    "dedup_similarity_histogram",
    "ann_topk_bruteforce", "ann_topk_blocked", "ann_matryoshka_recall",
    "ann_topk_ivf", "ann_index_persist_probe", "ann_ivf_nprobe_curve",
    "ann_radius_count", "hybrid_rrf_retrieval", "ann_mmr_rerank",
    "embedding_triplet_mining", "embedding_near_dup_pairs",
    "embedding_knn_label_eval", "ann_topk_lsh",
    "embedding_near_dup_lsh", "embedding_dbscan_core",
    "dedup_cross_lingual_pairs",
]


def main() -> None:
    # every dirty name must land inside the checked window, or the
    # rotation silently stops covering the names it exists for
    if len(DIRTY) > WINDOW:
        raise SystemExit(
            f"DIRTY ({len(DIRTY)}) exceeds the {WINDOW}-entry "
            "correctness window: split this round's dirty set"
        )
    entry_path = ROOT / "__spark_entry__.py"
    src = entry_path.read_text()
    head, rest = src.split("_PRIORITY = [", 1)
    listpart, tail = rest.split("]", 1)
    prev = re.findall(r'"([^"]+)"', listpart)

    # sort NUMERICALLY by round (lexicographic sort mis-orders r100+
    # against two-digit names)
    last: dict[str, int] = {}
    files = sorted(
        glob.glob(str(ROOT / "CORRECTNESS_r*.json")),
        key=lambda f: int(re.search(r"_r(\d+)\.json$", f).group(1)),
    )
    for f in files:
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        # explicit raise, not assert: python -O strips asserts and the
        # invariant would silently stop being enforced
        if rnd >= ROUND:
            raise SystemExit(
                f"CORRECTNESS_r{rnd:02d}.json already exists but "
                f"ROUND={ROUND}: this tool must run at round start "
                "(before the driver writes the round's file) — bump "
                "ROUND if preparing the next round"
            )
        for k in json.load(open(f)):
            last[k] = rnd

    import __spark_entry__ as entry

    registry = list(entry.queries())
    missing_dirty = [d for d in DIRTY if d not in registry]
    if missing_dirty:
        raise SystemExit(f"DIRTY not in registry: {missing_dirty}")

    prev_pos = {n: i for i, n in enumerate(prev)}
    rest_names = [n for n in registry if n not in DIRTY]
    rest_sorted = sorted(
        rest_names,
        key=lambda n: (last.get(n, 0), prev_pos.get(n, len(prev))),
    )
    out = DIRTY + rest_sorted
    if not (len(out) == len(set(out)) == len(registry)):
        raise SystemExit(
            f"rotation invariant broken: {len(out)} rotated / "
            f"{len(set(out))} unique / {len(registry)} registry — "
            "check DIRTY for duplicates"
        )

    lines = []
    for i in range(0, len(out), 3):
        lines.append(
            "    " + ", ".join(f'"{n}"' for n in out[i : i + 3]) + ","
        )
    entry_path.write_text(
        head + "_PRIORITY = [\n" + "\n".join(lines) + "\n]" + tail
    )
    window = out[:WINDOW]
    stale_after = sorted(
        {last.get(n, 0) for n in out[WINDOW:] if n not in DIRTY}
    )
    print(f"window-{WINDOW} head: {window[:8]} ...")
    print(f"rounds represented in post-window tail: {stale_after}")
    n_old = sum(1 for n in out[WINDOW:] if last.get(n, 0) < 8)
    print(f"tail rows still pre-r8 after this window drains: {n_old}")


if __name__ == "__main__":
    main()
