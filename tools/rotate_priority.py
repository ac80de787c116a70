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
ROUND = 18

# the driver's correctness window: the first WINDOW _PRIORITY entries
WINDOW = 50

# EDIT EACH ROUND: this round's dirty set, most-critical first.
# r18: transitive consumers of this round's optimization commits
# (AST call-graph trace from the registry to the changed functions:
# the minhash verify cascade, the CC loop symmetrization, the
# co-purchase pair packing, the trade-edge/dbscan symmetrization,
# the simhash/payload/grams scan spreads, the PQ qrow paths, and the
# rebalance single-slice RDD).  Headline bench queries first.
DIRTY = [
    # headline rows whose executed plan changed
    "dedup_connected_components", "dedup_cluster_canonical",
    "dedup_incremental_cc", "dedup_minhash_lsh", "dedup_weighted_jaccard",
    "dedup_similarity_histogram", "dedup_simhash", "dedup_simhash_hamming",
    "graph_triangle_count", "graph_label_propagation",
    "embedding_dbscan_core", "ann_pq_adc_topk", "ann_ivf_rebalance",
    "multimodal_phash_near_dup", "text_boilerplate_coverage",
    # registry consumers of the same changed builds
    "dedup_incremental_minhash", "dedup_cluster_stats",
    "dedup_cluster_cohesion", "dedup_loss_by_source",
    "dedup_lexical_semantic_eval", "decontaminate_fuzzy_minhash",
    "stream_incremental_dedup", "stream_decontaminate_gate",
    "embedding_cluster_components", "embedding_cluster_canonical",
    "item_item_cosine", "basket_association_rules",
    "graph_link_prediction", "graph_kcore_peel", "graph_pagerank",
    "graph_bfs_reachability",
    "ann_ivfpq_residual_topk", "ann_topk_ivf", "ann_ivf_nprobe_curve",
    "ann_ivf_balance_audit", "ann_index_persist_probe",
    "multimodal_payload_dedup", "multimodal_audio_fingerprint",
    "multimodal_scene_changes", "multimodal_silence_trim",
    "multimodal_aspect_bucket", "multimodal_color_histogram",
    "multimodal_features", "multimodal_frame_sample",
    "multimodal_resize", "multimodal_audio_rms",
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
