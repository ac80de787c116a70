"""Round-over-round bench adjudication (r15 verdict task 3).

Compares two BENCH_DETAIL.json files (an OLD round and a NEW round)
and emits, per headline query: the recompute-warm wall delta, the
structural job-count delta, and a verdict that applies the standing
adjudication protocol mechanically instead of by hand:

  1. STRUCTURE FIRST.  The per-rep Spark job count is the plan-shape
     fingerprint (bench.py records the max-job-id delta per recompute
     rep).  If it changed between rounds, the wall delta is a real
     plan change — ``plan-change`` (improved or regressed).
  2. PROBES SECOND.  Each detail file carries a fixed 10M-row-sum
     calibration probe at bench start/mid/end.  The Spark section's
     health reading is the WORSE of min(start reps) and min(mid reps)
     — a burst confined to one bracket must not be hidden by a
     healthy reading at the other; when the slower file's reading
     exceeds both the healthy floor (0.12 s — the observed quiet-host
     band is 0.04-0.11 s) and 1.5x the other file's, the box was
     measurably degraded and an unexplained wall delta on unchanged
     plans is adjudicated ``host-noise``.
  3. BURST SIGNATURES.  Two per-query shapes mark a mid-query host
     burst even when the probes read healthy (both observed in the
     r15c run and hand-adjudicated there): a COLD-INVERSION — the
     slower file's cold run (which pays strictly more work: plan
     construction + one-time materializations) beating its own best
     recompute rep — and REP-INTERVAL OVERLAP — the two files' rep
     ranges overlap, i.e. the delta is inside the observed run-to-run
     spread.  The first is ``host-noise``, the second ``flat``.
  4. WALL LAST.  With identical job counts, healthy probes, and no
     burst signature, a wall delta beyond the noise band (25% AND
     0.15 s — run-to-run spread on this shared host routinely reaches
     25%) is ``REGRESSION`` / ``improved``; inside the band, ``flat``.
     A REGRESSION verdict from best-of-2 reps on a shared box is a
     re-measure order, not a conviction — confirm isolated before
     acting (the r15 a-vs-c comparison shows identical code earning
     this verdict from box drift alone).

Detail files older than r15 lack the jobs/probe instrumentation;
their rows report only the wall delta — ``no-jobs-data`` outside the
noise band, ``flat-no-jobs`` inside it (never a bare ``flat``, which
is reserved for rows whose job-count fingerprint was checked).
Rows whose job-count sets differ only by a tolerated equal-minimum
+1-2 tail carry a ``jobs_jitter`` annotation (``[jobs-jitter]`` in
the table) so a recurring tail across rounds stays visible.

Usage (one command, judge-runnable):

    python tools/bench_diff.py OLD_DETAIL.json NEW_DETAIL.json

Exit code is 0 unless a row earns ``REGRESSION`` (structure flat,
probes healthy, wall regressed) or ``plan-change-regressed`` — the
two verdicts that demand investigation.
"""

from __future__ import annotations

import json
import signal
import sys

# piping through `head` must not stack-trace (default SIGPIPE action,
# not Python's BrokenPipeError); guarded for non-POSIX just in case
try:
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
except (AttributeError, ValueError):
    pass

# healthy-host calibration ceiling: quiet readings on this box are
# 0.04-0.11 s; r14's degraded box spiked the same probe to 0.4-3.7 s
PROBE_HEALTHY_S = 0.12
# noise band for wall deltas on unchanged plans with healthy probes
NOISE_REL = 0.25
NOISE_ABS_S = 0.15


def _load(path: str) -> dict:
    with open(path) as fh:
        d = json.load(fh)
    if d.get("metric") != "headline_queries_detail":
        raise SystemExit(
            f"{path}: not a BENCH_DETAIL file (metric="
            f"{d.get('metric')!r}); pass the detail JSON, not the "
            "summary line"
        )
    return d


def _probe_spark_section(d: dict) -> float | None:
    """Host-health reading for the SPARK timing section: the WORSE of
    the two probes bracketing it — min(start reps) vs min(mid reps)
    (mid runs right after the Spark loop; end runs after DuckDB and
    does not cover the Spark section).  Taking the min across both
    would hide a burst confined to one end: the r16c run read start
    0.294 / mid 0.090 and its early queries carried the burst."""
    cal = d.get("calibration_probe")
    if not cal:
        return None
    ends = [min(cal[k]) for k in ("start", "mid") if cal.get(k)]
    return max(ends) if ends else None


def _probe_burst_reps(d: dict) -> int | None:
    """Count of steady-state Spark-section bracketing probe reps above
    the healthy ceiling — evidence of a burst OVERLAPPING a checkpoint,
    which the min-based _probe_spark_section discards (e.g. r15c's
    mid [0.35, 0.111, 0.124]: min healthy, burst visible here).

    Pre-r17 files recorded the probe's systematic warmup execution as
    rep 0 (~0.2-0.4 s in ALL six committed snapshots, calm or not —
    plan construction, not host signal), so rep 0 is skipped unless
    the file marks "warmup_discarded".  Scope limit: a burst between
    checkpoints (the r16 record run's q14) is invisible to every
    probe statistic — rule-3 burst signatures adjudicate those.
    Informational in the summary; never a verdict input."""
    cal = d.get("calibration_probe")
    if not cal:
        return None
    skip = 0 if cal.get("warmup_discarded") else 1
    reps = [
        r
        for k in ("start", "mid")
        for r in (cal.get(k) or [])[skip:]
    ]
    return sum(1 for r in reps if r > PROBE_HEALTHY_S) if reps else None


def _jobs_sig(d: dict, name: str) -> tuple[int, ...] | None:
    reps = (d.get("queries_jobs_recompute") or {}).get(name)
    return tuple(reps) if reps else None


def _regime(d: dict) -> str:
    # pre-r12 detail files carry neither marker and their bare
    # "queries" column is CACHE-warm best-of — not comparable to the
    # recompute-warm column this tool adjudicates.  Normalized to one
    # token because the two markers spell it differently
    # ("recompute_warm" vs "recompute_warm_since_r12").
    raw = (
        d.get("queries_regime")
        or d.get("ratio_semantics")
        or "cache_warm_pre_r12"
    )
    return "recompute_warm" if "recompute" in raw else "cache_warm"


def adjudicate(old: dict, new: dict) -> tuple[list[dict], dict]:
    if _regime(old) != _regime(new):
        raise SystemExit(
            f"regime mismatch: old={_regime(old)!r} vs "
            f"new={_regime(new)!r} — the files' timing columns measure "
            "different things (bench.py's queries_regime note); "
            "cross-regime wall deltas are not adjudicable"
        )
    qs_old = old.get("queries_recompute") or old.get("queries") or {}
    qs_new = new.get("queries_recompute") or new.get("queries") or {}
    probe_old = _probe_spark_section(old)
    probe_new = _probe_spark_section(new)
    rows: list[dict] = []
    for name in qs_new:
        if name not in qs_old:
            rows.append({"query": name, "verdict": "new-query"})
            continue
        w_old, w_new = qs_old[name], qs_new[name]
        delta = round(w_new - w_old, 3)
        j_old, j_new = _jobs_sig(old, name), _jobs_sig(new, name)
        row = {
            "query": name,
            "wall_old": w_old,
            "wall_new": w_new,
            "wall_delta": delta,
            "jobs_old": list(j_old) if j_old else None,
            "jobs_new": list(j_new) if j_new else None,
        }
        within_band = abs(delta) <= max(NOISE_REL * w_old, NOISE_ABS_S)
        # per-rep counts can differ in LENGTH if the rep count
        # changed; compare the structural fingerprint = the set of
        # per-rep counts (reps of one plan repeat the same count).
        # Exception: a ±1-2 job tail above an EQUAL minimum is runtime
        # jitter (AQE re-optimization / broadcast-job scheduling can
        # add a small job on one rep — observed once in 69-job
        # dedup_incremental_cc), not a new plan; a genuinely changed
        # plan shifts the minimum.
        sets_differ = (
            j_old is not None
            and j_new is not None
            and set(j_old) != set(j_new)
        )
        plan_change = sets_differ and (
            min(j_old) != min(j_new)
            or max(max(j_old), max(j_new)) - min(min(j_old), min(j_new)) > 2
        )
        if sets_differ and not plan_change:
            # tolerated jitter tail — logged (r16 ADVICE) so a
            # RECURRING +1/+2 tail across rounds is visible in the
            # row/table instead of silently absorbed into "flat"
            row["jobs_jitter"] = True
        if j_old is None or j_new is None:
            # pre-r15 file: no structural fingerprint exists, so a
            # within-band row is "flat-no-jobs", not "flat" — the
            # wall delta is small but NO job-count check confirmed
            # the plan (r16 ADVICE: a bare "flat" here implied a
            # structural adjudication that never happened)
            row["verdict"] = (
                "flat-no-jobs" if within_band else "no-jobs-data"
            )
        elif plan_change:
            row["verdict"] = (
                "plan-change-regressed"
                if delta > 0 and not within_band
                else "plan-change-improved"
                if delta < 0 and not within_band
                else "plan-change-flat"
            )
        elif within_band:
            row["verdict"] = "flat"
        else:
            # unchanged plan, wall moved beyond the band: probes and
            # burst signatures decide
            slower_d, slower, other = (
                (new, probe_new, probe_old)
                if delta > 0
                else (old, probe_old, probe_new)
            )
            degraded = (
                slower is not None
                and slower > PROBE_HEALTHY_S
                and (other is None or slower > 1.5 * other)
            )
            reps_slow = (slower_d.get("queries_runs_recompute") or {}).get(
                name
            )
            cold_slow = (slower_d.get("queries_cold") or {}).get(name)
            # cold pays strictly more work than a recompute rep; cold
            # beating every rep means a burst hit the rep section
            cold_inverted = (
                reps_slow
                and cold_slow is not None
                and cold_slow < min(reps_slow)
            )
            reps_old = (old.get("queries_runs_recompute") or {}).get(name)
            reps_new = (new.get("queries_runs_recompute") or {}).get(name)
            overlap = (
                reps_old
                and reps_new
                and max(min(reps_old), min(reps_new))
                <= min(max(reps_old), max(reps_new))
            )
            if degraded or cold_inverted:
                row["verdict"] = "host-noise"
            elif overlap:
                row["verdict"] = "flat"
            else:
                row["verdict"] = "REGRESSION" if delta > 0 else "improved"
        rows.append(row)
    for name in qs_old:
        if name not in qs_new:
            rows.append({"query": name, "verdict": "removed-query"})

    dd_old = sum((old.get("duckdb_queries") or {}).values())
    dd_new = sum((new.get("duckdb_queries") or {}).values())
    summary = {
        "spark_total_old": round(sum(qs_old.values()), 3),
        "spark_total_new": round(sum(qs_new.values()), 3),
        "duckdb_total_old": round(dd_old, 3),
        "duckdb_total_new": round(dd_new, 3),
        "probe_spark_section_old": probe_old,
        "probe_spark_section_new": probe_new,
        "probe_burst_reps_old": _probe_burst_reps(old),
        "probe_burst_reps_new": _probe_burst_reps(new),
        "verdict_counts": {},
        # rows whose job-count sets differed only by the tolerated
        # equal-minimum +1-2 tail — visible here so a recurring
        # jitter tail across rounds can be spotted from summaries
        "jobs_jitter_rows": sorted(
            r["query"] for r in rows if r.get("jobs_jitter")
        ),
    }
    for r in rows:
        v = r["verdict"]
        summary["verdict_counts"][v] = summary["verdict_counts"].get(v, 0) + 1
    return rows, summary


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        raise SystemExit(
            "usage: python tools/bench_diff.py OLD_DETAIL.json "
            "NEW_DETAIL.json"
        )
    old, new = _load(argv[1]), _load(argv[2])
    rows, summary = adjudicate(old, new)
    order = {
        "REGRESSION": 0,
        "plan-change-regressed": 1,
        "plan-change-improved": 2,
        "plan-change-flat": 3,
        "host-noise": 4,
        "no-jobs-data": 5,
        "flat-no-jobs": 6,
        "improved": 7,
        "new-query": 8,
        "removed-query": 9,
        "flat": 10,
    }
    rows.sort(
        key=lambda r: (order.get(r["verdict"], 10), -abs(r.get("wall_delta", 0)))
    )
    wq = max((len(r["query"]) for r in rows), default=5)
    print(
        f"{'query':<{wq}}  {'old':>7} {'new':>7} {'delta':>7}  "
        f"{'jobs old->new':<16} verdict"
    )
    for r in rows:
        if "wall_old" not in r:
            print(f"{r['query']:<{wq}}  {'':>7} {'':>7} {'':>7}  "
                  f"{'':<16} {r['verdict']}")
            continue
        jo = ",".join(map(str, r["jobs_old"])) if r["jobs_old"] else "-"
        jn = ",".join(map(str, r["jobs_new"])) if r["jobs_new"] else "-"
        mark = " [jobs-jitter]" if r.get("jobs_jitter") else ""
        print(
            f"{r['query']:<{wq}}  {r['wall_old']:>7.3f} "
            f"{r['wall_new']:>7.3f} {r['wall_delta']:>+7.3f}  "
            f"{jo + '->' + jn:<16} {r['verdict']}{mark}"
        )
    print()
    print(json.dumps({"metric": "bench_diff_summary", **summary}))
    bad = summary["verdict_counts"].get("REGRESSION", 0) + summary[
        "verdict_counts"
    ].get("plan-change-regressed", 0)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
