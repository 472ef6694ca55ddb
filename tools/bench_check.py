"""Bench regression gate (r9, VERDICT r8 item 7): fail loudly when the
latest runs regress against the history minima.

This host has multi-minute noise bands (identical code has drawn 45 s
vs 82 s totals — CLAUDE.md), so a single slow draw is NOT a
regression: a query is flagged only when the LAST TWO valid runs at
the same sf are BOTH > THRESHOLD x the historical per-query minimum
(minimum over all valid earlier runs at that sf, the two runs under
test excluded). That is the documented confirm-across-two-runs
discipline, executable: `make bench-check` after two fresh
`make bench` runs; exit code 1 on any confirmed regression (CI-able).

Streaming rates get the reciprocal check (both last runs below
min-rate-seen / THRESHOLD). A rate a run recorded as null (a missed
measurement, with its reason) gates as a zero rate and is printed as
a note with its reason, never skipped silently; a confirmed
regression it takes part in carries the reason too. Queries without
at least one earlier baseline run are reported as "new" and never
fail the gate.

Usage:
    python tools/bench_check.py [--threshold 1.5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

THRESHOLD = 1.5
# a ratio alone flags sub-second noise (0.21 s -> 0.5 s at smoke SFs
# is cold-JVM variance, not a regression): a query must ALSO be at
# least this many seconds over its floor in both runs
ABS_MARGIN_SECONDS = 0.5
# A deliberate design trade re-floors a query EXPLICITLY: the history
# floor is a min over every recorded run, so it can never rise on its
# own — after a documented rewrite that trades toy-SF latency for
# scale (the only legitimate reason), grading against the old plan's
# floor would flag the new design forever. Each entry names the new
# expected floor and must cite the PERF.md section with the measured
# A/B; the check then uses max(history_floor, rebaselined_floor), so
# a real regression of the NEW design still flags.
REBASELINED_FLOORS = {
    # r10 "interpreted-fold seam" (PERF.md): ivf_topk pays one extra
    # bounded probe-collect job at toy SF for 8.6x at sf10
    # (23.1 -> 2.7 s); sf0.1 construction (3 fit jobs + collect)
    # floors at ~2.3 s on this host.
    "ivf_topk": 2.3,
    # r6/r7 exactness trade (PERF.md r6 "exact rounded sums";
    # CLAUDE.md invariants 2/19): every rounded value-sum moved onto
    # guarded hi/lo integer-micros long sums (commit 0adc287, history
    # ts 1786804654) so both engines round the identical double. The
    # pre-trade minima (tpch_q1 0.362 etc.) grade a plan that no
    # longer exists and produced order-dependent rounding at scale;
    # post-trade floors below are the measured minima over the 17
    # sf0.1 runs since. Era split per query (pre -> post min):
    # tpch_q1 0.362->0.700, candles 0.283->0.644,
    # candles_rollup 0.354->0.700, cohort_retention 0.352->0.656,
    # hopping_window 0.219->0.430, range_band_count 0.283->0.516,
    # session_window 0.346->0.654, twap_daily 0.324->0.649.
    "tpch_q1": 0.70,
    "candles": 0.64,
    "candles_rollup": 0.70,
    "cohort_retention": 0.65,
    "hopping_window": 0.43,
    "range_band_count": 0.51,
    "session_window": 0.65,
    "twap_daily": 0.64,
}
STREAM_KEYS = (
    "processed_rows_per_sec",
    "stateful_processed_rows_per_sec",
    "gate_minhash_docs_per_sec",
    "gate_embedding_vecs_per_sec",
)
# where a run records why a rate is null (bench_streaming.measure_stateful)
NULL_REASONS = {"stateful_processed_rows_per_sec": "stateful_null_reason"}


def load_history(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def check(runs: list[dict], threshold: float = THRESHOLD,
          abs_margin: float = ABS_MARGIN_SECONDS) -> tuple[list[str], list[str]]:
    """Returns (confirmed_regressions, notes). Pure so the no-Spark
    regression tests can drive it on synthetic histories."""
    valid = [r for r in runs if r.get("valid", True)]
    if not valid:
        return [], ["no valid runs in history"]
    sf = valid[-1].get("sf")
    at_sf = [r for r in valid if r.get("sf") == sf]
    if len(at_sf) < 3:
        return [], [
            f"only {len(at_sf)} valid run(s) at sf={sf} — need >= 3 "
            "(2 under test + 1 baseline); not a gate failure"
        ]
    last_two, base = at_sf[-2:], at_sf[:-2]
    bad: list[str] = []
    notes: list[str] = []

    for name in sorted(set().union(*(r.get("queries", {}) for r in at_sf))):
        base_times = [
            r["queries"][name] for r in base if name in r.get("queries", {})
        ]
        cur = [
            r["queries"][name] for r in last_two if name in r.get("queries", {})
        ]
        if not base_times:
            notes.append(f"{name}: new query, no baseline yet")
            continue
        if len(cur) < 2:
            notes.append(f"{name}: present in <2 of the last runs — unconfirmed")
            continue
        floor = max(min(base_times), REBASELINED_FLOORS.get(name, 0.0))
        if floor <= 0:
            continue
        if all(c > threshold * floor and c - floor > abs_margin for c in cur):
            bad.append(
                f"{name}: last two runs {cur[0]:.3f}/{cur[1]:.3f} s vs "
                f"history min {floor:.3f} s (> {threshold}x and "
                f"+{abs_margin}s, confirmed)"
            )

    def basis(r: dict, key: str):
        # The stateless rate has TWO measurement bases (ADVICE r12):
        # plain `rate` (backlog-rate) vs the `rate-micro-batch`
        # fallback (fixed-batch). Rates are only comparable within one
        # basis, so floors partition on the artifact's fallback flag.
        if key != "processed_rows_per_sec":
            return None
        return (r.get("streaming") or {}).get("stateless_fallback")

    for key in STREAM_KEYS:
        streams = [r.get("streaming") or {} for r in last_two]
        # a rate recorded as null is a missed measurement: it gates as
        # a zero rate and is noted with its reason, never skipped (a
        # rate never recorded is simply not measured)
        nulls = [s for s in streams if key in s and s[key] is None]
        why = ""
        if nulls:
            reason_key = NULL_REASONS.get(key)
            why = "; ".join(sorted({
                s.get(reason_key) or "no reason recorded" for s in nulls
            }))
            notes.append(
                f"streaming {key}: null in {len(nulls)} of the last two "
                f"runs ({why})"
            )
        cur = [0 if key in s and s[key] is None else s.get(key)
               for s in streams]
        if any(c is None for c in cur):
            continue
        cur_bases = {basis(r, key) for r in last_two}
        if len(cur_bases) > 1:
            notes.append(
                f"streaming {key}: last two runs use different "
                "measurement bases (stateless_fallback) — unconfirmed"
            )
            continue
        b = cur_bases.pop()
        base_rates = [
            (r.get("streaming") or {}).get(key)
            for r in base if basis(r, key) == b
        ]
        base_rates = [x for x in base_rates if x]
        if not base_rates:
            if b is not None:
                notes.append(
                    f"streaming {key}: no baseline at basis "
                    f"{b!r} yet — unconfirmed"
                )
            continue
        ceil = max(base_rates)
        if all(c < ceil / threshold for c in cur):
            bad.append(
                f"streaming {key}: last two runs {cur[0]}/{cur[1]} vs "
                f"history max {ceil} (< 1/{threshold}x, confirmed)"
                + (f"; null: {why}" if why else "")
            )
    return bad, notes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=float, default=THRESHOLD)
    ap.add_argument("--abs-margin", type=float, default=ABS_MARGIN_SECONDS)
    args = ap.parse_args()
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_history.jsonl",
    )
    if not os.path.exists(path):
        print("bench-check: no bench_history.jsonl — run `make bench` first")
        return 0
    bad, notes = check(load_history(path), args.threshold, args.abs_margin)
    for n in notes:
        print(f"  ~ {n}")
    if bad:
        print(f"bench-check: {len(bad)} CONFIRMED regression(s):")
        for b in bad:
            print(f"  ✗ {b}")
        return 1
    print("bench-check: no confirmed regressions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
