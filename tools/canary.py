#!/usr/bin/env python3
"""Canary-based bench drift classifier (dev tool; the engine never uses
Python) — the r16 verdict item 6: this box's measurement windows swing
hard (+31% multiplicative drift observed between rounds on
byte-identical code), which made every round's regression argument
expensive. This script makes it one run:

  python3 tools/canary.py NEW_BENCH.json [HISTORY.json ...]

HISTORY defaults to every committed BENCH_LOCAL_r*.json in the repo
root. The CANARIES below are ten READ-ONLY queries re-baselined in r18
(the r17 verdict item 3: q119_snapshot_diff and q130_cdc_chain ran a
versioned write + vacuum lifecycle per rep, which made them
disk-state-sensitive — INSTRUMENT SUSPECT in 2 of 3 r17 records — and
four others drifted past the 1.12 spread rule in the r16b/r17b/r17d
idle set). Selection rule, re-applied on every re-baseline: read-only
(no lifecycle writes), shape diversity across the engine's operator
families, and <=1.10 max/min spread across the three newest committed
idle artifacts. They are the measurement instrument, so changing their
code means re-baselining this list.

Method: each canary's ratio = new_median / median(committed medians).
The geometric mean of canary ratios is the WINDOW FACTOR (pure
measurement drift affects every query multiplicatively). Then every
query in the new run is judged against its committed [min, max] band
SCALED by the window factor: outside the scaled band -> code-suspect;
inside the raw band -> in-band; between -> window drift. The slack on
the scaled band is PROPORTIONAL to the observed drift (5% epsilon +
half the window factor's distance from 1) — on a stable box (wf ~ 1)
a >10%-out-of-band query is flagged instead of auto-passed (the r17
advice item: the old unconditional 20% slack silently passed sub-20%
code regressions on quiet windows). A canary itself going >1.5x off
the pack's factor is flagged loudly (the instrument broke: either its
code changed or the box did something non-multiplicative).
"""
import sys, os, json, glob, math

CANARIES = [
    "q202_user_skyline",       # events window / dominance scan
    "q260_tpch_q20",           # multi-join TPC-H shape
    "q64_rare_terms",          # text explode + agg (volatile-listed, 5 reps)
    "q74_salted_agg",          # skew-salted two-phase aggregate
    # r18 sitting 2: q238 left the list — its sessionized corpus pass
    # was folded into the events:transitionGapCells session memo (a
    # deliberate code change; the instrument rule above says changed
    # code = re-baseline). q61 takes the slot: same family (iterative
    # graph fold, bounded rounds), read-only, code untouched since r9.
    "q61_dedup_components",    # iterative graph fold (bounded domain)
    "q273_erasure_sweep",      # governance anti-join/semi-probe sweep
    "q59_dedup_embed_lsh",     # embedding sign-LSH banding
    "q163_quality_perceptron", # text quality scoring pass
    # r19: q147 left the list — its exact term table and sketch now
    # fold from the text:wordIdCells/unigramCounts session memos (the
    # verdict-ordered shared word-marginal pass; changed code =
    # re-baseline, the same instrument rule as the r18 q238->q61 swap).
    # q170 takes the slot: retrieval BM25+PRF shape (a family the list
    # did not cover), read-only (serves from the lex:* memos), code
    # untouched since r17, and 1.052 max/min spread across the three
    # newest committed idle artifacts (r18m/r18n/r19a: 1.457/1.533/
    # 1.505) with a ~1.5 s median — a robust ratio denominator.
    "q170_prf_expansion",      # retrieval BM25 + PRF expansion
    "q133_ivfpq_refine",       # vector index read + PQ refine
]


def load(path):
    with open(path) as f:
        d = json.load(f)
    # a driver BENCH_r{N}.json wraps the stdout short line under
    # "parsed" — and the short line carries no per-query map; the full
    # map lives in the file artifact the run's "detail" field names
    # (bench.json committed alongside). Unwrap, and fall back to the
    # sibling detail artifact when the queries map is empty or partial
    # (the stdout line keeps only the top medians; "nq" counts them all).
    if "parsed" in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    queries = d.get("queries")
    if not queries or len(queries) < d.get("nq", 0):
        detail = os.path.join(os.path.dirname(os.path.abspath(path)),
                              d.get("detail", "bench.json"))
        if os.path.exists(detail):
            with open(detail) as f:
                d = json.load(f)
    return d


def main():
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    new = load(sys.argv[1])
    hist_paths = sys.argv[2:] or sorted(
        glob.glob(os.path.join(os.path.dirname(__file__), "..",
                               "BENCH_LOCAL_r*.json")))
    hist = [load(p) for p in hist_paths]
    hist = [h for h in hist if "queries" in h]
    if not hist:
        print("no history artifacts found")
        sys.exit(2)

    def committed(q):
        meds = [h["queries"][q] for h in hist if q in h.get("queries", {})]
        los = [h["min"][q] for h in hist if q in h.get("min", {})]
        his = [h["max"][q] for h in hist if q in h.get("max", {})]
        if not meds:
            return None
        meds.sort()
        return (meds[len(meds) // 2], min(los or meds), max(his or meds))

    # window factor from the canaries
    ratios = {}
    for q in CANARIES:
        c = committed(q)
        if c and q in new.get("queries", {}) and c[0] > 0:
            ratios[q] = new["queries"][q] / c[0]
    if len(ratios) < 5:
        print(f"only {len(ratios)} canaries present in both runs — "
              "cannot estimate the window factor")
        sys.exit(2)
    wf = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    print(f"window factor (geomean of {len(ratios)} canary ratios): {wf:.3f}")
    for q, r in sorted(ratios.items(), key=lambda kv: -kv[1]):
        mark = "  <-- INSTRUMENT SUSPECT" if (r / wf > 1.5 or wf / r > 1.5) else ""
        print(f"  canary {q:28s} ratio {r:5.2f}{mark}")

    # judge every query in the new run against its scaled band
    code_suspect, window_only, inband, fresh = [], [], [], []
    for q, v in sorted(new.get("queries", {}).items()):
        c = committed(q)
        if c is None:
            fresh.append(q)
            continue
        med, lo, hi = c
        # drift-proportional slack (r17 advice): a quiet window earns
        # only the 5% epsilon; a hot one earns slack in proportion to
        # the drift the canaries actually measured
        slack = 0.05 + abs(wf - 1.0) / 2.0
        if lo <= v <= hi:
            inband.append(q)
        elif lo * min(wf, 1.0) * (1 - slack) <= v <= hi * max(wf, 1.0) * (1 + slack):
            window_only.append((q, v, med))
        else:
            code_suspect.append((q, v, med, lo, hi))

    print(f"\n{len(inband)} in committed band, {len(window_only)} explained "
          f"by window factor, {len(fresh)} new queries, "
          f"{len(code_suspect)} CODE-SUSPECT:")
    for q, v, med, lo, hi in sorted(code_suspect, key=lambda t: -(t[1] / t[2])):
        print(f"  {q:32s} new {v:7.2f}s vs committed med {med:6.2f} "
              f"band [{lo:.2f}, {hi:.2f}] x{v / med:5.1f}")
    sys.exit(1 if code_suspect else 0)


if __name__ == "__main__":
    main()
