#!/usr/bin/env python3
"""Round-over-round bench comparison (dev loop).

Compares two `bench_full.json` artifacts (graft.Bench's complete
output — the round-14 verdict asked for the full per-query map to be
committed precisely so this analysis stops needing a judge re-run):

    python3 tools/bench_diff.py bench_full_prev.json bench_full.json [ratio]

Prints queries present in both (sorted by ratio, worst first),
flagging those slower than `ratio` (default 1.5×), plus added/removed
queries and the totals. A query in one artifact's `trained_stages` and
not the other's is marked: on that side its timed number excludes a
memo built in the untimed warmup, so its ratio is not code movement. Machine noise note: same-box runs vary ±30%
per query (BENCH history); treat < 1.5× as noise unless systematic.
"""
import sys, json

def load(p):
    with open(p) as f:
        d = json.load(f)
    return d

def main():
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    qo, qn = dict(old.get("queries", {})), dict(new.get("queries", {}))
    # Methodology normalization (round-17 advisor note): the best-of-2
    # noisy re-measure keeps min(first, second), which can only shave
    # totals — comparing a min-kept artifact against one that predates
    # "noisy_rerun" would read the methodology change as a code
    # speedup. When exactly ONE side carries the map, substitute that
    # side's "first" readings (the plain same-slot median both
    # methodologies share) for the affected queries.
    normalized = []
    if ("noisy_rerun" in old) != ("noisy_rerun" in new):
        d, qd = (old, qo) if "noisy_rerun" in old else (new, qn)
        for q, v in (d.get("noisy_rerun") or {}).items():
            if q in qd:
                qd[q] = v["first"]
                normalized.append(q)
    # Same ratio convention as the flag loop: old==0 sorts as inf
    # (worst), not 0 (last).
    both = sorted(set(qo) & set(qn),
                  key=lambda q: qn[q] / qo[q] if qo[q] else float("inf"),
                  reverse=True)
    # noisy disclosure (round-17): a query flagged noisy in EITHER
    # artifact had its passes disagree >2x — its ratio is measurement
    # noise until a clean run confirms it, so annotate instead of
    # letting it read as a regression (the r16 q106 lesson). The
    # best-of-2 re-measure map ("noisy_rerun") is summarized below.
    noisy = set(old.get("noisy", [])) | set(new.get("noisy", []))
    # Rep-spread suppression (round-17 verdict #2): artifacts carry
    # each query's raw-pass [min, max]. The suppression interval is
    # [min, kept-median], NOT [min, max]: under the inflation-only
    # contention model the true cost lies at or below the median and
    # at or above the min, while the max is exactly where a
    # contaminated pass lands — an interval including it would let one
    # old-round spike mask a genuine regression of any size up to the
    # spike. Overlapping [min, median] intervals = within measurement
    # dispersion, suppressed; disjoint = reported and counted. A
    # contaminated round whose EVERY pass inflated (min included)
    # still flags — but carries the noisy annotation, and a warning
    # that proves spurious on re-measure costs minutes, where a
    # silently masked regression ships.
    so_, sn_ = old.get("spread", {}), new.get("spread", {})
    def within_spread(q):
        a, b = so_.get(q), sn_.get(q)
        if not (a and b):
            return False
        a_hi = max(a[0], qo[q])
        b_hi = max(b[0], qn[q])
        return a[0] <= b_hi and b[0] <= a_hi
    # Hard ceiling (round-18 advisor note): interval overlap suppresses
    # noise, but a genuinely bimodal/data-dependent regression whose
    # FASTEST new pass still dips into the old interval would be
    # printed yet never counted. Movers whose median ratio exceeds
    # 2x the threshold stay counted regardless of overlap — at that
    # size "one fast pass" is no longer evidence of mere slot noise.
    hard = 2 * thr
    # trained-stage disclosure: which side (if only one) timed the
    # query as the consumer of a warmup-built memo. An artifact older
    # than the field cannot say, so nothing is marked against it.
    ts_old, ts_new = old.get("trained_stages"), new.get("trained_stages")
    memo_only = {}
    if ts_old is not None and ts_new is not None:
        for q in set(ts_old) ^ set(ts_new):
            memo_only[q] = "new" if q in ts_new else "old"
    flagged = 0
    print(f"{'query':40s} {'old_s':>8s} {'new_s':>8s} {'ratio':>7s}")
    for q in both:
        r = qn[q] / qo[q] if qo[q] else float("inf")
        flag = "  <<< slower than %.1fx" % thr if r > thr else ""
        if flag and within_spread(q) and r <= hard:
            flag = ("  (within-spread: old [%0.2f,%0.2f] overlaps "
                    "new [%0.2f,%0.2f] — not counted)"
                    % (so_[q][0], max(so_[q][0], qo[q]),
                       sn_[q][0], max(sn_[q][0], qn[q])))
        elif flag and within_spread(q):
            flag = ("  <<< slower than %.1fx (overlaps old spread but "
                    "median ratio > %.1fx hard ceiling — counted)"
                    % (thr, hard))
            flagged += 1
        elif flag and q in noisy:
            flag += " (noisy — re-measure before trusting)"
            flagged += 1
        elif flag:
            flagged += 1
        if q in memo_only:
            flag += ("  [trained stage in %s only — its warmup-built memo "
                     "is not in that side's time]" % memo_only[q])
        print(f"{q:40s} {qo[q]:8.2f} {qn[q]:8.2f} {r:7.2f}{flag}")
    if normalized:
        print("methodology: compared 'first' readings for "
              f"{len(normalized)} noisy-rerun queries (other artifact "
              "predates best-of-2): " + ", ".join(sorted(normalized)))
    added = sorted(set(qn) - set(qo))
    removed = sorted(set(qo) - set(qn))
    if added:
        print("added:   " + ", ".join(added))
    if removed:
        print("removed: " + ", ".join(removed))
    for side in ("old", "new"):
        qs = sorted(q for q, s in memo_only.items() if s == side)
        if qs:
            print(f"trained stage in {side} only: " + ", ".join(qs))
    to, tn = old.get("value"), new.get("value")
    # steal_pct/load fields are absent from older (tail-truncated)
    # BENCH_r*.json artifacts — the files this tool exists to compare
    # against; render them as nan instead of raising.
    nan = float("nan")
    so = old.get("steal_pct", nan)
    sn = new.get("steal_pct", nan)
    so = nan if so is None else so
    sn = nan if sn is None else sn
    print(f"total: {to:.2f}s ({len(qo)} queries) -> {tn:.2f}s ({len(qn)}), "
          f"shared-query sum {sum(qo[q] for q in both):.2f} -> "
          f"{sum(qn[q] for q in both):.2f}; {flagged} flagged > {thr}x "
          f"(loads: old {old.get('load_before')}, new {new.get('load_before')}; "
          f"steal: old {so:.2f}%, new {sn:.2f}%)")
    # best-of-2 disclosure: how many flagged-noisy queries each run
    # re-measured, and how much the re-measure shaved (a big total
    # delta here means slot-local contention, not code movement)
    for label, d in (("old", old), ("new", new)):
        rr = d.get("noisy_rerun") or {}
        if rr:
            saved = sum(max(v["first"], v["second"]) -
                        min(v["first"], v["second"]) for v in rr.values())
            print(f"noisy best-of-2 ({label}): {len(rr)} re-measured, "
                  f"{len(d.get('noisy', []))} still noisy, "
                  f"{saved:.2f}s shaved by keeping the min")

if __name__ == "__main__":
    main()
