#!/usr/bin/env python3
"""Choose the catalog slice from a profile of the full catalog.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 1 \\
        --trace 1 --full-catalog --record full.json
    python3 perfbench/slice.py full.json [--slice q06_big_spenders,...]

The profile run executes every `SparkEntry.queries` entry twice in one
JVM, an untimed warm-up pass and a traced pass, as the benchmark does
with its slice. From the traced pass this script takes each query's
wall time, the build / plan / execute split of it, its jobs and the
whole JVM's CPU time; from the warm-up pass whether it built a session-stage
memo. It then picks one query per pack so that the slice's profile is
closest to the full catalog's (sum of relative differences over the
features below), subject to three constraints: its two passes (cold
warm-up and warm) stay within BUDGET_S of wall time and its DuckDB
oracle checks (timed by run.py) within ORACLE_BUDGET_S, so a run fits
the benchmark's time limit, and at least one of its queries builds a session-stage memo, so
the `SessionStage` layer is measured. It prints the slice and a markdown
table comparing the two. The search is seeded, so one record always
gives the same slice. With --slice it compares the given slice instead
of choosing one (to check a slice against a second profile run).
"""
import argparse
import json
import random
import statistics
from collections import defaultdict

BUDGET_S = 17.0  # wall time of the slice's queries, warm-up plus warm pass
ORACLE_BUDGET_S = 2.0  # DuckDB time of the slice's output checks


def profile(rec):
    """Per query: wall, build, plan, exec ms, jobs, CPU ms, memo build."""
    spans = rec["spans"]
    by_id = {s["id"]: s for s in spans}
    q = {}
    for s in spans:
        if s["layer"] == "query" and s["op"] != "curation_export":
            q[s["op"]] = {"wall": (s["end_ns"] - s["start_ns"]) / 1e6,
                          "build": 0.0, "plan": 0.0, "exec": 0.0, "jobs": 0}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is None or p["layer"] != "query" or p["op"] not in q:
            continue
        key = {"queries": "build", "plans": "plan", "exec": "exec"}[s["layer"]]
        q[p["op"]][key] += (s["end_ns"] - s["start_ns"]) / 1e6
        q[p["op"]]["jobs"] += s["jobs"]
    for o in rec["op_ms"]:
        if o["kind"] == "read" and o["id"] in q:
            q[o["id"]]["cpu"] = o["process_cpu_ms"]
    for name, w in rec["warmup"].items():
        if name in q:
            q[name]["memo"] = 1.0 if w["stage_s"] > 0 else 0.0
            q[name]["cold"] = w["ms"]
    for name, secs in rec["oracle_s"].items():
        if name in q:
            q[name]["oracle"] = secs
    return q


def summary(q, names):
    rows = [q[n] for n in names]
    wall = sum(r["wall"] for r in rows)
    jobs = [r["jobs"] for r in rows]
    return {
        "queries": len(rows),
        "wall_s": wall / 1000,
        "wall_ms_mean": wall / len(rows),
        "cpu_ms_mean": statistics.mean(r["cpu"] for r in rows),
        "jobs_mean": statistics.mean(jobs),
        "jobs_median": statistics.median(jobs),
        "jobs_max": max(jobs),
        "build_share": sum(r["build"] for r in rows) / wall,
        "plan_share": sum(r["plan"] for r in rows) / wall,
        "exec_share": sum(r["exec"] for r in rows) / wall,
        "memo_frac": statistics.mean(r["memo"] for r in rows),
        "cold_s": sum(r["cold"] for r in rows) / 1000,
        "oracle_s": sum(r["oracle"] for r in rows),
    }


# the features the slice must match, as relative differences
FEATURES = ("wall_ms_mean", "cpu_ms_mean", "jobs_mean", "jobs_median",
            "build_share", "plan_share", "exec_share")


def distance(a, b):
    return sum(abs(a[f] - b[f]) / b[f] for f in FEATURES if b[f])


def feasible(s):
    return s["wall_s"] + s["cold_s"] <= BUDGET_S and s["oracle_s"] <= ORACLE_BUDGET_S and s["memo_frac"] > 0


def choose(q, packs, target, seed=0, restarts=200):
    rnd = random.Random(seed)
    names = sorted(packs)
    best, best_d = None, float("inf")
    for _ in range(restarts):
        pick = {p: rnd.choice(packs[p]) for p in names}
        improved = True
        while improved:
            improved = False
            for p in names:
                for cand in packs[p]:
                    trial = dict(pick, **{p: cand})
                    s = summary(q, trial.values())
                    if not feasible(s):
                        continue
                    cur = summary(q, pick.values())
                    if not feasible(cur) or distance(s, target) < distance(cur, target) - 1e-12:
                        pick, improved = trial, True
        s = summary(q, pick.values())
        d = distance(s, target)
        if feasible(s) and d < best_d:
            best, best_d = dict(pick), d
    return best, best_d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("record")
    ap.add_argument("--slice")
    args = ap.parse_args()
    with open(args.record) as f:
        rec = json.load(f)
    q = profile(rec)
    packs = defaultdict(list)
    for pack, qs in rec["packs"].items():
        packs[pack] = sorted(n for n in qs if n in q)
    full = summary(q, q)
    if args.slice:
        names = args.slice.split(",")
        pick = {p: n for p, qs in packs.items() for n in names if n in qs}
        d = distance(summary(q, names), full)
    else:
        pick, d = choose(q, packs, full)
    sl = summary(q, pick.values())
    print("slice:", ", ".join(f"{p}={pick[p]}" for p in sorted(pick)), f"(distance {d:.3f})")
    print()
    print("| feature | full catalog | slice |")
    print("|---|---|---|")
    for f in ("queries", "wall_s", "cold_s", "oracle_s") + FEATURES + ("jobs_max", "memo_frac"):
        print(f"| {f} | {full[f]:.3g} | {sl[f]:.3g} |")
    heavy = sorted(q, key=lambda n: -q[n]["wall"])[:5]
    total = sum(r["wall"] for r in q.values())
    print()
    print("heaviest:", ", ".join(f"{n} {q[n]['wall'] / 1000:.1f}s ({100 * q[n]['wall'] / total:.0f}%)"
                                 for n in heavy))
    print("curation run:", ", ".join(f"{o['kind']} {o['ms']:.0f} ms" for o in rec["op_ms"]
                                     if o["id"] == "curation_export"))


if __name__ == "__main__":
    main()
