#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py [--seed N]

Run from the repository root; takes about five minutes on four cores.

1. Names: for every workload, the metrics printed with --trace 0 are
   exactly BENCHMARK.json's end_to_end metrics and those printed with
   --trace 1 exactly its per_layer metrics, with the same units.
2. Planted delay: a traced catalog run with a fixed sleep (3 s) inside
   every call of one layer ("plans") must raise that layer's mean self
   time by about the sleep, and move no other layer's mean self time
   by more than half of it (run-to-run noise of the slowest layer,
   export, reaches about a second a call, so a smaller sleep would
   not stand out from it).
3. Tracing overhead: the traced run's op median against the untraced
   run's, same seed (reported, not asserted).
Exits 1 if a check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PLANT_LAYER, PLANT_MS = "plans", 3000


def run(workload, seed, trace, plant=None):
    scratch = os.path.join(ROOT, ".bench_build")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", dir=scratch, delete=False) as f:
        record = f.name
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--record", record] + (["--plant", f"{PLANT_LAYER}:{plant}"] if plant else [])
    try:
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        with open(record) as f:
            rec = json.load(f)
    finally:
        os.remove(record)
    return json.loads(out.stdout.strip().splitlines()[-1]), rec


def self_ms_per_layer(rec):
    per = defaultdict(list)
    for s in rec["spans"]:
        per[s["layer"]].append(s["self_ms"])
    return {k: sum(v) / len(v) for k, v in per.items()}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=7)
    seed = p.parse_args().seed
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failures = []

    results = {}
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            res, rec = run(w, seed, trace)
            results[(w, trace)] = (res, rec)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                failures.append(f"{w} trace {trace}: printed {sorted(set(got) ^ set(want[trace]))} "
                                f"or units differ from BENCHMARK.json")
            if not res["correct"]:
                failures.append(f"{w} trace {trace}: {res['failed']} failed checks")
        plain = statistics.median(o["ms"] for o in results[(w, 0)][1]["op_ms"])
        traced = results[(w, 1)][0]["metrics"]["trace.op_ms"]["value"]
        print(f"{w}: op median {plain:.1f} ms untraced, {traced:.1f} ms traced "
              f"(tracing overhead {100 * (traced / plain - 1):+.1f}%, one run each)")

    base = self_ms_per_layer(results[("catalog", 1)][1])
    _, rec = run("catalog", seed, 1, plant=PLANT_MS)
    planted = self_ms_per_layer(rec)
    for layer in sorted(base):
        d = planted.get(layer, 0.0) - base[layer]
        print(f"planted {PLANT_LAYER}:{PLANT_MS}ms  {layer:12s} self {base[layer]:8.1f} -> "
              f"{planted.get(layer, 0.0):8.1f} ms/call ({d:+.1f})")
        if layer == PLANT_LAYER and not 0.75 * PLANT_MS <= d <= 1.5 * PLANT_MS:
            failures.append(f"planted layer {layer} moved {d:.1f} ms, expected ~{PLANT_MS}")
        if layer != PLANT_LAYER and abs(d) > 0.5 * PLANT_MS:
            failures.append(f"layer {layer} moved {d:.1f} ms under a delay planted in {PLANT_LAYER}")

    for f in failures:
        print("FAIL", f)
    print("selftest:", "FAIL" if failures else "PASS")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
