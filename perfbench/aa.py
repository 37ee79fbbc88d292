"""A/A steadiness self-check: two interleaved sets of runs of the same code.

    python3 perfbench/aa.py

For run i = 0..RUNS-1 and each workload of BENCHMARK.json, runs set A with
seed 2i+1 and set B with seed 2i+2 (alternating which goes first), each a
separate ``perfbench/run.py`` process with BENCHMARK.json's
``run_seconds``.  Prints, per workload and end-to-end metric:

* each set's median and quartiles;
* the spread of all 2 x RUNS values: (Q3 - Q1) / median, against the bound;
* the shift of set B's median against set A's, in either direction,
  against the bound;

and the wall time of every run.  Exits non-zero if a spread or a shift is
outside its bound.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 5  # runs per set


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(base, new, better):
    """Share by which `new` is worse than `base` (negative: better)."""
    d = (new - base) / base
    return d if better == "lower" else -d


def one_run(bench, workload, seed):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
         "--trace", "0"],
        capture_output=True, text=True, check=False)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    return res


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    results = {w: {"A": [], "B": []} for w in names}
    for i in range(RUNS):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for w in names:
            for s in order:
                seed = 2 * i + (1 if s == "A" else 2)
                r = one_run(bench, w, seed)
                r["seed"] = seed
                results[w][s].append(r)
                print(f"{w} set {s} seed {seed}: wall {r['wall_s']:.1f} s, "
                      f"correct {r['correct']}, " + ", ".join(
                          f"{k} {v['value']:.4g}"
                          for k, v in r["metrics"].items()), flush=True)
    ok = True
    print("\n| workload | metric | set A median [Q1, Q3] | set B median [Q1, Q3]"
          " | spread (all runs) | B vs A | bound |")
    print("|---|---|---|---|---|---|---|")
    for w in names:
        for m in bench["end_to_end"]:
            sets = {s: [r["metrics"][m["name"]]["value"] for r in results[w][s]]
                    for s in "AB"}
            cells = []
            for s in "AB":
                q1, _, q3 = statistics.quantiles(sets[s], n=4)
                cells.append(f"{statistics.median(sets[s]):.4g} "
                             f"[{q1:.4g}, {q3:.4g}]")
            sp = spread(sets["A"] + sets["B"])
            shift = worse_by(statistics.median(sets["A"]),
                             statistics.median(sets["B"]), m["better"])
            bad = abs(shift) > m["bound"] or sp > m["bound"]
            ok &= not bad
            print(f"| {w} | {m['name']} | {cells[0]} | {cells[1]} | "
                  f"{sp:.1%} | {shift:+.1%} | {m['bound']:.0%}"
                  f"{' FAIL' if bad else ''} |")
    walls = [r["wall_s"] for w in names for s in "AB" for r in results[w][s]]
    print(f"\nrun wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s over {len(walls)} runs; all correct: "
          f"{all(r['correct'] for w in names for s in 'AB' for r in results[w][s])}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
