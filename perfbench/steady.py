"""Steadiness self-check: run the benchmark in two sets of repeated runs of
the same code and compare.

    python3 perfbench/steady.py --runs 10

Each of two sets runs every workload in BENCHMARK.json once per seed
(seeds 1..runs, the same in both sets), untraced, plus one traced run per
workload (seed 1).  For every end-to-end metric and workload it prints
each set's median and quartiles, the spread (q3 - q1) / median against
the metric's bound, and how far the second set's median moved from the
first's.  Per-layer metrics with unit ``count`` (Spark task counts and
``opcache.persisted_rdds`` excepted) must repeat exactly between the
traced runs of the two sets.
Exit code 1 when a spread or a median move exceeds its bound, a count
differs, or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


LOG_DIR = os.path.join(ROOT, ".perfbench", "steady")
SETS = (0, 1)


def run_once(bench: dict, workload: str, seed: int, trace: int, tag: str) -> tuple[dict | None, float]:
    """One benchmark run; its report is kept in .perfbench/steady/."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    elapsed = time.perf_counter() - t0
    with open(os.path.join(LOG_DIR, f"{tag}-{workload}-{seed}-{trace}.txt"), "w") as fh:
        fh.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, elapsed
    return json.loads(lines[-1]), elapsed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(LOG_DIR, exist_ok=True)
    names = [w["name"] for w in bench["workloads"]]
    ok = True
    values = {(s, w): {} for s in SETS for w in names}
    counts = {}
    for s in SETS:
        for seed in range(1, args.runs + 1):
            for w in names:
                res, elapsed = run_once(bench, w, seed, 0, f"set{s + 1}")
                good = res is not None and res["correct"] and res["failed"] == 0
                ok &= good
                print(f"set {s + 1} {w:16s} seed {seed:3d} {elapsed:6.1f} s "
                      f"{'ok' if good else 'FAILED'}", flush=True)
                if res is not None:
                    for m, v in res["metrics"].items():
                        values[(s, w)].setdefault(m, []).append(v["value"])
        for w in names:
            res, elapsed = run_once(bench, w, 1, 1, f"set{s + 1}")
            good = res is not None and res["correct"]
            ok &= good
            print(f"set {s + 1} {w:16s} traced  {elapsed:6.1f} s {'ok' if good else 'FAILED'}", flush=True)
            if res is not None:
                # task counts are sized at run time by adaptive query
                # execution, and the JVM lets go of leftover persisted
                # RDDs at a GC-dependent moment (0, 4 and 6 seen at the end
                # of identical corpus_curation runs), so only the other
                # counts must repeat
                counts[(s, w)] = {m: v["value"] for m, v in res["metrics"].items()
                                  if v["unit"] == "count" and not m.endswith(".spark_tasks")
                                  and m != "opcache.persisted_rdds"}

    print(f"\n{'workload':16s} {'metric':16s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s} {'moved':>7s}")
    for w in names:
        for spec in bench["end_to_end"]:
            m, bound = spec["name"], spec["bound"]
            medians = []
            for s in SETS:
                vals = values[(s, w)].get(m, [])
                if len(vals) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                medians.append(med)
                spread = (q3 - q1) / med
                moved = ""
                if s == 1 and len(medians) == 2:
                    worse = (medians[1] - medians[0]) / medians[0]
                    if spec["better"] == "higher":
                        worse = -worse
                    moved = f"{worse:+7.3f}"
                    if worse > bound:
                        ok = False
                        moved += " WORSE"
                flag = ""
                if spread > bound:
                    ok, flag = False, " OVER"
                elif spread > bound / 3:
                    flag = " >1/3"
                print(f"{w:16s} {m:16s} {s + 1:3d} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                      f"{spread:7.3f} {bound:6.2f} {moved}{flag}")
        if (0, w) in counts and (1, w) in counts:
            diff = {m: (counts[(0, w)][m], counts[(1, w)].get(m))
                    for m in counts[(0, w)] if counts[(0, w)][m] != counts[(1, w)].get(m)}
            print(f"{w:16s} per-layer counts {'repeat exactly' if not diff else f'DIFFER: {diff}'}")
            ok &= not diff
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
