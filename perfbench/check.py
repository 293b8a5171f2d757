"""Acceptance check of the benchmark, run from the root of a checkout:

    python3 perfbench/check.py

For every workload of BENCHMARK.json it runs the benchmark for its
`run_seconds`, untraced on seeds 1 and 2 and traced on seed 1, and fails
(exit 1) unless every run is correct with no failed operation. It then prints the tracing overhead of
each end-to-end metric: the traced run's value minus the untraced run's,
on the same seed.
"""
import json
import os
import subprocess
import sys


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print("%s seed %d trace %d: exit %d\n%s" % (
            workload, seed, trace, r.returncode, r.stderr[-2000:]))
        return None
    return json.loads(lines[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    seeds = (1, 2)
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        untraced = {}
        for seed in seeds:
            res = run(w, seed, seconds, 0)
            good = bool(res) and res["correct"] and res["failed"] == 0
            ok &= good
            print("%-14s seed %-4d %s" % (w, seed, "ok" if good else "FAILED"))
            if res:
                untraced[seed] = res["metrics"]
        traced = run(w, seeds[0], seconds, 1)
        good = bool(traced) and traced["correct"] and traced["failed"] == 0
        ok &= good
        print("%-14s seed %-4d traced %s" % (w, seeds[0],
                                            "ok" if good else "FAILED"))
        if traced and seeds[0] in untraced:
            for m in spec["end_to_end"]:
                base = untraced[seeds[0]][m["name"]]["value"]
                with_trace = traced["metrics"]["traced." + m["name"]]["value"]
                print("  overhead %-18s %+12.3f %s (%+.1f%%)" % (
                    m["name"], with_trace - base, m["unit"],
                    100.0 * (with_trace - base) / base if base else 0.0))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
