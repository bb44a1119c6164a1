#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and metric.

    python3 perfbench/compare.py BASE.jsonl [NEW.jsonl]

Each file holds one JSON line per run, as written by
`run.py --record FILE`. For every (workload, metric) the tool prints the
median and quartiles of each set (statistics.quantiles, n=4), the spread
(quartile distance over the median) against the metric's bound from
BENCHMARK.json, and, given two sets, the change of the median. A metric
whose median got worse by more than its bound is marked REGRESSED; a spread
at or above the bound is marked NOISY, except for setup_s: as in the
benchmark's acceptance rule, set-up time is held to its bound on the median
only, not on the spread. The exit code is 1 when any end-to-end metric
regressed or is noisy, else 0.
"""
import collections
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = collections.defaultdict(lambda: collections.defaultdict(list))
    fails = collections.Counter()
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            res = r["result"]
            if not res["correct"] or res["failed"]:
                fails[r["workload"]] += 1
            for name, m in res["metrics"].items():
                runs[r["workload"]][name].append(m["value"])
    return runs, fails


def stats(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    base, base_fails = load(sys.argv[1])
    new, new_fails = (load(sys.argv[2]) if len(sys.argv) == 3 else (None, None))
    bad = False
    for w in sorted(base):
        print(f"== {w}: {len(next(iter(base[w].values())))} runs"
              + (f", {base_fails[w]} with failed checks" if base_fails[w] else ""))
        if new is not None and w in new:
            print(f"   vs {len(next(iter(new[w].values())))} runs"
                  + (f", {new_fails[w]} with failed checks" if new_fails[w] else ""))
        for name in sorted(base[w]):
            bound = bounds.get(name, {}).get("bound")
            med, q1, q3, spread = stats(base[w][name])
            line = f"  {name:36s} med {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} spread {spread:6.3f}"
            flags = []
            if bound is not None:
                line += f" bound {bound:.2f}"
                if spread >= bound and name != "setup_s":
                    flags.append("NOISY")
            if new is not None and name in new.get(w, {}):
                nmed, _, _, nspread = stats(new[w][name])
                change = (nmed - med) / med if med else 0.0
                worse = change if better.get(name, "lower") == "lower" else -change
                line += f" | new med {nmed:12.4f} spread {nspread:6.3f} change {change:+.3f}"
                if bound is not None and nspread >= bound and name != "setup_s":
                    flags.append("NOISY")
                if bound is not None and worse > bound:
                    flags.append("REGRESSED")
            if flags and bound is not None:
                bad = True
            print(line + ("  " + " ".join(sorted(set(flags))) if flags else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
