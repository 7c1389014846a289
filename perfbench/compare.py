#!/usr/bin/env python3
"""Compare two sets of benchmark runs, parent and change.

    python3 perfbench/compare.py PARENT_REPORTS CHANGE_REPORTS

Each argument is a directory of run reports (the JSON files run.py writes
under <build dir>/reports/, searched recursively); only untraced runs
count. Runs of a workload are paired in start order, so run parent and
change alternately, at least ten pairs, with the same --seconds.

For every workload and end-to-end metric of BENCHMARK.json the verdict is:
  improved    at least ten pairs, the change wins at least 9/10 of them
              (ties count for neither), and the medians differ by more
              than the parent's quartile spread, in the better direction
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's spread (quartile distance over median) exceeds
              the bound, and not every change run beats every parent run
  no worse    otherwise
"""
import json
import os
import sys

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(directory):
    """{workload: [report, ...]} of untraced runs, in start order."""
    runs = {}
    for dirpath, _, names in os.walk(directory):
        for n in names:
            if not n.endswith(".json"):
                continue
            with open(os.path.join(dirpath, n)) as f:
                r = json.load(f)
            if "env" in r and not r.get("traced"):
                runs.setdefault(r["workload"], []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["env"]["started_utc"])
    return runs


def verdict(parent, change, better, bound):
    """Classify one metric from paired parent and change values."""
    n = min(len(parent), len(change))
    parent, change = parent[:n], change[:n]
    sign = 1 if better == "higher" else -1

    def beats(c, p):
        return sign * (c - p) > 0
    wins = sum(1 for p, c in zip(parent, change) if beats(c, p))
    med_p, q1_p, q3_p = metrics.quartile_spread(parent)
    med_c, q1_c, q3_c = metrics.quartile_spread(change)
    spread = q3_p - q1_p
    worse_by = -sign * (med_c - med_p) / med_p if med_p else 0.0
    row = {"pairs": n, "wins": wins, "parent": [med_p, q1_p, q3_p],
           "change": [med_c, q1_c, q3_c], "worse_by": worse_by}
    if n >= 10 and wins >= 0.9 * n and beats(med_c, med_p) \
            and abs(med_c - med_p) > spread:
        row["verdict"] = "improved"
    elif med_p and spread / abs(med_p) > bound:
        all_better = all(beats(c, p) for c in change for p in parent)
        row["verdict"] = "no worse" if all_better else "unresolved"
    elif worse_by > bound:
        row["verdict"] = "worse"
    else:
        row["verdict"] = "no worse"
    return row


def compare(parent_dir, change_dir, bench):
    parent, change = load_runs(parent_dir), load_runs(change_dir)
    table = {}
    for wl in sorted(set(parent) & set(change)):
        table[wl] = {}
        for m in bench["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in parent[wl]]
            c = [r["metrics"][m["name"]]["value"] for r in change[wl]]
            table[wl][m["name"]] = verdict(p, c, m["better"], m["bound"])
    return table


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    table = compare(argv[0], argv[1], bench)
    if not table:
        print("no workload has untraced runs on both sides", file=sys.stderr)
        return 1
    names = [m["name"] for m in bench["end_to_end"]]
    print("workload".ljust(12) + "".join(n.ljust(20) for n in names))
    for wl, row in table.items():
        print(wl.ljust(12) + "".join(
            f"{row[n]['verdict']} {-row[n]['worse_by']:+.1%}".ljust(20)
            for n in names))
    print(json.dumps(table, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
