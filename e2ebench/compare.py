"""Compare two result sets of the benchmark (see sweep.py).

    python3 e2ebench/compare.py parent.json change.json
    python3 e2ebench/compare.py --exact traced_a.json traced_b.json

Default: per workload and metric, each side's median and quartiles, the
fraction of seed-paired runs the change wins (ties count for neither), and
whether the medians differ by more than the parent's own quartile spread.
A gain is claimed only when the change wins at least 0.9 of the pairs and
clears that spread; a regression is a change median worse than the
parent's by more than the metric's bound in BENCHMARK.json.

--exact: for two traced sets of the same code, lists the counters that
should repeat exactly (jobs, shuffle records, jobs per op, files
rewritten and read fractions) and any (workload, seed) where they do not.
"""

import argparse
import fnmatch
import json
import pathlib
import statistics
import sys

HERE = pathlib.Path(__file__).resolve().parent

EXACT = ["*.jobs", "*.shuffle_records", "run.jobs_per_op.*",
         "sink.merge.files_rewritten_frac", "plans.files_read_frac"]


def load(path):
    return json.loads(pathlib.Path(path).read_text())["runs"]


def metric_specs():
    sp = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in sp["end_to_end"] + sp["per_layer"]}


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def by_seed(runs, workload, metric):
    return {r["seed"]: r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and metric in r["result"]["metrics"]}


def win_fraction(parent, change, better):
    """Share of seeds, present on both sides, where the change is better."""
    seeds = sorted(set(parent) & set(change))
    if not seeds:
        return 0.0
    sign = -1 if better == "lower" else 1
    wins = sum(1 for s in seeds if sign * (change[s] - parent[s]) > 0)
    return wins / len(seeds)


def judge(parent, change, better, bound):
    """Verdict for one metric: 'gain', 'regression', 'unresolved' or
    'same'."""
    pq1, pmed, pq3 = quartiles(sorted(parent.values()))
    _, cmed, _ = quartiles(sorted(change.values()))
    sign = -1 if better == "lower" else 1
    delta = sign * (cmed - pmed)  # > 0: the change is better
    wins = win_fraction(parent, change, better)
    clears = abs(cmed - pmed) > (pq3 - pq1)
    if delta > 0 and clears and wins >= 0.9:
        return "gain"
    if bound is not None and pmed and -delta / abs(pmed) > bound:
        return "regression"
    if bound is not None and pmed and (pq3 - pq1) / abs(pmed) > bound:
        return "unresolved"
    return "same"


def compare(parent_runs, change_runs, out=sys.stdout):
    specs = metric_specs()
    verdicts = {}
    workloads = sorted({r["workload"] for r in parent_runs} &
                       {r["workload"] for r in change_runs})
    for w in workloads:
        print(f"{w}", file=out)
        names = [n for n in specs if by_seed(parent_runs, w, n)
                 and by_seed(change_runs, w, n)]
        for n in names:
            p, c = by_seed(parent_runs, w, n), by_seed(change_runs, w, n)
            sp = specs[n]
            pq = quartiles(sorted(p.values()))
            cq = quartiles(sorted(c.values()))
            v = judge(p, c, sp["better"], sp.get("bound"))
            verdicts[(w, n)] = v
            clears = abs(cq[1] - pq[1]) > (pq[2] - pq[0])
            print(f"  {n:38s} parent {pq[1]:.6g} [{pq[0]:.6g}, {pq[2]:.6g}]"
                  f"  change {cq[1]:.6g} [{cq[0]:.6g}, {cq[2]:.6g}]"
                  f"  wins {win_fraction(p, c, sp['better']):.2f}"
                  f"  clears-spread {'yes' if clears else 'no'}  {v}",
                  file=out)
    return verdicts


def exact(a_runs, b_runs, out=sys.stdout):
    """(repeating, differing) exact-count metric names; differing lists
    (workload, seed, metric, a, b)."""
    differing = []
    names = set()
    for ra in a_runs:
        for rb in b_runs:
            if (ra["workload"], ra["seed"]) != (rb["workload"], rb["seed"]):
                continue
            for n, m in ra["result"]["metrics"].items():
                if not any(fnmatch.fnmatch(n, pat) for pat in EXACT):
                    continue
                names.add(n)
                vb = rb["result"]["metrics"].get(n, {}).get("value")
                if vb != m["value"]:
                    differing.append((ra["workload"], ra["seed"], n,
                                      m["value"], vb))
    bad = {d[2] for d in differing}
    for d in differing:
        print(f"  differs: {d[0]} seed {d[1]} {d[2]}: {d[3]} vs {d[4]}",
              file=out)
    print(f"{len(names - bad)} exact counters repeat, {len(bad)} do not",
          file=out)
    return sorted(names - bad), differing


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--exact", action="store_true")
    a = ap.parse_args()
    if a.exact:
        exact(load(a.parent), load(a.change))
    else:
        compare(load(a.parent), load(a.change))
    return 0


if __name__ == "__main__":
    sys.exit(main())
