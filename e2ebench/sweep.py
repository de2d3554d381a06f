"""Run the benchmark over several seeds and keep the results as one set.

    python3 e2ebench/sweep.py --out set.json --seeds 1-10 [--trace 1] \
        [--workloads bulk_reload,trickle_merge]
    python3 e2ebench/sweep.py --report set.json

A result set is a JSON file {"runs": [{"workload", "seed", "trace",
"result"}]}, where result is run.py's output line. --report prints, per
workload and metric, the median and the spread between the first and third
quartile as a share of the median; for a traced set it also prints each
module's share of operation time per workload. compare.py compares two
sets.
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run as bench  # noqa: E402
from compare import quartiles  # noqa: E402


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def sweep(out, seeds, trace, workloads, seconds):
    runs = []
    for w in workloads:
        for s in seeds:
            r = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            phases = [ln[len("phases: "):] for ln in r.stderr.splitlines()
                      if ln.startswith("phases: ")]
            runs.append({"workload": w, "seed": s, "trace": trace,
                         "result": res,
                         "phases": json.loads(phases[-1]) if phases else None})
            print(f"{w} seed {s}: correct={res['correct']}", file=sys.stderr)
            pathlib.Path(out).write_text(json.dumps({"runs": runs}, indent=1))
    return runs


def values(runs, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and metric in r["result"]["metrics"]]


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else 0.0


def report(path):
    runs = json.loads(pathlib.Path(path).read_text())["runs"]
    bounds = {m["name"]: m.get("bound") for m in bench.spec()["end_to_end"]}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w]
        ok = sum(r["result"]["correct"] for r in mine)
        print(f"{w}: {len(mine)} runs, {ok} correct")
        for m in mine[0]["result"]["metrics"]:
            xs = values(mine, w, m)
            q1, med, q3 = quartiles(xs)
            b = bounds.get(m)
            flag = ""
            if b is not None:
                flag = "  ok" if spread(xs) < b / 3 else (
                    "  WITHIN BOUND" if spread(xs) <= b else "  TOO NOISY")
            print(f"  {m:40s} median {med:14.6g}  iqr/median "
                  f"{spread(xs):7.4f}{flag}")
        if mine[0]["trace"]:
            shares = {m[:-len(".share")]: statistics.median(values(mine, w, m))
                      for m in mine[0]["result"]["metrics"]
                      if m.endswith(".share")}
            top = sorted(shares.items(), key=lambda kv: -kv[1])
            print("  module share of op time: " + ", ".join(
                f"{k} {v:.2f}" for k, v in top))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--workloads")
    ap.add_argument("--report")
    a = ap.parse_args()
    if a.report:
        report(a.report)
        return 0
    if not a.out:
        ap.error("--out or --report is required")
    sp = bench.spec()
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in sp["workloads"]])
    sweep(a.out, seeds_of(a.seeds), a.trace, workloads,
          a.seconds or sp["run_seconds"])
    report(a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
