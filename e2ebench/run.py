"""End-to-end ingest benchmark for graft.

    python3 e2ebench/run.py --workload trickle_merge --seed 1 --seconds 15 --trace 0

Builds graft and the benchmark from source (see build.py), runs one
workload in a fresh JVM at local[$SPARK_GRAFT_CPUS] (default: all cores),
and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the spans and jobs of the run are written to
e2ebench/.work/traces/<workload>-seed<n>.jsonl. README.md explains the
workloads and metrics.
"""

import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# A run after the build must end within 180 s.
RUN_LIMIT_S = 170


def spec():
    """BENCHMARK.json: the workloads and the metrics a run must report."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def clean_stale():
    if not WORK.is_dir():
        return
    for d in WORK.glob("run-*"):
        try:
            pid = int(d.name.split("-")[1])
        except (IndexError, ValueError):
            continue
        if not alive(pid):
            shutil.rmtree(d, ignore_errors=True)


def run(args):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    b = build.ensure_built(cpus)
    clean_stale()
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    log = work / "jvm.log"
    cmd = b.java(work, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", cpus, "--work", str(work), "--out", str(out),
        "--trace-dir", str(WORK / "traces")])
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    cwd=work)
            try:
                code = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RuntimeError("benchmark JVM exceeded its time limit")
        if code != 0 or not out.is_file():
            tail = log.read_text(errors="replace")[-3000:]
            raise RuntimeError(f"benchmark JVM exited {code}\n{tail}")
        res = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"phases: {json.dumps(res.get('phases'))}", file=sys.stderr)
    values = res["values"]
    table = spec()["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in table if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics missing from the run: {missing}")
    return {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in table},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except (build.BuildError, RuntimeError) as e:
        print(e, file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
