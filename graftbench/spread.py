"""Run one workload over several seeds and report each metric's median,
quartiles and spread (interquartile distance as a share of the median), the
way the reference figures in README.md were made:

    python3 graftbench/spread.py --workload changelog_table --seeds 1-10 --seconds 10

Runs are sequential. Each run's result line is appended to
.graftbench/spread/<workload>-t<trace>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    os.makedirs(".graftbench/spread", exist_ok=True)
    log = f".graftbench/spread/{args.workload}-t{args.trace}.jsonl"
    results = []
    for s in seeds(args.seeds):
        r = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                            "--workload", args.workload, "--seed", str(s),
                            "--seconds", args.seconds, "--trace", args.trace],
                           stdout=subprocess.PIPE, text=True)
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(line) if r.returncode == 0 else {}
        with open(log, "a") as f:
            f.write(json.dumps(dict(res, seed=s, exit=r.returncode)) + "\n")
        if not res:
            print(f"seed {s}: exit {r.returncode}", file=sys.stderr)
            continue
        results.append(res)
    if not results:
        sys.exit("no successful runs")
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"{len(results)} runs, all correct: {all(r['correct'] for r in results)}, "
          f"failed shares: {shares}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}")


if __name__ == "__main__":
    main()
