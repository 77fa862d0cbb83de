"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload changelog_table --seed 1 --seconds 20 --trace 0

Builds the engine from source (once per source tree), makes the run's inputs
from the seed, runs the workload in one JVM, checks every answer against
independently computed ones, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones, from a run that also
records spans and attaches a SparkListener. Everything is written under
.graftbench/ in the current directory; the spans of a traced run are kept in
.graftbench/traces/ and each run's record in .graftbench/runs/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("changelog_table", "incremental_epochs")
JVM_TIMEOUT_S = 170


def host_sample():
    """CPU tick counters from /proc/stat and the 1-minute load average."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        return ticks, load
    except (OSError, ValueError, IndexError):
        return None


def host_diagnostics(before, after):
    """Steal and iowait shares of CPU time over the run, and load averages."""
    if not before or not after:
        return {}
    delta = [b - a for a, b in zip(before[0], after[0])]
    total = sum(delta) or 1
    return {"steal_share": round(delta[7] / total, 4) if len(delta) > 7 else None,
            "iowait_share": round(delta[4] / total, 4),
            "load_before": before[1], "load_after": after[1]}


def parquet_mb(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet") and not f.startswith(".")) / 2**20


def run_jvm(cp, args, work, info):
    out = os.path.join(work, "result.json")
    log = info["log"]
    cmd = ([shutil.which("java") or "java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
           + build.ADD_OPENS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(work, "data"), "--work", work, "--out", out,
        "--docs", str(info["docs"]),
        "--slices", ",".join(f"{lo}:{hi}" for lo, hi in info["slices"])]
        + [x for k, v in log.items() for x in (f"--log.{k}", str(v))])
    os.makedirs(f"{work}/tmp")
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, stdout=errf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {code}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def expectations(workload, res, work, info):
    if workload == "changelog_table":
        table = check.expected_latest(info["log"])
        return dict(table=table, width=4, report=None,
                    records=info["log"]["partitions"] * info["log"]["records"])
    report, kept = check.expected_curation(os.path.join(work, "data"), res["oracle_q139"])
    return dict(table={d: (d, t) for d, t in kept.items()}, width=2,
                report=report, records=info["docs"])


def end_to_end(res, rounds, records):
    med = statistics.median
    epochs = [e["ms"] / 1e3 for r in rounds for e in r["epochs"][1:]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "ingest_rps": (med(records / r["wall_s"] for r in rounds), "records/s"),
        "founding_epoch_s": (med(r["epochs"][0]["ms"] / 1e3 for r in rounds), "s"),
        "epoch_p50_s": (med(epochs), "s"),
        "get_p50_ms": (med(g["ms"] for r in rounds for g in r["gets"]), "ms"),
        "getall_p50_ms": (med(g["ms"] for r in rounds for g in r["getalls"]), "ms"),
        "enrich_p50_s": (med(e["ms"] / 1e3 for r in rounds for e in r["enrich"]), "s"),
        "disk_mb": (med(parquet_mb(r["dir"]) for r in rounds), "MiB"),
    }


# per-layer metrics of a traced run, with their units
LAYER_UNITS = {
    "engine.session_s": "s", "engine.warmup_s": "s",
    "sources.scan_rps": "records/s", "sources.offset_ms_p50": "ms",
    "functions.decode_rps": "records/s",
    "streaming.plan_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms", "streaming.state_commit_ms_p50": "ms",
    "streaming.state_update_ms_p50": "ms",
    "streaming.batches": "count", "streaming.rows_updated": "count",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "sinks.upsert_ms_p50": "ms", "sinks.buckets_touched_p50": "count",
    "sinks.view_mb": "MiB",
    "operators.get_jobs": "count", "operators.get_files_read": "count",
    "operators.get_rows_scanned_per_hit": "count",
    "operators.getall_rows_scanned_per_hit": "count",
    "plans.get_plan_ms_p50": "ms",
    "epoch.founding_jobs": "count", "epoch.jobs_p50": "count",
    "epoch.tasks_p50": "count", "epoch.task_s_p50": "s", "epoch.driver_s_p50": "s",
    "epoch.lead_ms_p50": "ms", "epoch.tail_ms_p50": "ms",
    "epoch.shuffle_mb_p50": "MiB", "epoch.spill_mb_p50": "MiB",
    "epoch.written_mb_p50": "MiB", "epoch.files_written_p50": "count",
    "epoch.records_p50": "count", "epoch.flips_p50": "count", "epoch.state_mb": "MiB",
}


def per_layer(res, rounds):
    layers = dict(res["layers"])
    if res["workload"] == "changelog_table":
        layers["sinks.view_mb"] = statistics.median(parquet_mb(r["dir"]) for r in rounds)
    if set(layers) != set(LAYER_UNITS):
        raise RuntimeError(f"per-layer metrics differ: {sorted(set(layers) ^ set(LAYER_UNITS))}")
    return {k: (layers[k], u) for k, u in LAYER_UNITS.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        cp = build.build(root)
    except build.BuildError as e:
        sys.exit(f"graftbench: {e}")
    base = os.path.join(root, ".graftbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        info = gen.write_inputs(args.seed, os.path.join(work, "data"))
        before = host_sample()
        res = run_jvm(cp, args, work, info)
        host = host_diagnostics(before, host_sample())
        # checks, after the JVM has exited
        exp = expectations(args.workload, res, work, info)
        problems = check.selftest(exp["table"], exp["report"])
        attempted = failed = 0
        validate = res.get("validate_rows", [0] * len(res["rounds"]))
        for r, v in zip(res["rounds"], validate):
            a, f, why = check.check_round(args.workload, r, exp, v)
            attempted += a
            failed += f
            problems += [f"{r['tag']} {w}" for w in why]
        e2e = end_to_end(res, res["rounds"], exp["records"])
        metrics = per_layer(res, res["rounds"]) if args.trace else e2e
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "rounds": len(res["rounds"]), "measured_s": res["measured_s"],
                  "cores": res["cores"], "host": host, "problems": problems[:20]}
        os.makedirs(os.path.join(base, "runs"), exist_ok=True)
        with open(os.path.join(base, "runs", f"{args.workload}-{args.seed}-t{args.trace}.json"),
                  "w") as f:
            json.dump(dict(record, metrics=metrics, end_to_end=e2e, layer_self_s=res["self_s"],
                           epochs=[r["epochs"] for r in res["rounds"]]), f, indent=1)
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace-spans.jsonl"), os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.jsonl"))
        for p in problems[:20]:
            print(f"graftbench: {p}", file=sys.stderr)
        print(json.dumps({"run": record}))
        print(json.dumps({
            "correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
