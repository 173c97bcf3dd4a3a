"""Repository benchmark: run one workload for one seed and print its metrics.

    python3 perfbench/run.py --workload crawl_expand --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads: crawl_expand and query_mix
(see perfbench/NOTES.md). ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the same workload with the
Spark event log on and prints the per-layer metrics instead. The last line
of standard output is the result object; the line before it carries the
run's detail (host record, per-round and per-leaf figures, checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import harness
from harness import RepoMissing

WORKLOADS = ("crawl_expand", "query_mix")


def _run_workload(spark, args, traced: bool, run_dir: str, root: str) -> dict:
    if args.workload == "query_mix":
        import query_workload

        return query_workload.run(spark, args.seed, args.seconds, traced, run_dir, root)
    import crawl_workloads

    return crawl_workloads.run(spark, args.seed, args.seconds, traced, run_dir)


def _headline(workload: str, result: dict) -> float:
    """The figure trace.overhead compares between traced and untraced runs."""
    if workload == "query_mix":
        return sum(result["query_s"].values())
    return result["round_p50_s"]


def _earlier(root: str, args, config_key: str) -> list[dict]:
    """Correct ledger records of earlier runs of this workload, run length
    and workload configuration, of any version of the code."""
    return [
        r for r in harness.ledger_read(root)
        if r["workload"] == args.workload and r["seconds"] == args.seconds
        and r["config_key"] == config_key and r["correct"]
    ]


def _untraced_baseline(root: str, args, config_key: str, code: str, env: dict) -> float:
    """Median headline of the correct untraced runs of this workload on
    this code, of any seed (a seed changes only the inputs); runs one
    untraced child first, in the environment this run started with, when
    there is none yet."""

    def recorded():
        return [
            r["headline"] for r in _earlier(root, args, config_key)
            if r["trace"] == 0 and r.get("code_key") == code
        ]

    if not recorded():
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        ]
        subprocess.run(
            cmd, cwd=root, env=env, stdout=subprocess.DEVNULL, check=True, timeout=170
        )
    values = recorded()
    if not values:
        raise RuntimeError("the untraced baseline run recorded no correct result")
    return statistics.median(values)


def _ledger_checks(root: str, args, result: dict, code: str, counts: dict | None) -> list:
    """Fingerprints must match every earlier correct run of the same seed,
    run length and configuration, whatever its code: a change to the
    program must not change what is crawled. Exact counts must match every
    earlier correct traced run of the same seed on the same code."""
    checks = []
    same = [r for r in _earlier(root, args, result["config_key"]) if r["seed"] == args.seed]
    if "fingerprints" in result:
        diff = [r["fingerprints"] for r in same if r.get("fingerprints") != result["fingerprints"]]
        checks.append((
            "fingerprints_repeat",
            f"differs from {len(diff)} earlier run(s): {diff[:1]}" if diff else None,
        ))
    if counts is not None:
        diff = [
            r["counts"] for r in same
            if r["trace"] == 1 and r.get("code_key") == code and r["counts"] != counts
        ]
        checks.append((
            "exact_counts_repeat",
            f"differs from {len(diff)} earlier traced run(s): {diff[:1]}" if diff else None,
        ))
    return checks


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = args.trace == 1
    root = os.getcwd()
    start_env = dict(os.environ)
    try:
        harness.check_repo(root)
    except RepoMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(root, harness.WORK_ROOT), exist_ok=True)
    code = harness.code_key(root)

    load1 = harness.load1()
    probe_before = harness.cpu_probe()
    run_dir = harness.make_run_dir(root)
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(root, run_dir, traced)
        session_s = time.perf_counter() - t0
        try:
            host = harness.host_record(root)
            result = _run_workload(spark, args, traced, run_dir, root)
            jvm_pid = spark.sparkContext._gateway.proc.pid
            peak_rss_mb = harness.vm_hwm_mb("self") + harness.vm_hwm_mb(jvm_pid)
        finally:
            harness.stop_spark(spark)
        probe_after = harness.cpu_probe()
        layer, counts = {}, None
        if traced:
            jobs, stages = harness.read_event_log(run_dir)
            if args.workload == "query_mix":
                import query_workload

                layer, counts = query_workload.layer_metrics(result, jobs, stages)
            else:
                import crawl_workloads

                layer, counts, result["round_spark"] = crawl_workloads.layer_metrics(
                    result, jobs, stages
                )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    checks = result["checks"] + _ledger_checks(root, args, result, code, counts)
    failures = {name: msg for name, msg in checks if msg is not None}
    headline = _headline(args.workload, result)

    if traced:
        baseline = _untraced_baseline(root, args, result["config_key"], code, start_env)
        layer["host.probe_s"] = (probe_before + probe_after) / 2
        layer["host.load1"] = load1
        layer["trace.overhead"] = headline / baseline - 1.0
        # a workload reports 0 for the layers it does not run
        wanted = spec["per_layer"]
        metrics = {m["name"]: float(layer.get(m["name"], 0.0)) for m in wanted}
    else:
        q = list(result["query_s"].values())
        e2e = {
            "urls_per_s": result["urls_per_s"],
            "round_p50_s": result["round_p50_s"],
            "round_tail_s": result["round_tail"]["value"],
            "query_total_s": sum(q),
            "query_geomean_s": statistics.geometric_mean(q),
            "setup_s": session_s + statistics.median(result["setup_reps_s"]),
            "peak_rss_mb": peak_rss_mb,
        }
        baseline = None
        wanted = spec["end_to_end"]
        metrics = {m["name"]: float(e2e[m["name"]]) for m in wanted}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "config_key": result["config_key"],
        "code_key": code,
        "correct": not failures,
        "headline": headline,
        "counts": counts,
    }
    if "fingerprints" in result:
        record["fingerprints"] = result["fingerprints"]
    harness.ledger_append(root, record)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "code_key": code,
        "host_probe_s": {"before": probe_before, "after": probe_after},
        "load1_at_start": load1,
        "session_s": session_s,
        "failures": failures,
        "round_tail": result["round_tail"],
        "untraced_baseline": baseline,
        "exact_counts": counts,
        **{k: v for k, v in result.items() if k not in ("checks", "execs", "rounds", "commit_records")},
    }
    with open(os.path.join(root, harness.WORK_ROOT, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    units = {m["name"]: m["unit"] for m in wanted}
    print(json.dumps({
        "correct": not failures,
        "attempted": result["ops"] + len(checks),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
