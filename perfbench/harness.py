"""Shared plumbing for the benchmark: the work directory, the Spark session,
host and memory records, the Spark event log, and the run ledger.

Everything the benchmark writes lives under ``.perfbench/`` in the current
directory: a per-run scratch directory (checkpoints, Spark local dirs, the
event log, generated tables) that is removed when the run ends, and
``ledger.jsonl``, which keeps fingerprints, exact counts and headline
timings across runs so that later runs can be compared with earlier ones.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

WORK_ROOT = ".perfbench"
LEDGER = os.path.join(WORK_ROOT, "ledger.jsonl")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


class RepoMissing(RuntimeError):
    """The current directory does not hold the program under test."""


def check_repo(root: str) -> None:
    """Fail unless ``root`` holds the package and the driver-contract
    module; an installed copy elsewhere on ``sys.path`` must not stand in."""
    pkg = os.path.join(root, "cord19_crawler_spark", "__init__.py")
    entry = os.path.join(root, "__spark_entry__.py")
    for path in (pkg, entry):
        if not os.path.isfile(path):
            raise RepoMissing(f"{path} not found: run from the repository root")


def task_threads() -> int:
    """Task threads for local mode: at most 4, never more than the CPUs
    this process may run on."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def make_run_dir(root: str) -> str:
    path = os.path.join(root, WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(path, sub))
    return path


def start_spark(root: str, run_dir: str, traced: bool):
    """One driver process on local[<=4]; with ``traced`` an uncompressed,
    non-rolling event log is written under the run directory."""
    paths = [root, BENCH_DIR]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM (the spark-submit launcher and the driver) keeps its temp
    # files in the run directory and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for p in reversed(paths):
        if p not in sys.path:
            sys.path.insert(0, p)
    from cord19_crawler_spark.session import get_spark

    n = task_threads()
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


# -- host and memory -------------------------------------------------------


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_probe() -> float:
    """Wall time of a fixed amount of single-threaded Python work: reads
    higher when the host does not deliver a full core."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _git_sha(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(ref_path):
        with open(ref_path) as f:
            return f.read().strip()
    return None


def host_record(root: str) -> dict:
    import pyspark

    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "task_threads": task_threads(),
        "mem_total_mb": round(mem_kb / 1024.0, 1) if mem_kb else None,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
    }


# -- timing helpers ----------------------------------------------------------


def now_ms() -> float:
    """Epoch milliseconds, the clock the Spark event log stamps with."""
    return time.time() * 1000.0


@contextmanager
def job_group(spark, name: str):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def force(df) -> None:
    """Run a DataFrame's full plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def tail(values: list[float]) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, label, n). Fewer than eleven samples leave no such percentile
    below the maximum, so the maximum is reported (label ``max``)."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - p) / 100.0 >= 10:
            idx = min(n - 1, int(p / 100.0 * n))
            return xs[idx], f"p{p:g}", n
    return xs[-1], "max", n


# -- event log ----------------------------------------------------------------


def read_event_log(run_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs and stage attempts from the run's event log (complete once the
    context has stopped), each with its submission time in epoch ms. Stage
    attempts carry task count, failed tasks, executor run time and shuffle
    bytes written."""
    log_dir = os.path.join(run_dir, "eventlog")
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    failed: dict[tuple[int, int], int] = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit_ms": ev["Submission Time"], "end_ms": None}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    failed[key] = failed.get(key, 0) + 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}
                stages.append({
                    "key": (info["Stage ID"], info["Stage Attempt ID"]),
                    "submit_ms": info["Submission Time"],
                    "tasks": info["Number of Tasks"],
                    "exec_ms": float(acc.get("internal.metrics.executorRunTime") or 0),
                    "shuffle_write_bytes": float(
                        acc.get("internal.metrics.shuffle.write.bytesWritten") or 0
                    ),
                })
    for st in stages:
        st["failed_tasks"] = failed.get(st["key"], 0)
    return list(jobs.values()), stages


def window_stats(jobs: list[dict], stages: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """Spark work submitted inside one closed-loop window [t0, t1]. Work is
    attributed by submission time rather than job group: the checkpoint
    commit submits its writes from a thread pool, whose threads do not
    inherit the caller's job group. Stages skipped because an earlier job
    already computed them are not submitted, so they are not counted."""
    mine = [j for j in jobs if t0_ms <= j["submit_ms"] <= t1_ms]
    ran = [s for s in stages if t0_ms <= s["submit_ms"] <= t1_ms]
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((j["submit_ms"], min(j["end_ms"] or t1_ms, t1_ms)) for j in mine):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return {
        "jobs": len(mine),
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "failed_tasks": sum(s["failed_tasks"] for s in ran),
        "executor_s": sum(s["exec_ms"] for s in ran) / 1000.0,
        "shuffle_mb": sum(s["shuffle_write_bytes"] for s in ran) / 1e6,
        "gap_s": max(0.0, (t1_ms - t0_ms) - covered) / 1000.0,
    }


# -- ledger -------------------------------------------------------------------


def digest(config: dict) -> str:
    """Short key of a workload's configuration: ledger records are compared
    only between runs of the same configuration."""
    import hashlib

    return hashlib.sha256(json.dumps(config, sort_keys=True).encode()).hexdigest()[:12]


def code_key(root: str) -> str:
    """Short key of the code under test: the package's and the
    driver-contract module's Python sources and every file of the
    benchmark. Timings and exact counts are compared only between runs of
    the same code."""
    import hashlib

    files = [os.path.join(root, "__spark_entry__.py")]
    for top, suffix in ((os.path.join(root, "cord19_crawler_spark"), ".py"), (BENCH_DIR, "")):
        for base, dirs, names in os.walk(top):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            files += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ledger_read(root: str) -> list[dict]:
    path = os.path.join(root, LEDGER)
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def ledger_append(root: str, record: dict) -> None:
    with open(os.path.join(root, LEDGER), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
