"""The crawl workload ``crawl_expand``.

Closed loop, one client: the next round starts only after the previous one
has committed. The corpus is ``datagen``'s deterministic web graph; the
seed picks the seed-URL sample (and the URL spelling of each seed) and the
robots rules. The program sees only those inputs.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from contextlib import nullcontext

import harness
from harness import force, job_group, now_ms, tail, window_stats

# Slack politeness as in bench.py's crawl (max_in_flight = batch,
# min_delay_rounds = 1) on a corpus much larger than what a run crawls, so
# almost every extracted link is new: fetch, Arrow extraction, bloom
# probes and inserts, and the state writes do most of the work. Three small
# hosts get a seeded robots rule, and host0 goes over hot_host_threshold
# from the second timed round on, so the robots filter and the skew split
# run on real rows. The bloom is sized so its false-positive rate is
# visible: about 0.04% at the end of a run, a few false positives a round.
CONFIG = {
    "n_docs": 40_000,
    "n_seeds": 1_500,
    "batch_size": 1_500,
    "max_in_flight": 1_500,
    "min_delay_rounds": 1,
    "hot_host_threshold": 2_000,
    "robots_hosts": 3,
    "bloom_bits": 1 << 16,
}
# How much work one run does is fixed by --seconds: the number of timed
# rounds is seconds / ROUND_S (at least MIN_ROUNDS), so every run of a seed
# schedules the same URLs and its fingerprints and counts can be compared.
ROUND_S = 7.5
MIN_ROUNDS = 2

SETUP_REPS = 3
READ_REPS = 5


def timed_rounds(seconds: int) -> int:
    return max(MIN_ROUNDS, round(seconds / ROUND_S))


def make_inputs(cfg: dict, seed: int) -> dict:
    """Seed URLs (messy spellings of a seeded sample of documents) and robots
    rules: ``robots_hosts`` seeded hosts outside the three hot ones, each
    disallowing the ``/doc/<digit>`` prefix for one seeded digit."""
    from cord19_crawler_spark.datagen import N_HOSTS, canonical_url, messy_url

    rng = random.Random(seed)
    sample = sorted(rng.sample(range(cfg["n_docs"]), cfg["n_seeds"]))
    seeds = [(messy_url(t, rng.randrange(5)), 1.0) for t in sample]
    robots = {
        f"host{h}.example.com": str(rng.randrange(1, 10))
        for h in sorted(rng.sample(range(3, N_HOSTS), cfg["robots_hosts"]))
    }
    return {
        "seeds": seeds,
        "canonical_seeds": {canonical_url(t) for t in sample},
        "robots": robots,
    }


def _scheduler_config(cfg: dict, n_partitions: int):
    from cord19_crawler_spark.frontier import SchedulerConfig

    return SchedulerConfig(
        batch_size=cfg["batch_size"],
        seen_partitions=n_partitions,
        bloom_bits=cfg["bloom_bits"],
        min_delay_rounds=cfg["min_delay_rounds"],
        max_in_flight=cfg["max_in_flight"],
        hot_host_threshold=cfg["hot_host_threshold"],
    )


def _robots_df(spark, robots: dict):
    rows = [(host, [(False, f"/doc/{d}")]) for host, d in sorted(robots.items())]
    return spark.createDataFrame(
        rows, "host string, rules array<struct<allow: boolean, path_prefix: string>>"
    )


def _setup_once(spark, cfg: dict, inputs: dict, ckpt: str):
    """Corpus generation and caching, then round 0 (``init_from_seeds``)."""
    from cord19_crawler_spark.datagen import generate_documents
    from cord19_crawler_spark.frontier import CrawlScheduler

    n = spark.sparkContext.defaultParallelism
    docs = generate_documents(spark, cfg["n_docs"], partitions=n).cache()
    docs.count()
    sched = CrawlScheduler(
        spark, docs, ckpt, _scheduler_config(cfg, n), robots=_robots_df(spark, inputs["robots"])
    )
    sched.init_from_seeds(spark.createDataFrame(inputs["seeds"], "url string, priority double"))
    return sched


def _wrap_commit(sched, records: dict) -> None:
    """Time ``commit_round`` and the ``counters_fn`` it receives, and size
    the committed round directory. Patches this scheduler's store instance
    only; the storage module is not changed."""
    store = sched.store
    inner = store.commit_round

    def commit_round(rnd, tables, counters=None, counters_fn=None):
        rec = records.setdefault(rnd, {})

        def timed_counters(read):
            t0 = time.perf_counter()
            out = counters_fn(read)
            rec["counters_s"] = time.perf_counter() - t0
            return out

        t0 = time.perf_counter()
        out = inner(rnd, tables, counters, timed_counters if counters_fn else None)
        rec["commit_s"] = time.perf_counter() - t0
        round_dir = os.path.dirname(store.table_path(rnd, "_"))
        n_files = n_bytes = 0
        for base, _dirs, files in os.walk(round_dir):
            for fn in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(base, fn))
        rec["files"] = n_files
        rec["mb"] = n_bytes / 1e6
        return out

    store.commit_round = commit_round


# -- state reads: the crawl's queries ----------------------------------------


def _state_reads(sched) -> tuple[dict, dict]:
    """The reads a crawl user runs on committed state, each run once
    untimed and then timed READ_REPS times (median reported). Without the
    untimed run, the first sample of each read took up to twice as long as
    the last, as its plan was compiled and warmed. The repetitions are
    interleaved, so that a short slow spell of the host lands on one sample
    of several reads rather than on every sample of one. Their results
    also feed the correctness checks."""
    reads = {
        "crawl_order": sched.crawl_order,
        "seen_set": sched.seen_set,
        "pending_count": lambda: sched.pending_frontier().count(),
        "crawl_order_fingerprint": sched.crawl_order_fingerprint,
        "seen_fingerprint": sched.seen_fingerprint,
    }
    for fn in reads.values():
        fn()
    samples: dict = {name: [] for name in reads}
    results = {}
    for _ in range(READ_REPS):
        for name, fn in reads.items():
            t0 = time.perf_counter()
            results[name] = fn()
            samples[name].append(time.perf_counter() - t0)
    return {name: statistics.median(xs) for name, xs in samples.items()}, results


# -- correctness ---------------------------------------------------------------


def _has_text_spans(d: int) -> bool:
    # datagen._doc_row: i % 41 == 5 is an empty-span doc, then i % 43 == 7
    # is a media-only doc; every other doc has text spans with its links
    return d % 41 != 5 and d % 43 != 7


def _doc_of(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def check_crawl(cfg: dict, inputs: dict, log_rows: list, results: dict) -> list[tuple[str, str | None]]:
    """(check name, failure message or None) for the seen set and the
    scheduling-order invariants."""
    from cord19_crawler_spark.datagen import canonical_url, out_links

    out = []
    n_docs = cfg["n_docs"]
    order = results["crawl_order"]

    expected = set(inputs["canonical_seeds"])
    for _rnd, _seq, url in order:
        d = _doc_of(url)
        if _has_text_spans(d):
            expected.update(canonical_url(t) for t in out_links(d, n_docs))
    seen = results["seen_set"]
    msg = None
    if seen != expected:
        msg = (
            f"seen set differs: {len(seen - expected)} unexpected, "
            f"{len(expected - seen)} missing of {len(expected)}"
        )
    out.append(("seen_set", msg))

    keys = [(r["url"], r["attempt"]) for r in log_rows]
    dup = len(keys) - len(set(keys))
    out.append(("no_duplicate_schedule", f"{dup} (url, attempt) scheduled twice" if dup else None))

    # The next two checks can fail only when politeness binds: when
    # max_in_flight < batch_size, or when min_delay_rounds > 1. Under
    # crawl_expand's slack politeness they pass by construction.
    per_host_round: dict = {}
    host_rounds: dict = {}
    for r in log_rows:
        per_host_round[(r["host"], r["round"])] = per_host_round.get((r["host"], r["round"]), 0) + 1
        host_rounds.setdefault(r["host"], set()).add(r["round"])
    over = [k for k, v in per_host_round.items() if v > cfg["max_in_flight"]]
    out.append(("max_in_flight", f"over budget: {over[:3]}" if over else None))

    close = []
    for host, rounds in host_rounds.items():
        rs = sorted(rounds)
        close += [(host, a, b) for a, b in zip(rs, rs[1:]) if b - a < cfg["min_delay_rounds"]]
    out.append(("min_delay_rounds", f"too close: {close[:3]}" if close else None))

    robots = inputs["robots"]
    blocked = [
        r["url"] for r in log_rows
        if r["host"] in robots and str(_doc_of(r["url"])).startswith(robots[r["host"]])
    ]
    out.append(("robots", f"disallowed URLs scheduled: {blocked[:3]}" if blocked else None))

    bad_seq = []
    by_round: dict = {}
    for r in log_rows:
        by_round.setdefault(r["round"], []).append(r)
    for rnd, rows in by_round.items():
        rows.sort(key=lambda r: r["seq"])
        if [r["seq"] for r in rows] != list(range(1, len(rows) + 1)):
            bad_seq.append((rnd, "seq not dense"))
        keys = [(-r["priority"], r["url"]) for r in rows]
        if any(a >= b for a, b in zip(keys, keys[1:])):
            bad_seq.append((rnd, "not (priority desc, url asc)"))
    log_order = sorted((r["round"], r["seq"], r["url"]) for r in log_rows)
    if log_order != [tuple(x) for x in order]:
        bad_seq.append(("crawl_order", "differs from the committed crawl log"))
    out.append(("seq_order", f"{bad_seq[:3]}" if bad_seq else None))
    return out


# -- replay: one call per layer on the final round's committed inputs -----------


def replay_layers(spark, sched, cfg: dict) -> dict:
    """Call each layer's public function once on the inputs the next round
    would read, forced with a noop write and timed from outside."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from cord19_crawler_spark.frontier import politeness, skew
    from cord19_crawler_spark.frontier.robots import filter_robots
    from cord19_crawler_spark.frontier.seen import exact_new, with_partition
    from cord19_crawler_spark.functions.urls import extract_canonical_urls, host_from_canonical

    last = sched.store.latest_round()
    rnd = last + 1
    m: dict = {}
    keep = []

    def timed(name: str, df) -> float:
        with job_group(spark, f"replay:{name}"):
            t0 = time.perf_counter()
            force(df)
            return time.perf_counter() - t0

    def cached(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        keep.append(df)
        return df

    m["scheduler.pending_read_s"] = timed("pending", sched.pending_frontier())
    pending = cached(sched.pending_frontier())
    m["politeness.pending_rows"] = pending.count()
    # the round's other inputs, through the scheduler's own readers
    host_state = cached(sched._read_host_state(last))
    filter_state = cached(sched._read_filter_state(last))
    url_seen = sched._read_url_seen(last)
    host_state.count()
    filter_state.count()

    plan = cached(skew.hot_host_plan(pending, cfg["hot_host_threshold"]))
    m["skew.hot_hosts"] = plan.count()
    eligible = politeness.eligible_urls(pending, host_state, rnd)
    allowed = filter_robots(eligible, sched.robots)
    ranked = politeness.per_host_topk(allowed, split_plan=plan)
    batch = politeness.global_batch(ranked, cfg["batch_size"]).select(
        "url", "url_id", "host", "priority", "attempt", "seq"
    )
    m["politeness.select_s"] = timed("politeness", batch)
    m["politeness.eligible_rows"] = eligible.count()
    m["robots.blocked_rows"] = m["politeness.eligible_rows"] - allowed.count()
    batch = cached(batch)
    m["politeness.batch_rows"] = batch.count()
    m["politeness.batch_fill"] = m["politeness.batch_rows"] / cfg["batch_size"]

    fetched = sched.fetcher(batch)
    m["fetch.batch_s"] = timed("fetch", fetched)
    fetched = cached(fetched)
    m["fetch.docs"] = fetched.count()

    spans = fetched.select(F.explode(F.slice(F.col("spans"), 1, sched.cfg.span_cap)).alias("span"))
    links = spans.select(F.explode(extract_canonical_urls(F.col("span.text"))).alias("url"))
    m["urls.extract_s"] = timed("extract", links)
    links = cached(links)
    m["urls.links_out"] = links.count()

    discovered = with_partition(
        links.withColumn("host", host_from_canonical(F.col("url"))).withColumn(
            "url_id", F.xxhash64(F.col("url"))
        ),
        sched.cfg.seen_partitions,
    ).dropDuplicates(["url"])
    discovered = cached(discovered)
    m["seen.candidates"] = discovered.count()
    flagged = sched.bloom.probe(discovered, filter_state)
    m["seen.probe_s"] = timed("probe", flagged)
    flagged = cached(flagged)
    positive = flagged.filter(F.col("maybe_seen"))
    m["seen.bloom_positive"] = positive.count()
    new = exact_new(flagged, url_seen, probe_count=m["seen.bloom_positive"])
    m["seen.backstop_s"] = timed("backstop", new)
    new = cached(new)
    n_new = new.count()
    false_pos = new.join(positive.select("url"), "url", "left_semi").count()
    m["seen.insert_s"] = timed("insert", sched.bloom.insert_delta(new, filter_state))
    cands = m["seen.candidates"]
    m["seen.bloom_fpr_realized"] = false_pos / cands if cands else 0.0
    m["seen.new_ratio"] = n_new / cands if cands else 0.0
    for df in keep:
        df.unpersist()
    return m


def configured_fpr(sched, n_seen: int) -> float:
    """The bloom's design false-positive rate at the current fill."""
    per_part = n_seen / sched.cfg.seen_partitions
    k, m_bits = sched.cfg.bloom_k, sched.cfg.bloom_bits
    return (1.0 - math.exp(-k * per_part / m_bits)) ** k


# -- the workload ----------------------------------------------------------------


def run(spark, seed: int, seconds: int, traced: bool, run_dir: str) -> dict:
    cfg = CONFIG
    inputs = make_inputs(cfg, seed)

    setup_times, round0_fps, sched = [], set(), None
    for rep in range(SETUP_REPS):
        if sched is not None:
            sched.documents.unpersist()
        t0 = time.perf_counter()
        sched = _setup_once(spark, cfg, inputs, os.path.join(run_dir, f"ckpt{rep}"))
        setup_times.append(time.perf_counter() - t0)
        round0_fps.add(sched.seen_fingerprint())

    commit_records: dict = {}
    if traced:
        _wrap_commit(sched, commit_records)
    rounds = []
    for rnd in range(1, timed_rounds(seconds) + 1):
        t0_ms = now_ms()
        t0 = time.perf_counter()
        with job_group(spark, f"round:{rnd}") if traced else nullcontext():
            counters = sched.run(rnd)[0]
        rounds.append({
            "round": rnd,
            "wall_s": time.perf_counter() - t0,
            "t0_ms": t0_ms,
            "t1_ms": now_ms(),
            "scheduled": counters["scheduled"],
            "discovered_new": counters["discovered_new"],
        })

    read_times, results = _state_reads(sched)

    # outside every timed section: the checks and their inputs
    log_rows = sched.store.read_deltas(spark, "crawl_log", 1, len(rounds)).collect()
    checks = check_crawl(cfg, inputs, log_rows, results)
    checks.append((
        "setup_reps_identical",
        None if len(round0_fps) == 1 else f"round-0 seen sets differ across set-up reps: {round0_fps}",
    ))

    replay = replay_layers(spark, sched, cfg) if traced else {}
    sched.documents.unpersist()

    walls = [r["wall_s"] for r in rounds]
    tail_v, tail_label, n = tail(walls)
    return {
        "ops": len(rounds) + READ_REPS * len(read_times),
        "checks": checks,
        "setup_reps_s": setup_times,
        "round_walls_s": walls,
        "urls_per_s": sum(r["scheduled"] for r in rounds) / sum(walls),
        "round_p50_s": statistics.median(walls),
        "round_tail": {"value": tail_v, "percentile": tail_label, "n": n},
        "query_s": read_times,
        "rounds": rounds,
        "commit_records": commit_records,
        "replay": replay,
        "fingerprints": {
            "crawl_order": results["crawl_order_fingerprint"],
            "seen": results["seen_fingerprint"],
        },
        "bloom_fpr_configured": configured_fpr(sched, len(results["seen_set"])),
        "config": dict(cfg, timed_rounds=len(rounds), robots=inputs["robots"]),
        "config_key": harness.digest(cfg),
    }


def layer_metrics(result: dict, jobs: list, stages: list) -> tuple[dict, dict, list]:
    """Per-layer metrics of a traced crawl run, per timed round where the
    layer runs every round (means over the timed rounds)."""
    per_round = [window_stats(jobs, stages, r["t0_ms"], r["t1_ms"]) for r in result["rounds"]]
    commits = [result["commit_records"][r["round"]] for r in result["rounds"]]

    def mean(xs):
        return sum(xs) / len(xs)

    m = {
        "scheduler.jobs_per_round": mean([w["jobs"] for w in per_round]),
        "scheduler.stages_per_round": mean([w["stages"] for w in per_round]),
        "scheduler.tasks_per_round": mean([w["tasks"] for w in per_round]),
        "scheduler.executor_s_per_round": mean([w["executor_s"] for w in per_round]),
        "scheduler.shuffle_mb_per_round": mean([w["shuffle_mb"] for w in per_round]),
        "scheduler.driver_gap_s": mean([w["gap_s"] for w in per_round]),
        "scheduler.failed_tasks": sum(w["failed_tasks"] for w in per_round),
        "storage.commit_s": mean([c["commit_s"] for c in commits]),
        "storage.counters_s": mean([c["counters_s"] for c in commits]),
        "storage.mb_per_round": mean([c["mb"] for c in commits]),
        "storage.files_per_round": mean([c["files"] for c in commits]),
    }
    m.update(result["replay"])
    counts = {
        "jobs": [w["jobs"] for w in per_round],
        "stages": [w["stages"] for w in per_round],
        "files": [c["files"] for c in commits],
    }
    for key in ("urls.links_out", "seen.candidates", "seen.bloom_positive", "politeness.batch_rows"):
        counts[key] = result["replay"][key]
    return m, counts, per_round
