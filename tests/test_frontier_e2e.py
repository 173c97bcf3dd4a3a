"""End-to-end frontier determinism tests (SURVEY.md §5.3-5.4, FIXTURES.md §5).

* two-run equality: identical crawl order + URL-seen set
* parallelism invariance: local[1]-style repartitioned input vs default
* kill-resume: rounds k+1..R bit-identical to the uninterrupted run
* span-sequence equality for every re-emitted document
* politeness budget actually enforced
"""

import shutil

import pytest
from pyspark.sql import functions as F

from cord19_crawler_spark.datagen import generate_documents, seed_urls
from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig

N_DOCS = 300
ROUNDS = 4


def make_cfg():
    return SchedulerConfig(
        batch_size=20,
        seen_partitions=4,
        bloom_bits=1 << 16,
        min_delay_rounds=2,
        max_in_flight=3,
        hot_host_threshold=1_000_000,
    )


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, N_DOCS, partitions=4).cache()


def run_crawl(spark, docs, tmpdir, rounds=ROUNDS, partitions=4):
    sched = CrawlScheduler(spark, docs, str(tmpdir), make_cfg())
    seeds = seed_urls(spark, 10, N_DOCS)
    sched.run(rounds, seeds=seeds)
    return sched


@pytest.fixture(scope="module")
def full(spark, docs, tmp_path_factory):
    """One uninterrupted ROUNDS-round reference crawl, shared by the tests
    that only read it (and compare other runs against it)."""
    return run_crawl(spark, docs, tmp_path_factory.mktemp("full"))


@pytest.fixture(scope="module")
def part2(spark, docs, tmp_path_factory):
    """A crawl "killed" after round 2: the scheduler that ran it (read it
    only) and a function that copies its checkpoint to a given path, for
    a fresh scheduler to resume."""
    path = tmp_path_factory.mktemp("part2") / "ck"
    sched = run_crawl(spark, docs, path, rounds=2)
    return sched, lambda dst: shutil.copytree(str(path), str(dst))


def test_two_run_equality(spark, docs, full, part2, tmp_path):
    s1 = full
    s2 = run_crawl(spark, docs, tmp_path / "b")
    assert s1.crawl_order() == s2.crawl_order()
    assert s1.seen_set() == s2.seen_set()
    assert len(s1.crawl_order()) > 0
    # distributive fingerprints (tools/check_cluster.py's cross-cluster-size
    # equality evidence) agree with the collected ground truth: equal runs →
    # equal fps; a shorter run → different fps (order is part of the hash)
    assert s1.crawl_order_fingerprint() == s2.crawl_order_fingerprint()
    assert s1.seen_fingerprint() == s2.seen_fingerprint()
    s3, _ = part2
    assert s3.crawl_order_fingerprint() != s1.crawl_order_fingerprint()
    assert s3.seen_fingerprint() != s1.seen_fingerprint()


def test_parallelism_invariance(spark, docs, full, tmp_path):
    """Same input, different physical partitioning → identical outputs."""
    s1 = full
    docs32 = docs.repartition(32)
    s2 = CrawlScheduler(spark, docs32, str(tmp_path / "p32"), make_cfg())
    s2.run(ROUNDS, seeds=seed_urls(spark, 10, N_DOCS))
    assert s1.crawl_order() == s2.crawl_order()
    assert s1.seen_set() == s2.seen_set()


def test_kill_resume_bit_identical(spark, docs, full, part2, tmp_path):
    # "killed" run: stop after round 2, then resume with a FRESH scheduler
    part2[1](tmp_path / "part")
    resumed = CrawlScheduler(spark, docs, str(tmp_path / "part"), make_cfg())
    resumed.run(ROUNDS)  # picks up from committed round 2; no seeds needed
    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_set() == full.seen_set()
    # counters for the resumed rounds match too
    for rnd in range(3, ROUNDS + 1):
        c_full = full.store.read_counters(rnd)
        c_res = resumed.store.read_counters(rnd)
        assert c_full == c_res


def test_resume_ignores_partial_uncommitted_round(
    spark, docs, full, part2, tmp_path
):
    """A crash mid-commit leaves a _tmp_round=K dir with partial data and
    NO _COMMITTED.json; resume must ignore it entirely and re-execute the
    round bit-identically (the atomic-rename publish contract)."""
    import os

    part2[1](tmp_path / "ppart")
    # simulate a crash during round 3's commit: partial junk, no marker
    tmp3 = os.path.join(str(tmp_path / "ppart"), "_tmp_round=3")
    os.makedirs(os.path.join(tmp3, "crawl_log"))
    with open(os.path.join(tmp3, "crawl_log", "part-junk.parquet"), "wb") as f:
        f.write(b"\x00not a parquet file")
    resumed = CrawlScheduler(spark, docs, str(tmp_path / "ppart"), make_cfg())
    assert resumed.store.latest_round() == 2  # junk dir not visible
    resumed.run(ROUNDS)
    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_set() == full.seen_set()
    assert not os.path.exists(tmp3)  # overwritten by the real commit


def test_span_sequence_equality(docs, full):
    """Every re-emitted document preserves (kind, text, media_ref, order)."""
    sched = full
    emitted = sched.re_emitted_documents(1)
    orig = docs.withColumnRenamed("spans", "orig_spans")
    cmp = emitted.join(orig, "doc_id")
    bad = cmp.filter(F.col("spans") != F.col("orig_spans")).count()
    assert bad == 0
    assert cmp.count() > 0


def test_politeness_budget_enforced(spark, full):
    sched = full
    cfg = make_cfg()
    last = sched.store.latest_round()
    seen_host_rounds = {}
    for rnd in range(1, last + 1):
        log = sched.store.read_table(spark, rnd, "crawl_log")
        per_host = log.groupBy("host").count().collect()
        for r in per_host:
            # max_in_flight per host per round
            assert r["count"] <= cfg.max_in_flight, (rnd, r)
            prev = seen_host_rounds.get(r["host"])
            if prev is not None:
                # min-delay between consecutive schedules of one host
                assert rnd - prev >= cfg.min_delay_rounds, (r["host"], prev, rnd)
            seen_host_rounds[r["host"]] = rnd


def test_fetch_miss_404_analogue(spark, docs, tmp_path):
    """Seeds whose documents don't exist (404s): the round schedules them,
    the fetch join finds nothing, the crawl continues — the URL is consumed
    (in crawl_log, not re-scheduled) exactly like a fetched-but-dead page."""
    from pyspark.sql import functions as F

    dead_urls = [f"https://host9.example.com/doc/{99000 + i}" for i in range(5)]
    dead = spark.createDataFrame(
        [(u, 5.0) for u in dead_urls], "url string, priority double"
    )
    live = seed_urls(spark, 5, N_DOCS)
    sched = CrawlScheduler(spark, docs, str(tmp_path / "miss"), make_cfg())
    sched.run(3, seeds=dead.unionByName(live))
    order = sched.crawl_order()
    urls = [u for _, _, u in order]
    # dead URLs scheduled once (high priority), never again; crawl continued.
    # Match the EXACT dead URLs — a substring like '/doc/99' would also
    # match live doc 99 and misfire when the crawl happens to discover it.
    assert sum(u in set(dead_urls) for u in urls) == 5
    assert len(urls) == len(set(urls))
    assert len(urls) > 10  # live seeds kept expanding the frontier
    pend = sched.pending_frontier()
    assert pend.filter(F.col("url").isin(dead_urls)).count() == 0


def test_frontier_metrics(full):
    sched = full
    m = {r["host"]: r for r in sched.frontier_metrics().collect()}
    assert len(m) > 3
    total_seen = sum(r["seen_exact"] for r in m.values())
    assert total_seen == len(sched.seen_set())
    for r in m.values():  # HLL++ within 10% of exact at this scale
        if r["seen_exact"] > 10:
            assert abs(r["seen_approx"] - r["seen_exact"]) / r["seen_exact"] < 0.1


def test_url_seen_is_exact_and_grows(full):
    sched = full
    last = sched.store.latest_round()
    seen = sched._read_url_seen(last)
    # exact: no duplicate canonical URLs ever enter the seen set
    assert seen.count() == seen.select("url").distinct().count()
    # frontier ⊆ seen (every enqueued URL was recorded as seen)
    frontier = sched._read_deltas(last, "frontier_new")
    missing = frontier.join(seen.select("url"), "url", "left_anti").count()
    assert missing == 0
    # append-only invariant: no URL discovered twice across rounds
    assert frontier.count() == frontier.select("url").distinct().count()
    # derived pending = discovered minus scheduled
    pend = sched.pending_frontier()
    n_sched = sched._read_deltas(last, "crawl_log").count()
    assert pend.count() == frontier.count() - n_sched


def test_crawl_drains_corpus_exactly_once(spark, tmp_path):
    """Convergence + exactly-once: run rounds until the frontier empties —
    every discoverable URL is scheduled EXACTLY once (the crawl_log is
    duplicate-free), the seen set covers everything discovered, pending
    reaches zero, and auto-compaction fires along the way."""
    import os

    from pyspark.sql import functions as F

    from cord19_crawler_spark.datagen import generate_documents, seed_urls
    from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig

    docs = generate_documents(spark, 300, partitions=2).cache()
    ckpt = str(tmp_path / "drain")
    cfg = SchedulerConfig(
        batch_size=80, seen_partitions=4, bloom_bits=1 << 16,
        min_delay_rounds=1, max_in_flight=80, compact_every=4,
    )
    s = CrawlScheduler(spark, docs, ckpt, cfg)
    s.run(12, seeds=seed_urls(spark, 40, 300))
    order = s.crawl_order()
    urls = [u for _, _, u in order]
    assert len(urls) == len(set(urls)), "a URL was scheduled twice"
    seen = s.seen_set()
    assert set(urls) <= seen  # everything scheduled was first seen
    assert s.pending_frontier().count() == 0  # frontier fully drained
    # the crawl reached the whole discoverable corpus: every /doc/<id> URL
    # in the seen set got scheduled
    assert len(urls) == len(seen)
    assert any(d.startswith("compact=") for d in os.listdir(ckpt))
    # post-drain rounds are graceful no-ops
    extra = s.run(14)
    assert all(c["scheduled"] == 0 for c in extra)
