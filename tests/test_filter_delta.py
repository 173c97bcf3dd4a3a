"""Filter-state delta commits (VERDICT r3 #1): the bloom/cuckoo state is
append-only like every other state table — each round writes bitsets ONLY
for the partitions its new URLs touched, the effective state is the latest
row per partition, and a requeue (which touches no filter bits) writes an
EMPTY delta instead of rewriting unchanged state.

Why it matters: at the DESIGN.md sizing (P=65,536 partitions x ~180 KB-2 MB
bitsets) a full per-round rewrite is ~12-128 GB written per round — the one
O(total-state) write the round loop had left. These tests pin the
O(touched) property by reading the committed parquet directly.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cord19_crawler_spark.datagen import generate_documents, seed_urls
from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig

N_DOCS = 300
P = 8


def make_cfg(**kw):
    base = dict(
        batch_size=20,
        seen_partitions=P,
        bloom_bits=1 << 16,
        min_delay_rounds=1,
        max_in_flight=20,
        hot_host_threshold=1_000_000,
    )
    base.update(kw)
    return SchedulerConfig(**base)


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, N_DOCS, partitions=4).cache()


@pytest.fixture(scope="module")
def control(spark, docs, tmp_path_factory):
    """The uninterrupted reference crawl (make_cfg(), 10 seeds): a
    scheduler on a copy of it as it stood at round 3, and one on the crawl
    run on to round 4. Tests only read them."""
    base = tmp_path_factory.mktemp("control")
    s = CrawlScheduler(spark, docs, str(base / "run"), make_cfg())
    s.run(3, seeds=seed_urls(spark, 10, N_DOCS))
    shutil.copytree(str(base / "run"), str(base / "at3"))
    s.run(4)
    return CrawlScheduler(spark, docs, str(base / "at3"), make_cfg()), s


def _round_table(spark, ck, rnd, name):
    return spark.read.parquet(os.path.join(str(ck), f"round={rnd}", name))


def test_round_filter_write_is_o_touched(spark, docs, tmp_path):
    """Each round>=1 commits exactly one filter row per TOUCHED partition
    (== distinct partitions in that round's url_seen_new), not one per
    partition; round 0 seeds full coverage. P is set well above the
    per-round discovery volume so untouched partitions actually exist —
    the commit-bytes-proportional-to-touched property the round 3 verdict
    asked to pin."""
    P = 128  # noqa: N806 — local override; uniform url-hash leaves ~half untouched
    ck = tmp_path / "ck"
    sched = CrawlScheduler(spark, docs, str(ck), make_cfg(seen_partitions=P))
    sched.run(3, seeds=seed_urls(spark, 10, N_DOCS))

    r0 = _round_table(spark, ck, 0, "filter_state")
    assert r0.count() == P
    assert set(r0.columns) == {"partition", "bitset", "_sr"}

    saw_partial = False
    for rnd in (1, 2, 3):
        fs = _round_table(spark, ck, rnd, "filter_state")
        touched = {
            r["partition"]
            for r in _round_table(spark, ck, rnd, "url_seen_new")
            .select("partition")
            .distinct()
            .collect()
        }
        committed = {r["partition"] for r in fs.select("partition").collect()}
        assert committed == touched, (rnd, committed, touched)
        assert fs.count() == len(touched)
        saw_partial = saw_partial or len(touched) < P
    # the property is only meaningful if some round actually touched a
    # strict subset of partitions (otherwise delta == full trivially)
    assert saw_partial or N_DOCS < P, "every round touched all partitions"


def test_requeue_commits_empty_filter_delta(spark, docs, tmp_path):
    ck = tmp_path / "ck"
    sched = CrawlScheduler(spark, docs, str(ck), make_cfg())
    sched.run(2, seeds=seed_urls(spark, 10, N_DOCS))
    last = sched.store.latest_round()
    failed = sched._read(last, "crawl_log").select("url").limit(3)
    sched.requeue_failures(failed)
    fs = _round_table(spark, ck, last + 1, "filter_state")
    assert fs.count() == 0
    assert set(fs.columns) == {"partition", "bitset", "_sr"}


def test_effective_state_equals_full_insert(spark, control):
    """Latest-row-per-partition over the deltas == the state a full
    per-round rewrite would have produced (replayed via insert() over the
    committed url_seen_new history)."""
    sched, _ = control

    eff = {
        r["partition"]: bytes(r["bitset"])
        for r in sched._read_filter_state(3).collect()
    }
    # replay: all seen urls inserted into an empty state in one shot (bloom
    # insert is order-independent: bits only OR in)
    all_seen = sched._read_url_seen(3)
    replay = sched.bloom.insert(all_seen, sched.bloom.empty_state(spark))
    rep = {r["partition"]: bytes(r["bitset"]) for r in replay.collect()}
    assert eff == rep


def test_legacy_full_rewrite_checkpoint_migrates(spark, docs, control, tmp_path):
    """A checkpoint whose rounds each carry the FULL filter state without
    ``_sr`` (the pre-delta layout) resumes cleanly: the head is read as-is,
    the next commit writes one full stamped state, and the crawl matches an
    uninterrupted run bit-for-bit."""
    ck_l = tmp_path / "legacy"
    s = CrawlScheduler(spark, docs, str(ck_l), make_cfg())
    s.run(1, seeds=seed_urls(spark, 10, N_DOCS))
    # rewrite rounds 0..1 filter_state into the legacy layout: full
    # effective state at that round, no _sr column
    for rnd in (0, 1):
        full = s._read_filter_state(rnd).collect()
        pdf = spark.createDataFrame(
            [(r["partition"], bytes(r["bitset"])) for r in full],
            "partition int, bitset binary",
        )
        path = os.path.join(str(ck_l), f"round={rnd}", "filter_state")
        pdf.write.mode("overwrite").parquet(path)

    resumed = CrawlScheduler(spark, docs, str(ck_l), make_cfg())
    resumed.run(3)
    # migration commit: round 2 carries FULL coverage stamped _sr
    r2 = _round_table(spark, ck_l, 2, "filter_state")
    assert r2.count() == P and "_sr" in r2.columns
    # round 3 is back to O(touched)
    r3 = _round_table(spark, ck_l, 3, "filter_state")
    touched3 = (
        _round_table(spark, ck_l, 3, "url_seen_new")
        .select("partition")
        .distinct()
        .count()
    )
    assert r3.count() == touched3

    at3, _ = control
    assert resumed.crawl_order() == at3.crawl_order()
    assert resumed.seen_set() == at3.seen_set()


def test_compact_snapshot_carries_filter_and_expiry_reads(
    spark, docs, control, tmp_path
):
    """After compact+expire, the effective filter state reads from the
    snapshot + surviving deltas and the crawl continues bit-identically."""
    s = CrawlScheduler(spark, docs, str(tmp_path / "a"), make_cfg())
    s.run(2, seeds=seed_urls(spark, 10, N_DOCS))
    s.compact(2)
    assert s.store.has_compact_table(2, "filter_state")
    s.expire()
    s.run(4)

    _, at4 = control
    assert s.crawl_order() == at4.crawl_order()
    assert s.seen_set() == at4.seen_set()
