"""Compaction is a pure read optimization: a crawl with a mid-run compaction
must be bit-identical to one without."""

import shutil

import pytest

from cord19_crawler_spark.datagen import generate_documents, seed_urls
from cord19_crawler_spark.frontier import CrawlScheduler, SchedulerConfig
from cord19_crawler_spark.storage import expiry_limit


def _cfg():
    return SchedulerConfig(batch_size=20, seen_partitions=4, bloom_bits=1 << 16,
                           min_delay_rounds=2, max_in_flight=3)


@pytest.fixture(scope="module")
def plain_crawl(spark, tmp_path_factory):
    """The untouched reference crawl the compaction/expiry tests compare
    against (300 docs, 10 seeds): run to round 5, copied aside as it stood
    at round 5, then run on to round 6. Yields ``(docs, at5, at6, copy5,
    round6)``: schedulers on the round-5 copy and on the round-6
    checkpoint (read them only), a function that copies the round-5
    checkpoint to a given path and opens it (for tests that commit more
    rounds), and what ``run(6)`` returned on the way from 5 to 6."""
    docs = generate_documents(spark, 300, partitions=4).cache()
    base = tmp_path_factory.mktemp("plain")
    plain = CrawlScheduler(spark, docs, str(base / "run"), _cfg())
    plain.run(5, seeds=seed_urls(spark, 10, 300))
    shutil.copytree(str(base / "run"), str(base / "at5"))
    round6 = plain.run(6)

    def copy5(path):
        shutil.copytree(str(base / "at5"), str(path))
        return CrawlScheduler(spark, docs, str(path), _cfg())

    at5 = CrawlScheduler(spark, docs, str(base / "at5"), _cfg())
    yield docs, at5, plain, copy5, round6
    docs.unpersist()


def test_compaction_bit_identical(spark, tmp_path, plain_crawl):
    docs, plain, _, _, round6 = plain_crawl

    comp = CrawlScheduler(spark, docs, str(tmp_path / "comp"), _cfg())
    comp.run(2, seeds=seed_urls(spark, 10, 300))
    assert comp.compact() == 2
    comp.run(5)  # rounds 3-5 read through the compaction snapshot

    assert comp.crawl_order() == plain.crawl_order()
    assert comp.seen_set() == plain.seen_set()
    # derived pending matches too
    p1 = sorted(r["url"] for r in plain.pending_frontier().collect())
    p2 = sorted(r["url"] for r in comp.pending_frontier().collect())
    assert p1 == p2

    # resume AFTER compaction from a fresh scheduler object also identical
    resumed = CrawlScheduler(spark, docs, str(tmp_path / "comp"), _cfg())
    assert resumed.crawl_order() == plain.crawl_order()
    assert resumed.run(6) == round6  # what plain.run(6) returned


def test_expiry_reclaims_rounds_bit_identical(spark, tmp_path, plain_crawl):
    """Cumulative compaction + expire(): expired round dirs are deleted, yet
    crawl order, seen set, pending, resume, and requeue are all identical to
    an untouched run — storage is bounded by (rounds since last compact)."""
    import os

    docs, plain, _, copy5, _ = plain_crawl

    ex = CrawlScheduler(spark, docs, str(tmp_path / "ex"), _cfg())
    ex.run(3, seeds=seed_urls(spark, 10, 300))
    assert ex.compact() == 3
    removed = ex.expire()
    assert removed == [1, 2]  # round 0 (config) and round 3 (latest) kept
    root = str(tmp_path / "ex")
    assert not os.path.isdir(os.path.join(root, "round=1"))
    assert os.path.isdir(os.path.join(root, "round=0"))
    assert os.path.isdir(os.path.join(root, "round=3"))

    # every reader still sees the full history — including a prefix query
    # ENTIRELY below the expiry point (served by the cumulative snapshot)
    assert ex.crawl_order() == plain.crawl_order(upto_round=3)
    assert ex.crawl_order(upto_round=2) == plain.crawl_order(upto_round=2)
    ex.run(5)  # resume over the expired checkpoint
    assert ex.crawl_order() == plain.crawl_order()
    assert ex.seen_set() == plain.seen_set()
    pe = sorted(r["url"] for r in ex.pending_frontier().collect())
    pp = sorted(r["url"] for r in plain.pending_frontier().collect())
    assert pe == pp

    # requeue consults the (expired) frontier history through the snapshot
    failed_e = [u for _, _, u in ex.crawl_order()[:3]]
    failed_p = [u for _, _, u in plain.crawl_order()[:3]]
    assert failed_e == failed_p
    fdf = spark.createDataFrame([(u,) for u in failed_e], "url string")
    ce = ex.requeue_failures(fdf)
    cp = copy5(tmp_path / "plain").requeue_failures(fdf)
    assert ce["requeued"] == cp["requeued"] > 0


def test_prefix_reads_between_two_compaction_points_after_expiry(
    spark, tmp_path, plain_crawl
):
    """History reads whose base snapshot is an OLDER compact point and whose
    trailing delta rounds were expired under a NEWER cumulative snapshot are
    served from the newer snapshot (not a crash on deleted round dirs)."""
    docs, _, plain, _, _ = plain_crawl

    ex = CrawlScheduler(spark, docs, str(tmp_path / "ex"), _cfg())
    ex.run(2, seeds=seed_urls(spark, 10, 300))
    assert ex.compact() == 2          # older compact point
    ex.run(6)
    assert ex.compact() == 6          # newer cumulative snapshot
    removed = ex.expire()
    assert removed == [1, 2, 3, 4, 5]
    # upto=4 resolves base=compact(2) + deltas 3..4 — which were expired;
    # the newer snapshot at 6 must serve the prefix
    assert ex.crawl_order(upto_round=4) == plain.crawl_order(upto_round=4)
    # requeue reads frontier history at the head (same machinery) — smoke
    failed = [u for _, _, u in ex.crawl_order()[:2]]
    fdf = spark.createDataFrame([(u,) for u in failed], "url string")
    assert ex.requeue_failures(fdf)["requeued"] > 0
    # historical url_seen below the expiry point is NOT reconstructable —
    # must fail loudly, not return silently-wrong rows
    with pytest.raises(ValueError, match="expired"):
        ex._read_url_seen(4).count()


def test_expire_refuses_without_cumulative_snapshot(spark, tmp_path):
    docs = generate_documents(spark, 100, partitions=2).cache()
    s = CrawlScheduler(spark, docs, str(tmp_path / "ck"), _cfg())
    s.run(2, seeds=seed_urls(spark, 8, 100))
    with pytest.raises(ValueError, match="cumulative"):
        s.expire()  # no compaction at all
    s.compact()
    # simulate a LEGACY snapshot (pre-cumulative: no crawl_log table)
    shutil.rmtree(s.store.compact_table_path(2, "crawl_log"))
    with pytest.raises(ValueError, match="cumulative"):
        s.expire()
    # legacy snapshot still serves reads via delta-union fallback
    assert len(s.crawl_order()) > 0


class _FakeStore:
    """Rounds 0..latest committed; ``compacts`` maps a snapshot round to
    the tables it carries."""

    def __init__(self, latest, compacts):
        self.latest, self.compacts = latest, compacts

    def latest_round(self):
        return self.latest

    def latest_compact(self, upto=None):
        rounds = [r for r in self.compacts if upto is None or r <= upto]
        return max(rounds, default=None)

    def has_compact_table(self, rnd, name):
        return name in self.compacts[rnd]


_CUMULATIVE = {"crawl_log", "frontier_all", "filter_state", "url_seen"}


def test_expiry_limit_needs_a_cumulative_snapshot():
    with pytest.raises(ValueError, match="cumulative"):
        expiry_limit(_FakeStore(5, {}))
    with pytest.raises(ValueError, match="cumulative"):
        expiry_limit(_FakeStore(5, {3: {"url_seen", "crawl_log"}}))


def test_expiry_limit_steps_back_past_a_non_cumulative_snapshot():
    store = _FakeStore(9, {3: _CUMULATIVE, 6: {"url_seen"}})
    assert expiry_limit(store) == 3


def test_expiry_limit_respects_upto_and_keeps_the_latest_round():
    store = _FakeStore(6, {6: _CUMULATIVE})
    assert expiry_limit(store) == 5
    assert expiry_limit(store, upto=2) == 2
    assert expiry_limit(_FakeStore(1, {1: _CUMULATIVE})) == 0


def test_expire_on_compact_auto(spark, tmp_path):
    """expire_on_compact: the run loop reclaims redundant round dirs right
    after each auto-compaction; results stay identical to a keep-everything
    run."""
    import os

    docs = generate_documents(spark, 200, partitions=2).cache()
    cfg = _cfg(); cfg.compact_every = 2; cfg.expire_on_compact = True
    auto = CrawlScheduler(spark, docs, str(tmp_path / "auto"), cfg)
    auto.run(4, seeds=seed_urls(spark, 10, 200))
    root = str(tmp_path / "auto")
    for k in (1, 2, 3):
        assert not os.path.isdir(os.path.join(root, f"round={k}")), k
    assert os.path.isdir(os.path.join(root, "round=4"))
    plain = CrawlScheduler(spark, docs, str(tmp_path / "plain"), _cfg())
    plain.run(4, seeds=seed_urls(spark, 10, 200))
    assert auto.crawl_order() == plain.crawl_order()
    assert auto.seen_set() == plain.seen_set()


@pytest.fixture(scope="module")
def expired_checkpoint(spark, tmp_path_factory):
    """A content_dedup crawl (so all six state tables exist) compacted at
    round 2, with round 1 expired."""
    docs = generate_documents(spark, 100, partitions=2).cache()
    root = str(tmp_path_factory.mktemp("expired") / "ck")
    cfg = _cfg()
    cfg.extra = {"content_dedup": True}
    s = CrawlScheduler(spark, docs, root, cfg)
    s.run(2, seeds=seed_urls(spark, 8, 100))
    assert s.compact() == 2
    assert s.expire() == [1]
    return docs, root, cfg


@pytest.mark.parametrize(
    "table,reader",
    [
        ("url_seen", "_read_url_seen"),
        ("content_seen", "_read_content_seen"),
        ("host_state", "_read_host_state"),
        ("filter_state", "_read_filter_state"),
        ("crawl_log", "_read_crawl_log"),
        ("frontier_all", "_read_frontier_all"),
    ],
)
def test_expired_read_without_snapshot_table_fails_loud(
    spark, tmp_path, expired_checkpoint, table, reader
):
    """Once the only snapshot that could serve a table's expired rounds
    lacks that table (a legacy snapshot), every reader refuses with a
    ValueError naming the table — never a raw missing-path read, never
    silently fewer rows — below the expiry point and at the head."""
    docs, root, cfg = expired_checkpoint
    ck = str(tmp_path / "ck")
    shutil.copytree(root, ck)
    s = CrawlScheduler(spark, docs, ck, cfg)
    shutil.rmtree(s.store.compact_table_path(2, table))
    for upto in (1, 2):
        with pytest.raises(ValueError, match=rf"{table} through round {upto}: .*expired"):
            getattr(s, reader)(upto)


# ---------------------------------------------------------------------------
# size-tiered segment compaction planner (operators/delta.py)
# ---------------------------------------------------------------------------


def test_plan_compaction_tiers_and_groups(spark):
    from cord19_crawler_spark.operators.delta import plan_compaction

    # tier 0: sizes < 2*min ... ; min_size=10, fanout=2
    rows = [
        # (id, size, age): tier = floor(log2(size // 10)), clamp 0
        (1, 10, 0),   # 10//10=1  -> tier 0
        (2, 19, 1),   # 1 -> tier 0
        (3, 25, 2),   # 2 -> tier 1
        (4, 39, 0),   # 3 -> tier 1
        (5, 45, 1),   # 4 -> tier 2
        (6, 5, 3),    # 0 -> clamped tier 0 (below min_size)
    ]
    seg = spark.createDataFrame(
        rows, "segment_id long, size_bytes long, created_round long"
    )
    out = {r["segment_id"]: r for r in
           plan_compaction(seg, min_size=10, fanout=2).collect()}
    assert {i: out[i]["tier"] for i in out} == {
        1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 0
    }
    # tier 0 has 3 segments ordered by age: 1 (age0), 2 (age1), 6 (age3)
    # -> one complete pair (1,2) in group 0; 6 left unmerged
    assert out[1]["merge_group"] == 0 and out[2]["merge_group"] == 0
    assert out[6]["merge_group"] is None
    # tier 1 pair ordered by age: 4 (age0), 3 (age2) -> group 10^6
    assert out[4]["merge_group"] == 1000000 and out[3]["merge_group"] == 1000000
    # tier 2 singleton: unmerged
    assert out[5]["merge_group"] is None
    with pytest.raises(ValueError):
        plan_compaction(seg, min_size=0)
    with pytest.raises(ValueError):
        plan_compaction(seg, fanout=1)


def test_plan_compaction_complete_groups_only(spark):
    from cord19_crawler_spark.operators.delta import plan_compaction

    seg = spark.createDataFrame(
        [(i, 10, i) for i in range(11)],
        "segment_id long, size_bytes long, created_round long",
    )
    out = plan_compaction(seg, min_size=10, fanout=4).collect()
    merged = [r for r in out if r["merge_group"] is not None]
    assert len(merged) == 8  # two complete groups of 4; 3 stragglers
    assert len({r["merge_group"] for r in merged}) == 2
