"""Round-based crawl scheduler: the north-star pipeline.

Each scheduling round is ONE deterministic DataFrame job chain (the
reference is likewise batch-per-round: src/crawler.py:130-150 micro-batch
ingest; src/index.py:41-116 incremental fold):

  pending scan (derived from append-only logs)
  → politeness eligibility (host_state join; AQE picks the strategy)
  → robots filter (broadcast rules + Arrow UDF)
  → per-host/domain priority queue (two-phase skew-split window:
    hot hosts pre-reduced on (key, salt) per the round's split plan)
  → global top-N fetch batch (TakeOrderedAndProject)
  → "fetch" = join batch→documents (broadcast the small batch side)
  → span explode (≤ cap) → fused URL extract+canonicalize (ONE Arrow stage)
  → url-hash dedup (uniform key — no salting needed here)
  → bloom/cuckoo probe (co-grouped bitsets) → exact anti-join backstop
    (keyed on the URL STRING — hash-collision-safe)
  → append-only commit: frontier_new + url_seen_new + crawl_log +
    host_state deltas (latest row per host wins at read time) +
    filter_state deltas (touched-partition bitsets, latest row per
    partition wins), counters + per-partition lineage — atomically.
    Pending is DERIVED (frontier deltas anti-join scheduled log), so no
    O(frontier) rewrite ever happens; with Iceberg these are appends +
    one MERGE-maintained view.

Determinism: every ordering carries the total order (priority DESC, url ASC)
— url is unique — so crawl order is identical at local[8] and local[32] and
bit-identical across kill/resume (state lives only in committed tables,
never in executor memory across rounds).

Scale notes (10^10 URLs, 1000 executors): frontier/url_seen are
hash-partitioned append-only delta tables (O(new) writes; pending derived;
compaction caps read fan-in); the per-round batch is small relative to the
frontier, so the fetch join broadcasts the batch, not the corpus; the bloom
prefilter keeps the exact-backstop probe volume near zero for new URLs (and
the backstop itself broadcasts, never shuffling the seen set);
hot hosts are split across reducers in the politeness window per the
per-round plan. Full sizing math: DESIGN.md.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import (
    canonicalize_url,
    extract_canonical_urls,
    host_from_canonical,
)
from ..storage import CheckpointStore
from . import politeness, skew
from .robots import filter_robots
from .seen import BloomSeenFilter, exact_new, with_partition

# per-round frontier DELTA columns: every committed row is append-only; the
# pending set is DERIVED (deltas minus scheduled log), so no state rewrite.
FRONTIER_COLS = [
    "url", "url_id", "host", "partition", "priority", "discovered_round", "attempt"
]

# every other table a round commits, with the schema of its EMPTY delta:
# a round that did not touch a table still writes it (zero rows), because
# the delta unions read every round dir. content_seen_new is committed only
# on content_dedup checkpoints (CrawlScheduler._commit).
EMPTY_DELTAS = {
    "url_seen_new": "partition int, url_id long, url string",
    "filter_state": "partition int, bitset binary, _sr int",
    "host_state": (
        "host string, min_delay_rounds int, max_in_flight int, "
        "last_scheduled_round int, min_delay_seconds double, "
        "last_fetch_ts double, _sr int"
    ),
    "crawl_log": (
        "round int, seq int, url string, host string, priority double, attempt int"
    ),
    "content_seen_new": "fp string",
}


@dataclass
class SchedulerConfig:
    batch_size: int = 50
    seen_partitions: int = 8
    bloom_bits: int = 1 << 20
    bloom_k: int = 5
    min_delay_rounds: int = 2
    max_in_flight: int = 3
    # wall-clock politeness: seconds-per-host minimum delay, enforced against
    # last_fetch_ts in host_state (None = rounds-only mode, which stays fully
    # deterministic / bit-identical across resume). The round's reference
    # time comes from the scheduler's injectable clock.
    min_delay_seconds: float | None = None
    span_cap: int = 50  # reference: src/crawler.py:80
    hot_host_threshold: int = 100_000
    # auto-compact every N committed rounds (None = manual compact() only).
    # Default ON: a long crawl that never compacts unions one parquet path
    # group per round at read time — 10^4 rounds = 10^4-way fan-in. Results
    # are bit-identical with or without (tests/test_compaction.py).
    compact_every: int | None = 64
    # reclaim expired round dirs right after each auto-compaction (storage
    # bounded by rounds-since-last-compact; default off = keep full history)
    expire_on_compact: bool = False
    extra: dict = field(default_factory=dict)


class CrawlScheduler:
    def __init__(
        self,
        spark: SparkSession,
        documents: DataFrame,
        checkpoint_dir: str,
        config: SchedulerConfig | None = None,
        robots: DataFrame | None = None,
        clock=None,
        store=None,
        psl: DataFrame | None = None,
        fetcher=None,
    ):
        self.spark = spark
        self.cfg = config or SchedulerConfig()
        self.documents = documents
        # any object honoring the CheckpointStore contract works — pass an
        # IcebergCheckpointStore (storage_iceberg.py) on a cluster with the
        # Iceberg runtime; the parquet store is the local default
        self.store = store or CheckpointStore(checkpoint_dir)
        self.robots = robots
        # public-suffix dimension for budget_key="domain" (frontier/psl.py)
        self.psl = psl
        # robots.txt Crawl-delay (parse_robots_txt emits it) OVERRIDES a
        # host's min_delay_seconds — but only when wall-clock mode is
        # explicitly enabled via cfg.min_delay_seconds (use 0.0 for
        # "directives only, no default delay"). The directive alone never
        # flips the mode: rounds-only crawls must stay bit-identical across
        # runs/resume, and wall-clock inherently reads a real clock.
        self._robots_delay = (
            robots is not None
            and "crawl_delay" in robots.columns
            and self.cfg.min_delay_seconds is not None
        )
        # fetch seam (frontier/fetch.py): batch DF -> documents DF. Default
        # is the corpus join; production slots an HTTP mapInPandas fetcher
        self.fetcher = fetcher or self._corpus_fetch
        # injectable wall clock (epoch seconds) — tests force it for
        # deterministic wall-clock-politeness assertions
        import time as _time

        self.clock = clock or _time.time
        kind = self.cfg.extra.get("filter_kind", "bloom")
        if kind not in ("bloom", "cuckoo"):
            raise ValueError(f"unknown filter_kind {kind!r}: use 'bloom' or 'cuckoo'")
        if kind == "cuckoo":
            from .cuckoo import CuckooSeenFilter

            self.bloom = CuckooSeenFilter(
                n_partitions=self.cfg.seen_partitions,
                n_buckets=self.cfg.extra.get("cuckoo_buckets", 1 << 15),
            )
        else:
            self.bloom = BloomSeenFilter(
                n_partitions=self.cfg.seen_partitions,
                m_bits=self.cfg.bloom_bits,
                k=self.cfg.bloom_k,
            )
        self._config_checked = False
        self._geometry_checked = False
        self._verify_checkpoint_config()

    def _verify_filter_geometry(self, filter_state: DataFrame) -> None:
        """Resume guard, run once per scheduler instance before the first
        probe: the committed filter_state's partition COUNT and per-
        partition blob SIZE must match this config's probe geometry. The
        in-kernel empty-group guard only fires in the GROW direction (a
        candidate partition with no state row); a seen_partitions DECREASE
        or an m_bits / bucket-count mismatch would otherwise silently probe
        the wrong bitset and re-admit already-seen URLs. One tiny job over
        P rows. ``k`` is not derivable from the state — it is covered by
        the persisted filter_config facets (_verify_checkpoint_config)."""
        row = filter_state.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.length("bitset")).alias("lo"),
            F.max(F.length("bitset")).alias("hi"),
        ).collect()[0]
        want_n = self.cfg.seen_partitions
        want_b = self.bloom.state_bytes()
        if (
            int(row["n"]) != want_n
            or int(row["lo"]) != want_b
            or int(row["hi"]) != want_b
        ):
            raise ValueError(
                "checkpoint filter geometry mismatch: committed state has "
                f"{row['n']} partitions × {row['lo']}..{row['hi']} bytes, "
                f"config expects {want_n} × {want_b} — resume with the "
                "committed geometry (CrawlScheduler.open adopts it) or "
                "start a fresh checkpoint"
            )

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        documents: DataFrame,
        checkpoint_dir: str,
        config: SchedulerConfig | None = None,
        robots: DataFrame | None = None,
        **kwargs,
    ) -> "CrawlScheduler":
        """Open an existing checkpoint ADOPTING its committed probe geometry
        (seen partitions, filter kind, bloom/cuckoo sizing) — the ergonomic
        resume path: run-time knobs (batch size, politeness, compaction)
        still come from ``config``, but the filter facets always match what
        round 0 committed, so the fail-fast guard can never trip.
        ``kwargs`` pass through to the constructor (clock/store/psl/fetcher)."""
        import dataclasses

        base_cfg = config or SchedulerConfig()
        # COPY before adopting committed facets — mutating the caller's
        # config object would leak this checkpoint's geometry into any
        # other scheduler the caller builds from the same config
        cfg = dataclasses.replace(base_cfg, extra=dict(base_cfg.extra))
        store = kwargs.get("store") or CheckpointStore(checkpoint_dir)
        if store.latest_round() is not None:
            fc = store.read_counters(0).get("counters", {}).get("filter_config")
            if fc:
                cfg.seen_partitions = fc["seen_partitions"]
                cfg.extra = dict(cfg.extra, filter_kind=fc["filter_kind"])
                if fc["filter_kind"] == "cuckoo":
                    cfg.extra["cuckoo_buckets"] = fc["n_buckets"]
                else:
                    cfg.bloom_bits = fc["m_bits"]
                    cfg.bloom_k = fc["k"]
                if fc.get("content_dedup"):
                    # facet, not a knob: an enabled checkpoint's every
                    # commit carries content_seen_new — resuming without
                    # the flag would fail the facet check anyway
                    cfg.extra["content_dedup"] = True
        return cls(spark, documents, checkpoint_dir, cfg, robots, **kwargs)

    def _apply_crawl_delay(self, hs: DataFrame) -> DataFrame:
        """Override a fresh host's min_delay_seconds with its robots.txt
        Crawl-delay (when the robots dimension carries one): the de-facto
        directive maps 1:1 onto the wall-clock politeness budget. Config
        default applies to hosts without a directive."""
        if not self._robots_delay:
            return hs
        cd = self.robots.select("host", "crawl_delay")
        return (
            hs.join(cd, "host", "left")
            .withColumn(
                "min_delay_seconds",
                F.coalesce(F.col("crawl_delay"), F.col("min_delay_seconds")),
            )
            .drop("crawl_delay")
            .select(*politeness.HOST_STATE_COLS)
        )

    def _corpus_fetch(self, batch: DataFrame) -> DataFrame:
        """Default fetcher: batch URLs → corpus documents (broadcast the
        batch side — it is bounded by batch_size; the corpus scan is the
        big side at any scale)."""
        batch_docs = batch.withColumn(
            "doc_id", F.regexp_extract(F.col("url"), r"/doc/(\d+)$", 1)
        ).select("doc_id")
        return self.documents.join(F.broadcast(batch_docs), "doc_id", "inner")

    # -- state helpers ------------------------------------------------------

    def _filter_config(self) -> dict:
        """The config facets that determine how committed filter bitsets and
        seen-set partitions are PROBED. Persisted in round-0's
        _COMMITTED.json so a resume with a different geometry fails fast."""
        cfg: dict = {
            "seen_partitions": self.cfg.seen_partitions,
            "filter_kind": self.cfg.extra.get("filter_kind", "bloom"),
        }
        if cfg["filter_kind"] == "cuckoo":
            cfg["n_buckets"] = self.cfg.extra.get("cuckoo_buckets", 1 << 15)
        else:
            cfg["m_bits"] = self.cfg.bloom_bits
            cfg["k"] = self.cfg.bloom_k
        if self.cfg.extra.get("content_dedup"):
            # recorded only when ON (so pre-existing checkpoints keep
            # resuming under default configs): an enabled checkpoint's
            # every commit carries content_seen_new, and resuming it with
            # the flag off (or vice versa) must fail fast — the delta
            # union requires the table in every round dir
            cfg["content_dedup"] = True
        return cfg

    def _verify_checkpoint_config(self) -> None:
        """Fail fast when resuming an existing checkpoint with a different
        seen_partitions / filter_kind / bloom-cuckoo geometry: the live
        config would silently MIS-PROBE the committed bitsets — a false
        bloom-negative bypasses the exact anti-join, letting already-seen
        URLs re-enter the frontier and breaking both seen-set exactness and
        bit-identical resume."""
        if self._config_checked:
            return
        if self.store.latest_round() is None:
            return  # fresh checkpoint: config is recorded by init_from_seeds
        committed = (
            self.store.read_counters(0).get("counters", {}).get("filter_config")
        )
        if committed is None:
            return  # checkpoint predates config persistence: nothing to check
        live = self._filter_config()
        if committed != live:
            raise ValueError(
                f"checkpoint at {self.store.root!r} was committed with filter "
                f"config {committed}, but the live config is {live}; resuming "
                "would mis-probe the committed filter state. Use the original "
                "config, or start a new checkpoint directory."
            )
        self._config_checked = True

    def _annotate(self, urls: DataFrame) -> DataFrame:
        """url → (url, url_id, host, partition). url must be canonical —
        host/id/partition are pure Catalyst expressions (no Python)."""
        out = urls.withColumn("host", host_from_canonical(F.col("url"))).withColumn(
            "url_id", F.xxhash64(F.col("url"))
        )
        return with_partition(out, self.cfg.seen_partitions)

    def init_from_seeds(self, seeds: DataFrame) -> None:
        """Round 0: canonicalize + dedup seeds, seed all state tables."""
        canon = (
            seeds.withColumn("url", canonicalize_url(F.col("url")))
            .filter(F.col("url").isNotNull())
            .groupBy("url")
            .agg(F.max("priority").alias("priority"))
        )
        frontier = (
            self._annotate(canon)
            .withColumn("discovered_round", F.lit(0))
            .withColumn("attempt", F.lit(0))
            .select(*FRONTIER_COLS)
            .cache()  # four state tables derive from it — compute once
        )
        url_seen_new = frontier.select("partition", "url_id", "url")
        # round 0 is the one FULL filter write (every partition, stamped):
        # later rounds append only touched-partition deltas and the
        # effective state is latest-row-per-partition (_read_filter_state)
        filter_state = self.bloom.insert(
            frontier, self.bloom.empty_state(self.spark)
        ).withColumn("_sr", F.lit(0))
        host_state = self._apply_crawl_delay(
            politeness.default_host_state(
                frontier,
                self.cfg.min_delay_rounds,
                self.cfg.max_in_flight,
                self.cfg.min_delay_seconds,
            )
        ).withColumn("_sr", F.lit(0))

        def _counters(read) -> dict:
            return {
                "seeds": read("frontier_new").count(),
                "scheduled": 0,
                "discovered_new": 0,
                # probe-geometry facets, checked on every resume
                "filter_config": self._filter_config(),
            }

        self._commit(
            0,
            {
                "frontier_new": frontier,
                "url_seen_new": url_seen_new,
                "filter_state": filter_state,
                "host_state": host_state,
            },
            _counters,
        )
        frontier.unpersist()

    def _read(self, rnd: int, name: str) -> DataFrame:
        return self.store.read_table(self.spark, rnd, name)

    def _read_deltas(
        self, upto_rnd: int, name: str, from_rnd: int = 0,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Union of a per-round append-only delta table across rounds
        (store-served: multi-path parquet read, or one partition-range
        Iceberg scan). ``merge_schema`` unions footer schemas across
        rounds — used for host_state so a checkpoint written before the
        wall-clock columns existed resumes cleanly (the deltas are
        O(touched hosts), so the extra footer reads are trivial)."""
        return self.store.read_deltas(
            self.spark, name, from_rnd, upto_rnd, merge_schema=merge_schema
        )

    def compact(self, rnd: int | None = None) -> int:
        """Materialize the cumulative state at a round boundary: url_seen,
        pending, host_state, PLUS the full crawl_log and frontier history
        (the two tables whose complete past any reader may need —
        crawl_order and requeue_failures).

        Read optimization AND storage-reclaim enabler: after 10^4 rounds the
        delta unions touch 10^4 file groups; a compaction snapshot caps that
        at (rounds since last compact), and because the snapshot is
        CUMULATIVE, every round dir ≤ the compact point becomes redundant —
        ``expire(upto)`` deletes them. Crawl results are bit-identical with
        or without compaction/expiry (tested) — the derived state
        definitions don't change, only where the prefix of each union is
        read from. Iceberg equivalent: snapshot expiration + data-file
        compaction.
        """
        if rnd is None:
            rnd = self.store.latest_round()
        if rnd is None:
            raise ValueError("nothing to compact")
        self.store.commit_compact(
            rnd,
            {
                "url_seen": self._read_url_seen(rnd),
                "pending": self._read_pending(rnd),
                "host_state": self._read_host_state_raw(rnd),
                "filter_state": self._read_filter_state_raw(rnd),
                "crawl_log": self._read_crawl_log(rnd),
                "frontier_all": self._read_frontier_all(rnd),
                **(
                    {"content_seen": self._read_content_seen(rnd)}
                    if self.cfg.extra.get("content_dedup")
                    else {}
                ),
            },
        )
        return rnd

    def expire(self, upto: int | None = None) -> list[int]:
        """Reclaim expired round dirs (≤ the latest compaction snapshot) —
        see CheckpointStore.expire_rounds. Returns the expired round ids.
        On a content_dedup checkpoint the cumulative snapshot must also
        carry content_seen (the storage-level guard cannot know about the
        flag), or the fingerprint delta union would lose rows."""
        if self.cfg.extra.get("content_dedup"):
            c = self.store.latest_compact()
            if c is None or not self.store.has_compact_table(c, "content_seen"):
                raise ValueError(
                    "content_dedup checkpoint: compact() (which snapshots "
                    "content_seen) before expiring rounds"
                )
        return self.store.expire_rounds(upto)

    def _read_state(
        self,
        upto_rnd: int,
        snapshot_name: str,
        delta_name: str,
        round_col: str | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The one state reader: ``snapshot_name`` through round
        ``upto_rnd`` = the latest compaction snapshot ≤ upto_rnd that
        carries it, plus the append-only ``delta_name`` rounds after it —
        or the full delta union from round 0 when no such snapshot exists
        (snapshots written before a table joined the compaction set fall
        back the same way).

        expire() deletes a contiguous 1..limit prefix of round dirs
        (round 0 is always kept), so testing the first needed delta round
        tells whether any were reclaimed. If so, a history table
        (``round_col`` given: crawl_log, frontier_all) is served from a
        NEWER cumulative snapshot filtered on ``round_col`` ≤ upto_rnd;
        every other expired read raises ValueError naming the table,
        instead of failing later on a deleted path. ``merge_schema``
        unions footer schemas across rounds and fills columns missing on
        either side of the snapshot/delta union (checkpoints written
        before host_state's wall-clock columns or filter_state's ``_sr``
        stamp)."""
        base_rnd = self.store.latest_compact(upto=upto_rnd)
        if base_rnd is not None and not self.store.has_compact_table(
            base_rnd, snapshot_name
        ):
            base_rnd = None
        if base_rnd == upto_rnd:
            return self.store.read_compact_table(self.spark, base_rnd, snapshot_name)
        first = 0 if base_rnd is None else base_rnd + 1
        probe = max(first, 1)
        if probe <= upto_rnd and not self.store.has_round(probe):
            newer = self.store.latest_compact()
            if (
                round_col is not None
                and newer is not None
                and newer >= upto_rnd
                and self.store.has_compact_table(newer, snapshot_name)
            ):
                return self.store.read_compact_table(
                    self.spark, newer, snapshot_name
                ).filter(F.col(round_col) <= int(upto_rnd))
            raise ValueError(
                f"{snapshot_name} through round {upto_rnd}: delta rounds "
                f"{probe}..{upto_rnd} were expired and no cumulative "
                f"snapshot carrying {snapshot_name} covers them — read at a "
                "compaction snapshot round or at the current head, or "
                "compact() before expire()"
            )
        deltas = self._read_deltas(
            upto_rnd, delta_name, from_rnd=first, merge_schema=merge_schema
        )
        if base_rnd is None:
            return deltas
        return self.store.read_compact_table(
            self.spark, base_rnd, snapshot_name
        ).unionByName(deltas, allowMissingColumns=merge_schema)

    def _read_crawl_log(self, upto_rnd: int) -> DataFrame:
        """FULL crawl log through round upto_rnd (compact-aware: works for
        any prefix even after expire() reclaimed the round dirs)."""
        return self._read_state(upto_rnd, "crawl_log", "crawl_log", "round")

    def _read_frontier_all(self, upto_rnd: int) -> DataFrame:
        """FULL frontier discovery log through round upto_rnd (compact-aware
        like _read_crawl_log; requeue needs original priorities/attempts)."""
        return self._read_state(
            upto_rnd, "frontier_all", "frontier_new", "discovered_round"
        )

    def _read_pending(self, upto_rnd: int) -> DataFrame:
        """The pending frontier at the START of round upto_rnd+1, DERIVED
        from append-only logs: all discovered URLs minus all scheduled URLs.

        Every round writes only deltas (frontier_new, crawl_log,
        url_seen_new) — O(new)+O(batch) write cost per round instead of
        rewriting a 10^10-row frontier to flip 'state' flags. The anti-join
        below is the read-time cost; with Iceberg this whole method is a
        MERGE-maintained table read, and on parquet it is co-partitioned by
        the uniform url hash (no skew)."""
        base_rnd = self.store.latest_compact(upto=upto_rnd)
        if base_rnd == upto_rnd:
            return self.store.read_compact_table(self.spark, base_rnd, "pending")
        if base_rnd is None or not self.store.has_round(base_rnd + 1):
            # no snapshot yet, or its trailing deltas were expired under a
            # LATER cumulative snapshot: discovered minus scheduled over the
            # full logs (both history readers serve an expired prefix)
            discovered = self._read_frontier_all(upto_rnd)
            scheduled = self._read_crawl_log(upto_rnd)
        else:
            # pending(r) = pending(K) ∪ new(K+1..r)  minus  scheduled(K+1..r)
            # (valid because discovery is append-only and unique across rounds)
            discovered = self.store.read_compact_table(
                self.spark, base_rnd, "pending"
            ).unionByName(
                self._read_deltas(upto_rnd, "frontier_new", from_rnd=base_rnd + 1)
            )
            scheduled = self._read_deltas(
                upto_rnd, "crawl_log", from_rnd=base_rnd + 1
            )
        return discovered.join(
            scheduled.select("url", "attempt"), ["url", "attempt"], "left_anti"
        )

    def pending_frontier(self) -> DataFrame:
        """Public: current pending frontier (derived state)."""
        last = self.store.latest_round()
        if last is None:
            raise ValueError("no committed rounds")
        return self._read_pending(last)

    def _read_host_state_raw(self, upto_rnd: int) -> DataFrame:
        """Effective host_state = LATEST delta row per host (max stamp
        round ``_sr`` wins). host_state is append-only like every other
        state table: each round writes rows only for hosts it discovered or
        scheduled — a full rewrite per round would be an O(hosts) ≈ 6 GB
        write at the 10^8-host design point. Compaction snapshots the
        reduced view so read fan-in stays bounded."""
        allr = self._read_state(
            upto_rnd, "host_state", "host_state", merge_schema=True
        )
        # checkpoints written before wall-clock politeness lack these columns
        latest = politeness.with_wallclock_cols(allr).groupBy("host").agg(
            F.max(
                F.struct(
                    "_sr", "min_delay_rounds", "max_in_flight",
                    "last_scheduled_round", "min_delay_seconds", "last_fetch_ts",
                )
            ).alias("s")
        )
        return latest.select(
            "host",
            F.col("s.min_delay_rounds").alias("min_delay_rounds"),
            F.col("s.max_in_flight").alias("max_in_flight"),
            F.col("s.last_scheduled_round").alias("last_scheduled_round"),
            F.col("s.min_delay_seconds").alias("min_delay_seconds"),
            F.col("s.last_fetch_ts").alias("last_fetch_ts"),
            F.col("s._sr").alias("_sr"),
        )

    def _read_host_state(self, upto_rnd: int) -> DataFrame:
        return self._read_host_state_raw(upto_rnd).drop("_sr")

    def _read_filter_state_raw(self, upto_rnd: int) -> DataFrame:
        """Effective filter_state = LATEST bitset per partition (max ``_sr``
        wins) over append-only per-round deltas: round 0 seeds every
        partition (full coverage), each later round writes ONLY the
        partitions its new URLs touched (BloomSeenFilter.insert_delta) —
        the O(touched) commit that replaces the O(m_bits) full rewrite
        (~12–128 GB/round at the DESIGN.md P=65,536 sizing). Compaction
        snapshots the reduced view so read fan-in stays bounded, exactly
        like host_state.

        Legacy layout (checkpoints written before delta commits): every
        round carries the FULL state without ``_sr`` — detected from the
        head round's footer schema and read directly; the next commit
        migrates by writing one full stamped state (_filter_migrate)."""
        head = (
            self._read(upto_rnd, "filter_state")
            if self.store.has_round(upto_rnd)
            else None  # expired head: _read_state serves or refuses it
        )
        if head is not None and "_sr" not in head.columns:
            self._filter_migrate = True
            return head.withColumn("_sr", F.lit(upto_rnd))
        self._filter_migrate = False
        if upto_rnd == 0:
            # round 0 IS the full seed write (one stamped row per
            # partition) — no deltas to reduce over
            return head
        allr = self._read_state(
            upto_rnd, "filter_state", "filter_state", merge_schema=True
        )
        # rows from legacy full-state rounds (mixed checkpoint mid-
        # migration) carry null _sr → coalesce to -1 so they lose to any
        # delta-era row; the migration commit writes full coverage stamped,
        # so every partition has >= 1 non-null row afterwards
        allr = allr.withColumn("_sr", F.coalesce(F.col("_sr"), F.lit(-1)))
        latest = allr.groupBy("partition").agg(
            F.max(F.struct("_sr", "bitset")).alias("s")
        )
        return latest.select(
            "partition",
            F.col("s.bitset").alias("bitset"),
            F.col("s._sr").alias("_sr"),
        )

    def _read_filter_state(self, upto_rnd: int) -> DataFrame:
        return self._read_filter_state_raw(upto_rnd).drop("_sr")

    def _filter_state_delta(
        self, new_urls: DataFrame, filter_state: DataFrame, rnd: int
    ) -> DataFrame:
        """The round's filter_state table: touched-partition delta stamped
        ``_sr`` (the normal O(touched) path), or — once, when resuming a
        legacy full-rewrite checkpoint — the full updated state stamped, so
        every partition gains a non-null ``_sr`` row and the latest-wins
        read is unambiguous from then on."""
        if getattr(self, "_filter_migrate", False):
            out = self.bloom.insert(new_urls, filter_state)
        else:
            out = self.bloom.insert_delta(new_urls, filter_state)
        return out.withColumn("_sr", F.lit(rnd))

    def _read_url_seen(self, upto_rnd: int) -> DataFrame:
        """The exact seen set = union of per-round APPEND-ONLY deltas
        (``url_seen_new``). Each round writes only its new URLs — O(new), not
        O(total): at a 10^10-URL frontier a full rewrite per round would be
        the dominant cost. This is exactly Iceberg's append-snapshot pattern
        on plain parquet; with Iceberg, it's one ``append()`` per round and
        this union is a single snapshot read."""
        return self._read_state(upto_rnd, "url_seen", "url_seen_new")

    def _read_content_seen(self, upto_rnd: int) -> DataFrame:
        """Known content fingerprints = union of per-round append-only
        ``content_seen_new`` deltas (only written when
        extra["content_dedup"] is on — recorded as a round-0 config facet,
        so every commit of an enabled checkpoint carries the table).
        Same base+delta shape as url_seen."""
        return self._read_state(upto_rnd, "content_seen", "content_seen_new")

    def _open_filter_state(self, prev: int) -> DataFrame:
        """Effective filter_state at round ``prev`` for a round that admits
        URLs, persisted: TWO consumers (probe + insert_delta) would
        otherwise each recompute the delta-union agg. The geometry guard
        runs on the first call of this scheduler instance. The caller
        unpersists it after the commit."""
        filter_state = self._read_filter_state(prev).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        if not self._geometry_checked:
            self._verify_filter_geometry(filter_state)
            self._geometry_checked = True
        return filter_state

    def _admit(
        self, candidates: DataFrame, prev: int, filter_state: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """URL-seen admission of annotated candidates against the state
        committed at round ``prev``: bloom/cuckoo probe → exact backstop.
        Returns ``(new_urls, flagged)``, both cached; the caller
        unpersists them after the commit.

        ``flagged`` (the probe output) is persisted: three consumers (the
        bloom-positive count, the broadcast of maybe urls inside the
        inverted backstop, and the anti-join probe side) would each re-run
        the Arrow probe stage; it is bounded by the candidate fan-out. The
        bloom-positive count is taken BEFORE the backstop because it picks
        the strategy (exact_new): small (the steady state: the bloom
        absorbs genuinely new URLs, rediscoveries are bounded by fan-out) →
        inverted broadcast check that never SHUFFLES the 10^10-row seen
        set; large → plain hash anti-join.

        The eager ``new_urls.count()`` populates the new_urls cache AND
        (through its lineage) the round's batch cache and pending persist
        before commit_round launches the state writes CONCURRENTLY:
        concurrent jobs hitting an unpopulated cached partition on
        DIFFERENT executors each recompute the full lineage — with a real
        HTTP fetcher that would re-fetch the batch once per write job (a
        politeness violation, not just waste)."""
        flagged = self.bloom.probe(candidates, filter_state).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        probe_count = flagged.filter(F.col("maybe_seen")).count()
        new_urls = exact_new(
            flagged, self._read_url_seen(prev), probe_count=probe_count
        ).cache()
        new_urls.count()
        return new_urls, flagged

    def _empty(self, name: str) -> DataFrame:
        return self.spark.createDataFrame([], EMPTY_DELTAS[name])

    def _commit(self, rnd: int, tables: dict[str, DataFrame], counters_fn) -> dict:
        """Commit round ``rnd``: the tables the round wrote, plus an EMPTY
        delta (EMPTY_DELTAS) for every state table it did not touch —
        content_seen_new only on a content_dedup checkpoint, where it is a
        round-0 facet and every round dir must carry it."""
        names = ["frontier_new", *EMPTY_DELTAS]
        if not self.cfg.extra.get("content_dedup"):
            names.remove("content_seen_new")
        return self.store.commit_round(
            rnd,
            {n: tables[n] if n in tables else self._empty(n) for n in names},
            counters_fn=counters_fn,
        )

    # -- the round ----------------------------------------------------------

    def run_round(self, rnd: int) -> dict:
        """Execute round ``rnd`` on top of committed round ``rnd - 1``."""
        prev = rnd - 1
        filter_state = self._open_filter_state(prev)
        host_state = self._read_host_state(prev)

        # persisted for the round: TWO consumers (the hot-host plan agg and
        # the eligibility chain) would otherwise each recompute the full
        # delta-union + anti-join derivation — the dominant read on a long
        # crawl. MEMORY_AND_DISK: at the 10^10-URL point this is the round's
        # working set spread over the cluster; unpersisted at round end.
        pending = self._read_pending(prev).persist(StorageLevel.MEMORY_AND_DISK)

        # hot-host split plan (one small agg; broadcast) — used to split the
        # skewed per-host window two-phase
        plan = skew.hot_host_plan(pending, self.cfg.hot_host_threshold)

        # 1. politeness + robots eligibility. The round's wall-clock
        #    reference is captured ONCE on the driver so the eligibility
        #    predicate is a plan constant (deterministic within the round).
        now = (
            float(self.clock())
            if self.cfg.min_delay_seconds is not None
            else None
        )
        eligible = politeness.eligible_urls(pending, host_state, rnd, now=now)
        eligible = filter_robots(eligible, self.robots)

        # 2. per-host/domain priority queue (skew-split two-phase) → batch
        ranked = politeness.per_host_topk(
            eligible,
            split_plan=plan,
            budget_key=self.cfg.extra.get("budget_key", "host"),
            psl=self.psl,
        )
        batch = politeness.global_batch(ranked, self.cfg.batch_size)
        # cached: reused by the fetch join, crawl_log, and host_state
        # update. Populated eagerly by the new_urls.count() below (whose
        # lineage passes through this cache) BEFORE commit_round launches
        # its concurrent writes — see the note there.
        batch = batch.select("url", "url_id", "host", "priority", "attempt", "seq").cache()

        # 3. "fetch" through the pluggable seam (default: canonical URL path
        #    /doc/<id> → corpus document, broadcasting the small batch side
        #    against the big corpus scan; frontier/fetch.py for the HTTP shape)
        fetched = self.fetcher(batch)

        # 3b. optional CONTENT dedup (extra["content_dedup"]=True): the
        # content analogue of the URL-seen set — mirror pages fetched under
        # different URLs must not re-contribute their links every time one
        # of them is crawled. Fingerprint = md5 over the ordered span texts
        # (pure Catalyst); known fingerprints live in the append-only
        # content_seen_new delta table and are checked with the same
        # scan-only broadcast inversion as the URL backstop (the fetch
        # batch is small by construction). Within-round mirrors collapse to
        # the min-doc_id winner (deterministic). The duplicate's URL still
        # occupies its crawl_log slot — only link extraction is skipped,
        # exactly the reference's duplicate-doc guard
        # (/root/reference/src/index.py:62-63) lifted to content level.
        content_seen_new = None
        n_fetched = None
        if self.cfg.extra.get("content_dedup"):
            fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            fps = fetched.select(
                "doc_id",
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.transform(F.col("spans"), lambda s: s["text"]),
                    )
                ).alias("fp"),
            )
            known = self._read_content_seen(prev)
            hits = known.join(
                F.broadcast(fps.select("fp").distinct()), "fp", "left_semi"
            )
            fresh = fps.join(F.broadcast(hits), "fp", "left_anti")
            winner = fresh.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            content_seen_new = winner.select("fp")
            fetched_for_links = fetched.join(
                F.broadcast(winner.select("doc_id")), "doc_id", "left_semi"
            )
            n_fetched = fetched.count()
        else:
            fetched_for_links = fetched

        # 4. link extraction: ordered spans (≤ cap), text spans only,
        #    Arrow-batched extract + canonicalize, exact dedup.
        spans = fetched_for_links.select(
            F.explode(F.slice(F.col("spans"), 1, self.cfg.span_cap)).alias("span")
        )
        # fused extract+canonicalize: ONE Arrow/Python stage per round
        canon_links = spans.select(
            F.explode(extract_canonical_urls(F.col("span.text"))).alias("url")
        )
        # dedup shuffles on url — uniform hash key, no host skew, so no
        # salting needed here (salting guards HOST-keyed shuffles only).
        # priority_mode="indegree" (OPIC-style link evidence): the dedup
        # becomes a count agg on the SAME shuffle key — zero extra shuffle —
        # and the round's per-URL reference count feeds the priority below.
        # Default mode keeps the historical bit-identical dropDuplicates.
        if self.cfg.extra.get("priority_mode") == "indegree":
            counted = canon_links.groupBy("url").agg(
                F.count(F.lit(1)).alias("_refs")
            )
            discovered = self._annotate(counted)
        else:
            discovered = self._annotate(canon_links).dropDuplicates(["url"])

        # 5. URL-seen: bloom prefilter → exact backstop, its cache filled
        #    before the concurrent commit writes (see _admit)
        new_urls, flagged = self._admit(discovered, prev, filter_state)

        # 6. frontier merge is append-only: the round's crawl_log IS the
        #    done-marking (derived pending excludes it); only the newly
        #    discovered URLs are written.
        base_priority = F.lit(1.0) / F.lit(float(1 + rnd))
        if "_refs" in new_urls.columns:
            # OPIC-style evidence: a URL referenced by many fetched pages
            # this round outranks a singleton discovery of the same round
            # (log-damped so a 10^4-ref boilerplate link can't starve the
            # queue). Pure Catalyst on columns already in hand.
            priority_expr = base_priority * (
                F.lit(1.0) + F.log1p(F.col("_refs").cast("double"))
            )
        else:
            priority_expr = base_priority
        frontier_new = (
            new_urls.withColumn("priority", priority_expr)
            .withColumn("discovered_round", F.lit(rnd))
            .withColumn("attempt", F.lit(0))
            .select(*FRONTIER_COLS)
        )
        frontier_new = self._cap_pending_per_host(frontier_new, pending)

        url_seen_new = new_urls.select("partition", "url_id", "url")
        filter_state_next = self._filter_state_delta(new_urls, filter_state, rnd)
        host_state_delta = self._host_state_delta(
            host_state, batch, new_urls, rnd, now=now
        )
        crawl_log = batch.select(
            F.lit(rnd).alias("round"), "seq", "url", "host", "priority", "attempt"
        )

        def _counters(read) -> dict:
            """Derived from the WRITTEN tables: row counts are parquet
            footer metadata; lineage is one tiny agg over the round's
            url_seen_new delta (per-partition lineage, north_rule)."""
            log = read("crawl_log")
            new = read("url_seen_new")
            lineage = {
                str(r["partition"]): r["cnt"]
                for r in new.groupBy("partition")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            }
            out = {
                "scheduled": log.count(),
                "discovered_new": new.count(),
                "partition_lineage": lineage,
            }
            if n_fetched is not None:
                # docs whose content fingerprint was already seen (or lost
                # the within-round min-doc_id race): fetched but their
                # links were not extracted
                out["content_new"] = read("content_seen_new").count()
                out["content_duplicates_skipped"] = n_fetched - out["content_new"]
            if self.cfg.extra.get("max_pending_per_host") is not None:
                # discovered-but-dropped by the trap guard (still SEEN)
                out["frontier_capped_dropped"] = (
                    out["discovered_new"] - read("frontier_new").count()
                )
            return out

        tables = {
            "frontier_new": frontier_new,
            "url_seen_new": url_seen_new,
            "filter_state": filter_state_next,
            "host_state": host_state_delta,
            "crawl_log": crawl_log,
        }
        if content_seen_new is not None:
            tables["content_seen_new"] = content_seen_new
        counters = self._commit(rnd, tables, _counters)
        batch.unpersist()
        new_urls.unpersist()
        pending.unpersist()
        flagged.unpersist()
        filter_state.unpersist()
        if content_seen_new is not None:
            fetched.unpersist()
        return counters

    def frontier_metrics(self) -> DataFrame:
        """Per-host frontier metrics with cheap cardinality sketches:
        pending counts exact, seen-URL cardinality via approx_count_distinct
        (HLL++) — at 10^10 rows the exact countDistinct shuffle is the cost
        the sketch avoids (SURVEY §2.4: the reference uses exact len() at
        toy scale; approx is the scale-path for METRICS only, never for the
        seen-set itself)."""
        last = self.store.latest_round()
        if last is None:
            raise ValueError("no committed rounds")
        pending = self._read_pending(last)
        seen = self._read_url_seen(last).withColumn(
            "host", host_from_canonical(F.col("url"))
        )
        p = pending.groupBy("host").agg(F.count(F.lit(1)).alias("pending_exact"))
        s = seen.groupBy("host").agg(
            F.approx_count_distinct("url").alias("seen_approx"),
            F.count(F.lit(1)).alias("seen_exact"),
        )
        return p.join(s, "host", "full").fillna(0).orderBy("host")

    def merge_discoveries(self, urls: DataFrame, priority: float = 0.5) -> dict:
        """Merge externally-discovered URLs (e.g. the Structured-Streaming
        ingest sink, streaming/ingest.py) into the frontier as a committed
        zero-schedule round — the reference's incremental upload path
        (/root/reference/src/dynamic_indexer.py:58-106): new URLs become
        pending with NO rebuild, duplicates vs the seen set are dropped,
        and the merge is checkpointed/resumable like any other round.

        ``urls`` needs a ``url`` column (raw; canonicalized here).
        """
        prev = self.store.latest_round()
        if prev is None:
            raise ValueError("init_from_seeds first")
        rnd = prev + 1
        filter_state = self._open_filter_state(prev)
        host_state = self._read_host_state(prev)

        canon = (
            urls.withColumn("url", canonicalize_url(F.col("url")))
            .filter(F.col("url").isNotNull())
            .select("url")
            .dropDuplicates(["url"])
        )
        new_urls, flagged = self._admit(self._annotate(canon), prev, filter_state)

        frontier_new = (
            new_urls.withColumn("priority", F.lit(float(priority)))
            .withColumn("discovered_round", F.lit(rnd))
            .withColumn("attempt", F.lit(0))
            .select(*FRONTIER_COLS)
        )
        if self.cfg.extra.get("max_pending_per_host") is not None:
            # the trap guard's pending(host) <= cap invariant must survive
            # external bulk merges too, or a streamed-in trap host bypasses
            # the bound the crawl rounds maintain
            frontier_new = self._cap_pending_per_host(
                frontier_new, self._read_pending(prev)
            )

        def _counters(read) -> dict:
            return {
                "scheduled": 0,
                "discovered_new": read("url_seen_new").count(),
                "merge_only": True,
            }

        # a zero-schedule round: the empty batch leaves the host_state
        # delta with only the hosts first discovered here
        counters = self._commit(
            rnd,
            {
                "frontier_new": frontier_new,
                "url_seen_new": new_urls.select("partition", "url_id", "url"),
                "filter_state": self._filter_state_delta(
                    new_urls, filter_state, rnd
                ),
                "host_state": self._host_state_delta(
                    host_state, self._empty("crawl_log"), new_urls, rnd
                ),
            },
            _counters,
        )
        new_urls.unpersist()
        flagged.unpersist()
        filter_state.unpersist()
        return counters

    def requeue_failures(
        self, failed_urls: DataFrame, max_retries: int = 3, backoff: float = 0.5
    ) -> dict:
        """Re-enqueue transiently-failed fetches as a committed round.

        Each failed URL re-enters pending as a NEW (url, attempt+1) row —
        the pending derivation anti-joins on (url, attempt), so the retried
        attempt is schedulable even though the prior attempt is in the crawl
        log. Priority decays by ``backoff`` per attempt (retries lose to
        fresh work); URLs at ``max_retries`` are dropped (counted). The seen
        set is untouched: the URL was legitimately seen.

        IDEMPOTENT: a retry row (url, attempt+1) is only emitted when
        (url, attempt) was actually SCHEDULED (present in the crawl log) —
        requeueing the same failure list twice, or a URL whose latest
        attempt is still pending, is a no-op instead of inserting a second
        schedulable frontier row for the same URL.

        ``failed_urls`` needs a ``url`` column (canonical — these came from
        a fetch batch).
        """
        prev = self.store.latest_round()
        if prev is None:
            raise ValueError("init_from_seeds first")
        rnd = prev + 1
        # current attempt + original priority from the frontier log
        frontier_all = self._read_frontier_all(prev)
        latest = (
            frontier_all.join(failed_urls.select("url").distinct(), "url")
            .groupBy("url")
            .agg(
                F.max("attempt").alias("attempt"),
                F.max("priority").alias("orig_priority"),
            )
        )
        # idempotency guard: the latest attempt must exist in the crawl log
        # (i.e. it was scheduled and then failed); still-pending attempts and
        # double-submitted failure lists drop out here
        scheduled = self._read_crawl_log(prev).select("url", "attempt")
        latest = latest.join(scheduled, ["url", "attempt"], "left_semi")
        eligible = latest.filter(F.col("attempt") < max_retries)
        retry_rows = self._annotate(eligible.select("url")).join(
            eligible, "url"
        ).select(
            "url",
            "url_id",
            "host",
            "partition",
            (F.col("orig_priority") * F.lit(float(backoff)) ** (F.col("attempt") + 1))
            .alias("priority"),
            F.lit(rnd).alias("discovered_round"),
            (F.col("attempt") + 1).alias("attempt"),
        ).select(*FRONTIER_COLS)

        def _counters(read) -> dict:
            return {
                "scheduled": 0,
                "discovered_new": 0,
                "requeued": read("frontier_new").count(),
                "merge_only": True,
            }

        # a requeue touches no seen set, host state or filter bits → EMPTY
        # deltas (append-only), not a rewrite of unchanged state; one full
        # stamped filter write only when migrating a legacy full-rewrite
        # checkpoint
        tables = {"frontier_new": retry_rows}
        filter_eff = self._read_filter_state(prev)
        if getattr(self, "_filter_migrate", False):
            tables["filter_state"] = filter_eff.withColumn("_sr", F.lit(rnd))
        return self._commit(rnd, tables, _counters)

    def _cap_pending_per_host(
        self, frontier_new: DataFrame, pending: DataFrame
    ) -> DataFrame:
        """Crawler-trap guard (``extra["max_pending_per_host"]``, default
        off): bound each host's TOTAL pending queue. Calendar pages,
        session-id links and other URL generators otherwise grow a trap
        host's pending set without bound — politeness caps how fast it is
        SCHEDULED, not how much state it accumulates. New discoveries are
        ranked per host (priority DESC, url ASC — the scheduler's total
        order) and only the rows that fit under ``cap − current_pending``
        enter the frontier. Dropped URLs remain in the SEEN set (they were
        genuinely discovered), so they are skipped permanently rather than
        rediscovered every round — the invariant is pending(host) ≤ cap
        for all time, i.e. trap hosts get a best-ranked sample, not
        unbounded state. Per-round cost: one pending-count agg + one
        window over the round's new URLs (fan-out-bounded); hosts beyond
        the hot threshold are already split upstream for scheduling, and
        the window here ranks only NEW rows, not the pending set."""
        cap = self.cfg.extra.get("max_pending_per_host")
        if cap is None:
            return frontier_new
        from pyspark.sql import Window

        host_pending = pending.groupBy("host").agg(
            F.count(F.lit(1)).alias("_p")
        )
        w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
        return (
            frontier_new.join(host_pending, "host", "left")
            .withColumn("_p", F.coalesce(F.col("_p"), F.lit(0)))
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") + F.col("_p") <= int(cap))
            .select(*FRONTIER_COLS)
        )

    def _host_state_delta(
        self,
        host_state: DataFrame,
        batch: DataFrame,
        new_urls: DataFrame,
        rnd: int,
        now: float | None = None,
    ) -> DataFrame:
        """APPEND-ONLY host-state delta for round ``rnd``: rows ONLY for
        hosts first discovered this round (default state) and hosts
        scheduled this round (last_scheduled_round = rnd, and
        last_fetch_ts = now in wall-clock mode), stamped ``_sr``.
        The effective table is the latest row per host
        (_read_host_state) — writing the full table each round would be an
        O(hosts) rewrite, ~6 GB per round at 10^8 hosts. A host cannot be
        both fresh and scheduled in one round (the batch comes from
        already-known pending), so there is exactly one delta row per
        (host, round)."""
        known = host_state.select("host")
        fresh = self._apply_crawl_delay(
            politeness.default_host_state(
                new_urls.select("host").distinct().join(known, "host", "left_anti"),
                self.cfg.min_delay_rounds,
                self.cfg.max_in_flight,
                self.cfg.min_delay_seconds,
            )
        )
        touched = (
            host_state.join(batch.select("host").distinct(), "host")
            .withColumn("last_scheduled_round", F.lit(rnd))
            .withColumn(
                "last_fetch_ts",
                F.lit(now).cast("double")
                if now is not None
                else F.col("last_fetch_ts"),
            )
            .select(*politeness.HOST_STATE_COLS)
        )
        return fresh.unionByName(touched).withColumn("_sr", F.lit(rnd))

    # -- driver loop --------------------------------------------------------

    def run(self, rounds: int, seeds: DataFrame | None = None) -> list[dict]:
        """Run (or resume) up to ``rounds`` scheduling rounds.

        Resume = read the latest committed round and continue — nothing is
        re-derived, which is what makes kill/resume bit-identical.
        """
        latest = self.store.latest_round()
        if latest is None:
            if seeds is None:
                raise ValueError("no checkpoint found and no seeds given")
            self.init_from_seeds(seeds)
            latest = 0
        out = []
        for rnd in range(latest + 1, rounds + 1):
            out.append(self.run_round(rnd))
            if self.cfg.compact_every and rnd % self.cfg.compact_every == 0:
                self.compact(rnd)
                if self.cfg.expire_on_compact:
                    self.expire()
        return out

    def crawl_order(self, upto_round: int | None = None) -> list[tuple[int, int, str]]:
        """Full deterministic crawl order [(round, seq, url), ...] — one
        compact-aware read (works after round expiry, and avoids 10^4
        separate per-round jobs on a long crawl)."""
        last = self.store.latest_round()
        if last is None:
            return []
        if upto_round is not None:
            last = min(last, upto_round)
        log = self._read_crawl_log(last).filter(F.col("round") <= last)
        return [
            (r["round"], r["seq"], r["url"])
            for r in log.orderBy("round", "seq").collect()
        ]

    def seen_set(self) -> set[str]:
        last = self.store.latest_round()
        if last is None:
            return set()
        return {
            r["url"]
            for r in self._read_url_seen(last).select("url").collect()
        }

    def seen_fingerprint(self) -> str:
        """Order-independent fingerprint of the URL-seen set, computed
        DISTRIBUTIVELY (count + sum + xor of xxhash64) — cross-deployment /
        cross-cluster-size equality evidence without collecting a
        10^10-row set through the driver (tools/check_cluster.py)."""
        last = self.store.latest_round()
        if last is None:
            return "empty"
        row = (
            self._read_url_seen(last)
            .select(F.xxhash64(F.col("url")).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                # decimal(38,0) accumulator: a raw long sum of xxhash64
                # values overflows under ANSI mode at any real row count
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
                F.expr("bit_xor(h)").alias("x"),
            )
            .collect()[0]
        )
        return f"{row['n']}:{row['s']}:{row['x']}"

    def crawl_order_fingerprint(self) -> str:
        """Fingerprint of the FULL crawl order. The combine is commutative
        (sum/xor) but still order-sensitive end-to-end: (round, seq) is part
        of every hashed tuple, so two runs match iff every URL was scheduled
        at the same position."""
        last = self.store.latest_round()
        if last is None:
            return "empty"
        log = self._read_crawl_log(last).filter(F.col("round") <= last)
        row = (
            log.select(
                F.xxhash64(F.col("round"), F.col("seq"), F.col("url")).alias("h")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                # decimal(38,0) accumulator: a raw long sum of xxhash64
                # values overflows under ANSI mode at any real row count
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
                F.expr("bit_xor(h)").alias("x"),
            )
            .collect()[0]
        )
        return f"{row['n']}:{row['s']}:{row['x']}"

    def re_emitted_documents(self, rnd: int) -> DataFrame:
        """Documents fetched in round ``rnd``, re-emitted with their original
        span sequence — used to verify the span-sequence-equality invariant
        (kind, text, media_ref, order) per input_hint."""
        log = self._read(rnd, "crawl_log")
        ids = log.withColumn(
            "doc_id", F.regexp_extract(F.col("url"), r"/doc/(\d+)$", 1)
        ).select("doc_id")
        return self.documents.join(F.broadcast(ids), "doc_id", "inner")
