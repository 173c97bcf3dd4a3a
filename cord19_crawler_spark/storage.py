"""Snapshot storage adapter: atomic per-round state commits.

Iceberg is the production design (MERGE INTO + snapshot isolation give the
frontier merge and bit-identical resume for free — SURVEY.md §1.3); the
Iceberg runtime jar is not available in this sandbox, so the adapter
implements the same contract on plain parquet:

* each round's state tables are written under ``<root>/_tmp_round=<k>/``,
* a ``_COMMITTED.json`` marker (counters + per-partition lineage) is written
  LAST inside the tmp dir,
* the tmp dir is atomically ``os.rename``d to ``<root>/round=<k>/``.

A reader only ever sees fully-committed rounds; a killed run leaves at most
one ``_tmp_round`` dir that resume ignores and overwrites. This is exactly
the snapshot-commit protocol Iceberg's metadata pointer swap provides; with
Iceberg available, ``CheckpointStore`` maps 1:1 onto table snapshots.

Reference analogue: the delta-index auto-save checkpoint
(/root/reference/src/dynamic_indexer.py:46-56,104-105).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

# a compaction snapshot carrying all of these is CUMULATIVE: every round
# at or below it can be read from the snapshot alone
_CUMULATIVE_TABLES = ("crawl_log", "frontier_all", "filter_state")


def expiry_limit(store, upto: int | None = None) -> int:
    """The highest round ``expire_rounds`` may reclaim (rounds 1..limit;
    < 1 means none) — the one expiry rule of both checkpoint stores, over
    their ``latest_round`` / ``latest_compact(upto=)`` /
    ``has_compact_table``.

    Never expired: round 0 (its _COMMITTED.json carries the filter-config
    facets every resume validates) and the latest round. Never past the
    newest CUMULATIVE compaction snapshot (one carrying crawl_log,
    frontier_all and filter_state, since filter deltas below it become
    unreadable: effective state = latest-row-per-partition over the
    append-only deltas); without one, history reads would lose rows, so
    this raises ``ValueError``.
    """
    compact = store.latest_compact()
    while compact is not None and not all(
        store.has_compact_table(compact, t) for t in _CUMULATIVE_TABLES
    ):
        compact = store.latest_compact(upto=compact - 1)
    if compact is None:
        raise ValueError("no cumulative compaction snapshot: run compact() first")
    return min(
        compact,
        (store.latest_round() or 0) - 1,
        upto if upto is not None else compact,
    )


class CheckpointStore:
    def __init__(self, root: str):
        # this adapter commits via driver-local rename; remote object-store
        # checkpoints are the Iceberg deployment (snapshot commit replaces
        # the rename) — fail loudly instead of stranding data
        if "://" in root and not root.startswith("file://"):
            raise NotImplementedError(
                f"CheckpointStore requires a local/posix path, got {root!r}; "
                "for object stores deploy with an Iceberg catalog (DESIGN.md)"
            )
        self.root = root.removeprefix("file://")
        os.makedirs(self.root, exist_ok=True)

    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round={rnd}")

    def _tmp_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"_tmp_round={rnd}")

    def commit_round(
        self,
        rnd: int,
        tables: dict[str, DataFrame],
        counters: dict | None = None,
        counters_fn=None,
    ) -> dict:
        """Write all state tables + counters, then atomically publish.

        ``counters_fn(read) -> dict`` runs AFTER the table writes with a
        ``read(name) -> DataFrame`` accessor over the just-written (not yet
        published) tables — counts come from parquet footers (metadata-only
        reads) instead of extra pre-write Spark jobs. The accessor signature
        is store-agnostic: the Iceberg adapter passes a partition-pruned
        table read instead of a tmp-dir path.
        """
        tmp = self._tmp_dir(rnd)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        # the state tables are independent DataFrames (shared inputs are
        # cached) — submit their write jobs concurrently; Spark's scheduler
        # interleaves them across the executor pool. Atomicity is unchanged:
        # nothing is visible until the rename below.
        from concurrent.futures import ThreadPoolExecutor

        def _write(item):
            name, df = item
            df.write.mode("overwrite").parquet(os.path.join(tmp, name))

        with ThreadPoolExecutor(max_workers=min(4, len(tables))) as pool:
            list(pool.map(_write, tables.items()))
        final_counters = dict(counters or {})
        if counters_fn is not None:
            spark = next(iter(tables.values())).sparkSession

            def _read(name: str) -> DataFrame:
                return spark.read.parquet(os.path.join(tmp, name))

            final_counters.update(counters_fn(_read))
        with open(os.path.join(tmp, "_COMMITTED.json"), "w") as f:
            json.dump({"round": rnd, "counters": final_counters}, f, indent=2)
        final = self._round_dir(rnd)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        return final_counters

    def has_round(self, rnd: int) -> bool:
        """True iff round ``rnd`` is committed AND its delta dirs still
        exist (False after expire_rounds reclaimed it). Expiry removes a
        CONTIGUOUS 1..limit prefix, so readers can test just the first
        round of a needed range."""
        return os.path.exists(
            os.path.join(self._round_dir(rnd), "_COMMITTED.json")
        )

    def latest_round(self) -> int | None:
        best = None
        if not os.path.isdir(self.root):
            return None
        for name in os.listdir(self.root):
            m = re.fullmatch(r"round=(\d+)", name)
            if m and os.path.exists(
                os.path.join(self.root, name, "_COMMITTED.json")
            ):
                k = int(m.group(1))
                best = k if best is None else max(best, k)
        return best

    # -- compaction (read-optimization snapshots; see scheduler.compact) ----

    def _compact_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"compact={rnd}")

    def commit_compact(self, rnd: int, tables: dict[str, DataFrame]) -> None:
        tmp = os.path.join(self.root, f"_tmp_compact={rnd}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(tmp, name))
        with open(os.path.join(tmp, "_COMMITTED.json"), "w") as f:
            json.dump({"compact_round": rnd}, f)
        final = self._compact_dir(rnd)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def latest_compact(self, upto: int | None = None) -> int | None:
        best = None
        for name in os.listdir(self.root):
            m = re.fullmatch(r"compact=(\d+)", name)
            if m and os.path.exists(os.path.join(self.root, name, "_COMMITTED.json")):
                k = int(m.group(1))
                if upto is None or k <= upto:
                    best = k if best is None else max(best, k)
        return best

    def compact_table_path(self, rnd: int, name: str) -> str:
        return os.path.join(self._compact_dir(rnd), name)

    def has_compact_table(self, rnd: int, name: str) -> bool:
        """Whether snapshot ``rnd`` carries ``name`` — older snapshots may
        predate a table joining the compaction set (readers then fall back
        to the full delta union)."""
        return os.path.isdir(self.compact_table_path(rnd, name))

    def expire_rounds(self, upto: int | None = None) -> list[int]:
        """Reclaim the round delta dirs :func:`expiry_limit` allows — the
        parquet analogue of Iceberg snapshot expiration."""
        removed: list[int] = []
        for k in range(1, expiry_limit(self, upto) + 1):
            d = self._round_dir(k)
            if os.path.isdir(d):
                shutil.rmtree(d)
                removed.append(k)
        return removed

    def table_path(self, rnd: int, name: str) -> str:
        return os.path.join(self._round_dir(rnd), name)

    def read_table(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        return spark.read.parquet(self.table_path(rnd, name))

    def read_deltas(
        self,
        spark: SparkSession,
        name: str,
        from_rnd: int,
        upto_rnd: int,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Union of a per-round append-only delta table across rounds; the
        Iceberg adapter serves the same call from ONE partition-range scan."""
        paths = [self.table_path(r, name) for r in range(from_rnd, upto_rnd + 1)]
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def read_compact_table(
        self, spark: SparkSession, rnd: int, name: str
    ) -> DataFrame:
        return spark.read.parquet(self.compact_table_path(rnd, name))

    def read_counters(self, rnd: int) -> dict:
        with open(os.path.join(self._round_dir(rnd), "_COMMITTED.json")) as f:
            return json.load(f)
