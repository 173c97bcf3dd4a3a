"""Iceberg snapshot storage adapter: the production CheckpointStore.

``storage.CheckpointStore`` implements the per-round atomic-commit contract
on plain parquet via driver-local renames (the sandbox has no Iceberg
runtime jar). This module is the SAME contract on Iceberg tables, for
deployments launched with the Iceberg Spark extensions, e.g.::

    spark-submit --py-files pkg.zip \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.crawl=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.crawl.type=hadoop \
      --conf spark.sql.catalog.crawl.warehouse=s3://bucket/warehouse

Mapping of the contract onto Iceberg primitives:

* each state table ``name`` is ONE Iceberg table ``<ns>.<name>``
  partitioned by the round number (``_round``) — a round commit is an
  APPEND of that round's rows (Iceberg appends are atomic snapshot swaps);
* the commit MARKER is a row in ``<ns>.commits`` (round, counters JSON),
  written LAST — exactly the role ``_COMMITTED.json`` plays on parquet: a
  reader only trusts rounds present in ``commits``, so a crash between
  table appends and the marker leaves orphan rows that the next attempt's
  overwrite-round replaces and no reader ever saw;
* ``read_table(rnd)`` is a partition-pruned scan (``_round = rnd``);
* re-running a round (resume after mid-commit kill) uses dynamic partition
  OVERWRITE of that round's partition — idempotent, snapshot-isolated;
* the frontier merge (scheduler.merge_discoveries) can additionally use
  ``MERGE INTO`` (merge_into_sql below) when maintaining a MATERIALIZED
  pending table instead of the derived-union view; the scheduler's derived
  formulation needs appends only.

Reference analogue: the delta-index auto-save checkpoint
(/root/reference/src/dynamic_indexer.py:46-56,104-105), which this maps to
table snapshots instead of pickle files.

Everything here is plain Spark SQL against catalog tables — no Iceberg
Python API — so the module imports and unit-tests (SQL builders) without
the jar; only ``IcebergCheckpointStore`` itself requires the runtime, and
it fails fast via ``iceberg_available``.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import expiry_limit

ROUND_COL = "_round"
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def iceberg_available(spark: SparkSession) -> bool:
    """Capability probe: is the Iceberg Spark runtime on the classpath?"""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _check_ident(name: str) -> str:
    if not _IDENT_RE.fullmatch(name):
        raise ValueError(f"invalid table identifier: {name!r}")
    return name


def append_round_sql(table: str, rnd: int, source_view: str) -> str:
    """INSERT this round's delta rows (append snapshot)."""
    return (
        f"INSERT INTO {_check_ident(table)} "
        f"SELECT *, {int(rnd)} AS {ROUND_COL} FROM {_check_ident(source_view)}"
    )


def overwrite_round_sql(table: str, rnd: int, source_view: str) -> str:
    """Overwrite ONE round's partition — the idempotent re-commit path
    after a mid-commit crash. The partition is named with an EXPLICIT
    static ``PARTITION (_round = k)`` clause: unlike a bare INSERT
    OVERWRITE (whose scope depends on
    ``spark.sql.sources.partitionOverwriteMode`` — under the default
    static mode it would truncate the WHOLE table), a static partition
    spec replaces exactly that partition in every mode."""
    return (
        f"INSERT OVERWRITE {_check_ident(table)} "
        f"PARTITION ({ROUND_COL} = {int(rnd)}) "
        f"SELECT * FROM {_check_ident(source_view)}"
    )


def merge_into_sql(target: str, source_view: str, key_cols: list[str],
                   insert_cols: list[str]) -> str:
    """MERGE INTO for a materialized-frontier deployment: insert unseen
    rows, leave seen ones untouched (the crawl semantics of the derived
    anti-join, expressed as Iceberg's atomic row-level merge)."""
    on = " AND ".join(
        f"t.{_check_ident(k)} = s.{_check_ident(k)}" for k in key_cols
    )
    cols = ", ".join(_check_ident(c) for c in insert_cols)
    vals = ", ".join(f"s.{_check_ident(c)}" for c in insert_cols)
    return (
        f"MERGE INTO {_check_ident(target)} t "
        f"USING {_check_ident(source_view)} s ON {on} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


_TRANSFORM_RE = re.compile(
    r"^(?:[A-Za-z_][A-Za-z0-9_]*|(?:bucket|truncate)\(\s*\d+\s*,\s*"
    r"[A-Za-z_][A-Za-z0-9_]*\s*\)|(?:years|months|days|hours)\(\s*"
    r"[A-Za-z_][A-Za-z0-9_]*\s*\))$"
)


def _check_transform(t: str) -> str:
    if not _TRANSFORM_RE.fullmatch(t):
        raise ValueError(f"invalid partition transform: {t!r}")
    return t


def create_state_table_sql(
    table: str, schema_ddl: str, extra_transforms: tuple[str, ...] = ()
) -> str:
    """State tables are partitioned by round so per-round reads prune to
    one partition and re-commits overwrite exactly one.

    ``extra_transforms`` appends Iceberg partition transforms after the
    round key — the production lever for the seen-set backstop: creating
    ``url_seen_new`` with ``bucket(P, url)`` makes the over-cap fallback
    anti-join a STORAGE-PARTITIONED join (both sides bucket-clustered on
    url; with ``spark.sql.sources.v2.bucketing.enabled`` Spark elides the
    build-side exchange entirely — the Iceberg twin of the broadcast
    inversion in frontier/seen.py:exact_new)."""
    parts = ", ".join([ROUND_COL, *(_check_transform(t) for t in extra_transforms)])
    return (
        f"CREATE TABLE IF NOT EXISTS {_check_ident(table)} "
        f"({schema_ddl}, {ROUND_COL} INT) USING iceberg "
        f"PARTITIONED BY ({parts})"
    )


class IcebergCheckpointStore:
    """CheckpointStore contract on Iceberg tables (see module docstring).

    ``namespace`` is a catalog-qualified namespace, e.g. ``crawl.frontier``;
    tables land at ``<namespace>.<state_table_name>`` plus
    ``<namespace>.commits`` (the marker) and ``<namespace>.compacts``.

    ``bucket_specs`` maps table name → extra partition transforms applied
    at creation, e.g. ``{"url_seen_new": ("bucket(65536, url)",)}`` to
    bucket-cluster the seen set on the url key (see
    create_state_table_sql for why).
    """

    def __init__(
        self,
        spark: SparkSession,
        namespace: str,
        bucket_specs: dict[str, tuple[str, ...]] | None = None,
    ):
        self.bucket_specs = {
            k: tuple(_check_transform(t) for t in v)
            for k, v in (bucket_specs or {}).items()
        }
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath; launch with the "
                "iceberg-spark-runtime package + SparkCatalog conf "
                "(module docstring), or use storage.CheckpointStore "
                "(parquet) for local runs"
            )
        self.spark = spark
        self.ns = _check_ident(namespace)
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ns}.commits "
            "(round INT, counters STRING) USING iceberg"
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ns}.compacts "
            "(round INT, name STRING) USING iceberg"
        )

    def _table(self, name: str) -> str:
        return f"{self.ns}.{_check_ident(name)}"

    def _ensure_table(self, name: str, df: DataFrame) -> None:
        ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        want = self.bucket_specs.get(name, ())
        self.spark.sql(create_state_table_sql(self._table(name), ddl, want))
        if want:
            # CREATE IF NOT EXISTS silently no-ops against a pre-existing
            # table — a requested bucket spec that the live table lacks
            # would otherwise just never activate (no storage-partitioned
            # join, nothing surfaced). Verify the live partitioning and
            # fail loud with the spec-evolution remedy.
            desc = self.spark.sql(f"DESCRIBE TABLE {self._table(name)}").collect()
            live = " ".join(
                f"{r['col_name']}:{r['data_type']}" for r in desc
            ).replace(" ", "")
            missing = [t for t in want if t.replace(" ", "") not in live]
            if missing:
                raise ValueError(
                    f"table {self._table(name)} already exists WITHOUT the "
                    f"requested partition transform(s) {missing}; CREATE IF "
                    "NOT EXISTS cannot retrofit a bucket spec — evolve it "
                    "(ALTER TABLE ... ADD PARTITION FIELD <transform>, "
                    "Iceberg partition-spec evolution) or recreate the table"
                )

    def commit_round(
        self,
        rnd: int,
        tables: dict[str, DataFrame],
        counters: dict | None = None,
        counters_fn=None,
    ) -> dict:
        """Append every state table's round partition, then publish the
        marker row LAST. Each append is an atomic Iceberg snapshot; the
        round becomes visible to readers only via the marker, so a crash
        mid-sequence is invisible (orphan partitions are replaced by the
        overwrite on retry)."""
        for name, df in tables.items():
            self._ensure_table(name, df)
            view = f"_commit_{name}_{rnd}"
            df.createOrReplaceTempView(view)
            # overwrite (not append) so a re-run after a mid-commit crash
            # replaces the orphan partition instead of duplicating rows
            self.spark.sql(overwrite_round_sql(self._table(name), rnd, view))
            self.spark.catalog.dropTempView(view)
        final_counters = dict(counters or {})
        if counters_fn is not None:

            def _read(name: str) -> DataFrame:
                return self.read_table(self.spark, rnd, name)

            final_counters.update(counters_fn(_read))
        # marker write LAST — the Iceberg analogue of _COMMITTED.json
        self.spark.sql(
            f"DELETE FROM {self.ns}.commits WHERE round = {int(rnd)}"
        )
        marker = self.spark.createDataFrame(
            [(int(rnd), json.dumps(final_counters))], "round int, counters string"
        )
        marker.writeTo(f"{self.ns}.commits").append()
        return final_counters

    def latest_round(self) -> int | None:
        row = self.spark.sql(
            f"SELECT max(round) AS r FROM {self.ns}.commits"
        ).collect()[0]
        return None if row["r"] is None else int(row["r"])

    def has_round(self, rnd: int) -> bool:
        """True iff the round's commit marker exists (expire_rounds deletes
        markers for expired rounds FIRST, so marker-present == readable)."""
        row = self.spark.sql(
            f"SELECT count(*) AS c FROM {self.ns}.commits "
            f"WHERE round = {int(rnd)}"
        ).collect()[0]
        return int(row["c"]) > 0

    def read_table(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        # partition-pruned: _round is the partition column
        return (
            spark.read.table(self._table(name))
            .filter(F.col(ROUND_COL) == int(rnd))
            .drop(ROUND_COL)
        )

    def read_deltas(
        self,
        spark: SparkSession,
        name: str,
        from_rnd: int,
        upto_rnd: int,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The parquet store unions one path per round; here the same call
        is ONE partition-range scan (Iceberg prunes to the round partitions
        via manifest min/max — no per-round file listing). ``merge_schema``
        is implicit: Iceberg tables evolve schema centrally."""
        return (
            spark.read.table(self._table(name))
            .filter(
                (F.col(ROUND_COL) >= int(from_rnd))
                & (F.col(ROUND_COL) <= int(upto_rnd))
            )
            .drop(ROUND_COL)
        )

    def read_compact_table(
        self, spark: SparkSession, rnd: int, name: str
    ) -> DataFrame:
        return self.read_table(spark, rnd, f"compact_{name}")

    def read_counters(self, rnd: int) -> dict:
        rows = self.spark.sql(
            f"SELECT counters FROM {self.ns}.commits WHERE round = {int(rnd)}"
        ).collect()
        if not rows:
            raise FileNotFoundError(f"round {rnd} not committed")
        return {"round": rnd, "counters": json.loads(rows[0]["counters"])}

    # -- compaction snapshots (same contract as parquet store) --------------

    def commit_compact(self, rnd: int, tables: dict[str, DataFrame]) -> None:
        for name, df in tables.items():
            cname = f"compact_{name}"
            self._ensure_table(cname, df)
            view = f"_compact_{name}_{rnd}"
            df.createOrReplaceTempView(view)
            self.spark.sql(overwrite_round_sql(self._table(cname), rnd, view))
            self.spark.catalog.dropTempView(view)
        self.spark.sql(
            f"DELETE FROM {self.ns}.compacts WHERE round = {int(rnd)}"
        )
        rows = [(int(rnd), name) for name in tables]
        self.spark.createDataFrame(rows, "round int, name string").writeTo(
            f"{self.ns}.compacts"
        ).append()

    def has_compact_table(self, rnd: int, name: str) -> bool:
        rows = self.spark.sql(
            f"SELECT 1 FROM {self.ns}.compacts "
            f"WHERE round = {int(rnd)} AND name = '{_check_ident(name)}'"
        ).collect()
        return bool(rows)

    def expire_rounds(self, upto: int | None = None) -> list[int]:
        """Iceberg analogue of the parquet store's round expiry: DELETE the
        expired round partitions from every state table (row-level deletes
        over the partition column — metadata-only in Iceberg), then reclaim
        files via expire_snapshots. Same rule (:func:`expiry_limit`): round
        0 and the latest round are kept; only rounds covered by a
        cumulative snapshot go."""
        limit = expiry_limit(self, upto)
        if limit < 1:
            return []
        # report only rounds that actually existed (had a commit marker) —
        # not a blind range over already-expired / never-written rounds
        removed = [
            int(r["round"])
            for r in self.spark.sql(
                f"SELECT DISTINCT round FROM {self.ns}.commits "
                f"WHERE round BETWEEN 1 AND {int(limit)} ORDER BY round"
            ).collect()
        ]
        # NO early-exit when no markers remain: a crash between the marker
        # delete and the data deletes must be repairable by re-running —
        # the data-table DELETEs below are idempotent and also sweep
        # marker-less orphan rows
        # markers go FIRST (mirror image of commit order, where the marker
        # is written LAST): a marker must never outlive its round's data —
        # readers treat marker-present as round-readable, and an expired
        # round with a live marker would read as silently-empty instead of
        # falling back to the compaction snapshot. A crash between the two
        # deletes leaves data without markers = uncommitted, which readers
        # already handle.
        self.spark.sql(
            f"DELETE FROM {self.ns}.commits "
            f"WHERE round BETWEEN 1 AND {int(limit)}"
        )
        for name_row in self.spark.sql(f"SHOW TABLES IN {self.ns}").collect():
            t = name_row["tableName"]
            if t in ("commits", "compacts") or t.startswith("compact_"):
                continue
            self.spark.sql(
                f"DELETE FROM {self.ns}.{t} "
                f"WHERE {ROUND_COL} BETWEEN 1 AND {int(limit)}"
            )
        return removed

    def latest_compact(self, upto: int | None = None) -> int | None:
        pred = "" if upto is None else f" WHERE round <= {int(upto)}"
        row = self.spark.sql(
            f"SELECT max(round) AS r FROM {self.ns}.compacts{pred}"
        ).collect()[0]
        return None if row["r"] is None else int(row["r"])

    def expire_snapshots(self, older_than_ts: str) -> None:
        """Iceberg's own GC replaces the parquet store's manual dir pruning:
        expire snapshots + remove orphan files via the stored procedures."""
        for name_row in self.spark.sql(f"SHOW TABLES IN {self.ns}").collect():
            t = f"{self.ns}.{name_row['tableName']}"
            self.spark.sql(
                f"CALL {self.ns.split('.')[0]}.system.expire_snapshots"
                f"(table => '{t}', older_than => TIMESTAMP '{older_than_ts}')"
            )
