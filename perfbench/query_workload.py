"""The ``query_mix`` workload: eight ``__spark_entry__.queries()`` leaves,
one in flight at a time, in a seed-rotated order, each checked against its
DuckDB oracle from ``oracle_sql()``.

The leaves read the repository's sf0.01 test tables (region, nation,
customer, orders, documents), copied into ``tables/`` next to this module
so that a run reads only its own checkout. Every run reads the same data;
the run's --seed only rotates the leaf order.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import harness
from harness import job_group, now_ms, tail, window_stats

# Four heavy leaves and four that react to how their input is spread.
LEAVES = [
    "curation_pipeline",
    "dedup_minhash_lsh_e2e",
    "dedup_connected_components",
    "discovery_pipeline",
    "backward_index_rows",
    "lemma_variant_expansion",
    "dedup_ngram_jaccard",
    "rollup_revenue",
]
# the five leaves that take about a second warm; the other three take 2-4 s
LIGHT = {
    "dedup_minhash_lsh_e2e",
    "backward_index_rows",
    "lemma_variant_expansion",
    "dedup_ngram_jaccard",
    "rollup_revenue",
}
# the repository's sf0.01 test tables the eight leaves read, copied here
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
ORDERS = 15_000  # rows of orders.parquet
# One timed unit is a pass over the light leaves, a pass over all eight and
# another pass over the light ones, so that every light leaf has three
# samples; it takes about this long on 4 cores. The first light pass also
# lets the JVM compile the planner and scheduler paths every leaf runs: a
# full pass straight after the set-up pass ran 10-20% slower than later
# passes.
UNIT = ("light", "all", "light")
UNIT_S = 22.0


def units(seconds: int) -> int:
    return max(1, round(seconds / UNIT_S))


def leaf_order(seed: int) -> list[str]:
    k = seed % len(LEAVES)
    return LEAVES[k:] + LEAVES[:k]


def plan_pass(order: list[str], kind: str) -> list[str]:
    return [leaf for leaf in order if kind == "all" or leaf in LIGHT]


def _same_rows(cols: list[str], rows: list, ocols: list[str], orows: list) -> str | None:
    """Order-insensitive comparison with column-name alignment, the rule of
    the repository's oracle gate (tools/check_oracles.py)."""
    from tools.check_oracles import norm

    if sorted(cols) != sorted(ocols):
        return f"columns differ: spark={cols} duckdb={ocols}"
    if len(rows) != len(orows):
        return f"row count spark={len(rows)} duckdb={len(orows)}"
    s_ix = [cols.index(c) for c in sorted(cols)]
    o_ix = [ocols.index(c) for c in sorted(ocols)]
    s = sorted((tuple(norm(r[i]) for i in s_ix) for r in rows), key=repr)
    o = sorted((tuple(norm(r[i]) for i in o_ix) for r in orows), key=repr)
    if s != o:
        diff = [(a, b) for a, b in zip(s, o) if a != b][:2]
        return f"values differ, first: {diff}"
    return None


def run(spark, seed: int, seconds: int, traced: bool, run_dir: str, root: str) -> dict:
    import duckdb

    import __spark_entry__ as entry

    # ship the package to executors from a zip inside the run directory
    # rather than the module's default location outside the checkout
    entry._PKG_ZIP = shutil.make_archive(
        os.path.join(run_dir, "cord19_crawler_spark_pkg"), "zip", root, "cord19_crawler_spark"
    )

    queries = entry.queries()
    order = leaf_order(seed)
    # set-up: the first, untimed pass starts the executor Python workers,
    # ships the package and generates each leaf's code, so the cold-start
    # cost does not land on whichever leaf the seed puts first
    t0 = time.perf_counter()
    for leaf in order:
        queries[leaf](spark, TABLES).collect()
    setup_s = time.perf_counter() - t0

    execs: list[dict] = []
    results: dict = {}
    for kind in UNIT * units(seconds):
        for leaf in plan_pass(order, kind):
            t0_ms = now_ms()
            t0 = time.perf_counter()
            with job_group(spark, f"leaf:{leaf}") if traced else nullcontext():
                df = queries[leaf](spark, TABLES)
                rows = df.collect()
            execs.append({
                "leaf": leaf,
                "wall_s": time.perf_counter() - t0,
                "t0_ms": t0_ms,
                "t1_ms": now_ms(),
            })
            results.setdefault(leaf, (df.columns, rows))

    # outside the timed section: every leaf against its DuckDB oracle
    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "orders", "documents"):
            path = os.path.join(TABLES, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        oracles = entry.oracle_sql()
        checks = []
        for leaf in LEAVES:
            res = con.execute(oracles[leaf])
            ocols = [d[0] for d in res.description]
            cols, rows = results[leaf]
            checks.append((f"oracle:{leaf}", _same_rows(cols, rows, ocols, res.fetchall())))
    finally:
        con.close()

    per_leaf = {
        leaf: statistics.median(e["wall_s"] for e in execs if e["leaf"] == leaf) for leaf in LEAVES
    }
    walls = [e["wall_s"] for e in execs]
    tail_v, tail_label, n = tail(walls)
    return {
        "ops": len(execs),
        "checks": checks,
        "setup_reps_s": [setup_s],
        "leaf_order": order,
        "config_key": harness.digest({"leaves": LEAVES, "unit": UNIT}),
        "leaf_s": per_leaf,
        # discovery_pipeline turns each order row into one page
        "urls_per_s": ORDERS / per_leaf["discovery_pipeline"],
        "round_p50_s": statistics.median(walls),
        "round_tail": {"value": tail_v, "percentile": tail_label, "n": n},
        "query_s": per_leaf,
        "execs": execs,
    }


def layer_metrics(result: dict, jobs: list, stages: list) -> tuple[dict, dict]:
    m, counts = {}, {}
    for leaf in LEAVES:
        mine = [e for e in result["execs"] if e["leaf"] == leaf]
        stats = [window_stats(jobs, stages, e["t0_ms"], e["t1_ms"]) for e in mine]
        m[f"leaf.{leaf}_s"] = result["leaf_s"][leaf]
        m[f"leaf.{leaf}.jobs"] = statistics.median(s["jobs"] for s in stats)
        m[f"leaf.{leaf}.shuffle_mb"] = statistics.median(s["shuffle_mb"] for s in stats)
        counts[leaf] = [s["jobs"] for s in stats]
    return m, counts
