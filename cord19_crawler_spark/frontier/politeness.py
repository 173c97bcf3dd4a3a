"""Politeness budget: min-delay per host + max in-flight per domain.

Reference analogue: per-query latency-budget thresholds
(/root/reference/src/multiwordSearch.py:242-263) and heap-based priority
ordering (src/multiwordSearch.py:148-151, src/barrel.py:88-90). Here the
budget is enforced as declarative DataFrame ops so Catalyst plans them:

* eligibility — an equi-join against the small ``host_state`` dimension
  (broadcast; hosts ≪ URLs even at 10^10 scale) + a round-delta filter;
* per-host cap — ``row_number`` over ``Window.partitionBy(host)
  .orderBy(desc(priority), url)`` ≤ ``max_in_flight``.

CRITICAL ordering note (SURVEY.md §7 hard-problem 3): the per-host window
runs on the UNsalted host key — the budget is a per-host semantic, so skew
salting (skew.py) is applied only to the downstream heavy shuffles
(dedup/extract), never to this window. Every orderBy carries a total order
(priority desc, url asc) so crawl order is reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def domain_of(host_col: Column) -> Column:
    """Registrable domain = last two DNS labels (simplified public-suffix
    rule; a real deployment broadcasts the PSL as a dimension). Lets the
    budget bind at the DOMAIN level so sub1.example.com and
    sub2.example.com share one in-flight allowance."""
    parts = F.split(host_col, r"\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1)),
    ).otherwise(host_col)


HOST_STATE_COLS = [
    "host", "min_delay_rounds", "max_in_flight", "last_scheduled_round",
    "min_delay_seconds", "last_fetch_ts",
]


def default_host_state(
    hosts: DataFrame,
    min_delay: int = 2,
    max_in_flight: int = 3,
    min_delay_seconds: float | None = None,
) -> DataFrame:
    """host_state dimension from a hosts DF (one row per host). Carries BOTH
    politeness clocks: round-granularity (min_delay_rounds vs
    last_scheduled_round — fully deterministic, the bit-identical-resume
    mode) and wall-clock (min_delay_seconds vs last_fetch_ts — real crawl
    politeness, seconds per host)."""
    return (
        hosts.select("host")
        .distinct()
        .withColumn("min_delay_rounds", F.lit(min_delay))
        .withColumn("max_in_flight", F.lit(max_in_flight))
        .withColumn("last_scheduled_round", F.lit(None).cast("int"))
        .withColumn(
            "min_delay_seconds",
            F.lit(min_delay_seconds).cast("double"),
        )
        .withColumn("last_fetch_ts", F.lit(None).cast("double"))
    )


def with_wallclock_cols(host_state: DataFrame) -> DataFrame:
    """Schema guard: older checkpoints / hand-built dimensions may lack the
    wall-clock columns — treat them as null (no wall-clock constraint)."""
    hs = host_state
    for c in ("min_delay_seconds", "last_fetch_ts"):
        if c not in hs.columns:
            hs = hs.withColumn(c, F.lit(None).cast("double"))
    return hs


def eligible_urls(
    pending: DataFrame,
    host_state: DataFrame,
    current_round: int,
    broadcast_state: bool = False,
    now: float | None = None,
) -> DataFrame:
    """Pending frontier rows whose host is allowed to be scheduled now.

    Two politeness clocks, both enforced when configured:
    * round-delta — ``current_round - last_scheduled_round >=
      min_delay_rounds`` (deterministic; the reproducible-crawl mode);
    * wall-clock — ``now - last_fetch_ts >= min_delay_seconds`` whenever
      ``now`` is given (seconds-per-host politeness; ``now`` is captured
      ONCE per round on the driver so the predicate is a constant within
      the round's plan — the same state-vs-probe shape as
      operators/asof.py's backward as-of join, reduced to a max-ts
      latest-row join because only the LATEST fetch per host matters).

    host_state is NOT force-broadcast by default: an explicit broadcast
    hint is honored regardless of size, and at 10^8 hosts (~6 GB) it would
    OOM executors. Catalyst/AQE already choose a broadcast join when the
    dimension's stats fall under autoBroadcastJoinThreshold; pass
    ``broadcast_state=True`` only for a dimension known to be small
    (plan-asserted in tests/test_plans.py)."""
    hs = with_wallclock_cols(host_state).select(*HOST_STATE_COLS)
    if broadcast_state:
        hs = F.broadcast(hs)
    joined = pending.join(hs, "host", "left")
    rounds_ok = F.col("last_scheduled_round").isNull() | (
        (F.lit(current_round) - F.col("last_scheduled_round"))
        >= F.coalesce(F.col("min_delay_rounds"), F.lit(0))
    )
    if now is None:
        return joined.filter(rounds_ok)
    wall_ok = (
        F.col("last_fetch_ts").isNull()
        | F.col("min_delay_seconds").isNull()
        | (
            (F.lit(float(now)) - F.col("last_fetch_ts"))
            >= F.col("min_delay_seconds")
        )
    )
    return joined.filter(rounds_ok & wall_ok)


def per_host_topk(
    eligible: DataFrame,
    split_plan: DataFrame | None = None,
    budget_key: str = "host",
    psl: DataFrame | None = None,
) -> DataFrame:
    """Per-host (or per-DOMAIN, budget_key="domain") priority queue honoring
    max_in_flight — the north_rule's "max in-flight per domain": with the
    domain key, all subdomains of one registrable domain share the budget.

    Window.partitionBy(host).orderBy(desc(priority), url) — deterministic
    total order (url is unique), row_number ≤ max_in_flight.

    Skew handling (the north_rule's "explicit skew-splitting of hot
    domains"): a host with 10^8 pending URLs would pin one reducer. With a
    ``split_plan`` (host → n_salt from skew.hot_host_plan), a PRE-phase
    window over (host, salt) keeps only the per-salt top-k, shrinking a hot
    host to n_salt·k rows before the exact per-host window runs. Two-phase
    top-k is order-preserving: the true per-host top-k is a subset of the
    union of per-salt top-ks, so results are identical to the unsalted
    window.
    """
    work = eligible
    if budget_key == "domain":
        if psl is not None:
            # proper registrable domain via the broadcast public-suffix
            # dimension (frontier/psl.py) — co.uk-style suffixes don't
            # over-group; domain_of's last-two-labels is the PSL-less
            # default. Resolution runs over DISTINCT hosts (candidate-suffix
            # explosion is O(hosts), not O(frontier rows)) and joins the
            # tiny (host, domain) map back.
            from .psl import with_registrable_domain

            host_map = with_registrable_domain(
                work.select("host").distinct(), psl, "host", "_bkey"
            )
            work = work.join(host_map, "host", "left")
        else:
            work = work.withColumn("_bkey", domain_of(F.col("host")))
    else:
        work = work.withColumn("_bkey", F.col("host"))
    if split_plan is not None:
        # split_plan holds HOT hosts only (skew.hot_host_plan); cold rows
        # coalesce to one salt bucket. Single-pass on purpose: a
        # filter-split (cold bypasses the pre-window) reads nicer but
        # DUPLICATES the upstream eligibility subplan into two branches —
        # measured 1.5x slower per round than one extra partitioned window
        # pass over the cold rows.
        if budget_key == "domain":
            # per-row thresholds can DIFFER within one domain group (each
            # host carries its own max_in_flight). The pre-phase must keep
            # the GROUP-max top-k per salt: filtering each row by its own
            # threshold can promote a row the unsalted window rejects
            # (hostA m=1 with 6 urls split over 2 salts + hostB m=5 ranked
            # 7th: per-row pre-drop shrinks the final window to 3 rows and
            # hostB lands rank 3 ≤ 5, while unsalted rank 7 > 5 drops it).
            # The (host → max) map is host-scale, broadcastable.
            gmax = (
                work.select("_bkey", "host", "max_in_flight")
                .dropDuplicates(["host"])
                .groupBy("_bkey")
                .agg(
                    F.max(F.coalesce(F.col("max_in_flight"), F.lit(1))).alias(
                        "_kmax"
                    )
                )
            )
            work = work.join(F.broadcast(gmax), "_bkey", "left")
            pre_k = F.coalesce(F.col("_kmax"), F.lit(1))
        else:
            # host budget: threshold is constant within the (host) group —
            # per-row filtering IS the group threshold
            pre_k = F.coalesce(F.col("max_in_flight"), F.lit(1))
        work = work.join(F.broadcast(split_plan), "host", "left").withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("url")), F.coalesce(F.col("n_salt"), F.lit(1))),
        )
        w_pre = Window.partitionBy("_bkey", "_salt").orderBy(
            F.desc("priority"), F.asc("url")
        )
        work = (
            work.withColumn("_pre_rank", F.row_number().over(w_pre))
            .filter(F.col("_pre_rank") <= pre_k)
            .drop("_pre_rank", "_salt", "n_salt")
        )
        if budget_key == "domain":
            work = work.drop("_kmax")
    w = Window.partitionBy("_bkey").orderBy(F.desc("priority"), F.asc("url"))
    return (
        work.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= F.coalesce(F.col("max_in_flight"), F.lit(1)))
        .drop(
            "host_rank", "_bkey", "min_delay_rounds", "max_in_flight",
            "last_scheduled_round", "min_delay_seconds", "last_fetch_ts",
        )
    )


def global_batch(ranked: DataFrame, batch_size: int) -> DataFrame:
    """Round fetch batch: global top-N by (priority desc, url) with a dense
    deterministic ``seq``. Spark plans limit as TakeOrderedAndProject —
    no full sort materialization. The seq window runs AFTER the limit, so
    it is bounded by batch_size at any frontier scale; the constant
    partition key just keeps it an explicit (warning-free) single group."""
    batch = ranked.orderBy(F.desc("priority"), F.asc("url")).limit(batch_size)
    # constant-per-row partition key DERIVED FROM A COLUMN: a plain lit(0)
    # is folded away by the optimizer, re-triggering the unpartitioned-
    # window warning; length(url)*0 is non-foldable but still one group
    w = Window.partitionBy(F.length("url") * 0).orderBy(
        F.desc("priority"), F.asc("url")
    )
    return batch.withColumn("seq", F.row_number().over(w))
