"""Hot-host skew handling: the explicit split plan.

Reference analogue: frequency-ranked round-robin of the top-5000 hot words
plus greedy least-loaded tail placement across 10 barrels
(/root/reference/src/barrel.py:87-122) — deliberate placement balancing that
a hash partitioner alone doesn't give you. The frontier version:

``hot_host_plan`` — one aggregation over pending counts yields
``n_salt(host) = ceil(count / threshold)`` for hosts above threshold. This
plan is tiny (≤ #hosts rows) and broadcastable. The scheduler hands it to
``politeness.per_host_topk`` as ``split_plan``: a PRE-phase window over
``(host, salt)`` spreads a host with 10^8 pending URLs over ``n_salt``
reducers instead of melting one executor, and the exact per-host window
after it keeps the budget a per-host semantic. AQE skew-join splitting is
ON as a backstop (session.py); this plan handles the window-side skew AQE
does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_host_plan(pending: DataFrame, threshold: int = 100_000) -> DataFrame:
    """Per-host split factor for HOT hosts only: (host string, n_salt int),
    n_salt ≥ 2. Hosts at or under the threshold are omitted — consumers
    left-join and ``coalesce(n_salt, 1)`` — so the plan stays genuinely
    tiny (hot hosts, not all hosts) and safe to broadcast."""
    return (
        pending.groupBy("host")
        .agg(F.count(F.lit(1)).alias("pending_cnt"))
        .filter(F.col("pending_cnt") > threshold)
        .withColumn(
            "n_salt", F.ceil(F.col("pending_cnt") / F.lit(threshold)).cast("int")
        )
        .select("host", "n_salt")
    )
