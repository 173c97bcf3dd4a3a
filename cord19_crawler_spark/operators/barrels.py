"""Barrel partitioning: frequency-ranked placement across N partitions.

Reference (/root/reference/src/barrel.py:87-122): sort vocabulary by
doc_freq desc, round-robin the top-5000 hot words across 10 barrels, then
greedy least-loaded placement for the tail. In Spark the *physical* act of
barreling is just ``repartition(n, key)`` / a partition spec — what remains
is the placement POLICY, which we compute as a plan:

* round-robin of the ranked head — pure window arithmetic (W1/W2);
* greedy least-loaded tail — inherently sequential, so it runs as a
  single-group ``applyInPandas`` over the (small) vocabulary stats table:
  the plan is driver-scale data even when the corpus is 100 TB, exactly like
  the frontier's hot-host split plan.

Ties everywhere broken by word asc — deterministic at any parallelism.
"""

from __future__ import annotations

import heapq

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_stats(postings: DataFrame) -> DataFrame:
    """A5: per-word doc_freq + total_freq (src/barrel.py:73-83)."""
    return postings.groupBy("word").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.sum("tf").alias("total_freq"),
    )


def round_robin_head(stats: DataFrame, num_barrels: int = 10, top_n: int = 5000) -> DataFrame:
    """W1+W2: rank by doc_freq desc (tie word asc); top_n words get
    barrel = (rank-1) % num_barrels (src/barrel.py:104-112). Rank is the
    two-phase global row number — no single-reducer window over the
    vocabulary (operators/ranking.py)."""
    from .ranking import global_row_number

    ranked = global_row_number(
        stats, [F.desc("doc_freq"), F.asc("word")], name="rank"
    )
    return (
        ranked.filter(F.col("rank") <= top_n)
        .withColumn("barrel_id", ((F.col("rank") - 1) % num_barrels).cast("int"))
        .select("word", "doc_freq", "total_freq", "rank", "barrel_id")
    )


def assign_barrels(stats: DataFrame, num_barrels: int = 10, top_n: int = 5000) -> DataFrame:
    """Full reference policy: round-robin head + greedy least-loaded tail
    (src/barrel.py:104-122). Returns (word, doc_freq, total_freq, barrel_id).

    Implemented as ONE applyInPandas over a single sorted group — the
    sequential greedy is the semantics; the input is vocabulary *stats*
    (≪ corpus), the same scale class as a shuffle plan.
    """

    def _assign(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["doc_freq", "word"], ascending=[False, True]
        ).reset_index(drop=True)
        n = len(pdf)
        freqs = pdf["doc_freq"].to_numpy()  # ONE column pull — no per-row .loc
        barrel = np.zeros(n, dtype="int32")
        # head: round-robin (vectorized)
        head = min(top_n, n)
        barrel[:head] = np.arange(head, dtype="int64") % num_barrels
        loads = np.bincount(
            barrel[:head], weights=freqs[:head], minlength=num_barrels
        ).astype("int64")
        # tail: least-loaded greedy (min doc_freq load, tie → lowest barrel
        # id, matching Python min() semantics in the reference). Inherently
        # sequential — but over a plain numpy array + heap, not per-row
        # pandas indexing.
        heap = [(int(loads[b]), b) for b in range(num_barrels)]
        heapq.heapify(heap)
        for i in range(head, n):
            load, b = heapq.heappop(heap)
            barrel[i] = b
            heapq.heappush(heap, (load + int(freqs[i]), b))
        pdf = pdf.assign(barrel_id=pd.Series(barrel, dtype="int32"))
        return pdf[["word", "doc_freq", "total_freq", "barrel_id"]]

    one_group = stats.withColumn("_g", F.lit(1))
    return (
        one_group.groupBy("_g")
        .applyInPandas(
            lambda _, pdf: _assign(pdf.drop(columns=["_g"])),
            schema="word string, doc_freq long, total_freq long, barrel_id int",
        )
    )


def barrel_stats(assigned: DataFrame) -> DataFrame:
    """A6/O7: per-barrel rollup incl. word range (src/barrel.py:104-163)."""
    return (
        assigned.groupBy("barrel_id")
        .agg(
            F.count(F.lit(1)).alias("word_count"),
            F.sum("doc_freq").alias("total_doc_freq"),
            F.sum("total_freq").alias("total_word_freq"),
            F.min("word").alias("range_start"),
            F.max("word").alias("range_end"),
        )
        .orderBy("barrel_id")
    )


def doc_to_barrels(assigned: DataFrame, postings: DataFrame) -> DataFrame:
    """A7: doc → sorted set of barrels containing its words. The reference
    does this in an O(words×docs×barrels) loop (src/barrel.py:131-143);
    here it is one join + one shuffle."""
    return (
        postings.join(assigned.select("word", "barrel_id"), "word")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("barrel_id")).alias("barrels"))
    )
