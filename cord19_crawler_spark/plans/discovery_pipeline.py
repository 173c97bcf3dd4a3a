"""End-to-end link-discovery round — one composed plan.

The discovery half of a crawl round, as a single declarative DataFrame
job: fetched HTML bodies go in, the next round's per-host fetch
candidates come out.  Every stage is an individually-verified operator;
this module is the composition (the frontier analogue of
``plans/curation_pipeline.py``):

1. **Outlink extraction + RFC 3986 resolution**
   (``functions/html.py:extract_outlinks``) — href links only (src
   assets are payload, not frontier input), effective ``<base href>``,
   fragments/non-http dropped.  Scan-side projection.
2. **Canonicalization** (``functions/urls.py:canonicalize_url_sql``) —
   lowercase scheme+host, strip fragment, sort query params; the pure
   Catalyst form of ``canonicalize_one``.  Scan-side.  A link with no
   canonical form (a port above 65535) is NULL and never becomes a
   candidate.
3. **Within-batch dedup + discovery evidence** — ONE linear hash
   aggregate on the canonical URL: ``n_refs`` (total link occurrences)
   and ``n_src_pages`` (distinct linking pages — breadth beats volume;
   10^6 links from one index page are weaker evidence than 10^3 pages
   linking once).
4. **URL-seen anti-join** — drop already-known URLs.  The candidate
   side is ALREADY hash-partitioned by url from stage 3, so the
   anti-join adds an exchange only on the seen side (plan-asserted).
   Inside the scheduler proper this role is played by the partitioned
   bloom/cuckoo filter (``frontier/seen.py``); the plan form is the
   declarative equivalent for batch use.
5. **robots.txt filter** (``frontier/robots.py:filter_robots``) —
   rules pruned to candidate hosts, broadcast, evaluated in an
   Arrow-batched UDF; candidates never shuffle.
6. **Per-host politeness top-k** — rank by (n_src_pages DESC, n_refs
   DESC, url ASC — a total order) within each host, keep ``k``; Spark
   compiles the rank+filter to a partial WindowGroupLimit, so a hot
   host forwards ≤ k rows per map task, never its full candidate set.

Output: (host, url, n_refs, n_src_pages, rank) — the fetch batch the
politeness scheduler consumes.

Plan shape at 100 TB: stages 1-2 are exchange-free projections; the
wide operations are exactly three — the stage-3 url aggregate, the seen
side of the anti-join, and the host-window exchange — each keyed on the
column its semantics require.  Nothing page-sized crosses an exchange
after stage 3 (flags and URLs only); no collect anywhere.

No reference counterpart (/root/reference consumes a pre-extracted
corpus); the composition is the standard frontier-expansion loop
(Mercator/Heritrix lineage) over this repo's own operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..frontier.robots import filter_robots
from ..functions.html import extract_outlinks
from ..functions.urls import canonicalize_url_sql, host_from_canonical

__all__ = ["discovery_pipeline"]


def discovery_pipeline(
    pages: DataFrame,
    seen: DataFrame | None = None,
    robots: DataFrame | None = None,
    per_host_k: int = 3,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Fetched (url, html) pages → next fetch batch (see module doc).

    ``seen``: frame with a ``url`` column of already-crawled canonical
    URLs (None skips the stage); ``robots``: the parsed rules dimension
    of ``frontier/robots.py`` (None skips); ``per_host_k``: politeness
    cap per host and round.
    """
    if per_host_k < 1:
        raise ValueError(f"per_host_k must be >= 1, got {per_host_k}")
    # null-tolerant predicate (kind is never NULL): a bare equality lets
    # InferFiltersFromConstraints derive isnotnull(kind) and push the
    # whole inlined extraction chain to the scan as a redundant Filter
    # (see extract_outlinks, r6)
    links = extract_outlinks(
        pages, url_col=url_col, html_col=html_col, http_only=True
    ).filter(F.coalesce(F.col("kind") == "href", F.lit(False)))
    canon = links.select(
        F.col("url").alias("_src"),
        canonicalize_url_sql(F.col("resolved")).alias("url"),
    )
    cands = canon.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.countDistinct("_src").alias("n_src_pages"),
    )
    if seen is not None:
        cands = cands.join(seen.select("url"), "url", "left_anti")
    cands = cands.withColumn("host", host_from_canonical(F.col("url")))
    if robots is not None:
        # filter_robots prunes the rules dimension with a semi-join to
        # the CANDIDATE hosts — a second consumer of the candidate
        # subtree. The branches prune different columns, so exchange
        # reuse does not deduplicate them (measured): materialize the
        # (narrow — url + counts, pages long gone) candidate frame once
        # instead of running extraction+dedup twice.
        cands = cands.localCheckpoint(eager=False)
    cands = filter_robots(cands, robots)
    w = Window.partitionBy("host").orderBy(
        F.desc("n_src_pages"), F.desc("n_refs"), F.asc("url")
    )
    # the NULL-url drop sits after the window: its NULL host is a window
    # partition of its own, and a filter on the canonical url any lower
    # would be pushed into the scan-side projection and evaluate the
    # whole canonicalization a second time
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= per_host_k) & F.col("url").isNotNull())
        .select("host", "url", "n_refs", "n_src_pages", "rank")
    )
