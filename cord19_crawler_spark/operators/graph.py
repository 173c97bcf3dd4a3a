"""Graph operators over DataFrame edge lists: connected components for
near-duplicate clustering, and the link-analysis operators a crawler
orders and polices its frontier by.

Link analysis shares a few private helpers instead of per-operator
copies: ``_directed_edges`` (cast to long, self-loops dropped, parallel
edges collapsed), ``_node_set`` (the distinct endpoints), and one
personalized-PageRank step, ``_propagate``, over the (node, outdeg,
tele, x) frame ``_walk_state`` builds once.  ``pagerank`` runs the step
with the uniform teleport vector 1/N, ``trustrank`` with the trusted-seed
vector, and ``opic`` at damping 1 (plus its own cash-history sum);
``spam_mass`` joins PageRank and TrustRank.  ``hits`` and ``salsa`` keep
their own update rules (L2-normalized sums; stochastic two-hop walks).

Connected components
--------------------

The dedup operators in ``operators/dedup.py`` stop at candidate/verified
PAIRS (doc_a, doc_b).  A training-data pipeline needs one more step: group
the pairs into duplicate CLUSTERS and pick one canonical document per
cluster, because near-duplication is transitive in practice (A~B, B~C ⇒
keep one of {A,B,C}).  That grouping is connected components over the pair
graph.

Two algorithms, both pure DataFrame jobs:

* ``"two-phase"`` (default): alternating Large-Star / Small-Star from
  Kiveris et al., "Connected Components in MapReduce and Beyond"
  (ACM SoCC 2014).  Converges in O(log^2 n) rounds REGARDLESS of graph
  diameter — the right algorithm at 10^10 edges, where a long chain of
  mirrored pages would stall diameter-bound propagation.  Each round is
  two shuffle stages (a groupBy-min and a join) over the current edge
  set; no collect, no driver-side graph.
* ``"label-propagation"``: classic min-label flooding; rounds = graph
  diameter.  Kept as an independently-implemented cross-check (the test
  suite runs both on randomized graphs and asserts identical components)
  and because for near-dup graphs — quasi-cliques of small diameter — it
  converges in 2-3 rounds and is cheaper per round.

Convergence is detected by an order-independent checksum of the edge set
(count + XOR of a 64-bit hash); a fixed-point false positive needs a
xor-of-xxhash64 collision (~2^-64 per round — negligible, and the planted
tests + the DuckDB recursive-CTE oracle would catch it).  Per-round
lineage is truncated via ``iterutil.lineage_truncator`` so 20 iterative
rounds don't stack a 20-deep re-computable plan: ``localCheckpoint`` by
default (fast, executor-resident blocks), or a RELIABLE ``checkpoint``
into ``checkpoint_dir`` for executor-loss safety on preemptible clusters
(see iterutil module docstring for the trade).

No counterpart in /root/reference (the reference never clusters —
src/index.py folds a curated corpus dict-at-a-time); the algorithm is
from the published paper above.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .iterutil import lineage_truncator

__all__ = [
    "connected_components",
    "shared_gram_star_edges",
    "components_with_size",
    "pagerank",
    "hits",
    "opic",
    "anchor_text_index",
    "domain_link_graph",
    "triangle_count",
    "copair_counts",
    "kcore",
    "salsa",
    "hyperball",
    "link_reciprocity",
    "clustering_coefficient",
]


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list → canonical directed (src > dst), self-loops
    dropped, distinct. Column names normalized to (src, dst)."""
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    return e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()


def _checksum(e: DataFrame) -> tuple[int, int]:
    """Order-independent fingerprint of an edge set: (count,
    bit_xor of xxhash64(src, dst)). XOR is commutative and cannot
    overflow under ANSI mode (a sum of 2^63-magnitude hashes would); the
    edge set is distinct so XOR-cancellation of duplicates cannot occur.
    One scan, no sort, no collect of edges."""
    row = e.select(F.xxhash64("src", "dst").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
    ).first()
    return int(row["n"]), int(row["x"])


def _large_star(e: DataFrame) -> DataFrame:
    """Large-Star (Kiveris et al. §3): for every node u, link each
    STRICTLY LARGER neighbor v to m = min(Γ(u) ∪ {u}). Emitted edges all
    satisfy dst < src, so the output is already parent-pointer shaped."""
    nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
    )
    return (
        nbrs.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-Star (Kiveris et al. §3) on parent-pointer edges (dst < src):
    for every node u, link u and all its parents to the smallest parent."""
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    via_parents = (
        e.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    self_link = mins.select("src", F.col("m").alias("dst"))
    return via_parents.union(self_link).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    algorithm: str = "two-phase",
    max_iterations: int = 50,
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns (node, component) for every node that appears in ``edges``,
    where ``component`` is the MINIMUM node id of the node's component
    (a deterministic canonical representative — for dedup, "the document
    you keep"). Isolated nodes never appear in an edge list; union them
    in downstream if required (see components_with_size).

    Raises RuntimeError if the fixed point is not reached within
    ``max_iterations`` — fail-loud, never silently-partial clusters.
    If ``stats`` is passed, it is filled with {"rounds": k, "edges": n}
    (rounds INCLUDING the fixed-point-confirming one) — the scale probe
    in tools/check_cc_scale.py uses this to evidence the O(log^2 n)
    round bound empirically.

    ``checkpoint_dir``: None (default) truncates per-round lineage with
    ``localCheckpoint`` — fast but NOT executor-loss-safe (a lost
    executor's blocks have no lineage to recompute from). Pass a
    fault-tolerant directory (HDFS/S3/local) to use reliable
    ``checkpoint`` instead: one distributed write per round buys
    survival of executor preemption — the right setting on spot
    clusters for a 20-round job over 10^10 edges.
    """
    # NOTE (r6): a lazy localCheckpoint here (letting the convergence
    # checksum materialize each round's blocks in one job) was A/B
    # measured SLOWER than the eager two-job-per-round shape (7.5/13.8s
    # vs 6.3/10.7s at sf1.0) — the checksum then aggregates through the
    # full round plan while racing block writes; keep eager.
    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_canon_edges(edges, src, dst))
    if algorithm == "two-phase":
        prev = _checksum(e)
        rounds = 0
        for _ in range(max_iterations):
            e2 = _ckpt(_small_star(_large_star(e)))
            cur = _checksum(e2)
            e = e2
            rounds += 1
            if cur == prev:
                break
            prev = cur
        else:
            raise RuntimeError(
                f"connected_components(two-phase) did not converge in "
                f"{max_iterations} iterations"
            )
        if stats is not None:
            stats["rounds"] = rounds
            stats["edges"] = prev[0]
        # Fixed point is a star graph: every edge is (node, root).
        roots = e.select(F.col("dst").alias("node")).distinct()
        return (
            e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
            .union(roots.select("node", F.col("node").alias("component")))
            .distinct()
        )
    if algorithm == "label-propagation":
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        labels = nodes.select("node", F.col("node").alias("component"))
        labels = _ckpt(labels)
        sym = _ckpt(
            e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        )
        for rounds in range(1, max_iterations + 1):
            # component'(v) = min(component(v), min over neighbors u of component(u))
            from_nbrs = (
                sym.join(labels, sym["dst"] == labels["node"])
                .groupBy(sym["src"].alias("node"))
                .agg(F.min("component").alias("_nc"))
            )
            new_labels = _ckpt(
                labels.join(from_nbrs, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"), F.coalesce(F.col("_nc"), F.col("component"))
                    ).alias("component"),
                )
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") < F.col("o.component"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                if stats is not None:
                    stats["rounds"] = rounds
                return labels
        raise RuntimeError(
            f"connected_components(label-propagation) did not converge in "
            f"{max_iterations} iterations"
        )
    raise ValueError(f"unknown algorithm: {algorithm!r}")


def shared_gram_star_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df: int = 2,
    max_df: int = 10,
) -> DataFrame:
    """STAR edges between documents sharing a rare word n-gram: each
    qualifying gram links every doc containing it to the MINIMUM doc id
    containing it (its hub). A gram in d docs contributes d-1 edges —
    LINEAR, never the C(d,2) clique — and the df window [min_df, max_df]
    drops both unique grams (no signal) and boilerplate grams (hot
    buckets), the same guard as max_shingle_df in operators/dedup.py.
    Components over these edges chain transitively: A shares gram1 with
    B, B shares gram2 with C ⇒ {A,B,C} cluster — exactly the behavior
    connected_components exists to resolve.

    Returns distinct (src, dst) with src = hub doc, dst = other doc.
    Tokenization is the engine-wide [a-z0-9]{2,} tokenizer.
    """
    from ..functions.quality import ngram_at, ngram_positions

    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]{{2,}}', 0)")
    # position explode: build each gram once per output row (exploding the
    # HOF-built gram array re-evaluates the builder per element — r6)
    doc_gram = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"), toks.alias("_toks"))
        .select(
            "doc_id",
            "_toks",
            F.explode(ngram_positions("_toks", n)).alias("_i"),
        )
        .select("doc_id", ngram_at("_toks", "_i", n).alias("gram"))
        .distinct()
    )
    hubs = (
        doc_gram.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"), F.min("doc_id").alias("hub"))
        .filter((F.col("_df") >= min_df) & (F.col("_df") <= max_df))
        .select("gram", "hub")
    )
    return (
        doc_gram.join(hubs, "gram")
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )


def components_with_size(
    cc: DataFrame, node_col: str = "node", comp_col: str = "component"
) -> DataFrame:
    """Annotate a (node, component) assignment with the component size and
    a per-node ``is_canonical`` flag (node == component, i.e. the doc a
    dedup pipeline keeps). groupBy + broadcast-able join back, no window
    over a skewed component key."""
    sizes = cc.groupBy(comp_col).agg(F.count(F.lit(1)).alias("component_size"))
    return cc.join(sizes, comp_col).select(
        F.col(node_col),
        F.col(comp_col),
        "component_size",
        (F.col(node_col) == F.col(comp_col)).alias("is_canonical"),
    )


def _directed_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Directed edge list → (src, dst) as longs, self-loops dropped,
    parallel edges collapsed (distinct)."""
    return (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _node_set(e: DataFrame) -> DataFrame:
    """Distinct endpoints of an (src, dst) edge frame, as ``node``."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _walk_state(e: DataFrame, nodes: DataFrame, tele, ckpt) -> DataFrame:
    """The (node, outdeg, tele, x) frame a link walk starts from, built
    once: ``tele`` is the teleport weight, a Column over ``nodes``, and
    ``x`` starts AT it."""
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    return ckpt(
        nodes.join(outdeg, "node", "left").select(
            "node",
            F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
            tele.alias("tele"),
            tele.alias("x"),
        )
    )


def _propagate(
    e: DataFrame, state: DataFrame, damping: float, *carry
) -> DataFrame:
    """One personalized-PageRank step over a ``_walk_state`` frame:
    x'(v) = (1-d)·tele(v) + d·(Σ_{u→v} x(u)/outdeg(u) + dm·tele(v)),
    where dm is the summed x of out-degree-0 nodes — spread over the
    teleport vector, so total mass is kept.  ``pagerank`` (tele = 1/N),
    ``trustrank`` (tele = the seed vector) and ``opic`` (d = 1) all run
    this step.  ``carry`` are extra output columns, evaluated on the
    pre-step row.

    Per step ONE wide shuffle — the contribution aggregate on dst with
    map-side partials — plus the edge⋈x join on src; the dangling mass
    is a 1-row aggregate broadcast back onto the node frame."""
    d = float(damping)
    dangling = state.filter(F.col("outdeg") == 0).agg(
        F.coalesce(F.sum("x"), F.lit(0.0)).alias("_dm")
    )
    contribs = (
        e.join(
            # filter BEFORE dividing: ANSI mode faults x/0 even for rows
            # the join would drop (dangling nodes never match e.src)
            state.filter(F.col("outdeg") > 0).select(
                F.col("node").alias("src"),
                (F.col("x") / F.col("outdeg")).alias("_share"),
            ),
            "src",
        )
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("_share").alias("_contrib"))
    )
    return (
        state.join(contribs, "node", "left")
        .crossJoin(F.broadcast(dangling))
        .select(
            "node",
            "outdeg",
            "tele",
            (
                F.lit(1.0 - d) * F.col("tele")
                + F.lit(d)
                * (
                    F.coalesce("_contrib", F.lit(0.0))
                    + F.col("_dm") * F.col("tele")
                )
            ).alias("x"),
            *carry,
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration power-method PageRank over a directed edge list
    (Page et al. 1999) — the principled generalization of the scheduler's
    ``priority_mode="indegree"`` lever: link evidence weighted by the
    authority of the linker, not just counted.

    Semantics pinned for oracle replay: parallel edges collapse to one
    (distinct), self-loops drop; ranks start uniform at 1/N; each
    iteration computes r'(v) = (1-d)/N + d·(Σ_{u→v} r(u)/outdeg(u) +
    dangling_mass/N), where dangling_mass is the summed rank of nodes
    with no outlinks (redistributed uniformly — the standard stochastic
    fix). Returns (node, rank) as raw doubles after exactly
    ``iterations`` rounds; callers round for comparison (floating sums
    are order-dependent across engines at ~1e-15/iteration, and the
    damped iteration is a contraction, so round-6 values are stable).

    Scale shape (10^10 edges): each iteration is the shared
    ``_propagate`` step — ONE wide shuffle (the contribution aggregate
    on dst, map-side partial sums) plus a join of edges against the
    current rank vector on src; outdegrees are computed once; the
    dangling mass is a 1-row aggregate broadcast back onto the node
    frame. Iteration count is FIXED (no convergence collect), and
    per-round lineage is truncated exactly like
    ``connected_components`` above (``checkpoint_dir`` trades
    localCheckpoint speed for reliable-checkpoint executor-loss safety —
    see iterutil), so deep iteration never stacks a re-computable plan.
    No driver-resident graph; the rank vector lives partitioned by node.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0.0 <= damping <= 1.0):
        raise ValueError(f"damping must be in [0, 1], got {damping}")
    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_directed_edges(edges, src, dst))
    nodes = _ckpt(_node_set(e))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    state = _walk_state(e, nodes, F.lit(1.0 / n_nodes), _ckpt)
    for _ in range(iterations):
        state = _ckpt(_propagate(e, state, damping))
    return state.select("node", F.col("x").alias("rank"))


def anchor_text_index(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    anchor: str = "anchor",
) -> DataFrame:
    """Anchor-text aggregation per link target — the web-search signal the
    reference's index never sees because it indexes curated documents, not
    a crawl: the text OTHER pages use when linking to a URL describes that
    URL better than its own body (the classic "anchor text" section of
    Brin & Page 1998 §2.2), and inlink breadth feeds crawl priority the
    same way ``priority_mode="indegree"`` does, but with evidence of WHAT
    the page is about.

    Input: a directed anchor edge list (src, dst, anchor), one row per
    link occurrence (parallel edges are MEANINGFUL here — each repeat is
    another vote for its anchor phrase, unlike ``pagerank`` above which
    collapses them). NULL/empty anchors are dropped.

    Output: one row per (dst, anchor_rank) for the top-``k`` anchor
    phrases per target ranked by (votes DESC, anchor ASC — a total
    order), carrying per-target rollups: ``inlinks`` (total link
    occurrences), ``distinct_srcs`` (breadth of support), and
    ``n_anchors`` (distinct phrasings). Ties and ranks are deterministic,
    so the whole result is oracle-checkable.

    Scale shape (10^10 edges): two linear hash aggregates — (dst, anchor)
    vote counts, then per-dst rollups on the ALREADY-reduced vote frame
    (counting distinct srcs needs one extra (dst, src) reduce, also
    linear) — and a per-dst top-k window that compiles to a partial
    WindowGroupLimit (the ``stratified_sample`` property), so a
    10^8-inlink hub forwards <= k rows per map task, never its full
    anchor vocabulary, to the final exchange. No pair joins, no
    collect; hot targets cost O(distinct anchors), not O(inlinks^2).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.trim(F.col(anchor)).alias("anchor"),
    ).filter(F.col("anchor").isNotNull() & (F.col("anchor") != ""))
    votes = e.groupBy("dst", "anchor").agg(F.count(F.lit(1)).alias("votes"))
    per_dst = votes.groupBy("dst").agg(
        F.sum("votes").alias("inlinks"),
        F.count(F.lit(1)).alias("n_anchors"),
    )
    breadth = (
        e.select("dst", "src")
        .distinct()
        .groupBy("dst")
        .agg(F.count(F.lit(1)).alias("distinct_srcs"))
    )
    w = Window.partitionBy("dst").orderBy(F.desc("votes"), F.asc("anchor"))
    topk = (
        votes.withColumn("anchor_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("anchor_rank") <= k)
    )
    return topk.join(per_dst, "dst").join(breadth, "dst").select(
        "dst", "anchor_rank", "anchor", "votes", "inlinks",
        "distinct_srcs", "n_anchors",
    )


def hits(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration HITS hubs & authorities (Kleinberg, JACM 1999) —
    the complement of :func:`pagerank` for crawl prioritization: a good
    HUB (link directory, sitemap page, category index) is exactly the
    page a crawler should fetch early because it funnels discovery,
    while authorities rank what those hubs point AT.

    Semantics pinned for oracle replay: parallel edges collapse to one,
    self-loops drop; hubs start at 1.0; each iteration runs the paper's
    I-then-O operations — auth'(v) = Σ_{u→v} hub(u) then L2-normalize,
    hub'(u) = Σ_{u→v} auth'(v) (the FRESH authorities) then
    L2-normalize — for exactly ``iterations`` rounds.  Nodes with no
    inlinks/outlinks hold authority/hub 0.  Returns (node, authority,
    hub) as raw doubles; callers round for cross-engine comparison
    (floating sums are order-dependent at ~1e-15/iteration and the
    normalized iteration is stable, so round-6 values match).

    Scale shape (10^10 edges): per iteration TWO wide shuffles — the
    hub-sum aggregate keyed on dst and the auth-sum aggregate keyed on
    src, both with map-side partials — plus two 1-row L2-norm aggregates
    broadcast back onto the node frame; the score vector stays
    partitioned by node, nothing graph-sized touches the driver.
    Per-round lineage is truncated like the other iterative operators
    (``checkpoint_dir`` trades localCheckpoint speed for reliable
    executor-loss safety — see iterutil).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_directed_edges(edges, src, dst))
    nodes = _ckpt(_node_set(e))

    def _sum_and_normalize(score, col, frm, to, out):
        """out(to) = Σ_{frm→to} score(frm), then L2-normalized over the
        node frame (0 where nothing arrives)."""
        raw = (
            e.join(score.withColumnRenamed("node", frm), frm)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(col).alias("_raw"))
        )
        norm = raw.agg(
            F.sqrt(F.coalesce(F.sum(F.col("_raw") * F.col("_raw")), F.lit(0.0)))
            .alias("_norm")
        )
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(norm))
            .select(
                "node",
                (
                    F.coalesce("_raw", F.lit(0.0))
                    / F.when(F.col("_norm") > 0.0, F.col("_norm")).otherwise(1.0)
                ).alias(out),
            )
        )

    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = nodes.select("node", F.lit(0.0).alias("authority"))
    for _ in range(iterations):
        auth = _sum_and_normalize(hub, "hub", "src", "dst", "authority")
        hub = _sum_and_normalize(auth, "authority", "dst", "src", "hub")
        joined = _ckpt(auth.join(hub, "node"))
        auth = joined.select("node", "authority")
        hub = joined.select("node", "hub")
    return auth.join(hub, "node").select("node", "authority", "hub")


def domain_link_graph(
    edges: DataFrame,
    psl: DataFrame,
    src: str = "src_url",
    dst: str = "dst_url",
) -> DataFrame:
    """URL-level link pairs → REGISTRABLE-DOMAIN-level link graph.

    The web graph a crawler reasons about for authority/spam/budget
    decisions is not page-to-page but site-to-site: rolling links up to
    the PSL registrable domain (``frontier/psl.py``) merges mirrors and
    subdomain farms into one node and drops intra-site navigation.
    Output: (src_domain, dst_domain, n_links, n_src_pages) with
    intra-domain edges and unparseable hosts excluded; ``n_src_pages``
    counts the distinct linking pages (breadth of evidence — 10^6 links
    from one index page are weaker than 10^3 pages each linking once).

    Scale shape (10^10 edges): host extraction is scan-side regexp; PSL
    resolution runs on the DISTINCT-host frame only (hosts ≪ URLs — the
    same reduction BPE uses for words) and joins back BROADCAST, so the
    edge set is never shuffled for domain lookup; the only wide
    exchanges are the final (src_domain, dst_domain) aggregate and the
    distinct-page pre-reduce.  Ports and userinfo are stripped before
    PSL lookup; IPv6 literal hosts are out of scope (documented).
    """
    from ..frontier.psl import with_registrable_domain
    from ..functions.urls import authority_expr

    def _host(col):
        auth = F.regexp_replace(authority_expr(F.col(col)), "^[^@]*@", "")
        return F.lower(F.regexp_replace(auth, ":[0-9]+$", ""))

    e = edges.select(
        F.col(src).alias("_surl"),
        _host(src).alias("_sh"),
        _host(dst).alias("_dh"),
    ).filter((F.col("_sh") != "") & (F.col("_dh") != ""))
    hosts = (
        e.select(F.col("_sh").alias("host"))
        .union(e.select(F.col("_dh").alias("host")))
        .distinct()
    )
    dom = F.broadcast(
        with_registrable_domain(hosts, psl).select("host", "domain")
    )
    rolled = (
        e.join(dom.withColumnRenamed("host", "_sh")
               .withColumnRenamed("domain", "src_domain"), "_sh")
        .join(dom.withColumnRenamed("host", "_dh")
              .withColumnRenamed("domain", "dst_domain"), "_dh")
        .filter(F.col("src_domain") != F.col("dst_domain"))
    )
    return rolled.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("_surl").alias("n_src_pages"),
    )


def opic(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-round synchronous OPIC — On-line Page Importance
    Computation (Abiteboul, Preda & Cobena, WWW 2003) — the importance
    metric production crawlers order fetches by: unlike PageRank it
    needs no damping parameter and its history accumulates montonically
    while the crawl runs, so a partially-crawled graph already yields a
    usable ordering.

    Pinned semantics for oracle replay (the paper's synchronous variant
    with a virtual root): parallel edges collapse, self-loops drop;
    every node starts with cash 1/N and history 0; each round EVERY
    node distributes its cash equally over its out-links (dangling
    nodes distribute to the virtual root, which re-injects uniformly
    next round — the paper's bounded-total fix), history += the cash it
    just distributed, and the new cash is the sum received.  After
    ``iterations`` rounds, ``importance = (history + cash) /
    (total history + 1)`` — the paper's unbiased estimate.  Total cash
    is invariant (= 1) up to float noise; round-6 values are stable
    across engines.

    A synchronous round is exactly ``pagerank``'s step at damping 1
    (the shared ``_propagate``), so ``cash`` equals ``pagerank(...,
    damping=1.0).rank`` (tests/test_trust_bfs.py pins it).

    Scale shape (10^10 edges): per round ONE wide shuffle — the
    received-cash aggregate keyed on dst (map-side partials) — plus the
    edge⋈cash join on src and a 1-row dangling/virtual-root aggregate
    broadcast back; cash and history stay partitioned by node.  Lineage
    per round is truncated like the other iterative operators
    (``checkpoint_dir`` for executor-loss-safe reliable checkpoints).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_directed_edges(edges, src, dst))
    nodes = _ckpt(_node_set(e))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("importance"),
            F.lit(0.0).alias("history"), F.lit(0.0).alias("cash"),
        )
    # a round is the PageRank step at damping 1 (the dangling cash is the
    # virtual root's, re-injected uniformly); history sums the cash each
    # node distributed
    state = _walk_state(e, nodes, F.lit(1.0 / n_nodes), _ckpt).withColumn(
        "history", F.lit(0.0)
    )
    for _ in range(iterations):
        state = _ckpt(
            _propagate(
                e, state, 1.0, (F.col("history") + F.col("x")).alias("history")
            )
        )
    total_hist = state.agg(F.sum("history").alias("th"))
    return (
        state.crossJoin(F.broadcast(total_hist))
        .select(
            "node",
            ((F.col("history") + F.col("x")) / (F.col("th") + 1.0))
            .alias("importance"),
            "history",
            F.col("x").alias("cash"),
        )
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration TrustRank (Gyongyi, Garcia-Molina & Pedersen,
    "Combating Web Spam with TrustRank", VLDB 2004): PageRank with the
    teleport vector restricted to a hand-vetted trusted seed set, so
    trust attenuates with link distance from the seeds and link farms
    unreachable from them score ~0.  This is the crawl-policy lever the
    plain `pagerank` operator cannot express: prioritizing (or
    admitting) hosts by *trusted* link evidence.

    Pinned semantics for oracle replay: edges clean like `pagerank`
    (parallel edges collapse, self-loops drop); the node set is the
    edge endpoints; the static seed distribution is s(v) = 1/|S| for
    v in S = seeds INTERSECT nodes (seeds naming nodes outside the
    graph carry no mass — a dead trusted seed cannot launder trust), 0
    elsewhere; trust starts AT s; each iteration computes
    t'(v) = (1-d)*s(v) + d*(sum_{u->v} t(u)/outdeg(u) + dm*s(v)) where
    dm is the summed trust of dangling nodes — redistributed per the
    SEED vector, the personalized-PageRank stochastic fix, so total
    trust stays 1.  Returns (node, trust) raw doubles after exactly
    `iterations` rounds; callers round for comparison.

    Scale shape (10^10 edges): identical to `pagerank` (the same
    ``_propagate`` step, seed vector as teleport) — ONE wide
    shuffle per iteration (the contribution aggregate on dst with
    map-side partials) plus the edge-against-trust join on src; the
    seed weight is a static column on the node frame (one broadcast-
    sized count action up front, |S| rows never collected); dangling
    mass is a 1-row aggregate broadcast back.  Lineage truncated per
    round via `iterutil.lineage_truncator`.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0.0 <= damping <= 1.0):
        raise ValueError(f"damping must be in [0, 1], got {damping}")
    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_directed_edges(edges, src, dst))
    nodes = _ckpt(_node_set(e))
    seed_nodes = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .join(nodes, "node", "semi")
    )
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("no trusted seed is a node of the edge graph")
    # s(v) = 1/|S| on the seeds, 0 elsewhere
    state = _walk_state(
        e,
        nodes.join(
            seed_nodes.withColumn("_s", F.lit(1.0 / n_seeds)), "node", "left"
        ),
        F.coalesce("_s", F.lit(0.0)),
        _ckpt,
    )
    for _ in range(iterations):
        state = _ckpt(_propagate(e, state, damping))
    return state.select("node", F.col("x").alias("trust"))


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Relative spam mass (Gyongyi, Berkhin, Garcia-Molina & Pedersen,
    "Link Spam Detection Based on Mass Estimation", VLDB 2006): the
    fraction of a page's PageRank that does NOT flow from the trusted
    core, sm(v) = (pr(v) - tr(v)) / pr(v), where pr is `pagerank` and
    tr is `trustrank` over the same edges at the same damping — both
    sum to 1, so the ratio is scale-free.  Pages whose rank is mostly
    spam-sourced have sm near 1; pages inside the trusted neighborhood
    can go negative (trust exceeding their uniform-teleport rank),
    which the paper keeps as-is (thresholding is the caller's policy).

    pr(v) >= (1-d)/N > 0 for every node (uniform teleport), so the
    division is total for damping < 1; at damping == 1 callers get the
    paper's undefined regime and we fault loudly rather than emit NULL.

    Scale shape: two independent fixed-iteration power methods (each
    ONE wide shuffle per round, see `pagerank`/`trustrank`) joined once
    on node at the end — no new shuffle class.
    """
    if damping >= 1.0:
        raise ValueError("spam mass needs damping < 1 (pagerank > 0 everywhere)")
    pr = pagerank(
        edges, iterations=iterations, damping=damping, src=src, dst=dst,
        checkpoint_dir=checkpoint_dir,
    )
    tr = trustrank(
        edges, seeds, iterations=iterations, damping=damping, src=src,
        dst=dst, seed_col=seed_col, checkpoint_dir=checkpoint_dir,
    )
    return pr.join(tr, "node").select(
        "node",
        "rank",
        "trust",
        ((F.col("rank") - F.col("trust")) / F.col("rank")).alias("spam_mass"),
    )


def bfs_depth(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 8,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Minimum-hop distance from a crawl seed set — the `depth` field
    every breadth-first crawler carries (Najork & Wiener, "Breadth-First
    Search Crawling Yields High-Quality Pages", WWW 2001, is the policy
    argument for ordering by it; Cho, Garcia-Molina & Page WWW 1998 use
    it as the baseline ordering).  Returns (node, depth) for every node
    reachable from the seeds within `max_depth` hops; unreachable nodes
    are ABSENT (a frontier never materializes the unreached web).  Every
    distinct seed appears at depth 0 even if it has no edges — a seed
    is in the frontier before any link evidence exists.

    Algorithm: textbook frontier-expansion BFS as DataFrame rounds —
    frontier(i+1) = distinct(frontier(i) JOIN edges on src).dst
    ANTI-JOIN visited — which assigns each node the FIRST round that
    reaches it, i.e. the minimum hop count.  Early-exits when a round
    discovers nothing (one 1-row count action per round, the same
    bounded-action budget as the other iterative operators; rounds are
    otherwise fully distributed).  Self-loops drop and parallel edges
    collapse up front — neither can change a minimum distance.

    Scale shape (10^10 edges): per round, one shuffle to expand the
    frontier (join keyed on src against the edge set — the frontier is
    the small side and shrinks as the reachable set saturates) and one
    anti-join against visited on node.  `visited` grows monotonically
    but is only ever probed by key, never re-shuffled whole; lineage is
    truncated per round via `iterutil.lineage_truncator` so a deep
    crawl horizon never stacks a re-computable plan.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_directed_edges(edges, src, dst))
    visited = _ckpt(
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("depth"))
    )
    frontier = visited.select("node")
    for depth in range(1, max_depth + 1):
        nxt = _ckpt(
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti")
        )
        if nxt.limit(1).count() == 0:
            break
        visited = _ckpt(
            visited.union(nxt.select("node", F.lit(depth).alias("depth")))
        )
        frontier = nxt
    return visited


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts on the UNDIRECTED link graph — the
    local-clustering signal behind web-spam features (densely
    interlinked link farms close many triangles; Becchetti et al., KDD
    2008 use exactly this per-host count) and community structure.

    Algorithm: degree-oriented compact-forward (Latapy TCS 2008; the
    MapReduce formulation is Suri & Vassilvitskii WWW 2011).  Direction
    and parallel/self edges collapse to canonical undirected pairs; each
    edge is then ORIENTED from the (degree, node)-smaller endpoint to
    the larger, making the graph a DAG in which every triangle
    {a,b,c} materializes exactly once: as the wedge (a→b, a→c) with
    (deg,node)(b) < (deg,node)(c), closed by the oriented edge b→c.
    Output: (node, triangles) for every node in ≥1 triangle.

    Scale shape (10^10 edges): orientation bounds every node's oriented
    out-degree by O(√m) — the heavy hub that would generate C(deg,2)
    wedges under naive id-orientation generates almost none, because
    its edges all point INTO it.  The plan is two self-equi-joins (wedge
    build keyed on the shared low endpoint, closure keyed on (b,c)) plus
    degree attachment — all map-side-partial aggregates and hash joins,
    no window, no driver action, skew capped by the √m bound.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("u"),
                          F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"),
                         F.col("deg").alias("dv")), "v")
    )
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.struct(F.col("dv").alias("d"),
                                 F.col("v").alias("n")))
        .otherwise(F.struct(F.col("du").alias("d"),
                            F.col("u").alias("n")))
        .alias("bk"),
    )
    w1 = o.select("a", F.col("bk").alias("b1"))
    w2 = o.select(F.col("a").alias("a2"), F.col("bk").alias("b2"))
    wedges = w1.join(
        w2, (F.col("a") == F.col("a2")) & (F.col("b1") < F.col("b2"))
    ).select("a", F.col("b1.n").alias("b"), F.col("b2.n").alias("c"))
    closer = o.select(F.col("a").alias("b"), F.col("bk.n").alias("c"))
    tri = wedges.join(closer, ["b", "c"], "left_semi")
    corners = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )


def copair_counts(
    edges: DataFrame,
    mode: str = "cocitation",
    max_degree: int | None = 10_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Co-citation / bibliographic-coupling pair strengths over the
    directed link graph (Small JASIS 1973; Kessler 1963) — the classic
    'related pages' similarity that needs no content, only links.

    ``mode="cocitation"``: strength(p, q) = number of distinct pages
    linking to BOTH p and q (pairs of dst sharing a src).
    ``mode="coupling"``: strength(p, q) = number of distinct pages both
    p and q link to (pairs of src sharing a dst).  Output
    (node_a, node_b, strength) with node_a < node_b.

    Scale shape (10^10 edges): the pair join is per-grouping-key
    (C(fanout, 2) pairs per src for co-citation), so one index page
    linking 10^6 dsts would alone emit 5·10^11 pairs — the same
    degenerate-bucket hazard as LSH.  ``max_degree`` (default 10^4,
    same production-default rationale as dedup's hot-bucket cap) DROPS
    grouping keys above the cap before the self-join: a page citing
    10^4+ others carries ~no per-pair signal (1/log evidence weight in
    the literature) and only it can make the plan quadratic.  Pass
    ``None`` for the exact/oracle mode.  Distinct-collapse runs first
    (parallel edges are one citation), the self-join is an equi-join on
    the grouping key, and the final (a, b) aggregate is map-side
    partial.
    """
    if mode == "cocitation":
        key, item = src, dst
    elif mode == "coupling":
        key, item = dst, src
    else:
        raise ValueError(f"mode must be cocitation|coupling, got {mode!r}")
    e = (
        edges.select(F.col(key).alias("k"), F.col(item).alias("i"))
        .filter(F.col("k") != F.col("i"))
        .distinct()
    )
    if max_degree is not None:
        fanout = e.groupBy("k").agg(F.count(F.lit(1)).alias("_d"))
        e = (
            e.join(fanout, "k")
            .filter(F.col("_d") <= max_degree)
            .drop("_d")
        )
    a = e.select("k", F.col("i").alias("node_a"))
    b = e.select(F.col("k").alias("k2"), F.col("i").alias("node_b"))
    return (
        a.join(b, (F.col("k") == F.col("k2"))
               & (F.col("node_a") < F.col("node_b")))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("long").alias("strength"))
    )


def kcore(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman, Social
    Networks 1983; distributed formulation per Montresor et al. 2013):
    repeatedly delete nodes of degree < k until the remaining subgraph
    — the unique maximal subgraph with minimum degree >= k — is stable.
    Link-graph cores separate densely interlinked regions (and link
    farms: spam clusters live in high cores, Becchetti et al. KDD 2008)
    from the low-degree periphery a crawl frontier can deprioritize.

    Input is an undirected edge list (self-loops dropped, parallel
    edges collapsed).  Returns (node, core_degree): the members of the
    k-core with their degree INSIDE it (all >= k).  The fixpoint is
    round-count-independent — any schedule of deletions reaches the
    same core (the k-core is unique) — which is what makes the operator
    oracle-checkable without pinning the round count.

    Scale shape (10^10 edges): each round is ONE degree aggregate
    (map-side partial, keyed on node) plus two semi-joins of the
    adjacency against the surviving-node set — no window, no driver
    data; the per-round early-exit costs one 1-row count action (the
    same bounded-action budget as ``bfs_depth``).  Lineage is truncated
    per round via ``iterutil.lineage_truncator``; pass
    ``checkpoint_dir`` for executor-loss-safe truncation on preemptible
    clusters.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    _ckpt = lineage_truncator(checkpoint_dir)
    ce = _canon_edges(edges, src, dst)
    adj = _ckpt(
        ce.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).union(
            ce.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
        )
    )
    converged = False
    for _ in range(max_rounds):
        # truncate the degree frame eagerly so the early-exit count and
        # the keep semi-joins share ONE aggregation, not two
        deg = _ckpt(adj.groupBy("node").agg(F.count(F.lit(1)).alias("_deg")))
        doomed = deg.filter(F.col("_deg") < k)
        if doomed.limit(1).count() == 0:
            converged = True
            break
        keep = deg.filter(F.col("_deg") >= k).select("node")
        adj = _ckpt(
            adj.join(keep, "node", "semi").join(
                keep.withColumnRenamed("node", "nbr"), "nbr", "semi"
            )
        )
    if not converged:
        # an exhausted round budget means the remaining subgraph still
        # has sub-k nodes — returning it would violate the documented
        # 'min degree >= k' invariant (same contract as
        # connected_components' fail-loud non-convergence)
        raise RuntimeError(
            f"kcore did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (deep peel cascades, e.g. long paths, "
            "strip O(1) nodes per round)"
        )
    return adj.groupBy("node").agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def salsa(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """SALSA (Lempel & Moran, WWW 2000): HITS' mutual-reinforcement on a
    STOCHASTIC two-hop walk, which is what makes it resistant to the
    tightly-knit-community (TKC) spam that inflates HITS — a link farm's
    mass is divided by its own degrees instead of compounding.  The
    authority chain walks backward along a uniformly-chosen in-link
    (1/indeg) then forward along a uniformly-chosen out-link (1/outdeg);
    the hub chain is the mirror image.

    Semantics pinned for oracle replay: parallel edges collapse,
    self-loops drop; authorities (nodes with >= 1 in-link) start at
    1/|A|, hubs (>= 1 out-link) at 1/|H|; exactly ``iterations``
    synchronous rounds with NO renormalization — the walk is stochastic,
    so each chain's L1 mass stays exactly 1 (a pinned test invariant;
    disconnected components keep their initial mass share, per the
    paper's non-irreducible case).  Returns (node, authority, hub), 0
    for non-members of a side.

    Scale shape (10^10 edges): per round each chain is two edge joins +
    two map-side-partial aggregates keyed on src/dst — same shuffle
    budget as one HITS round, no window, no driver data; per-round
    lineage truncated via iterutil (``checkpoint_dir`` for reliable
    truncation on preemptible clusters).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_directed_edges(edges, src, dst))
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("ind")
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outd")
    )
    n_auth = indeg.count()
    n_hub = outdeg.count()
    if n_auth == 0 or n_hub == 0:
        raise ValueError(
            "salsa: edge set is empty after dropping self-loops — "
            "no authorities/hubs to walk over"
        )
    auth = _ckpt(
        indeg.select("node", "ind", F.lit(1.0 / n_auth).alias("authority"))
    )
    hub = _ckpt(
        outdeg.select("node", "outd", F.lit(1.0 / n_hub).alias("hub"))
    )

    # a side: (its degree frame, degree column, its end of an edge)
    a_side = (indeg, "ind", "dst")
    h_side = (outdeg, "outd", "src")

    def _two_hop(score, col, side, other):
        """One chain round: from each member of ``side`` along a
        uniformly-chosen edge (1/deg) to the ``other`` side, then back
        along a uniformly-chosen edge of that node (1/its deg)."""
        _, deg, near = side
        far_degs, far_deg, far = other
        at_far = (
            e.join(
                score.select(
                    F.col("node").alias(near),
                    (F.col(col) / F.col(deg)).alias("_m"),
                ),
                near,
            )
            .groupBy(F.col(far).alias("node"))
            .agg(F.sum("_m").alias("_s"))
            .join(far_degs, "node")
            .select(
                F.col("node").alias(far),
                (F.col("_s") / F.col(far_deg)).alias("_t"),
            )
        )
        return (
            e.join(at_far, far)
            .groupBy(F.col(near).alias("node"))
            .agg(F.sum("_t").alias(col))
        )

    for _ in range(iterations):
        # authority chain: back along 1/indeg, forward along 1/outdeg;
        # the hub chain is its mirror image
        a_new = _two_hop(auth, "authority", a_side, h_side)
        h_new = _two_hop(hub, "hub", h_side, a_side)
        # membership is FIXED (authorities = indeg>0 nodes, hubs =
        # outdeg>0 nodes, and every member receives positive mass each
        # round — see the inner-join argument in the docstring), so the
        # two chains update independently: no cross-side join needed
        auth = _ckpt(indeg.join(a_new, "node"))
        hub = _ckpt(outdeg.join(h_new, "node"))
    return (
        auth.select("node", "authority")
        .join(hub.select("node", "hub"), "node", "full")
        .select(
            "node",
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )


def hyperball(
    edges: DataFrame,
    radius: int = 3,
    p: int = 6,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HyperBall (Boldi & Vigna, WebSci 2013 — 'In-Core Computation of
    Geometric Centralities with HyperBall'): estimate every node's
    out-ball size |B(v, r)| = #nodes reachable within ``radius`` steps
    by iterating max-merges of per-node HyperLogLog registers along the
    edges — the algorithm that computed neighborhood functions and
    centralities on the 3.5-billion-node Facebook/common-crawl graphs,
    and the web-scale substitute for exact multi-source BFS (which is
    O(N^2) mass at crawl scale).

    reg_0(v) = HLL registers of {v}; round t: reg_t(v) = max-merge of
    reg_{t-1}(v) with reg_{t-1} of every out-neighbor — after r rounds
    the counter of v holds exactly the HLL sketch of B(v, r) (register
    max-merge IS set union, the sketch's defining law).  Every hash and
    the estimate are the cross-engine-exact HLL primitives
    (operators/sketches.py), so a DuckDB oracle replays every register
    of every round and the final estimate bit-for-bit.

    Returns (node, buckets_used, ball_est): ``ball_est`` includes the
    node itself (|B| >= 1).

    Scale shape (10^10 edges): state is N * <= 2^p register rows — with
    p=11 that is ~32 bytes/node of true information, the same budget
    HyperBall runs at web scale; each round is ONE equi-join of the
    register frame with the edge list on dst plus ONE (node, bucket)
    max-aggregate with map-side partials; no window, no driver data.
    Lineage truncated per round (``checkpoint_dir`` for reliable
    truncation under executor loss).
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    from .sketches import hll_estimate_from_registers, hll_registers

    _ckpt = lineage_truncator(checkpoint_dir)
    e = _ckpt(_directed_edges(edges, src, dst))
    reg = _ckpt(hll_registers(_node_set(e), "node", group_cols=("node",), p=p))
    for _ in range(radius):
        from_nbrs = (
            e.join(reg.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "bucket", "m")
        )
        reg = _ckpt(
            reg.unionByName(from_nbrs)
            .groupBy("node", "bucket")
            .agg(F.max("m").alias("m"))
        )
    return hll_estimate_from_registers(reg, group_cols=("node",), p=p).select(
        "node", "buckets_used", F.col("hll_est").alias("ball_est")
    )


def link_reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node link reciprocity — the fraction of a page's out-links
    that link straight back (Davison, SIGIR 2000 'Recognizing nepotistic
    links on the Web'): organic linking is largely one-directional,
    while link-exchange spam rings produce reciprocity near 1, making
    this one of the cheapest effective spam features a crawler can
    compute before any ranking iteration.

    Pinned semantics: parallel edges collapse, self-loops drop;
    mutual(v) = #out-neighbors u of v with an edge u->v back;
    reciprocity = mutual / outdeg (exact small-integer division, so the
    double is cross-engine identical).  Nodes with no out-links are
    absent (reciprocity undefined).

    Scale shape (10^10 edges): ONE self-equi-join of the canonical edge
    set on the reversed key pair plus one map-side-partial aggregate on
    src — no window, no iteration; the join keys are the edge endpoints
    themselves, so AQE handles hub skew with the standard skew-join
    split.
    """
    e = _directed_edges(edges, src, dst)
    back = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = (
        e.join(back, ["src", "dst"], "left_semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("mutual"))
    )
    out = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    return (
        out.join(mutual, "src", "left")
        .select(
            F.col("src").alias("node"),
            "outdeg",
            F.coalesce("mutual", F.lit(0).cast("long")).alias("mutual"),
            (
                F.coalesce("mutual", F.lit(0).cast("long")).cast("double")
                / F.col("outdeg").cast("double")
            ).alias("reciprocity"),
        )
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient on the undirected link
    graph: C(v) = 2·T(v) / (d(v)·(d(v)−1)) — the Watts–Strogatz local
    density that, with the raw triangle count, forms the
    Becchetti et al. (KDD 2008) web-spam feature pair: link farms show
    high C at high degree, organic hubs show low C.

    Pinned semantics: degrees and triangles over the canonical
    undirected simple graph (parallel edges/self-loops collapsed);
    nodes with d < 2 get C = 0 (standard convention); every node with
    >= 1 edge appears.  C is an exact small-integer ratio (2T and
    d(d−1) are exact longs), so the double is cross-engine identical
    with no rounding.

    Scale shape (10^10 edges): the degree table is ONE
    map-side-partial aggregate; triangles come from the
    degree-oriented compact-forward plan (``triangle_count``); the
    final join is degree-frame x triangle-frame on node — both
    node-sized, never edge-sized.
    """
    ce = _canon_edges(edges, src, dst)
    deg = (
        ce.select(F.col("src").alias("node"))
        .union(ce.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_count(ce)
    t = F.coalesce(F.col("triangles"), F.lit(0).cast("long"))
    return deg.join(tri, "node", "left").select(
        "node",
        "degree",
        t.alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2.0) * t.cast("double"))
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
