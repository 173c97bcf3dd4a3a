"""HTML outlink extraction + RFC 3986 §5 reference resolution.

The discovery step a real fetch loop runs on every HTML body: pull the
link references out of the markup, resolve each against the page's
effective base URL (the ``<base href>`` element when present, else the
fetch URL), and hand absolute URLs to canonicalization
(``functions/urls.py``) and the frontier merge.  Everything here is a
scan-side projection — Catalyst regexp extraction for the markup, and
the RFC's reference-resolution algorithm (§5.2.2 transform, §5.2.3
merge, §5.2.4 remove_dot_segments) as one Arrow-batched UDF
(``resolve_reference_udf`` over the per-row ``resolve_reference_one``,
pinned by the RFC's own §5.4 vectors in tests/test_html.py).  No
shuffle; at fetch-log scale the plan is embarrassingly parallel.

Pinned semantics:

* the URL grammar split uses the RFC's own appendix-B regex (groups:
  scheme / authority / path / query); fragments are DROPPED everywhere
  (a crawler never fetches them — the reference pipeline's
  canonicalization strips them too);
* pure-fragment references (``#top``) resolve to NULL (same-document);
* empty-vs-absent query collapses to absent (``a?`` ≡ ``a``) — the one
  RFC corner this column representation cannot carry, documented here;
* ``remove_dot_segments`` preserves interior empty segments, clamps
  ``..`` at the root (§5.2.4's "if the output stack is empty"), and
  keeps the directory-form trailing slash for inputs ending in ``/``,
  ``/.`` or ``/..``;
* extraction reads ``href`` of ``<a>``/``<area>``/``<link>`` and
  ``src`` of ``<img>``/``<script>``/``<iframe>``/``<frame>``/
  ``<embed>``/``<source>``, double-/single-/un-quoted, and
  entity-decodes values (``&amp;`` in query strings is the normal case
  in serialized HTML).

No counterpart in /root/reference (its corpus is pre-extracted JSON;
URLs come from spans) — the algorithms are the public RFC 3986 / WHATWG
ecosystem.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..frontier.sitemaps import xml_unescape_expr

__all__ = [
    "resolve_reference_one",
    "resolve_reference_udf",
    "extract_refs_expr",
    "extract_outlinks",
    "canonical_meta",
    "text_blocks",
    "main_text",
]

# ---------------------------------------------------------------------------
# Arrow-batched resolver (r6).  The RFC 3986 §5.2 algorithm runs per row in
# Python behind one Arrow exchange (~1-2us/row).  A pure-Catalyst version was
# kept as the reference until it was deleted: its ~500-node tree with a HOF
# fold (remove_dot_segments) is CodegenFallback, so it ran INTERPRETED, node
# by node, per row — ~34s for the 3.75M-link discovery stream at sf1.0 for a
# single evaluation, multiplied by any downstream expression that re-inlined
# `resolved`.  The UDF is also a hard optimizer barrier: a column produced by
# ArrowEvalPython can never be re-inlined downstream.  tests/test_html.py
# pins it (and the per-row resolve_reference_one) to the RFC §5.4 vectors
# plus the NULL/fragment/empty-query edge grammar.
# ---------------------------------------------------------------------------

_URL_RE_PY = re.compile(r"^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?")
_FRAG_RE_PY = re.compile(r"#.*$")
_LAST_SEG_RE_PY = re.compile(r"[^/]*$")


def _split_url_py(u: str) -> tuple[str, str, str, str]:
    m = _URL_RE_PY.match(u)
    return (
        m.group(2) or "",
        m.group(4) or "",
        m.group(5) or "",
        m.group(7) or "",
    )


def _remove_dot_segments_py(path: str) -> str:
    if path == "":
        return ""
    ends_dir = (
        path.endswith("/") or path.endswith("/.") or path.endswith("/..")
    )
    work = path.split("/")[1:]
    if path.endswith("/"):
        work = work[:-1]
    out: list[str] = []
    for s in work:
        if s == ".":
            continue
        if s == "..":
            if out:
                out.pop()
        else:
            out.append(s)
    return "/" + "/".join(out) + ("/" if ends_dir and out else "")


def _rebuild_py(scheme: str, authority: str, path: str, query: str) -> str:
    return (
        (scheme + ":" if scheme else "")
        + ("//" + authority if authority else "")
        + path
        + ("?" + query if query else "")
    )


def resolve_reference_one(base: str | None, ref: str | None) -> str | None:
    """RFC 3986 §5.2.2 reference resolution of one (base, ref) pair →
    absolute URL string, or None for pure-fragment / None references.
    ``base`` must itself be absolute (a fetch URL always is)."""
    if ref is None or base is None:
        return None
    ref_nf = _FRAG_RE_PY.sub("", ref)
    if ref_nf == "" and ref.startswith("#"):
        return None
    bs, ba, bp, bq = _split_url_py(_FRAG_RE_PY.sub("", base))
    rs, ra, rp, rq = _split_url_py(ref_nf)
    rds = _remove_dot_segments_py
    if rs != "":
        return _rebuild_py(rs, ra, rds(rp) if rp.startswith("/") else rp, rq)
    if ra != "":
        return _rebuild_py(bs, ra, rds(rp), rq)
    if rp.startswith("/"):
        return _rebuild_py(bs, ba, rds(rp), rq)
    if rp == "":
        return _rebuild_py(bs, ba, bp, rq if rq != "" else bq)
    base_dir = "/" if bp == "" else _LAST_SEG_RE_PY.sub("", bp)
    return _rebuild_py(bs, ba, rds(base_dir + rp), rq)


@pandas_udf(T.StringType())
def resolve_reference_udf(bases: pd.Series, refs: pd.Series) -> pd.Series:
    """Arrow-batched RFC 3986 reference resolution (see block comment)."""
    return pd.Series(
        [resolve_reference_one(b, r) for b, r in zip(bases, refs)],
        dtype="object",
    )


_HREF_TAGS = "(?:a|area|link)"
_SRC_TAGS = "(?:img|script|iframe|frame|embed|source)"


def _attr_patterns(tags: str, attr: str) -> list[str]:
    head = rf"(?is)<{tags}\b[^>]*?\b{attr}\s*=\s*"
    return [
        head + r'"([^"]*)"',       # double-quoted
        head + r"'([^']*)'",        # single-quoted
        head + r"([^\"'\s>]+)",     # unquoted (legacy HTML)
    ]


def extract_refs_expr(html: Column, attr: str = "href") -> Column:
    """All raw reference strings for one attribute kind, in no
    particular order across quote styles (each style scans the document
    in order), entity-decoded and trimmed."""
    tags = _HREF_TAGS if attr == "href" else _SRC_TAGS
    arrays = [
        F.regexp_extract_all(html, F.lit(p), F.lit(1))
        for p in _attr_patterns(tags, attr)
    ]
    return F.transform(
        F.concat(*arrays), lambda s: F.trim(xml_unescape_expr(s))
    )


def base_href_expr(html: Column) -> Column:
    """The first ``<base href>`` value, or '' when absent."""
    return F.trim(
        xml_unescape_expr(
            F.regexp_extract(
                html, r"""(?is)<base\b[^>]*?\bhref\s*=\s*["']([^"']*)["']""", 1
            )
        )
    )


def extract_outlinks(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    http_only: bool = True,
) -> DataFrame:
    """(page url, html body) → one row per discovered link.

    Output: (url, kind 'href'|'src', ref — the raw attribute value,
    resolved — absolute URL against the page's EFFECTIVE base, i.e. the
    first ``<base href>`` resolved against the fetch URL when present).
    Pure-fragment and empty references drop; with ``http_only`` (the
    crawler default) only http(s) results survive — mailto:, javascript:
    and data: references are discovery noise, not frontier input.
    """
    page = F.col(url_col)
    html = F.col(html_col)
    # Arrow-batched resolver (resolve_reference_udf, see its block
    # comment): its result is a hard barrier, so downstream consumers of
    # `resolved` can never re-inline the resolution.
    eff_base = F.when(
        base_href_expr(html) != "",
        resolve_reference_udf(page, base_href_expr(html)),
    ).otherwise(page)
    refs = F.concat(
        F.transform(
            extract_refs_expr(html, "href"),
            lambda s: F.struct(F.lit("href").alias("kind"), s.alias("ref")),
        ),
        F.transform(
            extract_refs_expr(html, "src"),
            lambda s: F.struct(F.lit("src").alias("kind"), s.alias("ref")),
        ),
    )
    # position explode with the ref array carried through as a REAL
    # column: exploding the HOF-built struct array directly makes
    # Catalyst inline the whole href/src extraction into the Generate and
    # re-evaluate it per OUTPUT link (r6; see functions/quality.py
    # ngram_positions for the measured pattern)
    exploded = (
        df.select(
            page.alias("url"), eff_base.alias("_base"), refs.alias("_refs")
        )
        .select(
            "url",
            "_base",
            "_refs",
            F.explode(
                F.expr(
                    "CASE WHEN size(_refs) >= 1 THEN "
                    "sequence(1, size(_refs)) ELSE array() END"
                )
            ).alias("_ri"),
        )
        .select(
            "url", "_base", F.expr("element_at(_refs, _ri)").alias("_r")
        )
    )
    # Filter on the RAW reference, before resolution: the resolver's NULL
    # cases (NULL / pure-fragment refs) and the scheme policy are both
    # decidable from the ref string alone, and the optimizer pushes
    # filters through projections by SUBSTITUTING alias definitions — a
    # filter on `resolved` would re-evaluate the whole resolution tree
    # once per predicate (measured 4x on the oracle corpus).  Relative
    # references inherit the base scheme, which for a fetch URL is
    # http(s) by construction.
    raw = F.col("_r.ref")
    keep = raw.isNotNull() & (raw != "") & ~raw.startswith("#")
    if http_only:
        scheme = F.lower(F.regexp_extract(raw, r"^([^:/?#]+):", 1))
        keep = keep & scheme.isin("", "http", "https")
    # coalesce makes the predicate null-TOLERANT (same rows: a NULL ref
    # yields false either way), so InferFiltersFromConstraints cannot
    # derive an isnotnull(...) on the ref chain — which it would push
    # below the Generate as a scan-level Filter carrying the ENTIRE
    # inlined extraction chain, re-evaluating every regex per input row
    # (measured: 24.4s vs 3.2s for the filtered explode at sf1.0, r6).
    return exploded.filter(F.coalesce(keep, F.lit(False))).select(
        "url",
        F.col("_r.kind").alias("kind"),
        raw.alias("ref"),
        resolve_reference_udf(F.col("_base"), raw).alias("resolved"),
    )


# <link rel="canonical" href=...> in both attribute orders; rel values may
# be unquoted and are matched case-insensitively.  href values stay inside
# a quote class — an unquoted canonical href is vanishingly rare and the
# grammar ambiguity isn't worth the false positives.
_CANON_REL_FIRST = (
    r"""(?is)<link\b[^>]*?\brel\s*=\s*["']?canonical["']?[^>]*?"""
    r"""\bhref\s*=\s*["']([^"']*)["']"""
)
_CANON_HREF_FIRST = (
    r"""(?is)<link\b[^>]*?\bhref\s*=\s*["']([^"']*)["']"""
    r"""[^>]*?\brel\s*=\s*["']?canonical["']?"""
)
_META_ROBOTS_NAME_FIRST = (
    r"""(?is)<meta\b[^>]*?\bname\s*=\s*["']?robots["']?[^>]*?"""
    r"""\bcontent\s*=\s*["']([^"']*)["']"""
)
_META_ROBOTS_CONTENT_FIRST = (
    r"""(?is)<meta\b[^>]*?\bcontent\s*=\s*["']([^"']*)["']"""
    r"""[^>]*?\bname\s*=\s*["']?robots["']?"""
)


def _first_extract(html: Column, patterns: tuple[str, ...]) -> Column:
    """First non-empty capture across the given patterns (each pattern
    returns its own first match; precedence is pattern order)."""
    out = F.lit(None).cast("string")
    for p in patterns:
        got = F.nullif(F.regexp_extract(html, p, 1), F.lit(""))
        out = F.coalesce(out, got)
    return out


def _robots_token(content: Column, token: str) -> Column:
    return F.lower(content).rlike(r"(?:^|[,\s])" + token + r"(?:$|[,\s])")


def canonical_meta(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(page url, html body) → per-page canonical-link + robots-meta row.

    The crawl-side inputs to index/dedup policy that live in the page
    HEAD rather than the link graph:

    * ``<link rel="canonical">`` (RFC 6596) — the origin's own
      duplicate-cluster hint: ``canonical_ref`` is the raw (entity-
      decoded) href, ``canonical_url`` resolves it against the page's
      EFFECTIVE base (first ``<base href>`` then the fetch URL — same
      RFC 3986 path as extract_outlinks), ``is_self_canonical`` is the
      exact-string self test (callers canonicalize both sides with
      functions/urls first when they want semantic equality; NULL when
      the page declares no canonical).  Feeds the DUST/cluster
      canonicalizers as origin-asserted alias evidence.
    * ``<meta name="robots">`` (Robots Exclusion Protocol meta tag) —
      ``noindex`` / ``nofollow`` as token matches on the content list,
      with ``none`` = both per the REP meta grammar; absent meta means
      both false (indexable, followable — the protocol default).

    Both attribute orders match (rel-before-href precedence, then
    href-before-rel); values entity-decode.  Pure Catalyst regex over
    the page string — narrow projections, no explode, no shuffle, so it
    composes scan-side with extract_outlinks/text_blocks in the
    discovery round at any corpus scale.

    The resolver trees are STAGED through intermediate projections: the
    RFC 3986 resolve expression references each input ~10×, so nesting
    resolve(resolve(page, base_href), canon_ref) as one Python-built
    Column multiplies the regex subtrees into a multi-MiB codegen blob
    (measured: 322s → 14s at sf0.001 after staging).  Each stage's
    producer aliases are non-cheap and multiply referenced downstream,
    which is exactly what blocks CollapseProject from re-inlining them.
    """
    page = F.col(url_col)
    html = F.col(html_col)
    # stage 1: the three HEAD extractions, each built exactly once
    s1 = df.select(
        page.alias("url"),
        base_href_expr(html).alias("_bh"),
        F.trim(
            xml_unescape_expr(
                _first_extract(html, (_CANON_REL_FIRST, _CANON_HREF_FIRST))
            )
        ).alias("_ref"),
        _first_extract(
            html, (_META_ROBOTS_NAME_FIRST, _META_ROBOTS_CONTENT_FIRST)
        ).alias("_rc"),
    )
    # stage 2: effective base — one resolve tree over leaf columns
    s2 = s1.select(
        "url",
        "_ref",
        "_rc",
        F.when(
            F.col("_bh") != "",
            resolve_reference_udf(F.col("url"), F.col("_bh")),
        )
        .otherwise(F.col("url"))
        .alias("_base"),
    )
    # stage 3: canonical resolution + robots tokens — second resolve tree
    ref = F.col("_ref")
    none_tok = _robots_token(F.col("_rc"), "none")
    s3 = s2.select(
        "url",
        ref.alias("canonical_ref"),
        F.when(
            ref.isNotNull() & (ref != "") & ~ref.startswith("#"),
            resolve_reference_udf(F.col("_base"), ref),
        ).alias("canonical_url"),
        F.coalesce(
            _robots_token(F.col("_rc"), "noindex") | none_tok, F.lit(False)
        ).alias("noindex"),
        F.coalesce(
            _robots_token(F.col("_rc"), "nofollow") | none_tok, F.lit(False)
        ).alias("nofollow"),
    )
    return s3.select(
        "url",
        "canonical_ref",
        "canonical_url",
        F.when(
            F.col("canonical_url").isNotNull(),
            F.col("canonical_url") == F.col("url"),
        ).alias("is_self_canonical"),
        "noindex",
        "nofollow",
    )


# block-level elements that delimit text blocks; inline markup (a, b,
# span, em, ...) stays inside its block and is stripped by _block_text
_BLOCK_TAGS = (
    "p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|section|article|header|"
    "footer|nav|blockquote|pre"
)
_BLOCK_SPLIT_RE = rf"(?i)</?(?:{_BLOCK_TAGS})\b[^>]*>"
# non-content subtrees removed before segmentation
_DROP_RES = (
    r"(?is)<script\b.*?</script>",
    r"(?is)<style\b.*?</style>",
    r"(?is)<!--.*?-->",
    r"(?is)<head\b.*?</head>",
)
_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"


def _block_text(c: Column) -> Column:
    """Markup fragment → readable text: strip tags, THEN entity-decode
    (an encoded '&lt;script&gt;' must never become markup), collapse
    whitespace, trim."""
    return F.trim(
        F.regexp_replace(
            xml_unescape_expr(F.regexp_replace(c, "<[^>]*>", " ")),
            r"\s+",
            " ",
        )
    )


def text_blocks(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_words: int = 5,
    max_link_density: float = 0.33,
) -> DataFrame:
    """HTML → per-block text rows with boilerplate signals — the
    link-density heuristic family of Kohlschütter et al. (WSDM 2010),
    reduced to the two strongest shallow features so the whole operator
    stays a scan-side Catalyst projection (and therefore exactly
    SQL-replayable): block word count and block link density.

    Pipeline per document: drop script/style/comment/head subtrees,
    segment on block-level tags, per block strip inline markup +
    entity-decode + collapse whitespace, measure words and the share of
    characters that sit inside ``<a>`` elements.  ``kept`` =
    (n_words ≥ min_words) AND (link_density ≤ max_link_density) — short
    and/or link-dominated blocks (navigation, footers, tag clouds) drop;
    body prose survives.  Output: (url, block_pos — 0-based position in
    the raw segmentation, empty blocks omitted —, text, n_words,
    link_density, kept).

    No shuffle, no UDF; at fetch scale the plan is partition-preserving.
    Compose ``filter(kept)`` + a block_pos-ordered aggregate for the
    document's main text (:func:`main_text`).
    """
    page, html = F.col(url_col), F.col(html_col)
    cleaned = html
    for p in _DROP_RES:
        cleaned = F.regexp_replace(cleaned, p, " ")
    rows = df.select(
        page.alias("url"),
        F.posexplode(F.split(cleaned, _BLOCK_SPLIT_RE)).alias(
            "block_pos", "_b"
        ),
    )
    b = F.col("_b")
    text = _block_text(b)
    atext = _block_text(
        F.array_join(
            F.regexp_extract_all(b, F.lit(_ANCHOR_RE), F.lit(1)), " "
        )
    )
    out = rows.select(
        "url",
        "block_pos",
        text.alias("text"),
        F.when(text == "", F.lit(0))
        .otherwise(F.size(F.split(text, " ")))
        .cast("long")
        .alias("n_words"),
        (F.length(atext) / F.greatest(F.length(text), F.lit(1)))
        .alias("link_density"),
    ).filter(F.col("text") != "")
    return out.withColumn(
        "kept",
        (F.col("n_words") >= min_words)
        & (F.col("link_density") <= max_link_density),
    )


def main_text(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_words: int = 5,
    max_link_density: float = 0.33,
) -> DataFrame:
    """HTML → one row per page: kept blocks joined in document order.
    (url, text, n_blocks_kept, n_words); pages whose every block is
    boilerplate keep a row with empty text — inputs never vanish."""
    blocks = text_blocks(
        df,
        url_col=url_col,
        html_col=html_col,
        min_words=min_words,
        max_link_density=max_link_density,
    )
    kept = blocks.filter(F.col("kept")).groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("block_pos", "text"))
                ),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_blocks_kept"),
        F.sum("n_words").alias("n_words"),
    )
    pages = df.select(F.col(url_col).alias("url")).distinct()
    return pages.join(kept, "url", "left").select(
        "url",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("n_blocks_kept", F.lit(0)).alias("n_blocks_kept"),
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
    )
