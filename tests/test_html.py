"""HTML outlink extraction + RFC 3986 reference resolution
(functions/html.py): the RFC's own §5.4 normal/abnormal test vectors and
edge grammar through both the per-row resolver and its Arrow-batched UDF,
dot-segment edges, base-href handling, and the extraction grammar."""

import pyspark.sql.functions as F

from cord19_crawler_spark.functions.html import (
    _remove_dot_segments_py,
    extract_outlinks,
    resolve_reference_one,
    resolve_reference_udf,
)

BASE = "http://a/b/c/d;p?q"

# RFC 3986 §5.4.1 normal examples (fragment cases adjusted to this
# module's pinned crawler semantics: fragments drop; pure-fragment
# references resolve to NULL).
NORMAL = [
    ("g:h", "g:h"),
    ("g", "http://a/b/c/g"),
    ("./g", "http://a/b/c/g"),
    ("g/", "http://a/b/c/g/"),
    ("/g", "http://a/g"),
    ("//g", "http://g"),
    ("?y", "http://a/b/c/d;p?y"),
    ("g?y", "http://a/b/c/g?y"),
    ("#s", None),
    ("g#s", "http://a/b/c/g"),
    ("g?y#s", "http://a/b/c/g?y"),
    (";x", "http://a/b/c/;x"),
    ("g;x", "http://a/b/c/g;x"),
    ("g;x?y#s", "http://a/b/c/g;x?y"),
    ("", "http://a/b/c/d;p?q"),
    (".", "http://a/b/c/"),
    ("./", "http://a/b/c/"),
    ("..", "http://a/b/"),
    ("../", "http://a/b/"),
    ("../g", "http://a/b/g"),
    ("../..", "http://a/"),
    ("../../", "http://a/"),
    ("../../g", "http://a/g"),
]

# §5.4.2 abnormal examples (strict-parser answers).
ABNORMAL = [
    ("../../../g", "http://a/g"),
    ("../../../../g", "http://a/g"),
    ("/./g", "http://a/g"),
    ("/../g", "http://a/g"),
    ("g.", "http://a/b/c/g."),
    (".g", "http://a/b/c/.g"),
    ("g..", "http://a/b/c/g.."),
    ("..g", "http://a/b/c/..g"),
    ("./../g", "http://a/b/g"),
    ("./g/.", "http://a/b/c/g/"),
    ("g/./h", "http://a/b/c/g/h"),
    ("g/../h", "http://a/b/c/h"),
    ("g;x=1/./y", "http://a/b/c/g;x=1/y"),
    ("g;x=1/../y", "http://a/b/c/y"),
    ("http:g", "http:g"),
]

# (base, ref, want): the NULL / fragment / empty-query / opaque-scheme
# edge grammar beyond the RFC tables.
EDGES = [
    (BASE, "", "http://a/b/c/d;p?q"),
    (BASE, "#", None),
    (BASE, "#frag", None),
    (BASE, "g?y", "http://a/b/c/g?y"),
    (BASE, "?y", "http://a/b/c/d;p?y"),
    (BASE, "//g", "http://g"),
    (BASE, "//g/x/../y", "http://g/y"),
    (BASE, "http:g", "http:g"),
    (BASE, "mailto:u@x.com", "mailto:u@x.com"),
    (BASE, "javascript:void(0)", "javascript:void(0)"),
    (BASE, "g#s", "http://a/b/c/g"),
    (BASE, "./", "http://a/b/c/"),
    (BASE, "..", "http://a/b/"),
    (BASE, ".", "http://a/b/c/"),
    (BASE, "a?", "http://a/b/c/a"),            # empty query collapses
    (BASE, "a?&", "http://a/b/c/a?&"),
    (BASE, "/x//../y", "http://a/x/y"),        # '..' pops the empty segment
    (BASE, "data:text/plain,hi", "data:text/plain,hi"),
    (BASE, "g;p=1?y#s", "http://a/b/c/g;p=1?y"),
    ("http://a/b/c/d;p?q#bfrag", "g", "http://a/b/c/g"),  # base fragment
    ("http://h", "g", "http://h/g"),           # base with empty path
    ("http://h/x/", "", "http://h/x/"),
    (BASE, None, None),
]


def _check_both(spark, rows):
    """Every (base, ref, want) row through resolve_reference_one and
    through the Arrow-batched resolve_reference_udf."""
    bad = [(b, r, got, w) for b, r, w in rows
           if (got := resolve_reference_one(b, r)) != w]
    assert not bad, bad[:5]
    df = spark.createDataFrame(rows, "base string, ref string, want string")
    got = df.select(
        "base", "ref", "want",
        resolve_reference_udf(F.col("base"), F.col("ref")).alias("out"),
    ).collect()
    assert len(got) == len(rows)
    bad = [(r["base"], r["ref"], r["out"], r["want"]) for r in got
           if r["out"] != r["want"]]
    assert not bad, bad[:5]


def test_rfc3986_normal_vectors(spark):
    _check_both(spark, [(BASE, r, w) for r, w in NORMAL])


def test_rfc3986_abnormal_vectors(spark):
    _check_both(spark, [(BASE, r, w) for r, w in ABNORMAL])


def test_resolver_edge_grammar(spark):
    _check_both(spark, EDGES)


def test_remove_dot_segments_edges():
    cases = [
        ("/a/b/c/./../../g", "/a/g"),       # RFC §5.2.4's own example
        ("/mid/content=5/../6", "/mid/6"),  # the other RFC example
        ("", ""),
        ("/", "/"),
        ("/..", "/"),
        ("/a//b/./c", "/a//b/c"),           # interior empty kept
        ("/a/b/..", "/a/"),
    ]
    for path, want in cases:
        assert _remove_dot_segments_py(path) == want, path


HTML_DOC = """<html><head>
<base href="/deep/dir/">
<link rel="stylesheet" href="style.css">
</head><body>
<a href="../up.html">u</a>
<A HREF='single.html'>s</A>
<a href=unquoted.html>q</a>
<a href="?page=2&amp;sort=asc">entities</a>
<a href="#frag">skip</a>
<a href="mailto:x@example.com">skip2</a>
<a href="https://other.example.com/abs">abs</a>
<img src="../img/logo.png">
<script src="/js/app.js"></script>
</body></html>"""


def test_extract_outlinks_with_base_href(spark):
    df = spark.createDataFrame(
        [("https://h.example.com/page/one.html", HTML_DOC)],
        "url string, html string",
    )
    got = {
        (r["kind"], r["ref"]): r["resolved"]
        for r in extract_outlinks(df).collect()
    }
    # effective base is <base href> resolved against the page URL
    assert got[("href", "../up.html")] == "https://h.example.com/deep/up.html"
    assert got[("href", "style.css")] == "https://h.example.com/deep/dir/style.css"
    assert got[("href", "single.html")] == "https://h.example.com/deep/dir/single.html"
    assert got[("href", "unquoted.html")] == "https://h.example.com/deep/dir/unquoted.html"
    assert (
        got[("href", "?page=2&sort=asc")]
        == "https://h.example.com/deep/dir/?page=2&sort=asc"
    )
    assert got[("href", "https://other.example.com/abs")] == "https://other.example.com/abs"
    assert got[("src", "../img/logo.png")] == "https://h.example.com/deep/img/logo.png"
    assert got[("src", "/js/app.js")] == "https://h.example.com/js/app.js"
    # fragment-only and non-http schemes are filtered
    assert ("href", "#frag") not in got
    assert ("href", "mailto:x@example.com") not in got


def test_no_base_href_uses_page_url(spark):
    df = spark.createDataFrame(
        [("https://h.example.com/a/b.html", '<a href="c.html">x</a>')],
        "url string, html string",
    )
    rows = extract_outlinks(df).collect()
    assert rows[0]["resolved"] == "https://h.example.com/a/c.html"


def test_scan_side_plan(spark):
    df = spark.createDataFrame(
        [("u", "<a href='x'>y</a>")], "url string, html string"
    )
    plan = (
        extract_outlinks(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------- canonical


def _canon_rows(spark, pages):
    from cord19_crawler_spark.functions.html import canonical_meta

    df = spark.createDataFrame(pages, "url string, html string")
    return {r["url"]: r.asDict() for r in canonical_meta(df).collect()}


def test_canonical_both_attribute_orders_and_base(spark):
    got = _canon_rows(
        spark,
        [
            (  # rel-first, relative ref, no <base>
                "https://h.example.com/a/p1.html",
                '<link rel="canonical" href="c1.html"><p>x</p>',
            ),
            (  # href-first + unquoted rel, <base href> redirects the dir
                "https://h.example.com/a/p2.html",
                "<base href='/b/'><link href='c2.html' rel=canonical>",
            ),
            (  # absolute canonical + entity-escaped query
                "https://h.example.com/a/p3.html",
                '<link rel="canonical" '
                'href="https://c.example.com/x?a=1&amp;b=2">',
            ),
            (  # stylesheet link must NOT be taken as canonical
                "https://h.example.com/a/p4.html",
                '<link rel="stylesheet" href="/css/s.css">',
            ),
        ],
    )
    p1 = got["https://h.example.com/a/p1.html"]
    assert p1["canonical_ref"] == "c1.html"
    assert p1["canonical_url"] == "https://h.example.com/a/c1.html"
    assert p1["is_self_canonical"] is False
    p2 = got["https://h.example.com/a/p2.html"]
    assert p2["canonical_url"] == "https://h.example.com/b/c2.html"
    p3 = got["https://h.example.com/a/p3.html"]
    assert p3["canonical_url"] == "https://c.example.com/x?a=1&b=2"
    p4 = got["https://h.example.com/a/p4.html"]
    assert p4["canonical_ref"] is None
    assert p4["canonical_url"] is None
    assert p4["is_self_canonical"] is None


def test_canonical_self_and_fragment_ref(spark):
    url = "https://h.example.com/self.html"
    got = _canon_rows(
        spark,
        [
            (url, f'<link rel="canonical" href="{url}">'),
            (  # pure-fragment canonical is same-document noise → NULL url
                "https://h.example.com/frag.html",
                '<link rel="canonical" href="#top">',
            ),
        ],
    )
    assert got[url]["is_self_canonical"] is True
    frag = got["https://h.example.com/frag.html"]
    assert frag["canonical_ref"] == "#top"
    assert frag["canonical_url"] is None
    assert frag["is_self_canonical"] is None


def test_robots_meta_tokens(spark):
    cases = [
        ("u1", '<meta name="robots" content="noindex, nofollow">', True, True),
        ("u2", "<meta content='NOINDEX' name=robots>", True, False),
        ("u3", '<meta name="robots" content="none">', True, True),
        ("u4", '<meta name="robots" content="all">', False, False),
        ("u5", "<p>no meta at all</p>", False, False),
        (  # 'noindexx' must not token-match noindex
            "u6",
            '<meta name="robots" content="noindexx,nofollow">',
            False,
            True,
        ),
    ]
    got = _canon_rows(spark, [(u, h) for u, h, _, _ in cases])
    for u, _, want_ni, want_nf in cases:
        assert got[u]["noindex"] is want_ni, u
        assert got[u]["nofollow"] is want_nf, u


def test_canonical_meta_scan_side_plan(spark):
    from cord19_crawler_spark.functions.html import canonical_meta

    df = spark.createDataFrame(
        [("u", "<link rel=canonical href='x'>")], "url string, html string"
    )
    plan = canonical_meta(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
