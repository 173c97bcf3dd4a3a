"""URL kernel tests — canonicalization table-driven cases (SURVEY.md §5.1)."""

import pytest
from pyspark.sql import functions as F

from cord19_crawler_spark.functions.urls import (
    canonicalize_one,
    canonicalize_url,
    extract_canonical_urls,
    host_from_canonical,
)

CASES = [
    # (raw, canonical)
    ("http://Example.COM/a", "http://example.com/a"),
    ("HTTPS://Host1.EXAMPLE.com/doc/3#sec", "https://host1.example.com/doc/3"),
    ("https://example.com:443/x", "https://example.com/x"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("https://example.com./doc/9#frag", "https://example.com/doc/9"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/p?b=2&a=1", "http://example.com/p?a=1&b=2"),
    ("http://example.com/p?b=2&a=1&a=0", "http://example.com/p?a=0&a=1&b=2"),
    ("http://example.com/p?", "http://example.com/p"),
    ("ftp://example.com/x", None),
    ("not a url", None),
    ("", None),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_canonicalize_one(raw, expected):
    assert canonicalize_one(raw) == expected


def test_canonicalize_udf_matches_python(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], "url string")
    got = [r["c"] for r in df.select(canonicalize_url("url").alias("c")).collect()]
    assert got == [e for _, e in CASES]


def test_duplicate_variants_collapse(spark):
    variants = [
        "https://host1.example.com/doc/3",
        "HTTPS://Host1.EXAMPLE.com/doc/3#x",
        "https://host1.example.com:443/doc/3",
        "https://host1.example.com./doc/3",
        "https://host1.example.com/doc/3?",
    ]
    df = spark.createDataFrame([(v,) for v in variants], "url string")
    out = df.select(canonicalize_url("url").alias("c")).distinct().collect()
    assert len(out) == 1
    assert out[0]["c"] == "https://host1.example.com/doc/3"


def test_extract_urls_order_and_trailing_punct(spark):
    df = spark.createDataFrame(
        [("see http://a.com/x. then https://B.com/y?q=1, end", ), (None,), ("no links",)],
        "text string",
    )
    rows = df.select(extract_canonical_urls("text").alias("u")).collect()
    assert rows[0]["u"] == ["http://a.com/x", "https://b.com/y?q=1"]
    assert rows[1]["u"] == []
    assert rows[2]["u"] == []


def test_url_host(spark):
    df = spark.createDataFrame([("https://host3.example.com/doc/1",)], "url string")
    h = df.select(host_from_canonical(F.col("url")).alias("h")).first()["h"]
    assert h == "host3.example.com"


def test_catalyst_fast_path_matches_python_kernel(spark):
    """canonicalize_url_sql (pure Catalyst, codegen'd) must agree with the
    general Python kernel on the simple URL grammar it supports (numeric
    ports and trailing host dots allowed; no percent-encoding)."""
    from pyspark.sql import functions as F

    from cord19_crawler_spark.functions.urls import canonicalize_url_sql

    simple = [
        "http://Example.COM/a",
        "HTTPS://Host1.EXAMPLE.com/doc/3#sec",
        "http://example.com/p?b=2&a=1",
        "http://example.com",
        "https://x.org/a/b?z=9&y=8&a=1#frag",
        # ports: scheme default strips, non-default keeps, numeric value
        # re-emits ('0443' == 443 — urlsplit semantics), frontier messy
        # grammar (':443' + uppercase host) covered
        "https://host2.example.com:443/doc/9",
        "HTTPS://HOST2.EXAMPLE.COM:443/doc/9#frag",
        "http://example.com:80/a",
        "https://example.com:80/a",
        "http://example.com:8080/a?b=2&a=1",
        "https://example.com:0443/a",
        # key-prefix hazard: raw-string sort would put "page2=x" before
        # "page=y" ('2' < '='); both paths must sort by (key, value) tuples
        "http://a.com/p?page2=x&page=y",
        # valueless param re-emits as "k=" (parse_qsl keep_blank_values)
        "http://a.com/p?flag&a=1",
        # EMPTY params are dropped entirely (parse_qsl), never a bare '='
        "http://a.com/p?a=1&&b=2",
        "http://a.com/p?a=1&",
        "http://a.com/p?&",
        # out-of-range port: both give NULL (urlsplit raises)
        "http://a.com:70000/x",
        # trailing host dots strip, also before a port
        "http://a.com./x",
        "http://a.com..:8080/x",
        # an empty port is no port; a non-numeric port, a host of dots
        # only and a non-http(s) scheme give NULL (Python: None)
        "http://a.com:/x",
        "http://./x",
        "http://a.com:8o/x",
        "ftp://a.com/x",
    ]
    df = spark.createDataFrame([(u,) for u in simple], "url string")
    both = df.select(
        canonicalize_url("url").alias("py"),
        canonicalize_url_sql(F.col("url")).alias("sql"),
    ).collect()
    for r in both:
        assert r["py"] == r["sql"], (r["py"], r["sql"])


def test_canonicalize_idempotent_property():
    """canonicalize(canonicalize(u)) == canonicalize(u) — the frontier relies
    on canonical forms being a fixed point (URLs re-extracted from fetched
    pages must not re-canonicalize differently)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    host = st.from_regex(r"[A-Za-z][A-Za-z0-9.\-]{0,20}", fullmatch=True)
    path = st.from_regex(r"(/[A-Za-z0-9._~\-]{0,8}){0,4}", fullmatch=True)
    query = st.from_regex(r"(\?([a-z]=[0-9]&){0,3}([a-z]=[0-9])?)?", fullmatch=True)
    frag = st.sampled_from(["", "#x", "#frag-1"])
    scheme = st.sampled_from(["http://", "https://", "HTTP://", "hTTps://"])
    url = st.builds(lambda s, h, p, q, f: s + h + p + q + f, scheme, host, path, query, frag)

    @given(url)
    @settings(max_examples=300, deadline=None)
    def check(u):
        c = canonicalize_one(u)
        if c is not None:
            assert canonicalize_one(c) == c

    check()


def test_url_id_stable(spark):
    df = spark.createDataFrame([("https://a.com/1",), ("https://a.com/1",)], "url string")
    ids = [r["i"] for r in df.select(F.xxhash64("url").alias("i")).collect()]
    assert ids[0] == ids[1]


def test_vectorized_canonicalize_series_matches_per_row():
    """The Arrow batch kernel must agree with canonicalize_one on EVERY
    input shape: simple, ports (default + explicit), queries, fragments,
    userinfo, trailing dots, non-http schemes, garbage, None."""
    import pandas as pd

    cases = [
        "https://a.example.com/x", "HTTP://A.EXAMPLE.COM/Y#frag",
        "https://a.example.com", "https://a.example.com:443/x",
        "http://a.example.com:80/x", "http://a.example.com:8080/x",
        "https://a.example.com/x?b=2&a=1", "https://a.example.com/x?",
        "https://user:pw@a.example.com/x", "https://a.example.com./x",
        "https://./x", "ftp://a.example.com/x", "notaurl", "", None,
        "https://a.example.com:999999/x", "https://a.example.com/percent%20x",
        "https://a.example.com:0443/x", "http://a.example.com:080/x",
        "https://a.example.com:65536/x", "https://a.example.com:0/x",
        "  https://pad.example.com/x  ", "https://a_b.example.com/x",
        "https://[::1]/x", "https://a.example.com/x#a#b",
        # WHATWG: tab/CR/LF are stripped ANYWHERE in the URL by urlsplit —
        # the batch kernel must agree (external seeds / sitemap locs)
        "http://a.com/pa\tth", "http://a\t.com/x", "http://a.com/x\r\n",
        "ht\ttp://a.com/x", "http://a.com/x?\tb=2&a=1",
        # query grammar: safe k=v, percent-encoding and odd shapes
        "http://a.com/x?b=2&a=1", "http://a.com/x?a=1",
        "http://a.com/x?a=1&a=0",            # dup keys kept, value-sorted
        "http://a.com/x?a2=b&a=b",           # tuple sort ≠ string sort
        "http://a.com/x?a=", "http://a.com/x?flag",       # blank value / no '='
        "http://a.com/x?a=%20", "http://a.com/x?a=1&",    # percent / empty part
        "http://a.com/x?=v", "http://a.com/x?a=b=c",      # empty key / stray '='
        "http://a.com/x?a+b=c", "HTTP://A.com:080/x?b=2&a=1#f",
    ]
    s = pd.Series(cases, dtype="object")
    got = list(canonicalize_url.func(s))
    want = [canonicalize_one(u) if isinstance(u, str) else None for u in cases]
    assert got == want


from hypothesis import given as _given
from hypothesis import settings as _settings
from hypothesis import strategies as _st


@_settings(max_examples=300, deadline=None)
@_given(_st.text(alphabet="htps:/.abc019?&=#-_ \t\r", min_size=0, max_size=40))
def test_vectorized_canonicalize_property(raw):
    import pandas as pd

    url = "https://" + raw
    got = canonicalize_url.func(pd.Series([url, raw], dtype="object"))
    assert list(got) == [canonicalize_one(url), canonicalize_one(raw)]


def test_catalyst_fast_path_query_battery(spark):
    """Combinatorial battery over the SAFE query grammar (the grammar
    canonicalize_url_sql supports: plain keys/values, valueless params,
    empty params, duplicate and prefix keys): the Catalyst path must agree
    with the exact Python kernel on every combination — one Spark job."""
    import itertools

    from pyspark.sql import functions as F

    from cord19_crawler_spark.functions.urls import (
        canonicalize_one,
        canonicalize_url_sql,
    )

    parts = ["a=1", "a=2", "a2=x", "a=", "flag", "", "b.c-d~_=v2", "=v"]
    queries = {""}
    for n in (1, 2, 3):
        for combo in itertools.product(parts, repeat=n):
            queries.add("&".join(combo))
    urls = sorted(f"http://h.example.com/p?{q}" for q in queries)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select("url", canonicalize_url_sql(F.col("url")).alias("c"))
        .orderBy("url")
        .collect()
    ]
    want = [canonicalize_one(u) for u in urls]
    diffs = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert not diffs, diffs[:5]


@_settings(max_examples=300, deadline=None)
@_given(_st.text(alphabet="ab=&%+;2._-~", min_size=0, max_size=24))
def test_vectorized_canonicalize_query_property(q):
    """PROPERTY focused on the query grammar: the batch kernel must agree
    with canonicalize_one for ANY query string shape (safe-sortable,
    percent-encoded, missing '=', duplicate keys, stray separators)."""
    import pandas as pd

    url = "http://h.example.com/p?" + q
    got = list(canonicalize_url.func(pd.Series([url], dtype="object")))
    assert got == [canonicalize_one(url)]


def test_surt_key_transform(spark):
    import pyspark.sql.functions as F

    from cord19_crawler_spark.functions.urls import surt_key

    cases = [
        ("https://www.example.com/a/b", "com,example)/a/b"),
        ("https://sub.shop.example.com:443/x?a=1", "com,example,shop,sub)/x?a=1"),
        ("http://example.org:80/", "org,example)/"),
        ("https://example.net", "net,example)/"),
        ("nonsense", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["s"] for r in df.select(surt_key(F.col("url")).alias("s")).collect()]
    assert got == [e for _, e in cases]


def test_surt_sort_clusters_domains(spark):
    import pyspark.sql.functions as F

    from cord19_crawler_spark.functions.urls import surt_key

    urls = [
        "https://a.example.com/1",
        "https://zzz.other.org/x",
        "https://example.com/2",
        "https://b.example.com/3",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    surts = sorted(
        r["s"] for r in df.select(surt_key(F.col("url")).alias("s")).collect()
    )
    # all example.com variants are contiguous under the sorted order
    ex = [s for s in surts if s.startswith("com,example")]
    i = surts.index(ex[0])
    assert surts[i : i + len(ex)] == ex and len(ex) == 3


def test_surt_key_port_semantics(spark):
    import pyspark.sql.functions as F

    from cord19_crawler_spark.functions.urls import surt_key

    cases = [
        # non-default port survives in SURT position (not glued to the
        # reversed last label)
        ("https://example.com:8080/b", "com,example:8080)/b"),
        # default-port strip is scheme-aware: 443 is NOT default for http
        ("http://h.com:443/x", "com,h:443)/x"),
        ("http://h.com:80/x", "com,h)/x"),
        ("https://h.com:443/x", "com,h)/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["s"] for r in df.select(surt_key(F.col("url")).alias("s")).collect()]
    assert got == [e for _, e in cases]
