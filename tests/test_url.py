"""URL canonicalization kernel (functions/url.py): exact-output cases for
every contract clause, via one small Spark projection (the expression is
pure codegen — there is no Python reference; DuckDB replay happens in the
url_canonicalize oracle row)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_adsbx_spark.functions.url import canonicalize_url


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url", canonicalize_url("url").alias("c")
    ).collect()
    return {r["url"]: r["c"] for r in rows}


def test_contract_clauses(spark):
    cases = {
        # lowercase scheme + host
        "HTTPS://WWW.Example.COM/Path": "https://www.example.com/Path",
        # default ports drop; scheme-mismatched and non-default ports stay
        "https://h.com:443/a": "https://h.com/a",
        "http://h.com:80/a": "http://h.com/a",
        "http://h.com:443/a": "http://h.com:443/a",
        "https://h.com:8443/a": "https://h.com:8443/a",
        # trailing slash strip (root included); internal slashes untouched
        "https://h.com/a/b/": "https://h.com/a/b",
        "https://h.com/a//": "https://h.com/a",
        "https://h.com/": "https://h.com",
        "https://h.com": "https://h.com",
        # tracking strip (utm_ prefix + exact names), empties dropped,
        # remaining params sorted as k=v strings
        "https://h.com/p?utm_source=x&b=2&a=1": "https://h.com/p?a=1&b=2",
        "https://h.com/p?fbclid=z&gclid=y&ref=r&igshid=i&msclkid=m":
            "https://h.com/p",
        "https://h.com/p?z=1&&a=2": "https://h.com/p?a=2&z=1",
        # fragment dropped
        "https://h.com/p#frag": "https://h.com/p",
        "https://h.com/p?a=1#frag": "https://h.com/p?a=1",
        # everything at once
        "HTTP://H.COM:80/x/?utm_campaign=c&b=2&a=1#s": "http://h.com/x?a=1&b=2",
    }
    got = _canon(spark, list(cases))
    for raw, want in cases.items():
        assert got[raw] == want, (raw, got[raw], want)


def test_null_propagates(spark):
    df = spark.createDataFrame([(None,)], "url string")
    assert df.select(canonicalize_url("url").alias("c")).first()["c"] is None


def test_idempotent_on_canonical_forms(spark):
    urls = [
        "https://h.com/a?b=2&id=3",
        "https://h.com:8443/a",
        "http://h.com",
    ]
    once = _canon(spark, urls)
    twice = _canon(spark, list(once.values()))
    for u in urls:
        assert twice[once[u]] == once[u]


def test_plan_is_pure_codegen(spark):
    df = spark.createDataFrame([("https://h.com/a",)], "url string")
    plan = df.select(canonicalize_url("url")).queryExecution if False else None
    # no Python evaluation node: the expression compiles to JVM codegen
    explained = df.select(canonicalize_url("url"))._jdf.queryExecution().toString()
    assert "ArrowEvalPython" not in explained and "BatchEvalPython" not in explained


def test_robots_allowed_kernel_semantics(spark):
    """The robots evaluator cases the graded construction keeps
    unambiguous on purpose: first-match rule order, user-agent group
    selection past a decoy group, protocol-default allow on missing/empty
    robots, and disallow-all."""
    from etl_adsbx_spark.functions.url import robots_allowed_for_hosts

    two_group = (
        "User-agent: badbot\nDisallow: /\n\n"
        "User-agent: *\nAllow: /private/pub/\nDisallow: /private/\n"
    )
    # ORDER-SENSITIVE twin: Disallow listed before Allow — Python's
    # first-match evaluator must now reject the /private/pub/ path (the
    # case the graded construction avoids; pinned here so a swap to a
    # longest-match evaluator is a loud diff, not a silent semantic shift)
    disallow_first = "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n"
    texts = [two_group, disallow_first, "User-agent: *\nDisallow: /\n", None, "", "   \n"]
    robots = spark.createDataFrame(
        [(f"h{j}.example.com", t) for j, t in enumerate(texts)],
        "host string, robots_txt string",
    )
    rows = [
        (0, "/private/pub/1", True),
        (0, "/private/2", False),
        (0, "/public/3", True),
        (1, "/private/pub/4", False),
        (2, "/anything", False),
        (3, "/x", True),
        (4, "/x", True),
        (5, "/x", True),
    ]
    df = spark.createDataFrame(
        [(i, f"h{j}.example.com", f"https://h{j}.example.com{p}")
         for i, (j, p, _) in enumerate(rows)],
        "i int, host string, url string",
    )
    gate = robots_allowed_for_hosts(robots, "etl-adsbx-bot")
    got = {
        r["i"]: r["ok"]
        for r in df.select("i", gate("host", "url").alias("ok")).collect()
    }
    for i, (_, _, want) in enumerate(rows):
        assert got[i] is want, (i, rows[i], got[i])
    # a bot NAMED in the decoy group gets the decoy rules
    bad = robots_allowed_for_hosts(robots, "badbot")
    assert df.where(F.col("i") == 0).select(
        bad("host", "url").alias("ok")
    ).first()["ok"] is False


def test_robots_allowed_for_hosts_broadcast_dim(spark):
    """The hosts dim ships as a broadcast variable — hosts absent from
    the dim (or with blank text) allow everything, and the plan has NO
    join."""
    from etl_adsbx_spark.functions.url import robots_allowed_for_hosts

    robots = spark.createDataFrame(
        [
            ("closed.example.com", "User-agent: *\nDisallow: /\n"),
            ("mixed.example.com",
             "User-agent: *\nAllow: /private/pub/\nDisallow: /private/\n"),
            ("blank.example.com", "   \n"),
            ("nulltxt.example.com", None),
        ],
        "host string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (0, "closed.example.com", "https://closed.example.com/x", False),
            (1, "mixed.example.com", "https://mixed.example.com/private/pub/a", True),
            (2, "mixed.example.com", "https://mixed.example.com/private/b", False),
            (3, "mixed.example.com", "https://mixed.example.com/ok", True),
            (4, "blank.example.com", "https://blank.example.com/x", True),
            (5, "nulltxt.example.com", "https://nulltxt.example.com/x", True),
            (6, "unknown.example.com", "https://unknown.example.com/x", True),
        ],
        "i int, host string, url string, want boolean",
    )
    gate = robots_allowed_for_hosts(robots, "etl-adsbx-bot")
    out = urls.select("i", "want", gate("host", "url").alias("ok"))
    assert "Join" not in out._jdf.queryExecution().executedPlan().toString()
    for r in out.collect():
        assert r["ok"] is r["want"], (r["i"], r["ok"])


def test_frontier_schedule_politeness_invariant(spark):
    """The scheduler's contract: per (host, wave) at most `rate` URLs,
    slots dense in [0, rate), every URL scheduled exactly once, and the
    assignment is deterministic under repartitioning (content-derived
    order, no RNG)."""
    from pyspark.sql import functions as F

    from etl_adsbx_spark.functions.url import frontier_schedule

    rows = [(f"h{i % 5}.example.com", f"https://h{i % 5}.example.com/p/{i}",
             1 + (i % 5) % 3) for i in range(200)]
    urls = spark.createDataFrame(rows, "host string, url string, rate int")
    out = frontier_schedule(urls).collect()
    assert len(out) == 200 and len({r["url"] for r in out}) == 200
    per = {}
    for r in out:
        per.setdefault((r["host"], r["wave"]), []).append(r["slot"])
    for (h, w), slots in per.items():
        rate = 1 + int(h[1]) % 3
        assert len(slots) <= rate, (h, w, slots)
        assert sorted(slots) == list(range(len(slots)))  # dense slots
    again = {(r["url"], r["wave"], r["slot"])
             for r in frontier_schedule(urls.repartition(13)).collect()}
    assert again == {(r["url"], r["wave"], r["slot"]) for r in out}


def test_frontier_schedule_null_or_zero_rate_raises(spark):
    """A NULL / non-positive rate is a contract violation: the scheduler
    must FAIL LOUDLY (raise_error in the rate lane), never silently emit
    NULL wave/slot — an un-scheduled URL with no signal is a dropped
    fetch. Exotic rate column names resolve correctly (no string
    interpolation into F.expr)."""
    import pytest

    from etl_adsbx_spark.functions.url import frontier_schedule

    bad = spark.createDataFrame(
        [("h.example.com", "https://h.example.com/a", None),
         ("h.example.com", "https://h.example.com/b", 2)],
        "host string, url string, rate int",
    )
    with pytest.raises(Exception, match="must be >= 1"):
        frontier_schedule(bad).collect()
    zero = spark.createDataFrame(
        [("h.example.com", "https://h.example.com/a", 0)],
        "host string, url string, rate int",
    )
    with pytest.raises(Exception, match="must be >= 1"):
        frontier_schedule(zero).collect()
    # a rate column whose name needs backtick-quoting still works — the
    # schedule math is built from Column expressions, not an expr string
    odd = spark.createDataFrame(
        [("h.example.com", f"https://h.example.com/{i}", 2) for i in range(5)],
        "host string, url string, `max fetch.rate` int",
    )
    out = frontier_schedule(odd, rate_col="max fetch.rate").collect()
    assert {(r["wave"], r["slot"]) for r in out} == {
        (0, 0), (0, 1), (1, 0), (1, 1), (2, 0)
    }


def test_robots_hosts_dim_size_guard(spark):
    """The hosts-dim collect is capped: a mis-sized dim (URL-scale frame
    passed by mistake) raises with a clear message instead of OOMing the
    driver at UDF-construction time."""
    import pytest

    from etl_adsbx_spark.functions.url import (
        robots_allowed_for_hosts,
        robots_crawl_delay_for_hosts,
    )

    robots = spark.createDataFrame(
        [(f"h{i}.example.com", "User-agent: *\nDisallow: /x\n") for i in range(8)],
        "host string, robots_txt string",
    )
    with pytest.raises(ValueError, match="max_hosts"):
        robots_allowed_for_hosts(robots, max_hosts=3)
    with pytest.raises(ValueError, match="max_bytes"):
        robots_crawl_delay_for_hosts(robots, max_bytes=40)


def test_robots_crawl_delay_for_hosts(spark):
    """Crawl-delay extraction through the stdlib evaluator: the delay
    comes from the SAME group selection as can_fetch (a decoy badbot
    group's Crawl-delay must be skipped for other agents and USED for
    badbot); hosts with no file / no delay line are NULL; CPython's
    parser accepts integer delays only."""
    from pyspark.sql import functions as F

    from etl_adsbx_spark.functions.url import robots_crawl_delay_for_hosts

    robots = spark.createDataFrame(
        [
            ("decoy.example.com",
             "User-agent: badbot\nDisallow: /\nCrawl-delay: 99\n\n"
             "User-agent: *\nDisallow: /private/\nCrawl-delay: 7\n"),
            ("nodelay.example.com", "User-agent: *\nDisallow: /private/\n"),
            ("nullfile.example.com", None),
            ("floatdelay.example.com",
             "User-agent: *\nCrawl-delay: 2.5\n"),  # ignored by CPython
        ],
        "host string, robots_txt string",
    )
    hosts = spark.createDataFrame(
        [("decoy.example.com",), ("nodelay.example.com",),
         ("nullfile.example.com",), ("floatdelay.example.com",),
         ("absent.example.com",)],
        "host string",
    )
    delay = robots_crawl_delay_for_hosts(robots, "etl-adsbx-bot")
    got = {r["host"]: r["d"] for r in
           hosts.select("host", delay(F.col("host")).alias("d")).collect()}
    assert got == {
        "decoy.example.com": 7,
        "nodelay.example.com": None,
        "nullfile.example.com": None,
        "floatdelay.example.com": None,
        "absent.example.com": None,
    }
    bad = robots_crawl_delay_for_hosts(robots, "badbot")
    got99 = hosts.where(F.col("host") == "decoy.example.com").select(
        bad(F.col("host")).alias("d")
    ).first()["d"]
    assert got99 == 99


def test_surt_key(spark):
    """SURT contract: scheme dropped, host reversed comma-joined with a
    leading www label removed, default ports dropped / explicit ports
    kept, ')' authority separator, canonicalize_url's path/query
    normalization; NULL-safe. Plus the property SURT exists for: one
    domain's subtree is a CONTIGUOUS key range under plain string sort."""
    from pyspark.sql import functions as F

    from etl_adsbx_spark.functions.url import surt_key

    rows = [
        (0, "https://www.Example.COM/a", "com,example)/a"),
        (1, "http://example.com:80/a/", "com,example)/a"),
        (2, "https://sub.example.com:8443/x?b=2&a=1&utm_source=t",
         "com,example,sub:8443)/x?a=1&b=2"),
        (3, "https://www.com/x", "com,www)/x"),  # 2-label host keeps www
        (4, "http://a.b.example.org/p#frag", "org,example,b,a)/p"),
        (5, None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in rows], "i int, url string"
    )
    got = {r["i"]: r["s"] for r in
           df.select("i", surt_key("url").alias("s")).collect()}
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)

    # contiguity: every key of example.com's subtree sorts INSIDE the
    # [prefix, prefix+high) range; other .com hosts sort outside it
    urls = [
        "https://example.com/z", "https://www.example.com/a",
        "https://sub.example.com/m", "https://deep.sub.example.com/q",
        "https://examplez.com/x", "https://exampla.com/x",
        "https://example.org/x",
    ]
    udf_in = spark.createDataFrame([(u,) for u in urls], "url string")
    keys = [r["s"] for r in udf_in.select(surt_key("url").alias("s")).collect()]
    inside = sorted(k for k in keys if k.startswith("com,example)")
                    or k.startswith("com,example,"))
    all_sorted = sorted(keys)
    lo = all_sorted.index(inside[0])
    assert all_sorted[lo : lo + len(inside)] == inside  # one contiguous run


def test_parse_sitemap(spark):
    """Codegen xpath sitemap parse: clean multi-entry docs parse into
    ordered structs, an empty urlset yields an empty array, and a
    RAGGED feed (optional elements on some entries only) RAISES instead
    of silently misaligning the parallel xpath arrays."""
    import pytest
    from pyspark.sql import functions as F

    from etl_adsbx_spark.functions.url import parse_sitemap

    good = (
        '<?xml version="1.0" encoding="UTF-8"?><urlset>'
        "<url><loc>https://a.example.com/1</loc><lastmod>2026-01-01</lastmod>"
        "<changefreq>daily</changefreq><priority>0.8</priority></url>"
        "<url><loc>https://a.example.com/2</loc><lastmod>2026-01-02</lastmod>"
        "<changefreq>weekly</changefreq><priority>0.3</priority></url>"
        "</urlset>"
    )
    empty = '<?xml version="1.0"?><urlset></urlset>'
    df = spark.createDataFrame([(0, good), (1, empty)], "i int, xml string")
    got = {r["i"]: r["u"] for r in
           df.select("i", parse_sitemap("xml").alias("u")).collect()}
    assert [tuple(e) for e in got[0]] == [
        ("https://a.example.com/1", "2026-01-01", "daily", 0.8),
        ("https://a.example.com/2", "2026-01-02", "weekly", 0.3),
    ]
    assert got[1] == []
    ragged = good.replace("<lastmod>2026-01-02</lastmod>", "")
    bad = spark.createDataFrame([(ragged,)], "xml string")
    with pytest.raises(Exception, match="ragged"):
        bad.select(parse_sitemap("xml").alias("u")).collect()
