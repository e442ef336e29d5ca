"""robots.txt consent filtering (sources/robots.py): RFC 9309 parse and
match semantics, fixture parity, the Spark filter path, never-raise."""

import pytest

from fixtures.gen_robots import ensure_robots
from htmld_spark.pipeline.session import get_spark
from htmld_spark.sources.robots import (
    _pattern_matches,
    parse_robots,
    robots_allowed,
    rules_for_agent,
    url_path,
)


@pytest.fixture(scope="module")
def spark():
    s = get_spark(master="local[4]", app_name="pytest_robots")
    yield s
    s.stop()


def test_rfc9309_semantics():
    txt = b"""User-agent: GoodBot
Disallow: /private/
Allow: /private/ok/

User-agent: *
Disallow: /tmp/*
Allow: /tmp/keep$
Disallow: /exact$

User-agent: aibot
User-agent: otherbot
Disallow: /
"""
    g = parse_robots(txt)
    good = rules_for_agent(g, "GoodBot/1.0")
    assert not robots_allowed(good, "/private/x")
    assert robots_allowed(good, "/private/ok/y")  # longer Allow wins
    assert robots_allowed(good, "/tmp/x")  # its group only, not '*'
    star = rules_for_agent(g, "SomeCrawler")
    assert not robots_allowed(star, "/tmp/file")
    assert robots_allowed(star, "/tmp/keep")
    assert not robots_allowed(star, "/exact")
    assert robots_allowed(star, "/exact/sub")  # $ anchor
    for agent in ("MegaAIBot", "otherbot/2"):
        assert not robots_allowed(rules_for_agent(g, agent), "/x")
    # longest agent token wins over '*' and shorter tokens
    g2 = parse_robots(b"User-agent: bot\nDisallow: /a\n"
                      b"User-agent: bigbot\nDisallow: /b\n"
                      b"User-agent: *\nDisallow: /c\n")
    big = rules_for_agent(g2, "bigbot/1")
    assert not robots_allowed(big, "/b") and robots_allowed(big, "/a")
    # wildcard backtracking with the $ anchor
    assert _pattern_matches("/a*b$", "/abzb")
    assert not _pattern_matches("/a*b$", "/abz")
    # empty Disallow matches nothing; no rules -> allowed
    assert robots_allowed([(False, "")], "/x")
    assert robots_allowed([], "/x")


def test_directives_semantics():
    from htmld_spark.sources.robots import parse_robots_directives as pd

    txt = (
        b"Sitemap: https://h/s1.xml\n"
        b"User-agent: bot\nCrawl-delay: 4\nDisallow: /x\n"
        b"User-agent: *\nCrawl-delay: 1\n"
        b"sitemap: https://h/s2.xml\n"
    )
    # own group beats '*'; sitemaps are file-wide, document order
    assert pd(txt, "MyBotCrawler") == (4.0, ["https://h/s1.xml", "https://h/s2.xml"])
    assert pd(txt, "other") == (1.0, ["https://h/s1.xml", "https://h/s2.xml"])
    # invalid/negative in the chosen group: None, NO fallback to '*'
    bad = b"User-agent: bot\nCrawl-delay: soon\nCrawl-delay: -2\nUser-agent: *\nCrawl-delay: 9\n"
    assert pd(bad, "bot") == (None, [])
    assert pd(bad, "zzz") == (9.0, [])
    # split groups for the same token merge to the MINIMUM
    two = b"User-agent: bot\nCrawl-delay: 8\nDisallow: /a\n\nUser-agent: bot\nCrawl-delay: 3\n"
    assert pd(two, "bot") == (3.0, [])
    # shared agent list: both tokens get the group's delay
    shared = b"User-agent: a\nUser-agent: b\nCrawl-delay: 6\n"
    assert pd(shared, "a") == (6.0, []) and pd(shared, "b") == (6.0, [])
    # no directives at all
    assert pd(b"User-agent: *\nDisallow:\n", "bot") == (None, [])


def test_directives_never_raise():
    from htmld_spark.sources.robots import parse_robots_directives as pd

    for bad in (None, 5, b"", b"\x00\xff" * 200, "text",
                b"Crawl-delay: 3\n",  # before any user-agent: ignored
                b"Sitemap:\n"):       # empty sitemap value: skipped
        d, s = pd(bad, "bot")
        assert d is None and s == []


def test_spark_directives_df_agent_and_star_groups(spark):
    """robots_directives_df: one agent-specific and one '*' group — the
    agent's own group wins for it, every other agent falls back to '*',
    and sitemaps are file-wide for both."""
    from htmld_spark.sources.robots import robots_directives_df

    txt = (
        b"User-agent: aibot\nCrawl-delay: 5\nDisallow: /p\n\n"
        b"User-agent: *\nCrawl-delay: 2\n"
        b"Sitemap: https://h.example/sitemap.xml\n"
    )
    robots = spark.createDataFrame(
        [("h.example", txt), ("bare.example", None)],
        "host string, robots binary",
    )
    maps = ["https://h.example/sitemap.xml"]
    for agent, delay in (("aibot", 5.0), ("otherbot", 2.0)):
        out = robots_directives_df(robots, agent=agent)
        assert out.schema.simpleString() == (
            "struct<host:string,crawl_delay:double,sitemaps:array<string>>"
        )
        got = {r.host: (r.crawl_delay, r.sitemaps) for r in out.collect()}
        assert got == {"h.example": (delay, maps), "bare.example": (None, [])}


def test_never_raises_and_url_path():
    for bad in (None, 5, b"", b"\x00\xff" * 200, "text", b"Allow: /orphan"):
        assert isinstance(parse_robots(bad), list)
    assert url_path("https://h.example/a/b?q=1#frag") == "/a/b?q=1"
    assert url_path("https://h.example") == "/"
    assert url_path("h.example/x") == "/x"


def test_spark_filter_matches_fixture(spark):
    """Kept set == the fixture's by-construction allowed set, one
    MapInArrow, no row-UDFs; hosts without a robots row pass."""
    import pyarrow.parquet as pq

    from htmld_spark.sources.robots import robots_filter

    rp, ep = ensure_robots()
    exp = pq.read_table(ep).to_pylist()
    pages = spark.createDataFrame([(r["url"],) for r in exp], "url string")
    robots = spark.read.parquet(rp)
    out = robots_filter(pages, robots, agent="aibot")
    kept = {r.url for r in out.collect()}
    assert kept == {r["url"] for r in exp if r["allowed"]}
    # plan from an un-executed copy: a collected AQE plan's toString
    # carries Final AND Initial sections, double-counting nodes.
    # r7 shape (ADVICE r06): the verdict MapInArrow lives BEHIND the lazy
    # localCheckpoint of the blocked-url frame (Scan ExistingRDD), so the
    # final plan is a pure anti-join — the html column never reaches the
    # Arrow boundary and the slim branch executes exactly once.
    p = (
        robots_filter(pages, robots, agent="aibot")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in p and "Scan ExistingRDD" in p
    assert "MapInArrow" not in p and "BatchEvalPython" not in p
    # a permissive agent keeps the aibot-opted-out hosts
    lax = {r.url for r in robots_filter(pages, robots, agent="plainbot").collect()}
    assert all(u in lax for u in kept)
    assert any(".example/article/" in u for u in lax - kept)


def test_url_path_query_without_slash_and_null_url(spark):
    """ADVICE r06: a url with a query but no path slash matches as
    '/?query' (not '/'), and NULL-url rows PASS THROUGH the filter
    explicitly rather than being silently dropped by a null join key."""
    from htmld_spark.sources.robots import robots_filter

    assert url_path("https://h.example?q=x") == "/?q=x"
    assert url_path("https://h.example?q=x#frag") == "/?q=x"
    assert url_path("https://h.example#frag") == "/"
    # Disallow: /?q= must now block the slashless-query url
    rules = rules_for_agent(parse_robots(b"User-agent: *\nDisallow: /?q="), "bot")
    assert not robots_allowed(rules, url_path("https://h.example?q=x"))
    pages = spark.createDataFrame(
        [("https://blocked.example?q=x",), ("https://blocked.example/ok",), (None,)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("blocked.example", b"User-agent: *\nDisallow: /?q=")],
        "host string, robots binary",
    )
    kept = {r.url for r in robots_filter(pages, robots).collect()}
    assert kept == {"https://blocked.example/ok", None}
