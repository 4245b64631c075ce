"""robots.txt parsing + crawl gates (operators/robots.py)."""

import pytest

from deepseek_ocr_omnidocbench_spark.operators.robots import (
    parse_robots,
    robots_allowed,
    robots_gate,
)

ROBOTS = """
# comments are ignored
User-agent: googlebot
Disallow: /private/

User-agent: *
Disallow: /admin/
Disallow: /tmp/*.pdf$
Allow: /admin/public/
Disallow:
"""


def test_parse_robots_picks_star_group():
    rules = parse_robots(ROBOTS, agent="mybot")
    assert (False, "/admin/") in rules
    assert (True, "/admin/public/") in rules
    assert all("/private/" not in p for _, p in rules)


def test_parse_robots_specific_agent_wins():
    rules = parse_robots(ROBOTS, agent="googlebot")
    assert rules == [(False, "/private/")]


def test_parse_robots_agent_match_is_one_directional():
    # RFC 9309: the group token must be a substring of OUR agent string,
    # never the reverse — a 'superbot2000' group must not capture 'bot'.
    txt = ("User-agent: superbot2000\nDisallow: /\n\n"
           "User-agent: *\nDisallow: /admin/\n")
    rules = parse_robots(txt, agent="bot")
    assert rules == [(False, "/admin/")]
    # ...but a crawler whose UA string contains the token still matches.
    assert parse_robots(txt, agent="superbot2000/1.1") == [(False, "/")]


def test_robots_allowed_longest_match_and_wildcards():
    rules = parse_robots(ROBOTS, agent="*")
    assert robots_allowed("/", rules)
    assert not robots_allowed("/admin/x", rules)
    assert robots_allowed("/admin/public/x", rules)  # longer Allow wins
    assert not robots_allowed("/tmp/a/b.pdf", rules)  # * wildcard
    assert robots_allowed("/tmp/a/b.pdf?x=1", rules)  # $ anchors at end
    assert robots_allowed("/anything", [])            # no rules -> allow


def test_parse_robots_empty_and_none():
    assert parse_robots(None) == []
    assert parse_robots("") == []
    assert robots_allowed("/x", parse_robots("User-agent: *\nDisallow:\n"))


def test_robots_gate_spark(spark):
    urls = spark.createDataFrame(
        [(1, "https://a.example/admin/secret"),
         (2, "https://a.example/admin/public/ok"),
         (3, "https://a.example/index.html"),
         (4, "https://norobots.example/anything")],
        "id long, url string")
    robots = spark.createDataFrame(
        [("a.example", ROBOTS)], "host string, robots_txt string")
    out = {r["id"]: r["robots_allow"]
           for r in robots_gate(urls, robots).collect()}
    assert out == {1: False, 2: True, 3: True, 4: True}


def test_parse_robots_never_raises_on_noise():
    import random

    rng = random.Random(9)
    fields = ["User-agent", "Disallow", "Allow", "Sitemap", "Crawl-delay",
              "garbage", ""]
    for _ in range(100):
        lines = []
        for _ in range(rng.randrange(0, 12)):
            f = rng.choice(fields)
            v = "".join(rng.choice("/*$ab:#%") for _ in range(rng.randrange(0, 8)))
            lines.append(f"{f}: {v}" if rng.random() < 0.8 else f + v)
        rules = parse_robots("\n".join(lines))
        assert isinstance(rules, list)
        assert isinstance(robots_allowed("/any/path", rules), bool)


def test_parse_sitemaps_optional_field_alignment(spark):
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        parse_sitemaps,
    )

    # entry 1 omits lastmod+priority, entry 2 has everything, entry 3
    # only changefreq: per-field array zipping would misalign these
    xml = ("<urlset>"
           "<url><loc>https://a.example/1</loc></url>"
           "<url><loc> https://a.example/2 </loc>"
           "<lastmod>2024-02-01</lastmod>"
           "<changefreq>weekly</changefreq>"
           "<priority>0.8</priority></url>"
           "<url><loc>https://a.example/3</loc>"
           "<changefreq>daily</changefreq></url>"
           "<url><lastmod>2024-01-01</lastmod></url>"  # no loc -> dropped
           "</urlset>")
    df = spark.createDataFrame([("a.example", xml)], "host string, xml string")
    rows = {r.loc: r for r in parse_sitemaps(df).collect()}
    assert set(rows) == {"https://a.example/1", "https://a.example/2",
                         "https://a.example/3"}
    r1, r2, r3 = (rows["https://a.example/%d" % i] for i in (1, 2, 3))
    assert r1.lastmod is None and r1.priority is None and r1.changefreq is None
    assert r2.lastmod == "2024-02-01" and r2.priority == 0.8
    assert r2.changefreq == "weekly"
    assert r3.changefreq == "daily" and r3.lastmod is None


def test_politeness_schedule(spark):
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        politeness_schedule,
    )

    frontier = spark.createDataFrame(
        [("a", "https://a/x", 0.9), ("a", "https://a/y", 0.5),
         ("a", "https://a/z", 0.9),  # priority tie -> url order
         ("b", "https://b/only", 0.1)],
        "host string, url string, priority double")
    out = {r.url: r for r in
           politeness_schedule(frontier, delay_s=2.0).collect()}
    assert out["https://a/x"].fetch_slot == 0   # tie won by smaller url
    assert out["https://a/z"].fetch_slot == 1
    assert out["https://a/y"].fetch_slot == 2
    assert out["https://a/y"].fetch_at_s == 4.0
    assert out["https://b/only"].fetch_slot == 0  # hosts independent
    # deterministic under repartitioning
    again = {r.url: r.fetch_slot for r in
             politeness_schedule(frontier.repartition(5), delay_s=2.0)
             .collect()}
    assert again == {u: r.fetch_slot for u, r in out.items()}


def test_recrawl_intervals(spark):
    import math

    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        revision_churn,
    )
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        recrawl_intervals,
    )

    pages = spark.createDataFrame(
        [("hot", 0, "a0"), ("hot", 100, "a1"), ("hot", 200, "a2"),
         ("cold", 0, "b"), ("cold", 100, "b"), ("cold", 200, "b"),
         ("single", 0, "c")],
        "url string, warc_ts long, text string")
    out = {r.url: r for r in recrawl_intervals(
        revision_churn(pages), target_freshness=0.8,
        min_interval_s=10.0, max_interval_s=1000.0).collect()}
    hot = out["hot"]
    assert hot.n_checks == 2 and hot.n_changed == 2
    # lambda = -ln(0.5/2.5)/100; interval = -ln(0.8)/lambda
    lam = -math.log(0.5 / 2.5) / 100.0
    want = -math.log(0.8) / lam
    assert abs(hot.recrawl_interval_s - round(max(want, 10.0), 3)) < 1e-6
    cold = out["cold"]
    assert cold.n_changed == 0
    assert cold.recrawl_interval_s == 1000.0  # lambda 0 -> max interval
    single = out["single"]
    assert single.n_checks == 0
    assert single.recrawl_interval_s == 1000.0  # no evidence -> max


def test_crawl_budget_caps_and_shares(spark):
    """Politeness cap binds the hot host; floor(share) grants the
    rest; priorities need not be normalized."""
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        crawl_budget,
    )

    hosts = spark.createDataFrame(
        [("a.example", 6.0, 10.0),    # share 600, cap 60 -> capped
         ("b.example", 3.0, 1.0),     # share 300, cap 600 -> share
         ("c.example", 1.0, 2.0)],    # share 100, cap 300 -> share
        "host string, priority double, delay_s double")
    got = {r.host: r for r in
           crawl_budget(hosts, cycle_s=600.0,
                        total_budget=1000).collect()}
    assert got["a.example"].cap == 60 and got["a.example"].quota == 60
    assert got["b.example"].quota == 300
    assert got["c.example"].quota == 100
    assert got["a.example"].share == 600.0


def test_robots_audit(spark):
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        robots_audit)

    robots = spark.createDataFrame(
        [("strict.example", "User-agent: *\nDisallow: /private\n"),
         ("open.example", "User-agent: *\nAllow: /\n")],
        ["host", "robots_txt"])
    log = spark.createDataFrame([
        ("https://strict.example/public/a",),
        ("https://strict.example/private/b",),
        ("https://strict.example/private/c",),
        ("https://open.example/anything",),
        ("https://norules.example/x",),
    ], ["url"])
    out = {r.host: r for r in robots_audit(log, robots).collect()}
    s = out["strict.example"]
    assert (s.n_fetched, s.n_violations) == (3, 2)
    assert s.violation_rate == pytest.approx(2 / 3)
    assert s.first_violation == "https://strict.example/private/b"
    assert out["open.example"].n_violations == 0
    assert out["norules.example"].n_violations == 0
