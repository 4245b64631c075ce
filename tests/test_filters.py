"""Document/page filter predicates (F3-F9)."""

from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.operators import filters as FL
from deepseek_ocr_omnidocbench_spark.operators.textstats import seo_spam_cols


def col_eval(spark, col, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r["out"] for r in df.select(col.alias("out")).collect()]


def test_is_form_pdf(spark):
    rows = [(b"%PDF-1.4 ... /AcroForm <<...>>",),
            (b"%PDF-1.4 plain document",),
            (b"<html>not a pdf /AcroForm</html>",)]
    got = col_eval(spark, FL.is_form_pdf(F.col("blob")), rows, ["blob"])
    assert got == [True, False, False]


def test_language_keep(spark):
    rows = [("en",), ("zh",), (None,)]
    got = col_eval(spark, FL.language_keep(F.col("lang"), keep=("en", None)),
                   rows, ["lang"])
    assert got == [True, False, True]


def test_seo_spam_flag(spark):
    spam = " ".join(["download free ebook pdf"] * 30)
    ham = "a thoughtful essay about distributed systems " * 30
    got = col_eval(spark, seo_spam_cols(F.col("t"))["is_spam"],
                   [(spam,), (ham,)], ["t"])
    assert got == [True, False]


def test_runaway_generation(spark):
    runaway = "intro " + "na" * 200
    normal = "a perfectly ordinary sentence with an ordinary ending."
    got = col_eval(spark, FL.runaway_generation(F.col("t")),
                   [(runaway,), (normal,)], ["t"])
    assert got == [True, False]


def test_runaway_generation_tail_slice(spark):
    """The one-tail-slice form equals the six whole-text substrings it
    replaced and a code-point reference, for every length 0-200 of
    pure and broken repeats with ASCII, non-ASCII and supplementary
    units, so the length guards hit span+g-1 and span+g exactly."""
    def old_form(text):
        checks = []
        for g in (1, 2, 3):
            span = g * 30
            checks.append((F.length(text) >= span + g)
                          & (F.substring(text, -span, span)
                             == F.substring(text, -(span + g), span)))
        return checks[0] | checks[1] | checks[2]

    def reference(t):
        n = len(t)
        return any(n >= 31 * g and t[n - 30 * g:] == t[n - 31 * g:n - g]
                   for g in (1, 2, 3))

    units = ["a", "ab", "xyz", "é", "数据", "😀", "a😀", "é数😀"]
    texts = [None]
    for u in units:
        rep = u * 200
        for n in range(0, 201):
            tail = rep[len(rep) - n:] if n else ""
            texts += [tail, "Z" + tail, tail[:n // 2] + "Q" + tail[n // 2 + 1:]]
    rows = spark.createDataFrame([(t,) for t in texts], "t string").select(
        "t", FL.runaway_generation(F.col("t")).alias("new"),
        old_form(F.col("t")).alias("old")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["new"] == r["old"], r["t"]
        if r["t"] is not None:
            assert r["new"] == reference(r["t"]), r["t"]
    assert {True, False} <= {r["new"] for r in rows}


def test_canonical_url_folding(spark):
    """Scheme/host case folding, default ports, www, fragments, tracking
    params, param order, trailing slashes, bare hosts."""
    from pyspark.sql import functions as F

    from deepseek_ocr_omnidocbench_spark.operators.filters import canonical_url

    cases = [
        ("HTTP://WWW.Example.com:80/a/b/?utm_source=x&q=1&a=2#frag",
         "http://example.com/a/b?a=2&q=1"),
        ("http://example.com/a/b?a=2&q=1", "http://example.com/a/b?a=2&q=1"),
        ("https://example.com./a/b/c/", "https://example.com/a/b/c"),
        ("example.org/path", "http://example.org/path"),
        ("https://site.com", "https://site.com/"),
        ("https://site.com/?fbclid=abc&gclid=1&ref=tw", "https://site.com/"),
        ("https://host.com:443/x", "https://host.com/x"),
        ("https://host.com:8080/x", "https://host.com:8080/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    for (url, want), g in zip(cases, got):
        assert g == want, url


def test_url_dedup_groups(spark):
    from deepseek_ocr_omnidocbench_spark.operators.filters import url_dedup

    df = spark.createDataFrame(
        [("https://www.a.com/p/?utm_source=t",),
         ("https://a.com/p",),
         ("https://b.com/q",)], ["url"])
    out = url_dedup(df).collect()
    groups = {r["url"]: (r["group_size"], r["is_canonical"]) for r in out}
    assert groups["https://a.com/p"] == (2, True)
    assert groups["https://www.a.com/p/?utm_source=t"] == (2, False)
    assert groups["https://b.com/q"] == (1, True)


def test_url_filter_cols(spark):
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        url_filter_cols,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, "https://news.example.com/story/1"),          # pass
        (2, "https://badsite.example/page"),               # blocked domain
        (3, "https://cdn.badsite.example/x"),              # blocked subdomain
        (4, "https://ok.example.com/win-casino-now"),      # keyword
        (5, "https://ok.example.com/photo.JPG?s=1"),       # extension
        (6, "https://notbadsite.example.com/a"),           # NOT a subdomain
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    c = url_filter_cols(F.col("url"))
    out = {r["id"]: r for r in df.select(
        "id", *[c[k].alias(k) for k in
                ("blocked_domain", "blocked_keyword", "nontext_ext",
                 "url_pass")]).collect()}
    assert out[1]["url_pass"] and out[6]["url_pass"]
    assert out[2]["blocked_domain"] and out[3]["blocked_domain"]
    assert not out[6]["blocked_domain"]
    assert out[4]["blocked_keyword"] and out[5]["nontext_ext"]
    for i in (2, 3, 4, 5):
        assert not out[i]["url_pass"]


def test_domain_quota_sample(spark):
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        domain_quota_sample,
    )

    rows = [(i, "https://%s.org/p/%d" % ("big" if i < 30 else "small", i))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_quota_sample(df, max_per_domain=10).collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r["domain"], []).append(r)
    assert sum(r["keep"] for r in by_dom["big.org"]) == 10
    assert sum(r["keep"] for r in by_dom["small.org"]) == 10  # all 10 fit
    # ranks are a permutation 1..n per domain and deterministic
    ranks = sorted(r["domain_rank"] for r in by_dom["big.org"])
    assert ranks == list(range(1, 31))
    again = domain_quota_sample(df, max_per_domain=10).collect()
    assert sorted((r["doc_id"], r["domain_rank"]) for r in again) == \
        sorted((r["doc_id"], r["domain_rank"]) for r in out)


def test_revision_churn(spark):
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        revision_churn,
    )

    pages = spark.createDataFrame(
        [("u", 1, "hello world"), ("u", 2, "hello brave world"),
         ("u", 3, "hello brave world"),  # unchanged refetch
         ("v", 1, "only"),
         ("w", 1, ""), ("w", 2, "")],   # empty both sides
        "url string, warc_ts long, text string")
    out = {(r.url, r.warc_ts): r for r in revision_churn(pages).collect()}
    first = out[("u", 1)]
    assert first.churn is None and first.churn_ratio is None
    assert first.prev_ts is None
    second = out[("u", 2)]
    assert second.churn == 6 and second.prev_ts == 1  # "brave " inserted
    assert second.churn_ratio == round(6 / 17, 6)
    third = out[("u", 3)]
    assert third.churn == 0 and third.churn_ratio == 0.0
    assert out[("v", 1)].churn is None
    w2 = out[("w", 2)]
    assert w2.churn == 0 and w2.churn_ratio == 0.0


def test_url_template_masking(spark):
    """Hex ids, digit runs and query values each mask independently;
    the host never leaks into the pattern."""
    urls = [
        ("https://a.example/cat2/item-17-289.html?page=3",),
        ("https://a.example/id/0123456789abcdef0123456789abcdef.html",),
        ("https://a.example/static/about.html",),
        ("https://a.example/p?q=shoes&page=12",),
    ]
    df = spark.createDataFrame(urls, ["url"])
    c = FL.url_template_cols(F.col("url"))
    got = [r.p for r in
           df.select(c["pattern"].alias("p")).collect()]
    assert got == [
        "/cat{n}/item-{n}-{n}.html?page={v}",
        "/id/{h}.html",
        "/static/about.html",
        "/p?q={v}&page={v}",
    ]


def test_url_template_stats_topk_and_counts(spark):
    rows = [(f"https://h.example/item-{i}.html",) for i in range(7)] + \
        [("https://h.example/about.html",),
         ("https://other.example/x-1.html",)]
    df = spark.createDataFrame(rows, ["url"])
    out = {(r.host, r.pattern): (r.n_urls, r.rank)
           for r in FL.url_template_stats(df, top_k=2).collect()}
    assert out[("h.example", "/item-{n}.html")] == (7, 1)
    assert out[("h.example", "/about.html")] == (1, 2)
    assert out[("other.example", "/x-{n}.html")] == (1, 1)


def test_snapshot_delta_categories(spark):
    """Every category counted once per host; urls in neither overlap
    state are never double-counted."""
    a = spark.createDataFrame(
        [("https://h.example/1", "same"),
         ("https://h.example/2", "old"),
         ("https://h.example/3", "gone"),
         ("https://g.example/1", "x")],
        ["url", "text"])
    b = spark.createDataFrame(
        [("https://h.example/1", "same"),      # unchanged
         ("https://h.example/2", "new"),       # changed
         ("https://h.example/4", "fresh"),     # added
         ("https://g.example/1", "x")],
        ["url", "text"])
    got = {r.host: r for r in FL.snapshot_delta(a, b).collect()}
    h = got["h.example"]
    assert (h.n_added, h.n_removed, h.n_changed, h.n_unchanged) \
        == (1, 1, 1, 1)
    g = got["g.example"]
    assert (g.n_added, g.n_removed, g.n_changed, g.n_unchanged) \
        == (0, 0, 0, 1)


def test_luhn_card_scan(spark):
    from deepseek_ocr_omnidocbench_spark.operators.filters import card_scan

    rows = [
        # classic valid test number (Visa test PAN)
        (1, "pay with 4111111111111111 now"),
        # same digits +1: invalid checksum
        (2, "ref 4111111111111112 order"),
        # 12 digits: not a candidate at all
        (3, "id 411111111111"),
        (4, "no numbers here"),
        # two candidates, one valid (Amex test PAN 378282246310005)
        (5, "378282246310005 and 1234567890123456"),
    ]
    out = {r.doc_id: r for r in card_scan(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert (out[1].n_candidates, out[1].n_luhn_valid, out[1].has_card) \
        == (1, 1, True)
    assert (out[2].n_candidates, out[2].n_luhn_valid) == (1, 0)
    assert out[3].n_candidates == 0
    assert out[4].has_card is False
    assert (out[5].n_candidates, out[5].n_luhn_valid) == (2, 1)


def test_luhn_19_digit_and_boundary(spark):
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        card_scan, luhn_total)
    from pyspark.sql import functions as F

    # 19-digit: construct the check digit with the shifted fold, then
    # verify the full number passes the plain fold
    base = "123456789012345678"
    df = spark.createDataFrame([(base,)], ["d"])
    t = df.select((F.lit(10) - luhn_total(F.col("d"), shift=1) % 10) % 10)
    check = t.collect()[0][0]
    full = base + str(check)
    rows = [(1, f"x {full} y"),
            # 20 digits: no \\b-delimited 13-19 run matches inside
            (2, "x 12345678901234567890 y")]
    out = {r.doc_id: r for r in card_scan(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert (out[1].n_candidates, out[1].n_luhn_valid) == (1, 1)
    assert out[2].n_candidates == 0


def test_soft404_scan(spark):
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        soft404_scan)

    long_pad = "real article content with many words. " * 30
    rows = [
        (1, "Error 404 - Page Not Found"),              # short + 2 hits
        (2, "This domain for sale. Coming soon."),      # short + 2 hits
        (3, long_pad),                                  # clean long prose
        # one phrase on a LONG page: not enough alone
        (4, long_pad + " error 404 appeared once in a quoted log."),
        # two distinct phrases on a long page: flagged
        (5, long_pad + " page not found ... has been removed."),
        (6, "short but clean note"),                    # short, no hits
    ]
    out = {r.doc_id: r for r in soft404_scan(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].is_soft404 is True and out[1].n_soft404_hits == 2
    assert out[2].is_soft404 is True
    assert out[3].is_soft404 is False
    assert out[4].is_soft404 is False and out[4].n_soft404_hits == 1
    assert out[5].is_soft404 is True
    assert out[6].is_soft404 is False


def _url_scan(spark, rows, cols_of):
    urls = spark.createDataFrame(rows, ["url"])
    cols = cols_of(F.col("url"))
    return {r.url: r for r in urls.select(
        "url", *[v.alias(k) for k, v in cols.items()]).collect()}


def test_crawl_trap_scan(spark):
    rows = [
        ("https://a.com/x/y/z",),                     # clean
        ("https://a.com/a/b/a/b/a/c",),               # repeating loop
        ("https://a.com/2024/01/15/2023/02/x",),      # calendar space
        ("https://a.com/p?PHPSESSID=deadbeef",),      # session id
        ("https://a.com/" + "/".join("abcdefghij"),),  # depth 10
    ]
    out = _url_scan(spark, rows, FL.crawl_trap_cols)
    assert out[rows[0][0]].is_trap is False
    loop = out[rows[1][0]]
    assert loop.n_dup_segments == 3 and loop.is_trap is True
    cal = out[rows[2][0]]
    assert cal.n_numeric_segs == 5 and cal.is_trap is True
    assert out[rows[3][0]].has_session_id is True
    assert out[rows[4][0]].path_depth == 10
    assert out[rows[4][0]].is_trap is True


def test_host_feature_scan(spark):
    rows = [
        ("https://www.example.com/x",),
        ("https://a.b.c.d.example.com/x",),       # 4 subdomains
        ("https://xn--bcher-kva.example/x",),     # punycode
        ("https://192.168.10.1/x",),              # ip host
        ("https://abcdefghijklmnopqrstuvwxyz123.example.com/x",),
        ("https://shop123456.example.com/x",),    # digits < 30%
    ]
    out = _url_scan(spark, rows, FL.host_feature_cols)
    # url_host strips www. -> plain registrable pair
    assert out[rows[0][0]].host_suspect is False
    assert out[rows[1][0]].n_subdomains == 4
    assert out[rows[1][0]].host_suspect is True
    assert out[rows[2][0]].has_punycode is True
    assert out[rows[3][0]].is_ip_host is True
    assert out[rows[4][0]].long_label is True
    s = out[rows[5][0]]
    assert s.digit_frac_x1k < 300 and s.host_suspect is False
