"""Document/page filters (SURVEY §2.2 F3-F9) — the olmocr pre-extraction
and post-extraction guards, re-expressed as Column predicates: F3
form-PDF drop, F4 language keep and F9 runaway generation, then the
crawl-frontier layers (canonical URLs, PII, URL hygiene, revisions,
meta robots, soft 404s, crawl traps, host features).  The F5 SEO-spam
verdict is ``textstats.seo_spam_cols`` and the F8 fallback-rate cut sits
in ``assemble.assemble_documents``.  F6 (the alpha-ratio "likely
scanned" guard) is not implemented: no pipeline routes pages to OCR.

All predicates are native expressions except the PDF form-field sniff
(regex over binary needs a decode; still a Column chain).  Each filter
returns a boolean Column so pipelines compose them with plain
``.where`` — Catalyst pushes them into the scan where possible.

References: olmocr/olmocr/filter/filter.py (form fields :29-33, language
:101-105), generate_ocr_outputs.py:552-558 (repeat skip).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import substr_count, substr_count_oracle_sql

RUNAWAY_MAX_REPEATS = 30  # the bench BaselineTest's cap (tests.py:905-918)


def is_form_pdf(blob: Column) -> Column:
    """F3: PDFs carrying interactive form fields (/AcroForm dict).
    The reference asks pypdf for get_fields(); the dictionary name in the
    raw bytes is the same signal."""
    head = F.decode(F.substring(blob, 1, 4), "ISO-8859-1")
    body = F.decode(blob, "ISO-8859-1")
    return (head == "%PDF") & body.contains("/AcroForm")


def language_keep(lang: Column, keep=("en", None)) -> Column:
    """F4: keep english/undetected documents (filter.py:101-105); our
    input carries ``lang`` so this is a plain prunable predicate."""
    vals = [v for v in keep if v is not None]
    c = lang.isin(vals)
    if None in keep:
        c = c | lang.isNull()
    return c


def runaway_generation(text: Column) -> Column:
    """F9/R2: trailing n-gram repetition beyond the cap marks runaway
    output (generate_ocr_outputs.py:552-558 drops pages missing EOS; the
    bench BaselineTest caps trailing repeats at ``RUNAWAY_MAX_REPEATS``).

    Native approximation of the RepeatDetector for gram=1..3: compare the
    tail against itself shifted by the gram size.  The last
    ``3 * RUNAWAY_MAX_REPEATS + 3`` chars are sliced once and bound with
    length(text) as one struct argument of a single-element transform():
    a negative-position substring walks the whole string, and six of
    them over a megabyte document were six walks."""
    def check(s: Column) -> Column:
        out = None
        for g in (1, 2, 3):
            span = g * RUNAWAY_MAX_REPEATS
            same = (F.substring(s["tail"], -span, span)
                    == F.substring(s["tail"], -(span + g), span))
            c = (s["n"] >= span + g) & same
            out = c if out is None else (out | c)
        return out

    w = 3 * RUNAWAY_MAX_REPEATS + 3
    bound = F.struct(F.length(text).alias("n"),
                     F.substring(text, -w, w).alias("tail"))
    return F.element_at(F.transform(F.array(bound), check), 1)


def page_quality_keep(text: Column, is_spam: Column) -> Column:
    """Composite pre-train keep-predicate: not spam, not runaway.
    ``is_spam`` is the text's SEO-spam verdict (``seo_spam_cols``'
    ``is_spam``, or the documents stage's, decided from its page counts)."""
    return ~is_spam & ~runaway_generation(text)


def canonical_url(url: Column) -> Column:
    """Canonical form of a crawl URL for URL-level dedup — all flat
    string expressions (SQL-mirrorable):

    - scheme + host lowercased, default ports dropped, trailing host dot
      and leading ``www.`` stripped
    - fragment removed
    - tracking params (utm_*, fbclid, gclid, ref) dropped; surviving
      query params sorted so parameter order never splits a group
    - trailing slash on a bare path removed
    """
    u = F.trim(url)
    frag = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(frag, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r"\.$", "")
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", "$1"))
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="))
    qnorm = F.array_join(F.array_sort(params), "&")
    return F.concat(
        F.when(scheme == "", F.lit("http")).otherwise(scheme),
        F.lit("://"), host, path,
        F.when(F.length(qnorm) > 0, F.concat(F.lit("?"), qnorm))
        .otherwise(F.lit("")))


def url_dedup(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-level exact dedup on the canonical form: one shuffle on the
    canonical key, min-url survivor (the analog of content-hash exact dedup for the
    crawl frontier — dedupe BEFORE fetching/extracting at 100 TB)."""
    from pyspark.sql import Window

    w = Window.partitionBy("canonical_url")
    return (
        pages.select(url_col, canonical_url(F.col(url_col)).alias("canonical_url"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical",
                    F.col(url_col) == F.min(url_col).over(w))
    )


# ---- PII scrubbing (beyond the reference: standard corpus-curation
# ---- pass, cf. Dolma/FineWeb pipelines) --------------------------------

# Patterns are deliberately RE2-compatible (no backrefs/lookaround) so
# the DuckDB oracle runs the IDENTICAL regex; all are also valid Java
# regexes with the same semantics.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b",
}


def pii_cols(text: Column) -> dict[str, Column]:
    """Per-kind match counts plus the scrubbed text (every match
    replaced by a typed sentinel, applied in the fixed PII_PATTERNS
    order).  Pure Columns — at 100 TB this is a free rider on whatever
    scan already touches the text."""
    out: dict[str, Column] = {}
    scrubbed = text
    for kind, pat in PII_PATTERNS.items():
        out[f"n_{kind}"] = F.regexp_count(text, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    out["scrubbed_text"] = scrubbed
    return out


def pii_scrub(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    cols = pii_cols(F.col(text_col))
    return docs.select(id_col, *[v.alias(k) for k, v in cols.items()])


# ---- crawl-frontier URL hygiene (FineWeb-style URL filtering) ----------

# Literal blocklists/patterns so the DuckDB oracle evaluates identical
# expressions.  Real deployments swap in the full UT1/adult lists; the
# mechanism (suffix match + keyword + extension gates) is what scales.
URL_BLOCK_DOMAINS = [
    "badsite.example", "spam.example", "malware.example",
]
URL_BLOCK_KEYWORDS = r"(casino|viagra|xxx|porn|escort)"
URL_NONTEXT_EXT = (r"\.(jpe?g|png|gif|webp|bmp|tiff?|mp[34]|avi|mkv|mov|"
                   r"wav|flac|zip|rar|7z|tar|gz|bz2|exe|dmg|iso|css|js|"
                   r"ico|svg|woff2?|ttf|pdf)([?#].*)?$")


def url_host(url: Column) -> Column:
    return F.lower(F.regexp_extract(
        url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)", 1))


def url_filter_cols(url: Column) -> dict[str, Column]:
    """Per-rule URL gates, all flat string expressions (SQL-mirrorable):

    - ``blocked_domain``  host equals or is a subdomain of a blocklisted
      registrable domain
    - ``blocked_keyword`` spam/adult keyword anywhere in the lowered url
    - ``nontext_ext``     path ends in a non-text media/bundle extension
    - ``url_pass``        conjunction of the negations

    Runs BEFORE fetch/extraction at crawl scale — a pure-Column pass
    over the frontier; no shuffle, fully pushdown-friendly."""
    host = url_host(url)
    lurl = F.lower(url)
    blocked_domain = F.exists(
        F.array(*[F.lit(d) for d in URL_BLOCK_DOMAINS]),
        lambda d: (host == d) | host.endswith(F.concat(F.lit("."), d)))
    blocked_keyword = lurl.rlike(URL_BLOCK_KEYWORDS)
    nontext_ext = lurl.rlike(URL_NONTEXT_EXT)
    return {
        "host": host,
        "blocked_domain": blocked_domain,
        "blocked_keyword": blocked_keyword,
        "nontext_ext": nontext_ext,
        "url_pass": ~blocked_domain & ~blocked_keyword & ~nontext_ext,
    }


def url_template_cols(url: Column) -> dict[str, Column]:
    """Mask the volatile id segments of a url -> its template pattern:

    - long hex runs (>= 8 chars: content hashes, uuids) -> ``{h}``
    - digit runs -> ``{n}``
    - query-parameter values (``=...`` up to the next ``&``) -> ``{v}``

    ``https://h.example/cat2/item-17-289.html?page=3`` becomes
    ``/cat{n}/item-{n}-{n}.html?page={v}``.  Hex masks first (digit
    runs are a subset of hex); the query-value rule is anchored on the
    ``=`` itself so no capture backreference is needed (Java ``$1`` vs
    RE2 ``\\1`` would split the engines).  All flat regexp_replace
    chains — SQL-mirrorable, zero shuffle."""
    path = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    p = F.regexp_replace(path, r"[0-9a-f]{8,}", "{h}")
    p = F.regexp_replace(p, r"[0-9]+", "{n}")
    p = F.regexp_replace(p, r"=[^&]*", "={v}")
    return {"host": url_host(url), "pattern": p}


def url_template_stats(docs: DataFrame, url_col: str = "url",
                       top_k: int = 5) -> DataFrame:
    """URL template mining -> (host, pattern, n_urls, rank): the
    crawl-operations report that surfaces auto-generated page families
    (calendar pages, faceted-search grids, session-id link mazes) —
    the crawler-trap / low-value-template signal a frontier scheduler
    caps BEFORE fetching, and the dedup planner uses to route template
    families into near-dup verification.

    Scale shape: the masking is a pure-Column pass riding the frontier
    scan; one groupBy exchange on (host, pattern) with map-side partial
    counts; the per-host top-k window runs on the aggregated pattern
    table (patterns-per-host cardinality, not urls)."""
    from pyspark.sql import Window

    c = url_template_cols(F.col(url_col))
    agg = (docs.select(c["host"].alias("host"),
                       c["pattern"].alias("pattern"))
           .groupBy("host", "pattern")
           .agg(F.count(F.lit(1)).alias("n_urls")))
    w = (Window.partitionBy("host")
         .orderBy(F.desc("n_urls"), F.asc("pattern")))
    return (agg.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= top_k))


def domain_quota_sample(docs: DataFrame, max_per_domain: int,
                        url_col: str = "url", id_col: str = "doc_id",
                        seed: int = 11) -> DataFrame:
    """Cap documents per registrable host (anti-spam / diversity quota,
    the FineWeb per-domain balancing step) -> every input row annotated
    with (domain, domain_rank, keep).

    Rank order is a deterministic hash of the doc id (md5-derived so an
    engine-portable oracle replays it) — reproducible across runs,
    partitionings and cluster sizes; one window shuffle on the host."""
    from pyspark.sql import Window

    from .dedup import md5_hash64

    h = md5_hash64(F.concat(F.col(id_col).cast("string"),
                            F.lit(":%d" % seed)))
    w = Window.partitionBy("domain").orderBy(F.asc("_rk_hash"),
                                             F.asc(id_col))
    return (docs
            .withColumn("domain", url_host(F.col(url_col)))
            .withColumn("_rk_hash", h)
            .withColumn("domain_rank", F.row_number().over(w))
            .withColumn("keep", F.col("domain_rank") <= max_per_domain)
            .drop("_rk_hash"))


def latest_revision(pages: DataFrame, url_col: str = "url",
                    ts_col: str = "warc_ts",
                    tiebreak_col: str | None = None) -> DataFrame:
    """Keep the newest fetch of each URL — Common-Crawl-style snapshots
    refetch the same URL across crawls, and training corpora want
    exactly one (current) revision before any content-level dedup pays
    per-byte costs.

    Adds ``n_revisions`` (fetch count for the URL) and keeps the max-ts
    row.  Exact-ts ties break on md5(``tiebreak_col``) (pass the
    content column) so the survivor is deterministic under any
    partitioning; without it, equal-ts duplicates tie arbitrarily.
    One window shuffle on url — at 10^12 rows this is the same
    exchange shape as url_dedup and should run FIRST (it cuts revisit
    mass before canonicalization groups different URLs together)."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col)
    order_keys = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        order_keys.append(F.md5(F.col(tiebreak_col).cast("string")))
    order = Window.partitionBy(url_col).orderBy(*order_keys)
    return (pages
            .withColumn("n_revisions", F.count(F.lit(1)).over(w))
            .withColumn("_rn", F.row_number().over(order))
            .where(F.col("_rn") == 1)
            .drop("_rn"))


def snapshot_delta(pages_a: DataFrame, pages_b: DataFrame,
                   url_col: str = "url",
                   content_col: str = "text") -> DataFrame:
    """Cross-snapshot crawl delta per host -> (host, n_added,
    n_removed, n_changed, n_unchanged): compare two crawl snapshots
    (url -> content) and report, for every host, how many urls
    appeared, disappeared, changed content, or held steady — the
    CDX-style churn report a recrawl scheduler consumes at corpus
    granularity (complements ``revision_churn``, which scores edit
    volume per url within one fetch log).

    Shape: each side reduced to (url, content-md5) — a pure-Column
    pass — then ONE full-outer join keyed on url (both sides hash-
    partition identically) and one groupBy on host.  No content bytes
    cross the join: only 32-byte digests."""
    a = pages_a.select(F.col(url_col).alias("url"),
                       F.md5(F.col(content_col)).alias("ha"))
    b = pages_b.select(F.col(url_col).alias("url"),
                       F.md5(F.col(content_col)).alias("hb"))
    j = a.join(b, "url", "full_outer")
    both = F.col("ha").isNotNull() & F.col("hb").isNotNull()
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (j.groupBy(url_host(F.col("url")).alias("host"))
            .agg(one(F.col("ha").isNull()).alias("n_added"),
                 one(F.col("hb").isNull()).alias("n_removed"),
                 one(both & (F.col("ha") != F.col("hb")))
                 .alias("n_changed"),
                 one(both & (F.col("ha") == F.col("hb")))
                 .alias("n_unchanged")))


def revision_churn(pages: DataFrame, url_col: str = "url",
                   ts_col: str = "warc_ts",
                   text_col: str = "text") -> DataFrame:
    """Change detection across refetches: per URL in fetch order, the
    Levenshtein distance between each revision's text and the previous
    one (NULL for the first fetch), plus its ratio to the longer text.
    A crawl scheduler reads this to slow down static pages and revisit
    churning ones; a curator uses it to keep only materially-changed
    revisions.

    One window exchange on url; the edit distance is Spark's native
    levenshtein (JVM codegen, no UDF).  At 10^12 rows cost is bounded
    by text length — cap the column upstream (e.g. substr) if full
    documents are megabytes."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(ts_col)
    prev = F.lag(F.col(text_col)).over(w)
    churn = F.levenshtein(F.col(text_col), prev)
    longer = F.greatest(F.length(text_col), F.length(prev))
    ratio = (F.when(prev.isNull(), F.lit(None).cast("double"))
             .when(longer > 0, F.round(churn.cast("double") / longer, 6))
             .otherwise(F.lit(0.0)))  # both revisions empty
    return (pages
            .withColumn("prev_ts", F.lag(F.col(ts_col)).over(w))
            .withColumn("churn", churn)
            .withColumn("churn_ratio", ratio))


def _common_prefix_len(a: Column, b: Column, cap: int) -> Column:
    """Length of the common prefix of two strings, capped at ``cap``.

    Prefix equality is monotone in k, so max over the equal ks is the
    answer.  The sequence is guarded by a CASE because Spark's
    sequence(1, 0) DESCENDS instead of returning empty (the chrF
    phantom-element trap)."""
    n = F.least(F.length(a), F.length(b), F.lit(cap))
    ks = F.when(n >= 1, F.sequence(F.lit(1), n)) \
          .otherwise(F.expr("cast(array() as array<int>)"))
    eq = F.filter(ks, lambda k: a.substr(F.lit(1), k)
                  == b.substr(F.lit(1), k))
    return F.coalesce(F.array_max(eq), F.lit(0)).cast("int")


def host_prefix_stats(docs: DataFrame, text_col: str = "text",
                      part_col: str = "source", max_prefix: int = 200,
                      min_len: int = 12) -> DataFrame:
    """Per-host shared-prefix boilerplate report -> (host, n_docs,
    prefix_len, shared_prefix, is_boilerplate).

    Template sites prepend the same banner/navigation text to every
    page; after extraction that shows up as an identical prefix across
    a host's documents, and stripping it is a standard main-content
    cleanup.  Detection uses the order-statistics identity: the common
    prefix of ALL strings in a group equals the common prefix of the
    lexicographic MIN and MAX alone — so the whole corpus reduces to
    one map-side-combinable min/max aggregation (O(1) state per host),
    and the O(cap^2) character comparison runs on ONE row per host.
    The same plan at 10^12 docs: a single groupBy exchange, nothing
    else.

    ``is_boilerplate`` flags hosts with >= 2 docs sharing >= min_len
    chars; ``shared_prefix`` is the prefix itself (for the strip pass).
    """
    agg = (docs.groupBy(F.col(part_col).alias("host"))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.min(text_col).alias("_lo"),
                F.max(text_col).alias("_hi")))
    plen = _common_prefix_len(F.col("_lo"), F.col("_hi"), max_prefix)
    return (agg.select("host", "n_docs", plen.alias("prefix_len"),
                       F.col("_lo").substr(F.lit(1), plen)
                       .alias("shared_prefix"),
                       ((F.col("n_docs") >= 2) & (plen >= min_len))
                       .alias("is_boilerplate")))


def host_suffix_stats(docs: DataFrame, text_col: str = "text",
                      part_col: str = "source", max_suffix: int = 200,
                      min_len: int = 12) -> DataFrame:
    """Per-host shared-SUFFIX boilerplate report -> (host, n_docs,
    suffix_len, shared_suffix, is_boilerplate) — the footer-side twin
    of :func:`host_prefix_stats` (copyright lines, contact blocks,
    cookie banners appended to every page of a template site).

    Same order-statistics identity, applied to REVERSED text: the
    common suffix of a group equals the common prefix of the
    lexicographic min and max of the reversed strings.  One map-side-
    combinable min/max aggregation with O(1) state per host; the
    character comparison runs on one row per host.  Identical plan
    shape at 10^12 docs: a single groupBy exchange."""
    rev = F.reverse(F.col(text_col))
    agg = (docs.select(F.col(part_col).alias("host"), rev.alias("_r"))
           .groupBy("host")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.min("_r").alias("_lo"),
                F.max("_r").alias("_hi")))
    slen = _common_prefix_len(F.col("_lo"), F.col("_hi"), max_suffix)
    return (agg.select("host", "n_docs", slen.alias("suffix_len"),
                       F.reverse(F.col("_lo").substr(F.lit(1), slen))
                       .alias("shared_suffix"),
                       ((F.col("n_docs") >= 2) & (slen >= min_len))
                       .alias("is_boilerplate")))


def meta_robots_cols(html: Column) -> dict[str, Column]:
    """Page-level indexing directives from raw HTML -> Columns:
    ``noindex``, ``nofollow`` (robots <meta> directives, RFC 9309's
    page-level companion) and ``canonical`` (the <link
    rel="canonical"> target, NULL when absent).

    A crawler must honor these BEFORE content extraction: noindex
    pages leave the corpus, nofollow pages keep their outlinks out of
    the frontier, and rel=canonical overrides URL-string
    canonicalization with the author's own dedup key.  Pure Column
    regexps over the html string — zero shuffle, inherits the scan
    partitioning."""
    # block-first like page_alternates: isolate the TAG whose
    # name/rel attribute matches, then pull content/href from the
    # tag's own text — attribute ORDER inside the tag can't matter
    # (content-before-name meta tags are valid and common)
    meta_tag = F.regexp_extract(
        html,
        r'(?is)<meta\s+(?=[^>]*name\s*=\s*["\']robots["\'])[^>]*>', 0)
    meta = F.regexp_extract(
        meta_tag, r'(?is)\bcontent\s*=\s*["\']([^"\']*)["\']', 1)
    low = F.lower(meta)
    link_tag = F.regexp_extract(
        html,
        r'(?is)<link\s+(?=[^>]*rel\s*=\s*["\']canonical["\'])[^>]*>',
        0)
    canon = F.regexp_extract(
        link_tag, r'(?is)\bhref\s*=\s*["\']([^"\']*)["\']', 1)
    return {
        "robots_meta": F.nullif(meta, F.lit("")),
        "noindex": (low.rlike(r"(^|[,\s])(noindex|none)([,\s]|$)")),
        "nofollow": (low.rlike(r"(^|[,\s])(nofollow|none)([,\s]|$)")),
        "canonical": F.nullif(canon, F.lit("")),
    }


def meta_robots_gate(pages: DataFrame, html_col: str = "html",
                     url_col: str = "url") -> DataFrame:
    """Apply page-level directives -> (url, robots_meta, noindex,
    nofollow, canonical, dedup_key): the corpus keeps rows with
    ``noindex = false``; ``dedup_key`` is the canonical target when
    the author declared one, else the page's own url — the key the
    URL-dedup pass groups on."""
    cols = meta_robots_cols(F.col(html_col))
    return pages.select(
        F.col(url_col).alias("url"),
        cols["robots_meta"].alias("robots_meta"),
        cols["noindex"].alias("noindex"),
        cols["nofollow"].alias("nofollow"),
        cols["canonical"].alias("canonical"),
        F.coalesce(cols["canonical"], F.col(url_col)).alias("dedup_key"))


def page_alternates(pages: DataFrame, html_col: str = "html",
                    url_col: str = "url") -> DataFrame:
    """<link> alternates from raw HTML -> one row per declared
    variant: (url, rel, hreflang, href) for rel in {alternate,
    amphtml} — hreflang alternates are the author-declared "this page
    in another language" edges (language-edition dedup keys), amphtml
    the mobile-variant duplicate pointer.

    Block-first like the feed/sitemap parsers: every <link ...> tag is
    extracted and exploded, then rel/hreflang/href are pulled from the
    tag's own text so attribute ORDER inside the tag doesn't matter
    and optional attributes can't shift across tags.  Pure Column
    regexps; zero shuffle."""
    tags = F.regexp_extract_all(F.col(html_col),
                                F.lit(r"(?is)<link\s+[^>]*>"), 0)

    def attr(name: str) -> Column:
        return F.regexp_extract(
            F.col("_t"),
            r'(?is)\b%s\s*=\s*["\']([^"\']*)["\']' % name, 1)

    out = (pages.select(F.col(url_col).alias("url"),
                        F.explode(tags).alias("_t"))
           .select("url",
                   F.lower(attr("rel")).alias("rel"),
                   F.nullif(F.lower(attr("hreflang")), F.lit(""))
                   .alias("hreflang"),
                   attr("href").alias("href")))
    return out.where(F.col("rel").isin("alternate", "amphtml")
                     & (F.length("href") > 0))


def variant_clusters(pages: DataFrame, html_col: str = "html",
                     url_col: str = "url") -> DataFrame:
    """Language-edition / variant clusters -> (url, cluster_id):
    connected components over the author-declared alternate-link
    graph, cluster_id = the lexicographically smallest member url.

    This is the dedup pass URL canonicalization cannot do: the same
    article at /en/, /de/, /fr/ plus an AMP mirror is ONE logical
    document family, and hreflang edges are the ground truth linking
    them.  Edges are (page url -> declared href) for rel=alternate/
    amphtml, symmetrized inside the string-node CC kernel (min-label +
    pointer jumping, O(log diameter) rounds); pages declaring no
    alternates stay singleton clusters."""
    from .dedup import connected_components

    alts = page_alternates(pages, html_col, url_col)
    edges = alts.select(F.col("url").alias("doc_a"),
                        F.col("href").alias("doc_b"))
    cc = connected_components(edges, a_col="doc_a", b_col="doc_b")
    base = pages.select(F.col(url_col).alias("url")).distinct()
    return (base.join(cc.withColumnRenamed("node", "url"), "url", "left")
            .select("url",
                    F.coalesce("cluster_id", F.col("url"))
                    .alias("cluster_id")))


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) url key ->
    'tld,domain,sub)/path' — the canonical sort key of every web
    archive index (Common Crawl's CDX files key on it): reversing the
    host labels makes one domain's pages a contiguous key range, so a
    range scan replaces a full-index filter.

    Implemented subset (documented, deterministic): scheme dropped,
    host lowercased, leading 'www.' stripped, port dropped, host
    labels reversed and comma-joined, path kept verbatim (default
    '/'), query/fragment dropped.  Pure Columns — the key computes
    inside the scan stage."""
    host = F.lower(F.regexp_extract(
        url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_extract(
        url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(F.length(path) > 0, path).otherwise(F.lit("/"))
    return F.concat(rev, F.lit(")"), path)


# ---- Luhn-validated payment-card detection ------------------------------

def luhn_total(digits: Column, shift: int = 0) -> Column:
    """Luhn checksum total of a digit string: from the RIGHT, double
    every second digit, subtract 9 when the double exceeds 9, sum.
    A valid number has total % 10 == 0.  ``shift=1`` computes the
    total as if one more digit followed on the right — what a check-
    digit GENERATOR needs for the payload without its final digit.
    Pure-Column fold over the digit positions (no UDF) that renders
    identically in DuckDB as list_sum(list_transform(...)) —
    integer-only, so exact in any engine."""
    n = F.length(digits)

    def _term(acc, i):
        d = F.substring(digits, (n - i).cast("int"), 1).cast("long")
        d2 = F.when((i + shift) % 2 == 1, d * 2).otherwise(d)
        return acc + F.when(d2 > 9, d2 - 9).otherwise(d2)

    return F.aggregate(F.sequence(F.lit(0), n - 1),
                       F.lit(0).cast("long"), _term)


def card_scan(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Payment-card PII scan with checksum precision: 13-19 digit runs
    are only COUNTED as cards when the Luhn check passes — the upgrade
    over the regex-only pii_scrub patterns, which flag order numbers
    and timestamps at web scale.  Returns per doc:

      (doc_id, n_candidates, n_luhn_valid, has_card)

    Scale shape: regexp_extract_all + one explode bounded by matches
    per doc (not characters); the checksum is a per-row integer fold;
    one groupBy on doc_id re-aggregates.  Docs with no candidates are
    kept via the left join (counts 0)."""
    cand = docs.select(
        id_col,
        F.explode(F.regexp_extract_all(
            F.col(text_col), F.lit(r"\b\d{13,19}\b"), 0)).alias("num"))
    per = (cand
           .select(id_col, (luhn_total(F.col("num")) % 10 == 0)
                   .alias("ok"))
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_candidates"),
                F.sum(F.when(F.col("ok"), 1).otherwise(0))
                .cast("long").alias("n_luhn_valid")))
    return (docs.select(id_col).join(per, id_col, "left")
            .select(id_col,
                    F.coalesce("n_candidates", F.lit(0)).cast("long")
                    .alias("n_candidates"),
                    F.coalesce("n_luhn_valid", F.lit(0)).cast("long")
                    .alias("n_luhn_valid"))
            .withColumn("has_card", F.col("n_luhn_valid") > 0))


# ---- soft-404 / parked-domain detection ---------------------------------

SOFT404_PHRASES = ["page not found", "error 404", "does not exist",
                   "no longer available", "domain for sale",
                   "buy this domain", "under construction",
                   "coming soon", "page you requested",
                   "has been removed"]


def soft404_cols(text: Column) -> dict[str, Column]:
    """Soft-404 / parked-domain signals: pages that return HTTP 200
    but carry error or placeholder content — a large, well-documented
    contaminant of web crawls that survives every HTTP-status filter.
    Literal phrase hits via replace-length math on the lowered text
    (no regex dialect surface), combined with a shortness gate:

      is_soft404 = (n_hits >= 1 AND n_chars < 400) OR n_hits >= 2

    — a phrase on a SHORT page, or two independent phrases anywhere.
    Integer counts, boolean combine; free rider on the text scan."""
    low = F.lower(text)
    n_chars = F.length(text)
    n_hits = reduce(add, (substr_count(low, ph) for ph in SOFT404_PHRASES))
    return {
        "n_chars": n_chars.cast("long"),
        "n_soft404_hits": n_hits,
        "is_soft404": ((n_hits >= 1) & (n_chars < 400)) | (n_hits >= 2),
    }


def soft404_oracle_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of ``soft404_cols``."""
    low = "lower(%s)" % text_expr
    n_hits = "(%s)" % " + ".join(substr_count_oracle_sql(low, ph)
                                 for ph in SOFT404_PHRASES)
    return {"n_chars": "length(%s)" % text_expr, "n_soft404_hits": n_hits,
            "is_soft404": "(%s >= 1 and length(%s) < 400) or %s >= 2" % (
                n_hits, text_expr, n_hits)}


def soft404_scan(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    cols = soft404_cols(F.col(text_col))
    return docs.select(id_col, *[v.alias(k) for k, v in cols.items()])


# ---- crawl-trap detection ------------------------------------------------

def crawl_trap_cols(url: Column) -> dict[str, Column]:
    """Infinite-URL-space trap signals for frontier hygiene — calendar
    pages, session-id links, and self-similar path loops generate
    unbounded URL sets that exact URL dedup cannot close:

      path_depth     number of path segments
      n_dup_segments duplicate path-segment slots (a/b/a/b -> 2)
      n_numeric_segs all-digit segments (calendar/pagination space)
      has_session_id sessionid/phpsessid/jsessionid/sid= in the query
      is_trap        depth > 8 OR dups >= 2 OR numeric >= 4 OR session

    All flat array/string expressions (no UDF, no shuffle)."""
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.lower(F.regexp_extract(url, r"\?([^#]*)", 1))
    segs = F.filter(F.split(path, "/"), lambda s: F.length(s) > 0)
    depth = F.size(segs)
    dups = depth - F.size(F.array_distinct(segs))
    numeric = F.size(F.filter(segs, lambda s: s.rlike(r"^[0-9]+$")))
    sess = (query.contains("sessionid") | query.contains("phpsessid")
            | query.contains("jsessionid") | query.contains("sid="))
    return {
        "path_depth": depth.cast("long"),
        "n_dup_segments": dups.cast("long"),
        "n_numeric_segs": numeric.cast("long"),
        "has_session_id": sess,
        "is_trap": (depth > 8) | (dups >= 2) | (numeric >= 4) | sess,
    }


# ---- host-name hygiene features ------------------------------------------

def host_feature_cols(url: Column) -> dict[str, Column]:
    """Host-name spam/abuse features (the URL-hygiene layer DGA and
    throwaway-domain farms light up):

      n_subdomains   dot-separated labels beyond the registrable pair
      digit_frac_x1k host digit fraction in exact integer permille
      has_punycode   any xn-- label (homograph vector)
      is_ip_host     all-numeric dotted host
      long_label     any label > 25 chars (DGA-ish)
      host_suspect   ip OR punycode OR >= 4 subdomains OR long label
                     OR digits > 30% of the host

    All flat string/array expressions; permille keeps the fraction
    comparison integer-exact."""
    host = url_host(url)
    labels = F.filter(F.split(host, r"\."), lambda s: F.length(s) > 0)
    n_labels = F.size(labels)
    n_sub = F.greatest(n_labels - 2, F.lit(0))
    n_digits = F.length(host) - F.length(
        F.regexp_replace(host, r"[0-9]", ""))
    hl = F.greatest(F.length(host), F.lit(1))
    digit_x1k = (n_digits * 1000 / hl).cast("long")
    puny = F.size(F.filter(labels, lambda s: s.startswith("xn--"))) > 0
    is_ip = host.rlike(r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$")
    long_label = F.size(F.filter(labels, lambda s: F.length(s) > 25)) > 0
    return {
        "host": host,
        "n_subdomains": n_sub.cast("long"),
        "digit_frac_x1k": digit_x1k,
        "has_punycode": puny,
        "is_ip_host": is_ip,
        "long_label": long_label,
        "host_suspect": (is_ip | puny | (n_sub >= 4) | long_label
                         | (n_digits * 1000 > hl * 300)),
    }
