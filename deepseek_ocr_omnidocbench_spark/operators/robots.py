"""robots.txt parsing + crawl-permission checks (RFC 9309, the
Robots Exclusion Protocol) — the politeness gate a crawl frontier
applies before fetching; pairs with filters.url_filter_cols.

From-scratch parser (no urllib.robotparser dependency on executors —
its per-call object model is row-at-a-time; this one compiles each
host's rules ONCE and evaluates as vectorized prefix matches):

* groups of ``User-agent:`` lines followed by ``Allow:``/``Disallow:``
  rules; the group whose agent token is the LONGEST match for our agent
  wins (``*`` matches all, specificity 0);
* within the winning group, the longest-path-match rule decides, allow
  winning ties (RFC 9309 §2.2.2 — Google semantics);
* ``$`` anchors the rule at path end, ``*`` is a wildcard; empty
  Disallow means allow-all; no rules / no robots.txt means allow.

Scale shape: the per-host rule table is tiny (one robots.txt per host;
hosts ~10^7 at crawl scale vs 10^12 urls), so ``robots_gate`` broadcast
joins compiled rules onto the frontier and evaluates the match in one
Arrow-batched pass — no shuffle on the url side.
"""

from __future__ import annotations

import re
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filters import url_host


def parse_robots(txt: Optional[str], agent: str = "*") -> list[tuple[bool, str]]:
    """robots.txt -> [(allow, path_pattern)] for the best-matching agent
    group.  Patterns keep ``*``/``$`` verbatim; compile with
    ``_rule_regex`` for matching."""
    if not txt:
        return []
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    in_rules = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, value = line.split(":", 1)
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_rules:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                in_rules = False
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_rules = True
            if field == "disallow" and value == "":
                continue  # empty Disallow = no restriction
            cur_rules.append((field == "allow", value))
    if cur_agents or cur_rules:
        groups.append((cur_agents, cur_rules))

    agent = agent.lower()
    best: Optional[tuple[int, list[tuple[bool, str]]]] = None
    for agents, rules in groups:
        for a in agents:
            if a == "*":
                spec = 0
            elif a in agent:
                # RFC 9309 §2.2.1: the group's product token matches if
                # it is a (case-insensitive) substring of the crawler's
                # user-agent — one direction only; matching the other
                # way would let 'superbot2000' capture agent 'bot'.
                spec = len(a)
            else:
                continue
            if best is None or spec > best[0]:
                best = (spec, rules)
    return best[1] if best else []


def _rule_regex(pattern: str) -> re.Pattern:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "$":
            out.append("$")
        else:
            out.append(re.escape(ch))
    return re.compile("^" + "".join(out))


def robots_allowed(path: str, rules: list[tuple[bool, str]]) -> bool:
    """Longest-match decision over parsed rules; allow wins ties; no
    matching rule means allowed."""
    best_len = -1
    best_allow = True
    for allow, pattern in rules:
        if _rule_regex(pattern).match(path):
            plen = len(pattern.replace("$", ""))
            if plen > best_len or (plen == best_len and allow and not best_allow):
                best_len, best_allow = plen, allow
    return best_allow


def robots_gate(urls: DataFrame, robots: DataFrame,
                url_col: str = "url", host_col: str = "host",
                txt_col: str = "robots_txt",
                agent: str = "*") -> DataFrame:
    """Annotate frontier urls with ``robots_allow`` (hosts with no
    robots.txt row allow everything).

    ``robots`` is the small (host, robots_txt) table: it is broadcast,
    each executor compiles every host's rules once per batch, and the
    url side is never shuffled."""
    joined = urls.withColumn("_host", url_host(F.col(url_col))) \
        .join(F.broadcast(robots.select(F.col(host_col).alias("_host"),
                                        F.col(txt_col).alias("_txt"))),
              "_host", "left")
    out_schema = T.StructType(
        [f for f in joined.schema.fields if f.name not in ("_txt",)]
        + [T.StructField("robots_allow", T.BooleanType())])

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            allows = []
            for url, txt in zip(pdf[url_col], pdf["_txt"]):
                if txt is None:
                    allows.append(True)
                    continue
                rules = cache.get(txt)
                if rules is None:
                    rules = [(a, p) for a, p in parse_robots(txt, agent)]
                    cache[txt] = rules
                m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)$", url)
                path = m.group(1) or "/" if m else url
                allows.append(robots_allowed(path, rules))
            pdf = pdf.drop(columns=["_txt"])
            pdf["robots_allow"] = allows
            yield pdf

    return joined.mapInPandas(_gen, out_schema).drop("_host")


# ---- sitemap parsing (crawl-frontier seeding) ----------------------------

def parse_sitemaps(sitemaps: DataFrame, xml_col: str = "xml",
                   host_col: str = "host") -> DataFrame:
    """Sitemap XML -> one row per <url> entry: (host, loc, lastmod,
    changefreq, priority) — the frontier-seeding companion of the
    robots gate (sitemaps.org protocol, the format Common Crawl's
    seeders consume).

    Alignment-safe by construction: each <url>...</url> BLOCK is
    extracted first and exploded, then every optional field is pulled
    from its own block — per-field regexp_extract_all arrays would
    shift against each other whenever an entry omits <lastmod> or
    <priority> (the same positional-zip trap as href/anchor pairs).
    Pure Columns, no UDF, no shuffle: rows explode in place and the
    operator inherits the scan's partitioning."""
    block = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<url>(.*?)</url>"), 1)

    def field(tag: str) -> "F.Column":
        return F.regexp_extract(F.col("_entry"),
                                r"<%s>\s*(.*?)\s*</%s>" % (tag, tag), 1)

    out = (sitemaps
           .select(F.col(host_col).alias("host"),
                   F.explode(block).alias("_entry"))
           .select(
               "host",
               field("loc").alias("loc"),
               F.nullif(field("lastmod"), F.lit("")).alias("lastmod"),
               F.nullif(field("changefreq"), F.lit("")).alias("changefreq"),
               F.nullif(field("priority"), F.lit(""))
               .cast("double").alias("priority")))
    return out.where(F.length("loc") > 0)


def politeness_schedule(frontier: DataFrame, host_col: str = "host",
                        priority_col: str = "priority",
                        url_col: str = "url",
                        delay_s: float = 1.0) -> DataFrame:
    """Serialize fetches per host: within each host, URLs in priority
    order get ``fetch_slot`` 0,1,2,... and ``fetch_at_s`` = slot *
    ``delay_s`` — the per-host minimum-delay politeness contract, with
    hosts naturally interleaving in global time.  Exact-priority ties
    break on the URL so the schedule is deterministic.

    One exchange on host; at 10^12 frontier rows this is the same
    shuffle shape as url_dedup, and the slot assignment is a single
    sorted window pass per partition."""
    from pyspark.sql import Window

    w = Window.partitionBy(host_col).orderBy(
        F.desc(priority_col), F.asc(url_col))
    slot = F.row_number().over(w) - F.lit(1)
    return (frontier
            .withColumn("fetch_slot", slot.cast("long"))
            .withColumn("fetch_at_s",
                        F.round(slot * F.lit(float(delay_s)), 3)))


def recrawl_intervals(churn: DataFrame, url_col: str = "url",
                      ts_col: str = "warc_ts",
                      churn_col: str = "churn",
                      target_freshness: float = 0.8,
                      min_interval_s: float = 3600.0,
                      max_interval_s: float = 30.0 * 86400.0) -> DataFrame:
    """Adaptive recrawl scheduling from refetch history (the Poisson
    change-rate estimator of Cho & Garcia-Molina, "Estimating Frequency
    of Change", 2003): per URL, estimate the change rate from how many
    checks saw a changed page, then pick the check interval that keeps
    P(unchanged at fetch time) >= ``target_freshness``.

    Input is ``filters.revision_churn`` output (one row per fetch,
    ``churn`` NULL on the first).  lambda_hat uses the bias-corrected
    estimator -ln((n - x + 0.5) / (n + 0.5)) / mean_gap, where n =
    rechecks and x = checks that saw a change; the interval is
    -ln(target) / lambda, clamped to [min, max].  Never-changed pages
    ride at max_interval; always-changed pages pin to min_interval.

    One aggregation exchange on url — flat aggs over the churn frame,
    no iteration."""
    epoch = F.col(ts_col).cast("double")
    g = (churn.groupBy(url_col)
         .agg(F.count(F.col(churn_col)).alias("n_checks"),
              F.sum((F.col(churn_col) > 0).cast("int")).alias("n_changed"),
              (F.max(epoch) - F.min(epoch)).alias("span_s")))
    mean_gap = F.when(F.col("n_checks") > 0,
                      F.col("span_s") / F.col("n_checks"))
    lam = F.when(
        (F.col("n_checks") > 0) & (F.col("span_s") > 0),
        -F.log((F.col("n_checks") - F.col("n_changed") + F.lit(0.5))
               / (F.col("n_checks") + F.lit(0.5))) / mean_gap)
    raw = F.lit(-1.0) * F.log(F.lit(float(target_freshness))) / lam
    interval = F.when(lam.isNull() | (lam <= 0), F.lit(max_interval_s)) \
        .otherwise(F.least(F.greatest(raw, F.lit(min_interval_s)),
                           F.lit(max_interval_s)))
    return g.select(
        url_col, "n_checks",
        F.col("n_changed").cast("long").alias("n_changed"),
        F.round("span_s", 3).alias("span_s"),
        # + 0.0 canonicalizes IEEE -0.0 (= -ln(1)/gap) to +0.0
        (F.round(lam * 1e6, 6) + F.lit(0.0)).alias("lambda_per_mega_s"),
        F.round(interval, 3).alias("recrawl_interval_s"))


def crawl_budget(host_stats: DataFrame, cycle_s: float = 3600.0,
                 total_budget: int = 10000, host_col: str = "host",
                 priority_col: str = "priority",
                 delay_col: str = "delay_s") -> DataFrame:
    """Per-host fetch quotas for one crawl cycle
    -> (host, priority, cap, share, quota): the allocation step
    between frontier prioritization (``crawl_priority``) and the
    per-fetch schedule (``politeness_schedule``).  Each host's
    politeness ceiling ``cap = floor(cycle_s / delay_s)`` bounds what
    it allows; its priority share ``share = total_budget * priority /
    sum(priority)`` is what the scheduler wants; the granted quota is
    ``min(cap, floor(share))``.

    Single-pass contract: budget freed by politeness-capped hosts is
    NOT redistributed (iterative water-filling re-ranks every cycle
    anyway — the next cycle's priorities absorb the remainder), which
    keeps the operator one aggregation + one 1-row broadcast at any
    scale.  ``host_stats`` is host-cardinality, so every step here is
    millions of rows, not trillions."""
    z = host_stats.agg(F.sum(priority_col).alias("z"))
    cap = F.floor(F.lit(float(cycle_s)) / F.col(delay_col)).cast("long")
    share = (F.lit(float(total_budget)) * F.col(priority_col)
             / F.col("z"))
    return (host_stats.crossJoin(F.broadcast(z))
            .select(F.col(host_col).alias("host"),
                    F.round(priority_col, 6).alias("priority"),
                    cap.alias("cap"),
                    F.round(share, 6).alias("share"),
                    F.least(cap, F.floor(share).cast("long"))
                    .alias("quota")))


def parse_feeds(feeds: DataFrame, xml_col: str = "xml",
                host_col: str = "host") -> DataFrame:
    """RSS 2.0 / Atom feed XML -> one row per entry: (host, link,
    title, published, kind) — the freshness-seeding companion of
    :func:`parse_sitemaps` (feeds announce NEW urls hours before
    sitemaps regenerate, so crawl schedulers poll them for discovery).

    Alignment-safe like the sitemap parser: each <item> (RSS) or
    <entry> (Atom) block is extracted and exploded FIRST, then every
    field is pulled from its own block — per-field arrays would shift
    whenever an entry omits a date or title.  RSS links are element
    text (<link>url</link>); Atom links are attributes (<link
    href="url"/>): both are probed per block and coalesced.  Pure
    Columns, no UDF, no shuffle."""
    x = F.col(xml_col)
    items = F.regexp_extract_all(x, F.lit(r"(?s)<item>(.*?)</item>"), 1)
    entries = F.regexp_extract_all(x, F.lit(r"(?s)<entry>(.*?)</entry>"), 1)
    blocks = F.concat(
        F.transform(items, lambda b: F.struct(
            F.lit("rss").alias("kind"), b.alias("body"))),
        F.transform(entries, lambda b: F.struct(
            F.lit("atom").alias("kind"), b.alias("body"))))

    def field(tag: str) -> "F.Column":
        # (?s): field values may wrap across lines inside the element
        # (pretty-printed feeds) — without it the link row is DROPPED
        return F.regexp_extract(F.col("_b.body"),
                                r"(?s)<%s>\s*(.*?)\s*</%s>" % (tag, tag),
                                1)

    href = F.regexp_extract(F.col("_b.body"),
                            r'(?s)<link[^>]*href\s*=\s*["\']([^"\']*)["\']',
                            1)
    link = F.when(F.col("_b.kind") == "rss", field("link")) \
        .otherwise(href)
    published = F.coalesce(F.nullif(field("pubDate"), F.lit("")),
                           F.nullif(field("updated"), F.lit("")),
                           F.nullif(field("published"), F.lit("")))
    out = (feeds
           .select(F.col(host_col).alias("host"),
                   F.explode(blocks).alias("_b"))
           .select("host",
                   link.alias("link"),
                   F.nullif(field("title"), F.lit("")).alias("title"),
                   published.alias("published"),
                   F.col("_b.kind").alias("kind")))
    return out.where(F.length("link") > 0)


def robots_sitemaps(robots: DataFrame, txt_col: str = "txt",
                    host_col: str = "host") -> DataFrame:
    """'Sitemap:' directives from robots.txt -> (host, sitemap_url):
    the discovery edge that seeds the sitemap fetch queue (RFC 9309
    §2.3 allows any number, anywhere in the file, outside any
    user-agent group).  Case-insensitive on the directive name,
    whitespace-tolerant, order-preserving within a host via the
    returned ``pos`` column.  Pure Column regexps, zero shuffle."""
    hits = F.regexp_extract_all(
        F.col(txt_col),
        F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)[ \t]*$"), 1)
    return (robots
            .select(F.col(host_col).alias("host"),
                    F.posexplode(hits).alias("pos", "sitemap_url"))
            .select("host", F.col("pos").cast("int").alias("pos"),
                    "sitemap_url"))


def robots_audit(fetch_log: DataFrame, robots: DataFrame,
                 url_col: str = "url", host_col: str = "host",
                 txt_col: str = "robots_txt",
                 agent: str = "*") -> DataFrame:
    """Crawl-compliance audit: which hosts did the crawler fetch
    AGAINST their robots.txt?  The operations report a politeness
    incident review starts from (misconfigured frontier, stale rules,
    redirect laundering).

    fetch_log(url, ...) x robots(host, robots_txt) -> per host:
    (host, n_fetched, n_violations, violation_rate, first_violation)
    — first_violation is the lexicographically-smallest offending url
    (a stable exemplar for the report).  Built on robots_gate
    (broadcast rules, url side never shuffled); ONE host-level
    aggregate on top."""
    gated = robots_gate(fetch_log, robots, url_col=url_col,
                        host_col=host_col, txt_col=txt_col, agent=agent)
    viol = ~F.col("robots_allow")
    return (gated
            .withColumn("_h", url_host(F.col(url_col)))
            .groupBy(F.col("_h").alias("host"))
            .agg(F.count(F.lit(1)).alias("n_fetched"),
                 F.sum(F.when(viol, 1).otherwise(0)).cast("long")
                 .alias("n_violations"),
                 F.min(F.when(viol, F.col(url_col)))
                 .alias("first_violation"))
            .withColumn("violation_rate",
                        F.col("n_violations").cast("double")
                        / F.col("n_fetched"))
            .select("host", "n_fetched", "n_violations",
                    "violation_rate", "first_violation"))
