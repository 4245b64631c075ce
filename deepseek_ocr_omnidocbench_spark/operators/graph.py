"""Host-graph centrality for crawl curation (PageRank).

Web-scale curation ranks *hosts* before it ranks documents: Common
Crawl publishes host- and domain-level graph ranks (PageRank +
harmonic centrality) precisely so pipelines can prioritize crawl
frontiers and down-weight link-farm neighborhoods.  This module
implements weighted PageRank as an iterative DataFrame computation —
the classic "think like a vertex" loop expressed as joins + groupBys.

Scale design:

* The rank table is |V| rows (hosts, not pages — millions, not
  trillions); edges are |E| rows keyed on host.  Each iteration is
  one join-shuffle keyed on src (attach rank + out-degree) and one
  groupBy-shuffle keyed on dst — both on uniform host keys.
* Dangling mass (hosts with no out-links) is folded back uniformly
  via a 1-row aggregate cross-joined in-plan — no per-iteration
  driver collect.
* Lineage is truncated per iteration with an eager localCheckpoint
  (swap for checkpoint() on durable storage in a real cluster).
* Fixed iteration count (default 10) rather than convergence deltas:
  deterministic output, engine-portable, and the standard choice for
  the curation use-case (relative ordering stabilizes in ~10 rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components, reach_min


def pagerank(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
             weight_col: str | None = "weight", iters: int = 10,
             damping: float = 0.85) -> DataFrame:
    """Weighted PageRank over a directed edge list -> (node, rank).

    rank'(v) = (1-d)/N + d * (sum_u rank(u) * w(u,v)/outw(u)
                              + dangling_mass/N)

    ``weight_col=None`` treats every edge as weight 1.  Ranks sum to 1
    across nodes at every iteration (dangling mass is redistributed
    uniformly, the standard formulation)."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    # loop-invariant inputs join into EVERY iteration: materialize once
    # or the edge list's upstream plan re-executes per round
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"),
                     w.alias("w")).localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct()
             .localCheckpoint(eager=True))
    n = nodes.count()  # one driver scalar, fixed for the whole run
    outdeg = (e.groupBy(F.col("src").alias("node"))
              .agg(F.sum("w").alias("outw"))
              .localCheckpoint(eager=True))
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        dang = (ranks.join(outdeg, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")))
        contrib = (e.join(ranks.withColumnRenamed("node", "src"), "src")
                   .join(outdeg.withColumnRenamed("node", "src"), "src")
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("rank") * F.col("w") / F.col("outw"))
                        .alias("contrib")))
        ranks = (nodes.join(contrib, "node", "left")
                 .crossJoin(F.broadcast(dang))
                 .select("node",
                         (F.lit((1.0 - damping) / n)
                          + F.lit(damping)
                          * (F.coalesce("contrib", F.lit(0.0))
                             + F.col("dm") / n)).alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks


def hits(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
         iters: int = 10) -> DataFrame:
    """Kleinberg HITS over a directed edge list -> (node, auth, hub).

    Mutual reinforcement: a page is a good *authority* when good hubs
    link to it, and a good *hub* when it links to good authorities —
    the web-curation complement to PageRank (hub scores surface link
    directories / seed lists for frontier bootstrapping, authority
    scores rank content hosts).  Power iteration with L1 normalization
    each half-step (scores sum to 1; same fixed-point direction as the
    classic L2 form, but the normalizer is a plain sum both engines
    reproduce exactly):

        auth'(v) = sum_{u->v} hub(u)   / Z_a
        hub'(u)  = sum_{u->v} auth'(v) / Z_h

    Scale shape mirrors :func:`pagerank`: the score table is |V| rows
    (hosts), each half-step is one join-shuffle keyed on the edge
    endpoint plus one groupBy-shuffle on the other endpoint, the
    normalizer is a 1-row broadcast aggregate cross-joined in-plan, and
    lineage is truncated per iteration with an eager localCheckpoint
    (narrow (node, double) frame).  Fixed iteration count for
    deterministic, engine-portable output."""
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct()
             .localCheckpoint(eager=True))
    n = nodes.count()
    hub = nodes.select("node", F.lit(1.0 / n).alias("hub"))
    auth = None
    # the RAW in/out-sum frames are what gets checkpointed: each is the
    # product of the one |E|-sized join+groupBy of its half-step, and
    # both the normalizer aggregate and the normalized projection
    # re-read the materialized |V|-row frame instead of re-running the
    # edge join (the naive "checkpoint the normalized frame" shape runs
    # every edge join twice — once under the projection, once under the
    # normalizer agg)
    for _ in range(iters):
        a_raw = (nodes.join(
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("s")), "node", "left")
            .select("node", F.coalesce("s", F.lit(0.0)).alias("v"))
            .localCheckpoint(eager=True))
        auth = (a_raw.crossJoin(F.broadcast(a_raw.agg(F.sum("v").alias("z"))))
                .select("node", (F.col("v") / F.col("z")).alias("auth")))
        h_raw = (nodes.join(
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("s")), "node", "left")
            .select("node", F.coalesce("s", F.lit(0.0)).alias("v"))
            .localCheckpoint(eager=True))
        hub = (h_raw.crossJoin(F.broadcast(h_raw.agg(F.sum("v").alias("z"))))
               .select("node", (F.col("v") / F.col("z")).alias("hub")))
    return auth.join(hub, "node")


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          src_col: str = "src", dst_col: str = "dst",
                          weight_col: str | None = "weight",
                          iters: int = 10,
                          damping: float = 0.85) -> DataFrame:
    """TrustRank-style personalized PageRank -> (node, rank).

    Same power iteration as :func:`pagerank`, but the teleport vector
    is concentrated on a trusted seed set S (Gyongyi, Garcia-Molina &
    Pedersen, "Combating Web Spam with TrustRank", VLDB 2004) instead
    of uniform:

        rank'(v) = (1-d)*t(v) + d * (sum_u rank(u)*w(u,v)/outw(u)
                                     + dangling_mass * t(v))

    with t(v) = 1/|S| for v in S, else 0.  Trust flows OUT of the
    seeds along links; hosts unreachable from any seed converge to
    rank 0 — the link-farm-demotion signal a curation-driven crawler
    combines with plain PageRank (high PR, near-zero trust = spam
    neighborhood).  Dangling mass teleports back to the seeds (the
    standard personalized formulation).

    Scale shape is identical to :func:`pagerank` (one join-shuffle on
    src + one groupBy-shuffle on dst per iteration, 1-row broadcast
    dangling aggregate, per-iteration localCheckpoint); the teleport
    column rides the |V|-row node frame, joined once up front.
    ``seeds`` is a 1-column (node) frame, intersected with the graph's
    node set; it is seed-cardinality, so the indicator join broadcasts."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"),
                     w.alias("w")).localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct())
    s = seeds.select(F.col("node")).distinct() \
        .join(nodes, "node", "left_semi")
    n_seeds = s.count()  # one driver scalar, fixed for the whole run
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed is a graph node")
    # nodes carry their teleport weight for the whole run
    nodes = (nodes.join(F.broadcast(s.withColumn("t",
                                                 F.lit(1.0 / n_seeds))),
                        "node", "left")
             .select("node", F.coalesce("t", F.lit(0.0)).alias("t"))
             .localCheckpoint(eager=True))
    outdeg = (e.groupBy(F.col("src").alias("node"))
              .agg(F.sum("w").alias("outw"))
              .localCheckpoint(eager=True))
    ranks = nodes.select("node", F.col("t").alias("rank"))
    for _ in range(iters):
        dang = (ranks.join(outdeg, "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")))
        contrib = (e.join(ranks.withColumnRenamed("node", "src"), "src")
                   .join(outdeg.withColumnRenamed("node", "src"), "src")
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum(F.col("rank") * F.col("w") / F.col("outw"))
                        .alias("contrib")))
        ranks = (nodes.join(contrib, "node", "left")
                 .crossJoin(F.broadcast(dang))
                 .select("node",
                         (F.lit(1.0 - damping) * F.col("t")
                          + F.lit(damping)
                          * (F.coalesce("contrib", F.lit(0.0))
                             + F.col("dm") * F.col("t"))).alias("rank"))
                 .localCheckpoint(eager=True))
    return ranks


def label_propagation(edges: DataFrame, iters: int = 5,
                      src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """Synchronous majority-vote label propagation -> (node, label):
    community detection over the UNDIRECTED host graph (Raghavan,
    Albert & Kumara 2007) — the cheap way to carve a web graph into
    link neighborhoods so curation can cap or down-weight whole
    link-farm communities rather than individual hosts.

    Every node starts labeled with its own id; each iteration it
    adopts the most frequent label among its neighbors, determinist-
    ically tie-broken by (count desc, label asc); nodes with no
    neighbors keep their current label.  Synchronous updates + fixed
    iteration count + total tie order make the output exactly
    reproducible in any engine (the async coin-flip variant of the
    paper is not value-checkable).

    Scale shape: labels are a narrow |V|-row frame; per iteration one
    join-shuffle keyed on the edge endpoint, one groupBy on
    (node, label), and a per-node argmax window over the (already
    aggregated, degree-bounded) vote table; lineage truncated per
    iteration with an eager localCheckpoint."""
    from pyspark.sql import Window

    und = (edges.select(F.col(src_col).alias("a"),
                        F.col(dst_col).alias("b"))
           .union(edges.select(F.col(dst_col).alias("a"),
                               F.col(src_col).alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct().localCheckpoint(eager=True))
    nodes = und.select(F.col("a").alias("node")).distinct() \
        .localCheckpoint(eager=True)
    labels = nodes.select("node", F.col("node").alias("label"))
    w = (Window.partitionBy("node")
         .orderBy(F.desc("c"), F.asc("label")))
    for _ in range(iters):
        votes = (und.join(labels.withColumnRenamed("node", "a"), "a")
                 .groupBy(F.col("b").alias("node"), "label")
                 .agg(F.count(F.lit(1)).alias("c")))
        best = (votes.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("node", F.col("label").alias("new_label")))
        labels = (labels.join(best, "node", "left")
                  .select("node",
                          F.coalesce("new_label", "label").alias("label"))
                  .localCheckpoint(eager=True))
    return labels


def community_quota(docs: DataFrame, communities: DataFrame,
                    host_col: str = "host", id_col: str = "doc_id",
                    max_per_community: int = 20,
                    seed: int = 7) -> DataFrame:
    """Cap documents per LINK COMMUNITY -> every doc annotated with
    (community, comm_rank, keep): the :func:`label_propagation`
    complement to per-domain quotas — a link farm spanning 50 domains
    gets one community budget instead of 50 domain budgets, which is
    the hole domain-level capping leaves open.

    ``communities`` is label_propagation output (node, label), host-
    cardinality, so the label attach is a broadcast join; rank order
    inside each community is the same deterministic md5-of-doc-id used
    by filters.domain_quota_sample (reproducible across runs,
    partitionings and cluster sizes); one window exchange on the
    community key.  Hosts absent from the community table (isolated /
    unseen) fall back to their own host as a singleton community."""
    from pyspark.sql import Window

    from .dedup import md5_hash64

    lab = communities.select(F.col("node").alias(host_col), "label")
    h = md5_hash64(F.concat(F.col(id_col).cast("string"),
                            F.lit(":%d" % seed)))
    w = Window.partitionBy("community").orderBy(F.asc("_rk"),
                                                F.asc(id_col))
    return (docs.join(F.broadcast(lab), host_col, "left")
            .select(id_col, host_col,
                    F.coalesce("label", F.col(host_col))
                    .alias("community"))
            .withColumn("_rk", h)
            .withColumn("comm_rank", F.row_number().over(w).cast("long"))
            .withColumn("keep", F.col("comm_rank") <= max_per_community)
            .drop("_rk"))


def reciprocity_stats(edges: DataFrame, src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """Per-host link reciprocity -> (node, n_out, n_recip, reciprocity):
    the fraction of a host's distinct out-links that are reciprocated
    (dst links back to src).  A classic link-exchange / link-farm
    signal — organic linking is largely one-directional, while paid
    "link swap" schemes push reciprocity toward 1 (used as a TrustRank-
    era spam feature; see Gyongyi & Garcia-Molina, "Web Spam Taxonomy",
    AIRWeb 2005).

    One distinct pass over the edge list, one self-join on the
    reversed pair (both sides keyed on (src, dst) — co-partitioned),
    one groupBy on src.  No state beyond the edge list itself."""
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .where(F.col("src") != F.col("dst")).distinct())
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst")) \
        .withColumn("back", F.lit(1))
    return (e.join(rev, ["src", "dst"], "left")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("n_out"),
                 F.coalesce(F.sum("back"), F.lit(0)).alias("n_recip"))
            .withColumn("reciprocity",
                        F.round(F.col("n_recip") / F.col("n_out"), 6)))


def degree_distribution(edges: DataFrame, src_col: str = "src",
                        dst_col: str = "dst") -> DataFrame:
    """Graph degree histogram -> (direction, degree, n_nodes): for each
    of 'in' and 'out', how many nodes have exactly that many distinct
    neighbors.  The graph-health report run before trusting any
    centrality: web host graphs are power-law (a straight line in
    log-log), and a bulge of identical mid-range out-degrees is the
    fingerprint of template-generated link farms.

    Two groupBys per direction (node-degree, then degree-count) — both
    partial-aggregable, output is at most |distinct degrees| rows.
    Nodes that only appear on the other side count at degree 0 via an
    anti-join (so both directions partition the same node set).  The
    distinct edge and node frames feed four branches each, and Spark
    has no common-subplan reuse for DataFrames — materialize both once
    (host-cardinality) or every branch re-runs the distinct: 17
    exchanges in the un-materialized plan vs 7 here."""
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst")).distinct()
         .localCheckpoint(eager=True))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select("dst")).distinct()
             .localCheckpoint(eager=True))
    out = []
    for direction, key in (("in", "dst"), ("out", "src")):
        deg = (e.groupBy(F.col(key).alias("node"))
               .agg(F.count(F.lit(1)).alias("degree")))
        zero = (nodes.join(deg, "node", "left_anti")
                .select("node", F.lit(0).cast("long").alias("degree")))
        out.append(deg.unionByName(zero)
                   .groupBy("degree")
                   .agg(F.count(F.lit(1)).alias("n_nodes"))
                   .select(F.lit(direction).alias("direction"),
                           "degree", "n_nodes"))
    return out[0].unionByName(out[1])


def host_link_stats(ranks: DataFrame, docs: DataFrame,
                    host_col: str = "host",
                    id_col: str = "doc_id") -> DataFrame:
    """Join host ranks back onto documents (the curation read path):
    every doc gets its host's rank — a broadcast join at any scale,
    since the rank table is host-cardinality."""
    r = ranks.withColumnRenamed("node", host_col)
    return docs.join(F.broadcast(r), host_col, "left")


def extract_links(pages: DataFrame, html_col: str = "html_text",
                  url_col: str = "url") -> DataFrame:
    """Out-link extraction -> (src_url, dst_url, anchor_text): the step
    that turns a page corpus into the link graph PageRank consumes.

    Pure-Column regexes (no UDF): href and anchor text come from the
    SAME ``<a ... href="..">text</a>`` match — two regexp_extract_all
    calls over one pattern (group 1 / group 2), so the arrays are
    always aligned (an href-less ``<a name=..>`` or a dangling href
    can never shift the zip).  Nested markup inside the anchor body is
    stripped to best-effort text; elements without an href are not
    links and are dropped."""
    pat = F.lit(r'(?s)<a\b[^>]*\bhref="([^"]*)"[^>]*>(.*?)</a>')
    hrefs = F.regexp_extract_all(F.col(html_col), pat, 1)
    anchors = F.regexp_extract_all(F.col(html_col), pat, 2)
    return (pages
            .select(F.col(url_col).alias("src_url"),
                    F.explode(F.arrays_zip(hrefs.alias("h"),
                                           anchors.alias("t"))).alias("l"))
            .where(F.length("l.h") > 0)
            .select("src_url", F.col("l.h").alias("dst_url"),
                    F.regexp_replace(F.col("l.t"), r"<[^>]*>", "")
                    .alias("anchor_text")))


def anchor_text_profile(links: DataFrame, top_k: int = 5,
                        dst_col: str = "dst_url",
                        n_sources_rsd: float | None = None) -> DataFrame:
    """Anchor-text aggregation per link target: the classic web-corpus
    signal that the words OTHER pages use to link to a target describe
    it better than its own content (search indexing, crawl-priority
    features, weak labels for page-type classifiers).

    -> (dst_url, term, n_mentions, n_sources, rank) with rank <= top_k
    per target, ranked by mention count, then distinct linking pages,
    then term.  Scale shape: anchors are short by construction, so the
    explode is bounded; one groupBy exchange on (dst_url, term) with
    map-side partial counts, then the per-target top-k window on the
    (already aggregated, far smaller) term table.

    ``n_sources_rsd`` is the 100 TB knob: the default exact
    countDistinct makes Spark pre-aggregate on (dst_url, term, src_url)
    — an extra full-width pass whose state carries every distinct
    linking url per term.  Passing an rsd (e.g. 0.05) swaps in
    HyperLogLog++ approx_count_distinct: single-pass, partial-
    aggregable, constant ~kB state per group.  n_sources is the
    rank-2 TIEBREAK only, so a small relative error can at most swap
    near-tied terms; keep exact for value-gated comparisons."""
    from pyspark.sql import Window

    terms = (links
             .select(F.col(dst_col).alias("dst_url"), "src_url",
                     F.explode(F.split(F.lower(F.col("anchor_text")),
                                       "[^a-z0-9]+")).alias("term"))
             .where(F.length("term") > 1))
    n_sources = (F.countDistinct("src_url") if n_sources_rsd is None
                 else F.approx_count_distinct("src_url", n_sources_rsd))
    agg = terms.groupBy("dst_url", "term").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        n_sources.alias("n_sources"))
    w = (Window.partitionBy("dst_url")
         .orderBy(F.desc("n_mentions"), F.desc("n_sources"), F.asc("term")))
    return (agg.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= top_k))


def host_edges(links: DataFrame) -> DataFrame:
    """Link rows -> weighted host-graph edges (src, dst, weight):
    self-loops dropped, weight = link count.  The output feeds
    ``pagerank`` directly; one groupBy shuffle on the host pair."""
    from .filters import url_host

    e = links.select(url_host(F.col("src_url")).alias("src"),
                     url_host(F.col("dst_url")).alias("dst"))
    return (e.where((F.col("src") != F.col("dst"))
                    & (F.length("src") > 0) & (F.length("dst") > 0))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("weight")))


def harmonic_centrality(edges: DataFrame, max_hops: int = 4,
                        src_col: str = "src",
                        dst_col: str = "dst") -> DataFrame:
    """Hop-truncated harmonic centrality -> (node, harmonic):
    ``sum over reachable u of 1/d(u, node)`` for d <= max_hops, on the
    INCOMING direction (who can reach me), the convention Common Crawl
    publishes next to PageRank for its host/domain graphs.

    Exact frontier expansion: hop h joins the hop-(h-1) frontier with
    the edge table and anti-joins everything already seen, so each
    (source, node) pair carries its true shortest distance.  Per hop:
    one join shuffle + one distinct.

    Scale note: exact all-pairs state is O(V·avg-ball-size) — fine for
    host graphs (10^6-10^7 nodes, small truncated balls), which is the
    curation use-case.  At the full 10^11-node page-graph scale the
    published numbers come from HyperBall (Boldi & Vigna 2013):
    replace the exact ``seen`` set with a per-node HyperLogLog register
    union per hop; same loop shape, sketched state.  The exact variant
    is the oracle-checkable ground truth for that upgrade."""
    fwd = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")) \
        .where(F.col("s") != F.col("d")) \
        .localCheckpoint(eager=True)  # joins into every hop
    # reach(source=s, node=d, dist): grow from every edge endpoint (exact)
    frontier = fwd.select("s", F.col("d").alias("n")).distinct() \
        .withColumn("dist", F.lit(1))
    seen = frontier
    contrib = frontier
    for h in range(2, max_hops + 1):
        nxt = (frontier.join(fwd.withColumnRenamed("s", "n"), "n")
               .select("s", F.col("d").alias("n"))
               .where(F.col("s") != F.col("n"))
               .distinct()
               .join(seen.select("s", "n"), ["s", "n"], "left_anti")
               .withColumn("dist", F.lit(h)))
        nxt = nxt.localCheckpoint(eager=True)
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt)
        contrib = contrib.unionByName(nxt)
        frontier = nxt
    return (contrib.groupBy(F.col("n").alias("node"))
            .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("harmonic")))


def _hll_alpha(m: int) -> float:
    """Flajolet et al. 2007 bias-correction constant for m registers."""
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def _hyperball_estimates(edges: DataFrame, max_hops: int, p: int,
                         src_col: str = "src",
                         dst_col: str = "dst") -> list[DataFrame]:
    """Shared HyperBall core: per-hop HLL ball-size estimate frames
    [e_0 .. e_max_hops], each (node, e) with e = estimated |B(node, h)|
    of the INCOMING ball.  Registers live flat as (node, j, r) rows,
    one groupBy(node, j).max(r) shuffle per hop, loop-invariant edges
    and each hop's narrow state localCheckpointed.  The register hash
    and rho are integer-exact (md5 + bin-length), the estimator's
    double literals are embedded identically in the DuckDB mirrors —
    harmonic_sketch and neighborhood_function both gate on this."""
    from .dedup import md5_hash64

    m = 1 << p
    alpha = _hll_alpha(m)
    fwd = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d")) \
        .where(F.col("s") != F.col("d")) \
        .localCheckpoint(eager=True)
    nodes = (fwd.select(F.col("s").alias("node"))
             .unionByName(fwd.select(F.col("d").alias("node")))
             .distinct())

    h64 = md5_hash64(F.col("node"))          # uniform in [0, 2^60)
    w = F.floor(h64 / m).cast("long")        # top 60-p bits
    rho = F.when(w == 0, F.lit(60 - p + 1)).otherwise(
        F.lit(60 - p) - (F.length(F.bin(w)) - 1)).cast("int")
    state = nodes.select(
        "node", F.pmod(h64, F.lit(m)).cast("int").alias("j"),
        rho.alias("r")).localCheckpoint(eager=True)

    def _estimate(st: DataFrame) -> DataFrame:
        g = st.groupBy("node").agg(
            F.count(F.lit(1)).alias("np"),
            F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sp"))
        raw = F.lit(alpha * m * m) / (F.col("sp") + (F.lit(m) - F.col("np")))
        v = (F.lit(m) - F.col("np")).cast("double")
        est = F.when((raw <= 2.5 * m) & (v > 0),
                     F.lit(float(m)) * F.log(F.lit(float(m)) / v)) \
            .otherwise(raw)
        return g.select("node", est.alias("e"))

    ests = [_estimate(state)]                # h = 0: ball is {node}
    for _h in range(1, max_hops + 1):
        carried = (state.withColumnRenamed("node", "s")
                   .join(fwd, "s")
                   .select(F.col("d").alias("node"), "j", "r"))
        state = (state.unionByName(carried)
                 .groupBy("node", "j").agg(F.max("r").alias("r"))
                 .localCheckpoint(eager=True))
        ests.append(_estimate(state))
    return ests


def harmonic_sketch(edges: DataFrame, max_hops: int = 4, p: int = 8,
                    src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """HyperBall (Boldi & Vigna 2013) harmonic centrality
    -> (node, harmonic): the page-graph-scale variant of
    ``harmonic_centrality``, whose exact frontier expansion carries
    O(V * ball) (source, node) state.  Here each node instead carries a
    fixed m = 2**p HyperLogLog register sketch of its incoming ball:

      B(n, h) = {n}  union over edges (u -> n) of  B(u, h-1)

    unions become register-wise MAX, and per hop the harmonic sum
    accrues (|B(h)| - |B(h-1)|) / h from the HLL cardinality estimates
    (with the standard small-range linear-counting correction).  State
    is O(V * m) regardless of graph diameter or ball size.

    Spark shape: registers live FLAT as (node, j, r) rows — never an
    array column through a shuffle — with value-0 registers implicit,
    so one groupBy(node, j).max(r) shuffle per hop is the whole update;
    the loop-invariant edge frame and each hop's narrow state are
    localCheckpointed (iterative-plan rule).

    Determinism/parity: the register hash is the md5-derived 60-bit
    integer (dedup.md5_hash64) and rho uses binary-string length, not
    floating log2 — both replay bit-for-bit in DuckDB, so this
    APPROXIMATE operator still sits under the value gate; accuracy vs
    the exact operator is separately bound in tests (~1.04/sqrt(m)
    relative error, ~6.5% at p=8)."""
    ests = _hyperball_estimates(edges, max_hops, p, src_col, dst_col)
    incs = []
    prev = ests[0]
    for h in range(1, max_hops + 1):
        cur = ests[h]
        incs.append(
            cur.join(prev.withColumnRenamed("e", "e_prev"), "node")
            .select("node",
                    (F.greatest(F.col("e") - F.col("e_prev"), F.lit(0.0))
                     / h).alias("inc")))
        prev = cur

    out = incs[0]
    for inc in incs[1:]:
        out = out.unionByName(inc)
    return (out.groupBy("node")
            .agg(F.round(F.sum("inc"), 6).alias("harmonic")))


def k_core(edges: DataFrame, k: int = 3, max_iters: int = 8,
           src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """k-core decomposition membership -> (node, core_degree): the
    maximal subgraph in which every node has undirected degree >= k
    (Seidman 1983), computed by iterative peeling — drop all nodes
    with degree < k, restrict the edge set to survivors, repeat until
    fixpoint.  Web-curation use: the dense k-core of a host link graph
    is where link farms and mutual-promotion rings concentrate
    (high-PageRank-but-deep-core hosts are the classic spam shape),
    while legitimate long-tail sites live in the shallow shells, so
    core membership is a standard graph-health / spam-prior feature
    alongside PageRank and TrustRank.

    Scale shape: each peel is one groupBy degree count on the
    (monotonically shrinking) symmetric edge set plus two semi-join
    restrictions keyed on the endpoint — all |E|-bounded shuffles on
    host keys, no all-pairs term.  The edge set only ever shrinks, so
    an equal edge COUNT between rounds proves an equal edge SET and
    the loop early-stops at the fixpoint; running further iterations
    is a no-op, which is what makes a fixed-iteration relational
    replay (the oracle unrolls ``max_iters`` peels) value-identical
    to the early-stopped loop.  Lineage truncated per peel with an
    eager localCheckpoint.
    """
    cur = (edges.select(F.col(src_col).alias("a"),
                        F.col(dst_col).alias("b"))
           .union(edges.select(F.col(dst_col).alias("a"),
                               F.col(src_col).alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct().localCheckpoint(eager=True))
    n_edges = cur.count()
    for _ in range(max_iters):
        keep = (cur.groupBy(F.col("a").alias("node"))
                .agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= k)
                .select("node"))
        nxt = (cur.join(keep.withColumnRenamed("node", "a"), "a")
               .join(keep.withColumnRenamed("node", "b"), "b")
               .select("a", "b").localCheckpoint(eager=True))
        n_nxt = nxt.count()
        cur = nxt
        if n_nxt == n_edges:        # shrinking set: equal count == fixpoint
            break
        n_edges = n_nxt
    return (cur.groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("core_degree")))


def triangle_counts(edges: DataFrame, src_col: str = "src",
                    dst_col: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient ->
    (node, degree, n_triangles, clustering).

    Triangles are the primitive behind link-farm density scores and
    clustering-coefficient graph health checks (a mutual-promotion
    ring is triangle-dense; organic link neighborhoods are sparse).
    Uses the degree-ordered orientation (Chiba & Nishizeki 1985; the
    standard distributed formulation): orient every undirected edge
    from the endpoint with smaller (degree, id) to the larger, so each
    triangle is counted exactly once at its lowest-rank corner and —
    the scale property — every node's oriented out-degree is bounded
    by O(sqrt(|E|)) regardless of its raw degree, which caps the wedge
    join's fanout on power-law graphs (the hub that would produce
    deg^2 wedges produces almost none once oriented).

    Plan shape: one symmetric distinct, one degree groupBy, the
    orientation projection, one self-join on the wedge pivot, one
    semi-join against the oriented edge set to close the wedge, one
    explode+groupBy to attribute corners.  All |E|-bounded shuffles.
    clustering = 2*T / (deg * (deg-1)), 6dp, NULL for degree-1 nodes.
    """
    und = (edges.select(F.col(src_col).alias("a"),
                        F.col(dst_col).alias("b"))
           .union(edges.select(F.col(dst_col).alias("a"),
                               F.col(src_col).alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct())
    deg = und.groupBy(F.col("a").alias("node")) \
        .agg(F.count(F.lit(1)).alias("deg"))
    canon = und.where(F.col("a") < F.col("b"))
    with_deg = (canon
                .join(deg.select(F.col("node").alias("a"),
                                 F.col("deg").alias("da")), "a")
                .join(deg.select(F.col("node").alias("b"),
                                 F.col("deg").alias("db")), "b"))
    a_first = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi")) \
        .localCheckpoint(eager=True)
    wedges = (o.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
              .join(o.select(F.col("lo").alias("y"),
                             F.col("hi").alias("z")), "y"))
    tri = wedges.join(
        o.select(F.col("lo").alias("x"), F.col("hi").alias("z")),
        ["x", "z"])
    per_node = (tri.select(F.explode(F.array("x", "y", "z"))
                           .alias("node"))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("n_triangles")))
    return (deg.join(per_node, "node", "left")
            .select("node", F.col("deg").cast("long").alias("degree"),
                    F.coalesce("n_triangles", F.lit(0).cast("long"))
                    .alias("n_triangles"),
                    F.when(F.col("deg") > 1,
                           F.round(2.0 * F.coalesce("n_triangles",
                                                    F.lit(0))
                                   / (F.col("deg")
                                      * (F.col("deg") - F.lit(1))), 6))
                    .alias("clustering")))


def assortativity(edges: DataFrame, src_col: str = "src",
                  dst_col: str = "dst") -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) -> one row
    (n_edges, assortativity): the Pearson correlation of endpoint
    degrees across the symmetric edge set.  Web graphs are strongly
    DISassortative (hubs link to leaves, r < 0); a near-zero or
    positive r over a host subgraph is the link-farm signature (rings
    wire similar-degree hosts together), making this the one-number
    companion to degree_distribution / triangle_counts.

    Computed from the five integer co-moments (n, sum x, sum y,
    sum xy, sum x^2/y^2 with x = deg(a), y = deg(b)) — exact bigint
    aggregates folded through ONE closed-form double expression, so
    the value replays bit-for-bit in any engine (a streaming corr()
    would accumulate in engine-specific order).  Shape: one degree
    groupBy + two broadcast-join degree attachments + one 1-row agg."""
    und = (edges.select(F.col(src_col).alias("a"),
                        F.col(dst_col).alias("b"))
           .union(edges.select(F.col(dst_col).alias("a"),
                               F.col(src_col).alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct())
    deg = und.groupBy(F.col("a").alias("node")) \
        .agg(F.count(F.lit(1)).alias("deg"))
    j = (und
         .join(deg.select(F.col("node").alias("a"),
                          F.col("deg").alias("x")), "a")
         .join(deg.select(F.col("node").alias("b"),
                          F.col("deg").alias("y")), "b"))
    m = j.agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy"))
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) \
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    return m.select(F.col("n").cast("long").alias("n_edges"),
                    F.when(den > 0, F.round(num / den, 6))
                    .alias("assortativity"))


def scc(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
        max_rounds: int = 10, max_iters: int = 30,
        pre_normalized: bool = False) -> DataFrame:
    """Strongly connected components of a directed graph ->
    (node, scc_id) with scc_id = the component's minimum node id —
    the decomposition behind every web-structure analysis since
    Broder et al. 2000 (the bow-tie), and the cycle detector a crawl
    scheduler needs to break redirect/link loops.

    Forward-Backward anchor extraction, all DataFrame ops:
    per outer round (1) F(u) = min id reaching u (directed min-label
    fixpoint WITH pointer jumping — see dedup.reach_min); every F-class is
    anchored at its own minimum m (F(m) = m), and any u→…→m path
    stays inside the class, so (2) R(u) = min id reachable from u
    along F-EQUAL edges detects mutual reachability: SCC(m) =
    {u : F(u) = m and R(u) = m}.  Extract every anchor SCC (one per
    class, all classes in parallel), drop those nodes, repeat.

    Scale: each round's state is |V| label rows + |E| edges keyed on
    node ids; nothing quadratic.  Web graphs are bow-ties — one giant
    SCC plus DAG periphery — so the giant core and every source-side
    class anchor extract in round 1 and the DAG tail drains in a few
    more; the adversarial worst case (a directed chain extracts one
    anchor per round) is bounded by ``max_rounds``, after which any
    unresolved nodes raise rather than return a wrong answer."""
    if pre_normalized:
        # caller already self-loop-filtered, deduped and materialized
        # (bowtie does) — a second |E| distinct shuffle would be waste
        remaining = edges
    else:
        remaining = (edges.select(F.col(src_col).alias("src"),
                                  F.col(dst_col).alias("dst"))
                     .where(F.col("src") != F.col("dst"))
                     .distinct().localCheckpoint(eager=True))
    nodes = (remaining.select(F.col("src").alias("node"))
             .union(remaining.select(F.col("dst").alias("node")))
             .distinct().localCheckpoint(eager=True))
    out = None
    for _ in range(max_rounds):
        if nodes.limit(1).count() == 0:
            break
        fwd = reach_min(remaining, nodes, max_iters=max_iters)
        eq = (remaining
              .join(fwd.select(F.col("node").alias("src"),
                               F.col("lbl").alias("fa")), "src")
              .join(fwd.select(F.col("node").alias("dst"),
                               F.col("lbl").alias("fb")), "dst")
              .where(F.col("fa") == F.col("fb"))
              .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
              .localCheckpoint(eager=True))
        back = reach_min(eq, nodes, max_iters=max_iters)
        done = (fwd.join(back.withColumnRenamed("lbl", "rl"), "node")
                .where(F.col("lbl") == F.col("rl"))
                .select("node", F.col("lbl").alias("scc_id"))
                .localCheckpoint(eager=True))
        out = done if out is None else out.union(done)
        nodes = (nodes.join(done.select("node"), "node", "left_anti")
                 .localCheckpoint(eager=True))
        remaining = (remaining
                     .join(nodes.select(F.col("node").alias("src")), "src")
                     .join(nodes.select(F.col("node").alias("dst")), "dst")
                     .localCheckpoint(eager=True))
    if nodes.limit(1).count() > 0:
        raise ValueError(
            "scc: %d nodes unresolved after max_rounds=%d (adversarial "
            "chain-shaped graph — raise max_rounds)"
            % (nodes.count(), max_rounds))
    if out is None:  # empty / self-loop-only edge list
        return remaining.select(F.col("src").alias("node"),
                                F.col("src").alias("scc_id")).limit(0)
    return out.localCheckpoint(eager=True)


def bowtie(edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
           sentinel=-1, **scc_kw) -> DataFrame:
    """Broder bow-tie decomposition -> (node, scc_id, region) with
    region in {'core', 'in', 'out', 'tendril', 'disconnected'}:
    the canonical map of web-graph macro-structure (Broder et al.
    2000), and the crawl-planning artifact that says which frontier
    seeds can ever reach which content.

    core = the largest SCC (ties: smallest scc_id); in/out = nodes
    that reach / are reached by the core (via one sentinel-seeded
    directed min-label fixpoint each — the sentinel sorts below every
    real id, seeds the core rows, and pointer jumping applies);
    tendril = rest of the core's weakly connected component (Broder's
    TENDRILS + TUBES, folded); disconnected = everything else.
    Driver-side state: two 1-row scalars (core scc_id, core WCC id).
    """
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .where(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    comps = scc(e, pre_normalized=True, **scc_kw)
    nodes = comps.select("node").localCheckpoint(eager=True)
    top = (comps.groupBy("scc_id").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.desc("n"), F.asc("scc_id")).limit(1).collect())
    if not top:  # empty / self-loop-only graph: no regions to label
        return comps.select("node", "scc_id",
                            F.lit("core").alias("region")).limit(0)
    core_id = top[0]["scc_id"]
    core = comps.where(F.col("scc_id") == F.lit(core_id)).select("node")

    def _reached(edge_df: DataFrame) -> DataFrame:
        """(node, hit) — hit iff some core node reaches `node`."""
        seed = (nodes.join(core.withColumn("_c", F.lit(1)), "node", "left")
                .select("node",
                        F.when(F.col("_c").isNotNull(), F.lit(sentinel))
                        .otherwise(F.col("node")).alias("lbl")))
        r = reach_min(edge_df, nodes, init=seed)
        return r.select("node", (F.col("lbl") == F.lit(sentinel))
                        .alias("hit"))

    fwd = _reached(e).withColumnRenamed("hit", "fwd")
    bwd = _reached(e.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst"))) \
        .withColumnRenamed("hit", "bwd")
    wcc = connected_components(e, a_col="src", b_col="dst")
    core_wcc = (wcc.join(core, wcc["node"] == core["node"])
                .select(wcc["cluster_id"]).limit(1).collect()[0][0])
    lab = (comps.join(fwd, "node").join(bwd, "node")
           .join(wcc.withColumnRenamed("cluster_id", "wc"), "node"))
    # fwd = core reaches the node (OUT side); bwd = the node reaches
    # core (IN side).  For non-core nodes both can't hold (that would
    # put the node in the core SCC).
    region = (F.when(F.col("scc_id") == F.lit(core_id), "core")
              .when(F.col("fwd"), "out")
              .when(F.col("bwd"), "in")
              .when(F.col("wc") == F.lit(core_wcc), "tendril")
              .otherwise("disconnected"))
    return lab.select("node", "scc_id", region.alias("region"))


def cocitation_pairs(edges: DataFrame, src_col: str = "src",
                     dst_col: str = "dst", min_shared: int = 3,
                     df_cap: int = 1000) -> DataFrame:
    """Bibliographic-coupling host similarity: pairs of sources whose
    OUTLINK target sets overlap heavily — the structural mirror/alias
    detector (two mirrors of one site link to near-identical targets
    even when their HTML bytes differ enough to dodge text near-dedup).

    Returns (src_a, src_b, shared, deg_a, deg_b, jaccard) for pairs
    sharing >= ``min_shared`` distinct targets, src_a < src_b, with
    jaccard = shared / (deg_a + deg_b - shared).

    Scale shape (the bounded-postings discipline of
    ngram_jaccard_pairs, dedup.py): targets with more than ``df_cap``
    distinct sources are dropped BEFORE the self-join — a hub target
    everyone links to (google.com, a CDN) is evidence of nothing and
    would otherwise emit df^2/2 candidate rows.  Per-target posting
    lists therefore bound the join at sum(df_i^2), df_i <= df_cap.
    Shared counts, OUT-DEGREES, and jaccard are all computed over the
    SAME capped universe, so two exact mirrors that both link a capped
    hub still reach jaccard 1.0 over their informative targets (deg
    from the raw edge list would bias every hub-sharing pair low).
    min_shared filters at AGGREGATION time (shared is already
    counted), so no second verify pass is needed — unlike text
    shingles, an edge either exists or it doesn't."""
    e = edges.select(F.col(src_col).alias("s"),
                     F.col(dst_col).alias("d")).distinct()
    df_t = e.groupBy("d").agg(F.count(F.lit(1)).alias("tdf"))
    posts = e.join(df_t.where(F.col("tdf") <= df_cap).select("d"), "d")
    deg = posts.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    a = posts.select(F.col("d"), F.col("s").alias("src_a"))
    b = posts.select(F.col("d"), F.col("s").alias("src_b"))
    shared = (a.join(b, "d")
              .where(F.col("src_a") < F.col("src_b"))
              .groupBy("src_a", "src_b")
              .agg(F.count(F.lit(1)).alias("shared"))
              .where(F.col("shared") >= min_shared))
    da = deg.select(F.col("s").alias("src_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("s").alias("src_b"), F.col("deg").alias("deg_b"))
    return (shared.join(da, "src_a").join(db, "src_b")
            .select("src_a", "src_b",
                    F.col("shared").cast("long").alias("shared"),
                    F.col("deg_a").cast("long").alias("deg_a"),
                    F.col("deg_b").cast("long").alias("deg_b"),
                    (F.col("shared").cast("double")
                     / (F.col("deg_a") + F.col("deg_b") - F.col("shared")))
                    .alias("jaccard")))


def neighborhood_function(edges: DataFrame, max_hops: int = 4,
                          p: int = 8, frac_target: float = 0.9,
                          src_col: str = "src",
                          dst_col: str = "dst",
                          micro: int = 1_000_000) -> DataFrame:
    """Neighborhood function + effective diameter via HyperBall
    (Boldi & Vigna 2013; the ANF of Palmer et al. 2002): N(h) = total
    estimated reachable pairs within h hops, and the effective
    diameter = the first h where N(h) >= frac_target * N(max_hops) —
    the compactness report for a crawl's link graph (is this web
    fragment a tight community or a long chain?).

    Output: one row per hop (hop, n_micro, n_pairs, frac,
    is_effective_diameter).

    Exactness: per-node ball estimates are the gate-portable HyperBall
    doubles (identical expressions both engines); the corpus-wide
    total folds them as floor(e * micro) INTEGER MICRO-UNITS summed in
    bigints — order-independent in any engine — and n_pairs/frac are
    single divisions.  ``micro`` bounds the bigint headroom: the sum
    can reach ~V^2 * micro, so the 1e6 default overflows int64 past
    ~9.2e12 reachable pairs (~3M fully-connected nodes) — drop micro
    to 1e3/1 for page-scale graphs (the frac precision cost is
    micro^-1, far below HLL error).  Scale shape: the shared HyperBall
    core (O(V*m) state, one shuffle per hop) plus one tiny
    map-side-combined sum per hop over V rows; the final frame is
    max_hops+1 rows."""
    from pyspark.sql import Window

    ests = _hyperball_estimates(edges, max_hops, p, src_col, dst_col)
    per_hop = []
    for h, est in enumerate(ests):
        per_hop.append(
            est.agg(F.sum(F.floor(F.col("e") * float(micro)).cast("long"))
                    .alias("n_micro"))
            .select(F.lit(h).cast("long").alias("hop"), "n_micro"))
    out = per_hop[0]
    for frame in per_hop[1:]:
        out = out.unionByName(frame)
    w_all = Window.orderBy(F.lit(1))
    w_lag = Window.orderBy("hop")
    frac = F.col("n_micro").cast("double") / F.max("n_micro").over(w_all)
    return (out
            .withColumn("frac", frac)
            .withColumn("_prev", F.lag("frac").over(w_lag))
            .select("hop", "n_micro",
                    (F.col("n_micro").cast("double") / float(micro))
                    .alias("n_pairs"),
                    "frac",
                    ((F.col("frac") >= frac_target)
                     & ((F.col("_prev").isNull())
                        | (F.col("_prev") < frac_target)))
                    .alias("is_effective_diameter"))
            .orderBy("hop"))
