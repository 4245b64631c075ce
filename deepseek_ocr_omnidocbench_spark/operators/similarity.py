"""Similarity search over embedding columns (task brief §extras).

Brute-force cosine top-k as the exact baseline, IVF and PQ as the
scale paths, and random-hyperplane (SRP) bands bucketing the
near-duplicate join (``embedding_near_dups_srp``).  Dot products are
``zip_with`` + ``aggregate`` Column expressions — no Python in the inner
loop; the broadcast of the (small) query set keeps the big side
shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_sim(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm embedding yields NULL (filtered by any
    # >= threshold comparison) instead of an ANSI DIVIDE_BY_ZERO that
    # would kill a 100 TB job over one degenerate row.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def knn_bruteforce(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   rank_precision: int | None = None) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    -> (query_id, neighbor_id, cosine, rank).  Two-stage top-k:
    ``queries`` is broadcast and scoring is partition-local; a
    mapInPandas stage truncates each partition to its local top-k per
    query BEFORE any shuffle (global top-k ⊆ union of local top-k's, so
    this is exact), and the final window ranks only P*k rows per query.
    A single window over the raw scores would drag every corpus score
    for one query into one task — the 100 TB killer this avoids.

    ``rank_precision`` rounds the cosine BEFORE ranking (ties then
    break on neighbor_id): summation order makes float cosines differ
    ~1e-7 across engines, which can flip a near-tied rank-k boundary —
    cross-engine comparisons should rank on a coarse fixed precision."""
    import pandas as pd

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    cos = cosine_sim(F.col("qvec"), F.col(vec_col))
    if rank_precision is not None:
        cos = F.round(cos, rank_precision)
    scored = (
        embeddings.alias("c")
        .join(F.broadcast(q), F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cos.alias("cosine"),
        )
    )

    def _local_topk(it):
        best = None
        for pdf in it:
            cur = pd.concat([best, pdf]) if best is not None else pdf
            best = (cur.sort_values(["query_id", "cosine", "neighbor_id"],
                                    ascending=[True, False, True])
                    .groupby("query_id", sort=False).head(k))
        if best is not None and len(best):
            yield best

    local = scored.mapInPandas(_local_topk, scored.schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return local.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def srp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id (one bit per hyperplane)."""
    bits = [
        F.when(F.aggregate(F.zip_with(vec, F.array(*[F.lit(x) for x in p]),
                                      lambda a, b: a * b),
                           F.lit(0.0), lambda acc, v: acc + v) >= 0, 1).otherwise(0)
        for p in planes
    ]
    out = F.lit(0)
    for b in bits:
        out = F.shiftleft(out.cast("long"), 1) + b
    return out.cast("long")


def deterministic_planes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes (hash-based, no RNG state)."""
    import math
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = (seed * 1_000_003 + p * 10_007 + d * 97) % 2_147_483_647
            row.append(math.sin(h))  # deterministic, roughly uniform sign
        planes.append(row)
    return planes


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]],
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest coarse centroid (IVF cell).

    Centroids are a small driver-side list (k tens-hundreds) baked into
    the expression as literals — no join, no shuffle; the argmax over k
    dot products happens inside codegen per row.

    The k cosines are computed ONCE into an array column and the argmax
    is array_position(sims, array_max(sims)) — first occurrence, so
    ties keep the lowest cell id, identical to a strict-greater scan.
    (A chained when(sim > best)/otherwise(best) scan embeds the full
    previous tree at every level — 2^k expression blow-up; measured
    14 s for k=8 over 2,000 rows vs milliseconds for this shape.)"""
    sims = F.array(*[
        cosine_sim(F.col(vec_col), F.array(*[F.lit(x) for x in c]))
        for c in centroids
    ])
    best = F.array_max(F.col("_sims"))
    return (embeddings.withColumn("_sims", sims)
            .withColumn("cell",
                        (F.array_position(F.col("_sims"), best) - 1)
                        .cast("int"))
            .withColumn("cell_sim", F.round(best, 6))
            .drop("_sims"))


def train_ivf_centroids(embeddings: DataFrame, k: int = 8, iters: int = 3,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> list[list[float]]:
    """Mini k-means for IVF coarse centroids, fully distributed:
    deterministic init (first k vectors by id), then ``iters`` rounds of
    assign (ivf_assign) + per-cell mean (posexplode groupBy — the
    label_centroids pattern).  k and iters are tiny; each round is two
    narrow shuffles over the corpus."""
    init = (embeddings.orderBy(id_col).limit(k)
            .select(vec_col).collect())
    centroids = [list(r[vec_col]) for r in init]
    for _ in range(iters):
        assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
        rows = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos").agg(F.avg("v").alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ps"))
            .select("cell", F.transform("ps", lambda s: s["m"]).alias("c"))
            .collect()
        )
        new = dict((r["cell"], list(r["c"])) for r in rows)
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids


def knn_ivf(embeddings: DataFrame, queries: DataFrame, centroids: list[list[float]],
            k: int = 5, n_probe: int = 2, id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: corpus partitioned by nearest centroid;
    each query probes its ``n_probe`` closest cells only.

    At 10^12 scale the corpus is *stored* partitioned/bucketed by cell,
    so a probe prunes partitions at the scan (partition filter), and the
    exact rerank touches corpus/k_cells * n_probe rows."""
    corpus = ivf_assign(embeddings, centroids, id_col, vec_col)
    # per-query probe list: rank all centroids, keep n_probe
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    cents = F.array(*[
        F.struct(F.lit(cid).alias("cell"),
                 cosine_sim(F.col("qvec"),
                            F.array(*[F.lit(x) for x in c])).alias("sim"))
        for cid, c in enumerate(centroids)
    ])
    probes = q.select(
        "query_id", "qvec",
        F.explode(F.slice(F.reverse(F.array_sort(
            cents, lambda a, b: F.when(a["sim"] < b["sim"], -1)
            .when(a["sim"] > b["sim"], 1).otherwise(0))), 1, n_probe)
        ).alias("p"),
    ).select("query_id", "qvec", F.col("p.cell").alias("cell"))
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"),
                cosine_sim(F.col("qvec"), F.col(vec_col)).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def label_centroids(embeddings: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Mean embedding per label via posexplode + two-level groupBy —
    the shuffle key is (label, dim position), fully parallel in dim."""
    return (
        embeddings.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
        .groupBy(label_col, "pos")
        .agg(F.avg("v").alias("mean_v"), F.count(F.lit(1)).alias("n"))
        .groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean_v"))).alias("pairs"),
             F.first("n").alias("n_vectors"))
        .select(label_col, F.transform("pairs", lambda s: s["mean_v"]).alias("centroid"),
                "n_vectors")
    )


def embedding_outliers(embeddings: DataFrame, label_col: str = "label",
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       z_threshold: float = 2.0) -> DataFrame:
    """Per-label centroid-distance outlier flagging
    -> (vec_id, label, dist, z, is_outlier): each vector's L2 distance
    to its label centroid, z-scored against the label's own distance
    distribution — the embedding-space data-cleaning pass that surfaces
    mislabeled / off-topic / corrupted vectors before a cluster-based
    curation step trusts the labels (the SemDeDup-adjacent hygiene
    check).

    Scale shape: the centroid table and the per-label (mu, sigma)
    stats are label-cardinality — both broadcast; the corpus is
    touched exactly twice (distance pass, z pass), no shuffle wider
    than the label-keyed stats aggregation.  ``is_outlier`` compares
    the 6-dp-rounded z so both engines of a value gate decide the
    threshold on the same quantity; labels with zero distance spread
    (singleton or degenerate) get z = 0."""
    cent = label_centroids(embeddings, label_col, vec_col) \
        .select(label_col, "centroid")
    d = (embeddings.join(F.broadcast(cent), label_col)
         .select(id_col, label_col,
                 F.sqrt(sq_l2_cols(F.col(vec_col).cast("array<double>"),
                                   F.col("centroid"))).alias("dist")))
    stats = d.groupBy(label_col).agg(
        F.avg("dist").alias("mu"),
        F.coalesce(F.stddev("dist"), F.lit(0.0)).alias("sigma"))
    z = F.when(F.col("sigma") == 0.0, F.lit(0.0)) \
        .otherwise((F.col("dist") - F.col("mu")) / F.col("sigma"))
    return (d.join(F.broadcast(stats), label_col)
            .select(id_col, label_col, "dist", F.round(z, 6).alias("z"))
            .withColumn("is_outlier", F.col("z") > z_threshold))


def embedding_near_dups_srp(embeddings: DataFrame, dim: int,
                            threshold: float = 0.95, n_planes: int = 8,
                            n_bands: int = 4, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Near-duplicate pairs WITHOUT a blocking label — the unlabeled
    10^12-corpus path: multiple independent SRP sketches band the
    vectors (high-cosine pairs collide in >=1 band w.h.p.), candidates
    dedupe on ids, then exact cosine verifies.  One shuffle per band
    explode + the candidate join; no quadratic term."""
    banded = embeddings.select(
        id_col, vec_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                srp_signature(F.col(vec_col),
                              deterministic_planes(dim, n_planes, seed=13 + b)
                              ).alias("bucket"))
            for b in range(n_bands)
        ])).alias("bb"),
    ).select(id_col, vec_col, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.%s" % id_col) < F.col("b.%s" % id_col))
        .select(F.col("a.%s" % id_col).alias("vec_a"),
                F.col("b.%s" % id_col).alias("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
    )
    v = embeddings.select(F.col(id_col), F.col(vec_col))
    pairs = (
        cand.join(v.withColumnRenamed(id_col, "vec_a")
                  .withColumnRenamed(vec_col, "va"), "vec_a")
        .join(v.withColumnRenamed(id_col, "vec_b")
              .withColumnRenamed(vec_col, "vb"), "vec_b")
    )
    return (
        pairs.select("vec_a", "vec_b",
                     cosine_sim(F.col("va"), F.col("vb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semdedup(embeddings: DataFrame, centroids: list[list[float]],
             threshold: float = 0.95, id_col: str = "vec_id",
             vec_col: str = "embedding", kernel: str = "numpy") -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al., arXiv:2303.09540):
    cluster the embedding space with k-means centroids, then prune
    semantic duplicates WITHIN each cluster only.

    Order the cluster's members by similarity-to-centroid ASCENDING
    (the paper keeps the low-centroid-similarity member of each dup
    group — it preserves outliers/diversity), tie-broken by id; a vector
    is dropped iff some EARLIER vector in that order has cosine >=
    threshold with it.  -> (vec_id, cell, cell_sim, keep).

    Scale shape: centroid assignment is literal-folded codegen (no
    shuffle — ``ivf_assign``); the quadratic term is confined within a
    cluster, which is the SemDeDup design itself (k grows ~sqrt(N), so
    cells stay bounded); one self-join shuffle on the cell key.  The
    domination test needs no iteration: "has an earlier near-dup" is a
    single semi-join fact per row, unlike transitive closure.

    ``kernel``: "numpy" (default — one applyInPandas per cell, the
    pairwise block is a single GEMM; the production path) or "column"
    (pure-Column self-join whose left-fold cosines DuckDB replays
    bit-for-bit; the oracle path).  Both implement the identical
    ordering and domination semantics."""
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
        "cell", "cell_sim")
    if kernel == "numpy":
        import numpy as np
        import pandas as pd

        def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["cell_sim", "vid"]).reset_index(drop=True)
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            # clamp zero norms: a zero vector must score cosine 0 (kept,
            # never a dup) instead of poisoning the GEMM with NaN rows —
            # mirrors the column kernel, where 0/0 -> NULL -> not >= t.
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True),
                            1e-300)
            S = V @ V.T
            n = len(pdf)
            # dropped iff an EARLIER row (lower cell_sim, tie min id)
            # is a near-dup: strict upper triangle looking backwards
            tri = np.tril(S, -1)
            keep = ~(tri >= threshold).any(axis=1) if n > 1 \
                else np.ones(n, dtype=bool)
            return pd.DataFrame({
                "vid": pdf["vid"], "cell": pdf["cell"],
                "cell_sim": pdf["cell_sim"], "keep": keep})

        out = (assigned
               .repartition(max(len(centroids), 1), "cell")
               .groupBy("cell")
               .applyInPandas(_cell, ("vid long, cell int, "
                                      "cell_sim double, keep boolean")))
        return out.withColumnRenamed("vid", id_col)
    a, b = assigned.alias("a"), assigned.alias("b")
    dominated = (
        a.join(b, "cell")
        # b earlier in the keep-order than a: lower cell_sim, tie min id
        .where((F.col("b.cell_sim") < F.col("a.cell_sim")) |
               ((F.col("b.cell_sim") == F.col("a.cell_sim")) &
                (F.col("b.vid") < F.col("a.vid"))))
        .where(cosine_sim(F.col("a.v"), F.col("b.v")) >= threshold)
        .select(F.col("a.vid").alias("vid"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        assigned.join(dominated, "vid", "left")
        .select(F.col("vid").alias(id_col), "cell", "cell_sim",
                F.coalesce(F.col("dropped"), F.lit(False)).alias("is_dup"))
        .withColumn("keep", ~F.col("is_dup")).drop("is_dup")
    )


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        label_col: str = "label") -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label."""
    base = embeddings.select(F.col(id_col), F.col(label_col).alias("blk"), F.col(vec_col).alias("v"))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, "blk")
        .where(F.col("a.%s" % id_col) < F.col("b.%s" % id_col))
        .select(F.col("a.%s" % id_col).alias("vec_a"),
                F.col("b.%s" % id_col).alias("vec_b"),
                cosine_sim(F.col("a.v"), F.col("b.v")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


# ---- int8 scalar quantization (ANN memory/bandwidth cut) -----------------

def quantize_embeddings(embeddings: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = clamp(round(x_i / scale), -127, 127).  A float32 embedding
    column shrinks 4x — at 10^12-vector ANN scale that is the
    difference between an index that fits executor memory and one that
    spills; the ``quantized_recall`` query measures the recall loss.

    Pure Columns (transform/array_max), no shuffle, no UDF; zero
    vectors quantize to zeros with scale 0."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    qvec = F.when(scale > 0, F.transform(
        v, lambda x: F.least(F.greatest(F.round(x / scale),
                                        F.lit(-127.0)),
                             F.lit(127.0)).cast("int"))) \
        .otherwise(F.transform(v, lambda x: F.lit(0)))
    return embeddings.withColumn("scale", scale).withColumn("qvec", qvec)


# ---- Product quantization (Jégou et al. 2011, "PQ for NN search") ------
#
# The third rung of the ANN memory ladder after float32 and int8: split
# each vector into m subvectors, k-means each subspace independently,
# store only the m centroid ids.  dim=64 float32 (256 B) becomes m=4
# bytes — 64x — and queries scan codes with an m-lookup additive
# distance (ADC), never touching raw vectors.  At 10^12-vector scale
# the codes table is the only corpus-sized artifact; codebooks are
# driver-side literals (m*k*(dim/m) floats) baked into expressions, so
# assignment and ADC scoring are shuffle-free map stages.
#
# Determinism contract (the value gate relies on it): init = the first
# k vectors by id, per-coordinate means rounded to 6 decimals each
# Lloyd round (a stored codebook is itself quantized), squared-L2 folds
# run left-to-right in both engines, argmin ties break to the lowest
# cell id.


def _sq_l2(sv: Column, centroid: list[float]) -> Column:
    """Squared L2 distance between a subvector column and a centroid
    literal, as a left-to-right fold (bit-identical to the oracle's
    list_sum(list_transform(...)))."""
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(sv, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)


def _pq_subvectors(embeddings: DataFrame, dim: int, m: int,
                   id_col: str, vec_col: str) -> DataFrame:
    """(id, s, sv) rows — one per (vector, subspace)."""
    d = dim // m
    return embeddings.select(
        id_col,
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.slice(F.col(vec_col), s * d + 1, d).alias("sv"))
            for s in range(m)])).alias("x"),
    ).select(id_col, "x.s", "x.sv")


def _pq_assign_cells(sub: DataFrame,
                     codebooks: list[list[list[float]]]) -> DataFrame:
    """Nearest-centroid cell per (id, s, sv) row.  Each subspace gets
    its own codegen'd distance array (k tiny folds); first-min
    array_position = lowest-cell tie-break."""
    branches = []
    for s, cb in enumerate(codebooks):
        dists = F.array(*[_sq_l2(F.col("sv"), c) for c in cb])
        cell = (F.array_position(F.col("_d"), F.array_min(F.col("_d")))
                - 1).cast("int")
        branches.append(sub.where(F.col("s") == s)
                        .withColumn("_d", dists)
                        .withColumn("cell", cell).drop("_d"))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def train_pq_codebooks(embeddings: DataFrame, dim: int, m: int = 4,
                       k: int = 16, iters: int = 2,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[list[list[float]]]:
    """Per-subspace mini k-means, fully distributed: deterministic init
    (subvectors of the first k ids), then ``iters`` rounds of assign
    (map over the corpus, centroid literals) + per-cell coordinate mean
    (one narrow shuffle), means rounded to 6 decimals.  Empty cells
    keep their previous centroid.  m/k/iters are tiny constants; every
    round is one pass over the corpus."""
    d = dim // m
    first = (embeddings.orderBy(id_col).limit(k)
             .select(vec_col).collect())
    codebooks = [[list(r[vec_col])[s * d:(s + 1) * d] for r in first]
                 for s in range(m)]
    sub = _pq_subvectors(embeddings, dim, m, id_col, vec_col)
    for _ in range(iters):
        assigned = _pq_assign_cells(sub, codebooks)
        rows = (assigned
                .select("s", "cell", F.posexplode("sv").alias("pos", "v"))
                .groupBy("s", "cell", "pos")
                .agg(F.round(F.avg("v"), 6).alias("mv"))
                .groupBy("s", "cell")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "mv")))
                     .alias("ps"))
                .select("s", "cell",
                        F.transform("ps", lambda x: x["mv"]).alias("c"))
                .collect())
        new = {(r["s"], r["cell"]): list(r["c"]) for r in rows}
        codebooks = [[new.get((s, c), codebooks[s][c]) for c in range(k)]
                     for s in range(m)]
    return codebooks


def pq_assign(embeddings: DataFrame, codebooks: list[list[list[float]]],
              dim: int, id_col: str = "vec_id",
              vec_col: str = "embedding",
              keep: list[str] | None = None) -> DataFrame:
    """(id, [keep...], codes) — codes[s] = nearest cell in subspace s.
    Pure map stage (centroid literals), no shuffle; the 10^12-scale
    storage artifact."""
    m = len(codebooks)
    d = dim // m
    code_cols = []
    for s, cb in enumerate(codebooks):
        sv = F.slice(F.col(vec_col), s * d + 1, d)
        dists = F.array(*[_sq_l2(sv, c) for c in cb])
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
            .alias("code_%d" % s))
    return embeddings.select(id_col, *(keep or []), *code_cols).withColumn(
        "codes", F.array(*["code_%d" % s for s in range(m)]))


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebooks: list[list[list[float]]], dim: int, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                rank_precision: int = 6) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query precomputes
    an m x k lookup table (squared L2 from its raw subvectors to every
    centroid) ONCE on the query side, then scans the codes table with m
    array lookups + adds per corpus row — the ADC trick that makes PQ
    search memory-bandwidth-bound instead of FLOP-bound.  Queries are
    broadcast; the corpus never shuffles.  Ranking rounds the additive
    distance (and ties break on id) so near-ties are stable across
    engines."""
    m = len(codebooks)
    d = dim // m
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    for s, cb in enumerate(codebooks):
        qsv = F.slice(F.col("qvec"), s * d + 1, d)
        q = q.withColumn("lut_%d" % s,
                         F.array(*[_sq_l2(qsv, c) for c in cb]))
    q = q.drop("qvec")
    dist = None
    for s in range(m):
        term = F.element_at(F.col("lut_%d" % s),
                            F.element_at(F.col("codes"), s + 1) + 1)
        dist = term if dist is None else dist + term
    scored = (codes.join(F.broadcast(q))
              .where(F.col("query_id") != F.col(id_col))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      F.round(dist, rank_precision).alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# ---- IVF-PQ: coarse inverted lists + residual product codes ------------
#
# The composition every billion-scale ANN deployment actually runs
# (FAISS IndexIVFPQ): a coarse k-means partitions the corpus into
# inverted lists; each vector stores only its list id + PQ codes of its
# RESIDUAL (x - coarse centroid); a query probes its n_probe nearest
# lists and scans their codes with per-list ADC tables.  At 10^12
# vectors the corpus is *stored* partitioned by coarse cell, so a probe
# is a partition-pruned scan; per-vector storage is log2(k0) bits + m
# bytes.  Training, assignment and search reuse the PQ kernels above
# (the coarse quantizer IS train_pq_codebooks with m=1), and the whole
# training chain replays relationally in the oracle.


def sq_l2_cols(a: Column, b: Column) -> Column:
    """Column-column squared L2 as the same left-to-right fold the
    centroid-literal variant uses (oracle-bit-identical)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def ivfpq_residuals(embeddings: DataFrame, coarse: list[list[float]],
                    dim: int, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest coarse centroid and replace the
    embedding with its residual.  Pure map stage."""
    dists = F.array(*[_sq_l2(F.col(vec_col), c) for c in coarse])
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                         for c in coarse])
    out = embeddings.withColumn("coarse_cell", cell)
    resid = F.zip_with(F.col(vec_col),
                       F.element_at(cent_lit, F.col("coarse_cell") + 1),
                       lambda a, b: a - b)
    return out.withColumn(vec_col, resid)


def train_ivfpq(embeddings: DataFrame, dim: int, k_coarse: int = 8,
                m: int = 4, k: int = 16, iters: int = 2,
                id_col: str = "vec_id", vec_col: str = "embedding"):
    """(coarse_centroids, pq_codebooks): coarse k-means over raw
    vectors (train_pq_codebooks with m=1), then per-subspace codebooks
    over the residuals."""
    coarse = train_pq_codebooks(embeddings, dim=dim, m=1, k=k_coarse,
                                iters=iters, id_col=id_col,
                                vec_col=vec_col)[0]
    resid = ivfpq_residuals(embeddings, coarse, dim, id_col, vec_col)
    pq_cbs = train_pq_codebooks(resid, dim=dim, m=m, k=k, iters=iters,
                                id_col=id_col, vec_col=vec_col)
    return coarse, pq_cbs


def ivfpq_assign(embeddings: DataFrame, coarse: list[list[float]],
                 pq_codebooks: list[list[list[float]]], dim: int,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """(id, coarse_cell, code_*..., codes) — the stored index rows."""
    resid = ivfpq_residuals(embeddings, coarse, dim, id_col, vec_col)
    return pq_assign(resid, pq_codebooks, dim, id_col, vec_col,
                     keep=["coarse_cell"])


def ivfpq_adc_topk(index: DataFrame, queries: DataFrame,
                   coarse: list[list[float]],
                   pq_codebooks: list[list[list[float]]], dim: int,
                   k: int = 5, n_probe: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   rank_precision: int = 6) -> DataFrame:
    """Probe-limited ADC search over an ivfpq_assign index: each query
    ranks the coarse cells by squared L2, keeps ``n_probe``, computes a
    residual-query LUT per probed cell, and scans only that cell's
    codes.  Queries (with their per-cell LUTs) broadcast; the index
    side joins on coarse_cell — at stored-partitioned scale that join
    IS partition pruning."""
    m = len(pq_codebooks)
    d = dim // m
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    ranked = F.array(*[
        F.struct(_sq_l2(F.col("qvec"), c).alias("d"),
                 F.lit(i).alias("cell"))
        for i, c in enumerate(coarse)])
    # natural struct ordering sorts by (d, cell) ascending — the same
    # (distance, lowest-cell) tie-break the oracle's window uses
    probes = q.select(
        "query_id", "qvec",
        F.explode(F.slice(F.array_sort(ranked), 1, n_probe)).alias("p"),
    ).select("query_id", "qvec", F.col("p.cell").alias("coarse_cell"))
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                         for c in coarse])
    probes = probes.withColumn(
        "rq", F.zip_with(F.col("qvec"),
                         F.element_at(cent_lit, F.col("coarse_cell") + 1),
                         lambda a, b: a - b)).drop("qvec")
    for s, cb in enumerate(pq_codebooks):
        rsv = F.slice(F.col("rq"), s * d + 1, d)
        probes = probes.withColumn(
            "lut_%d" % s, F.array(*[_sq_l2(rsv, c) for c in cb]))
    probes = probes.drop("rq")
    dist = None
    for s in range(m):
        term = F.element_at(F.col("lut_%d" % s),
                            F.element_at(F.col("codes"), s + 1) + 1)
        dist = term if dist is None else dist + term
    scored = (index.join(F.broadcast(probes), "coarse_cell")
              .where(F.col("query_id") != F.col(id_col))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      F.round(dist, rank_precision).alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def embedding_drift(embeddings: DataFrame, label_col: str = "label",
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    scale: int = 1_000_000) -> DataFrame:
    """Embedding-distribution drift between two snapshots (here: the
    id-parity halves; in production, two crawl snapshots): per label,
    the cosine between the halves' centroids — the embedding-space
    sibling of the token-level source_drift/ks_drift monitors (a model
    or corpus change that shifts where a topic's documents embed shows
    up here before downstream quality metrics move).

    Exactness: centroid components are floor(mean * scale) INTEGERS,
    so the 64-dim dot product and both norms are order-independent
    bigint sums; cosine/drift are single expressions over three exact
    bigints.  Scale shape: one (label, half, pos) groupBy with
    map-side combine, one join on (label, pos), one label-level
    aggregate — no window, no collect."""
    halves = (embeddings
              .select(F.col(label_col).alias("label"),
                      (F.col(id_col) % 2).alias("half"),
                      F.posexplode(F.col(vec_col)).alias("pos", "v"))
              .groupBy("label", "half", "pos")
              .agg(F.floor(F.avg(F.col("v").cast("double"))
                           * float(scale)).cast("long").alias("m"),
                   F.count(F.lit(1)).alias("_n")))
    a = halves.where(F.col("half") == 0) \
        .select("label", "pos", F.col("m").alias("ma"),
                F.col("_n").alias("na"))
    b = halves.where(F.col("half") == 1) \
        .select("label", "pos", F.col("m").alias("mb"),
                F.col("_n").alias("nb"))
    agg = (a.join(b, ["label", "pos"])
           .groupBy("label")
           .agg(F.max("na").cast("long").alias("n_a"),
                F.max("nb").cast("long").alias("n_b"),
                F.sum(F.col("ma") * F.col("mb")).alias("dot"),
                F.sum(F.col("ma") * F.col("ma")).alias("na2"),
                F.sum(F.col("mb") * F.col("mb")).alias("nb2")))
    cos = F.when(
        (F.col("na2") > 0) & (F.col("nb2") > 0),
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na2").cast("double"))
           * F.sqrt(F.col("nb2").cast("double"))))
    return agg.select("label", "n_a", "n_b",
                      cos.alias("cosine"),
                      (F.lit(1.0) - cos).alias("drift"))
