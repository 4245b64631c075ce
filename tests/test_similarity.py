"""Similarity search over the embeddings table (sf0.001)."""

import math

import pytest
from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.operators.similarity import (
    embedding_near_dups,
    knn_bruteforce,
    label_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def py_cosine(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_bruteforce_topk_matches_python(emb):
    queries = emb.where(F.col("vec_id") < 3)
    got = knn_bruteforce(emb, queries, k=5).collect()
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    for qid in range(3):
        mine = sorted(
            ((py_cosine(rows[qid], v), -i) for i, v in rows.items() if i != qid),
            reverse=True)[:5]
        want_ids = [-i for _, i in mine]
        got_ids = [r["neighbor_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert got_ids == want_ids
        top = next(r for r in got if r["query_id"] == qid and r["rank"] == 1)
        assert abs(top["cosine"] - mine[0][0]) < 1e-5


def test_knn_returns_k_rows_per_query(emb):
    out = knn_bruteforce(emb, emb.limit(4), k=3)
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_label_centroids(emb):
    out = label_centroids(emb).collect()
    labels = {r["label"] for r in out}
    assert labels == {r["label"] for r in emb.select("label").distinct().collect()}
    one = out[0]
    assert len(one["centroid"]) == 64
    # centroid of label = mean of its vectors on dim 0
    vecs = [list(r["embedding"]) for r in emb.where(F.col("label") == one["label"]).collect()]
    want = sum(v[0] for v in vecs) / len(vecs)
    assert abs(one["centroid"][0] - want) < 1e-6


def test_ivf_assign_and_train(spark, emb):
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, k=4, iters=2)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    assigned = ivf_assign(emb, cents)
    cells = {r["cell"] for r in assigned.select("cell").distinct().collect()}
    assert cells <= {0, 1, 2, 3}
    assert len(cells) >= 2  # corpus spreads over multiple cells
    # assignment is the argmax: cell_sim >= sim to every other centroid
    row = assigned.limit(1).collect()[0]
    vec = list(row["embedding"])
    sims = [py_cosine(vec, c) for c in cents]
    assert abs(max(sims) - row["cell_sim"]) < 1e-5


def test_knn_ivf_recall(spark, emb):
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        knn_ivf,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as F

    cents = train_ivf_centroids(emb, k=4, iters=2)
    queries = emb.where(F.col("vec_id") < 10)
    exact = knn_bruteforce(emb, queries, k=5).collect()
    approx = knn_ivf(emb, queries, cents, k=5, n_probe=2).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hit = total = 0
    for r in approx:
        total += 1
        hit += r["neighbor_id"] in exact_sets.get(r["query_id"], set())
    assert total > 0
    assert hit / total > 0.4  # probing half the cells


def test_embedding_near_dups_srp_finds_planted_dup(spark, emb):
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        embedding_near_dups_srp,
    )
    from pyspark.sql import functions as F

    dup = emb.limit(1).withColumn("vec_id", F.lit(999_999).cast("long"))
    both = emb.unionByName(dup)
    orig_id = emb.limit(1).collect()[0]["vec_id"]
    out = embedding_near_dups_srp(both, dim=64, threshold=0.99)
    hits = out.where((F.col("vec_a") == orig_id)
                     & (F.col("vec_b") == 999_999)).collect()
    assert len(hits) == 1 and hits[0]["cosine"] > 0.999
    # every returned pair satisfies the threshold (verification is exact)
    assert out.where(F.col("cosine") < 0.99).count() == 0


def test_embedding_near_dups_threshold(emb):
    out = embedding_near_dups(emb, threshold=0.9)
    for r in out.collect():
        assert r["cosine"] >= 0.9
        assert r["vec_a"] < r["vec_b"]


def test_semdedup_tiny_fixture(spark):
    from deepseek_ocr_omnidocbench_spark.operators.similarity import semdedup

    # two clusters along the axes; one near-dup pair in each
    rows = [
        (0, [1.0, 0.0]),     # cell 0, cell_sim 1.0
        (1, [0.99, 0.08]),   # cell 0, near-dup of v0, lower cell_sim
        (2, [0.0, 1.0]),     # cell 1, cell_sim 1.0
        (3, [0.10, 0.99]),   # cell 1, near-dup of v2, lower cell_sim
        (4, [-1.0, 0.3]),    # cell 1? no — negative x, nearest is c1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = {r["vec_id"]: r for r in semdedup(emb, cents, threshold=0.95).collect()}
    assert len(out) == 5
    # the LOW centroid-similarity member of each dup group survives
    assert out[1]["keep"] and not out[0]["keep"]
    assert out[3]["keep"] and not out[2]["keep"]
    assert out[4]["keep"]  # far from everything in its cell
    assert out[0]["cell"] == out[1]["cell"] == 0
    assert out[2]["cell"] == out[3]["cell"]


def test_semdedup_zero_norm_vectors_kept_by_both_kernels(spark):
    """A zero embedding must not poison the numpy GEMM with NaNs: it is
    kept (cosine 0 / NULL with everything) and never dominates, in both
    kernels, and does not change verdicts for its cell-mates."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.08]),   # near-dup of v0
        (2, [0.0, 0.0]),     # zero vector, lands in some cell
        (3, [0.0, 0.0]),     # second zero vector — still not a "dup"
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    for kernel in ("numpy", "column"):
        out = {r["vec_id"]: bool(r["keep"])
               for r in semdedup(emb, cents, threshold=0.95,
                                 kernel=kernel).collect()}
        assert out == {0: False, 1: True, 2: True, 3: True}, kernel


def test_semdedup_planted_duplicate(spark, emb):
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        semdedup,
        train_ivf_centroids,
    )

    dup = emb.limit(1).withColumn("vec_id", F.lit(999_999).cast("long"))
    both = emb.unionByName(dup).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    orig_id = emb.limit(1).collect()[0]["vec_id"]
    cents = train_ivf_centroids(both, k=4, iters=2)
    out = {r["vec_id"]: r for r in semdedup(both, cents, threshold=0.999).collect()}
    # an exact duplicate lands in the same cell with identical cell_sim;
    # exactly one of the pair survives (tie-break: min id kept)
    assert out[orig_id]["cell"] == out[999_999]["cell"]
    assert bool(out[orig_id]["keep"]) != bool(out[999_999]["keep"])
    assert out[min(orig_id, 999_999)]["keep"]


def test_semdedup_kernels_agree(spark, emb):
    from deepseek_ocr_omnidocbench_spark.operators.similarity import semdedup

    e = emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("embedding"))
    cents = [list(r["embedding"]) for r in
             e.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    a = {r["vec_id"]: (r["cell"], bool(r["keep"]))
         for r in semdedup(e, cents, threshold=0.32, kernel="numpy").collect()}
    b = {r["vec_id"]: (r["cell"], bool(r["keep"]))
         for r in semdedup(e, cents, threshold=0.32, kernel="column").collect()}
    assert a == b
    assert any(not keep for _, keep in a.values())  # threshold does prune


def test_semdedup_idempotent_on_survivors(spark, emb):
    """Running SemDeDup again on its own survivors must drop nothing —
    every remaining pair is below the threshold by construction."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import semdedup

    e = emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("embedding"))
    cents = [list(r["embedding"]) for r in
             e.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    first = semdedup(e, cents, threshold=0.32)
    survivors = e.join(first.where("keep").select("vec_id"), "vec_id")
    n_surv = survivors.count()
    assert n_surv < e.count()  # the first pass pruned something
    second = semdedup(survivors, cents, threshold=0.32)
    assert second.where("keep").count() == n_surv


def test_semdedup_matches_pure_python_reference(spark):
    """Randomized parity vs an independent implementation of the
    SemDeDup spec (assign to nearest centroid, order by (cell_sim, id),
    drop on any earlier near-dup)."""
    import random

    from deepseek_ocr_omnidocbench_spark.operators.similarity import semdedup

    rng = random.Random(7)
    dim, n, thr = 8, 40, 0.9
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}
    # plant near-dup pairs
    for src, dst in ((0, 30), (5, 31), (5, 32)):
        vecs[dst] = [x + rng.uniform(-0.01, 0.01) for x in vecs[src]]
    cents = [vecs[i] for i in range(3)]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return d / (na * nb)

    assign = {}
    for i, v in vecs.items():
        sims = [cos(v, c) for c in cents]
        best = max(sims)
        assign[i] = (sims.index(best), round(best, 6))
    want = {}
    for cell in {c for c, _ in assign.values()}:
        members = sorted((s, i) for i, (c, s) in assign.items() if c == cell)
        kept = []
        for s, i in members:
            dup = any(cos(vecs[i], vecs[j]) >= thr for _, j in kept)
            want[i] = not dup
            if not dup:
                kept.append((s, i))
    # the python reference drops non-kept; spark drops on ANY earlier
    # (kept or not) near-dup — align the reference to the spec:
    want = {}
    for cell in {c for c, _ in assign.values()}:
        members = sorted((s, i) for i, (c, s) in assign.items() if c == cell)
        for k, (s, i) in enumerate(members):
            want[i] = not any(cos(vecs[i], vecs[j]) >= thr
                              for _, j in members[:k])

    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: (r["cell"], bool(r["keep"]))
           for r in semdedup(emb, cents, threshold=thr).collect()}
    for i in range(n):
        assert got[i][0] == assign[i][0], i
        assert got[i][1] == want[i], (i, got[i], want[i])
    # exactly one survivor per planted dup group (clone or original)
    assert sum(1 for i in (0, 30) if want[i]) == 1
    assert sum(1 for i in (5, 31, 32) if want[i]) == 1


def test_quantize_embeddings(spark):
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0]),
         (3, [127.0, -127.0, 63.5])],
        "vec_id long, embedding array<float>")
    q = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    assert q[1].qvec == [127, -64, 32]          # scale = 1/127
    assert abs(q[1].scale - 1.0 / 127.0) < 1e-12
    assert q[2].qvec == [0, 0, 0] and q[2].scale == 0.0  # zero vector
    assert q[3].qvec == [127, -127, 64]         # clamp bounds hold


def test_embedding_outliers_planted(spark):
    """A vector far from its label's centroid is flagged; tight
    clusters and singleton labels are not (singleton sigma -> z = 0)."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        embedding_outliers,
    )

    rows = ([(i, [0.0 + 0.01 * i, 1.0 - 0.01 * i], 0) for i in range(6)]
            + [(6, [9.0, 9.0], 0)]       # planted outlier in label 0
            + [(7, [5.0, 5.0], 1)])      # singleton label
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>,"
                                     " label int")
    got = {r.vec_id: r for r in embedding_outliers(df).collect()}
    assert got[6].is_outlier
    assert not any(got[i].is_outlier for i in range(6))
    assert got[7].z == 0.0 and not got[7].is_outlier
    # z is computed against the label's own spread: the outlier's z is
    # the largest in label 0 and the clean points sit below threshold
    assert got[6].z > 2.0 > max(abs(got[i].z) for i in range(6))


def test_embedding_drift(spark):
    import math

    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        embedding_drift)

    # label 0: both halves identical direction -> cosine 1, drift 0
    # label 1: halves orthogonal -> cosine 0, drift 1
    rows = []
    for vid in range(8):
        rows.append((vid, 0, [1.0, 0.0, 0.0, 0.0]))
    for vid in range(8, 16):
        vec = [0.0, 1.0, 0.0, 0.0] if vid % 2 else [1.0, 0.0, 0.0, 0.0]
        rows.append((vid, 1, vec))
    d = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = {r.label: r for r in embedding_drift(d).collect()}
    assert out[0].cosine == pytest.approx(1.0)
    assert out[0].drift == pytest.approx(0.0)
    assert out[0].n_a == 4 and out[0].n_b == 4
    assert out[1].cosine == pytest.approx(0.0)
    assert out[1].drift == pytest.approx(1.0)
    assert not math.isnan(out[1].drift)
