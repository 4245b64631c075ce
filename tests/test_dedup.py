"""Dedup operators on the driver-provided documents table (sf0.001)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.operators.dedup import (
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    word_shingles,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_word_shingles(spark):
    df = spark.createDataFrame([("The quick brown fox jumps",), ("ab",)], ["text"])
    rows = df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()
    assert "the quick brown" in rows[0]["sh"]
    assert len(rows[0]["sh"]) == 3
    assert rows[1]["sh"] == ["ab"]  # shorter than n -> whole text


def test_selfdup_found_by_all_detectors(spark, docs):
    """Append an exact copy of one doc; every detector must pair it."""
    dup = docs.limit(1).withColumn("doc_id", F.lit(999_999).cast("long"))
    both = docs.unionByName(dup)
    orig_id = docs.limit(1).collect()[0]["doc_id"]

    lsh = lsh_candidate_pairs(both).where(
        (F.col("doc_a") == orig_id) & (F.col("doc_b") == 999_999)).collect()
    assert len(lsh) == 1 and abs(lsh[0]["jaccard"] - 1.0) < 1e-9

    sim = simhash_near_pairs(both).where(
        (F.col("doc_a") == orig_id) & (F.col("doc_b") == 999_999)).collect()
    assert len(sim) == 1 and sim[0]["hamming"] == 0


def test_lsh_jaccard_agrees_with_exact(docs):
    """Candidate pairs' jaccard must equal the exact blocked computation."""
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in lsh_candidate_pairs(docs).collect()}
    if not lsh:
        pytest.skip("no near-dup pairs at this sf")
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, block_col="lang").collect()}
    for pair, j in lsh.items():
        if pair in exact:
            assert abs(exact[pair] - j) < 1e-9


def test_ngram_jaccard_df_cap_adversarial(spark):
    """10^3 docs share one stock sentence (a df=1000 posting list).  The
    uncapped inverted index would emit ~5*10^5 join rows per stock
    shingle; df_cap drops those shingles from candidate generation, and
    full-array verification keeps every reported jaccard exact."""
    stock = "all rights reserved contact us for details today"
    rows = [(i, "en", f"unique page {i} body text number {i * 7} " * 3 + stock)
            for i in range(1000)]
    # plant one true near-dup pair that does NOT rely on stock shingles
    rows.append((2000, "en", rows[0][2] + " tiny tail"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    capped = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=100)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    exact = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=None)
    want = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in exact.collect()}
    assert (0, 2000) in got
    assert got == want  # result-identical: near-dups share non-stock shingles

    # the capped plan's self-join input is bounded: no posting > df_cap
    n_join_rows = 1000 * 999 // 2  # what the stock shingle alone would emit
    assert capped.count() < n_join_rows

    # DEFAULT path (df_cap="derived"): cap = max(1000, ceil(sqrt(1001)))
    # = 1000 < stock df 1001, so the stock posting list is dropped from
    # candidate generation with NO opt-in flags — and the result is
    # still exact because near-dups share non-stock shingles
    default = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert default == want


def test_ngram_jaccard_candidates_param(docs):
    """Verification restricted to LSH candidates equals the exact values
    for those pairs (the 100 TB path: no all-pairs self-join)."""
    cand = lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    if cand.count() == 0:
        pytest.skip("no near-dup pairs at this sf")
    via_cand = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in ngram_jaccard_pairs(
                    docs, threshold=0.0, candidates=cand).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, block_col="lang").collect()}
    # exact blocks on lang; candidates may span langs — compare the overlap
    shared = set(via_cand) & set(exact)
    assert shared
    for pair in shared:
        assert abs(exact[pair] - via_cand[pair]) < 1e-9


def test_ngram_jaccard_pair_count_matches_duckdb(docs):
    got = ngram_jaccard_pairs(docs, threshold=0.2).count()
    want = duckdb.sql(f"""
        with d as (
          select doc_id, lang,
            list_distinct([array_to_string(w[i:i+2], ' ')
              for i in range(1, greatest(len(w) - 1, case when len(w)>0 then 2 else 1 end))]) sh
          from (
            select doc_id, lang,
              list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) w
            from read_parquet('{SF_DIR}/documents.parquet'))
        )
        select count(*) from d a join d b
          on a.lang = b.lang and a.doc_id < b.doc_id
        where len(list_intersect(a.sh, b.sh))::double
              / len(list_distinct(a.sh || b.sh)) > 0.2
    """).fetchone()[0]
    assert got == want


def test_containment_pairs_asymmetric(spark):
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        containment_pairs,
    )

    long_text = ("alpha beta gamma delta epsilon zeta eta theta iota "
                 "kappa lamda mu nu xi omicron pi rho sigma tau upsilon")
    excerpt = "alpha beta gamma delta epsilon zeta eta theta"
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen")
    docs = spark.createDataFrame(
        [(1, "en", long_text), (2, "en", excerpt), (3, "en", other)],
        "doc_id long, lang string, text string")
    out = {(r.doc_a, r.doc_b): r
           for r in containment_pairs(docs, threshold=0.9).collect()}
    assert set(out) == {(1, 2)}
    pair = out[(1, 2)]
    assert pair.containment_b == 1.0          # excerpt fully inside
    assert pair.containment_a < 0.5           # long side far below
    # symmetric jaccard on the same pair would sit below 0.5: the
    # asymmetric direction is what finds it
    strict = containment_pairs(docs, threshold=0.999).collect()
    assert {(r.doc_a, r.doc_b) for r in strict} == {(1, 2)}


def test_containment_viral_shingle_candidate_guard(spark):
    """150 docs share exactly ONE stock shingle; min_shared=2 (default)
    prunes the k^2/2 single-link candidates at GENERATION time while a
    genuine excerpt pair (2 shared shingles) and a 1-shingle tiny doc
    (relaxed to its own shingle count) both survive — and the pruned
    result equals the exhaustive one, because 1-of-4 shared shingles is
    containment 0.25, far below any useful threshold."""
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    k = 150
    rows = [(i, "en", "alpha beta gamma u%d v%d w%d" % (i, i, i))
            for i in range(k)]
    rows.append((500, "en", "alpha beta gamma u0"))  # excerpt of doc 0
    rows.append((600, "en", "alpha beta gamma"))     # single-shingle doc
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    # generation-side pruning: single-link pairs never reach verification
    n_guarded = ngram_jaccard_pairs(docs, threshold=0.0, df_cap=10**6,
                                    min_shared=2).count()
    n_all = ngram_jaccard_pairs(docs, threshold=0.0, df_cap=10**6,
                                min_shared=1).count()
    assert n_all > k * (k - 1) // 2          # viral shingle links all pairs
    assert n_guarded < 3 * k                 # guard kills the quadratic set

    got = {(r.doc_a, r.doc_b): r for r in
           containment_pairs(docs, threshold=0.9, df_cap=10**6).collect()}
    exhaustive = {(r.doc_a, r.doc_b): r for r in
                  containment_pairs(docs, threshold=0.9, df_cap=None).collect()}
    assert set(got) == set(exhaustive)
    assert (0, 500) in got                   # 2-shared-shingle excerpt
    assert got[(0, 500)].containment_b == 1.0
    # tiny doc: 1 shingle, shared by every corpus doc -> min_shared
    # relaxes to least(2, 1) = 1 and the pair still surfaces
    assert all(p[1] == 600 or p[0] == 600 for p in got
               if p not in {(0, 500)}) or (0, 600) in got


def test_cdc_chunks_shift_resilience():
    """The CDC property fixed-size blocking lacks: inserting a prefix
    re-digests only the chunks that contain the edit — downstream
    chunks (content unchanged) keep their digests."""
    from deepseek_ocr_omnidocbench_spark.operators.dedup import cdc_chunks

    base = ("many different sentences flow through this corpus and the "
            "chunker cuts wherever the rolling hash lands on the mask "
            "value, which happens roughly every mask characters on "
            "average across natural english text like this example.")
    a = cdc_chunks(base)
    b = cdc_chunks("INSERTED PREAMBLE! " + base)
    shared = set(a) & set(b)
    assert len(shared) >= len(a) - 2     # only the head chunk re-cut
    assert cdc_chunks("") == []
    assert len(cdc_chunks("tiny")) == 1  # shorter than k -> one chunk
    assert cdc_chunks(base) == a         # deterministic


def test_cdc_chunks_digests_reassemble(spark):
    """Chunk digests per doc: concatenating the chunk texts that
    produced them must reconstruct the doc (boundaries partition the
    text); checked via counts through the Spark UDF path."""
    from pyspark.sql import functions as F

    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        cdc_chunk_stats, cdc_chunk_udf, cdc_chunks,
    )

    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (3, "totally different content with its own boundaries")]
    df = spark.createDataFrame(rows, ["doc_id", "text"]) \
        .withColumn("source", F.lit("s"))
    got = df.select(cdc_chunk_udf()(F.col("text")).alias("c")).collect()
    assert [r.c for r in got] == [cdc_chunks(r[1]) for r in rows]
    stats = cdc_chunk_stats(df).collect()[0]
    # docs 1 and 2 are identical: every one of their chunks duplicates
    assert stats.n_chunks > stats.n_distinct_chunks
    assert stats.dup_ratio > 0


def test_cdc_chunks_partition_property():
    """Property (hypothesis): chunks exactly partition the input —
    concatenation reconstructs it, no chunk is empty, and a chunk's
    digest equals the digest of its raw text."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deepseek_ocr_omnidocbench_spark.operators.dedup import cdc_chunks

    @settings(max_examples=60, deadline=None)
    @given(st.text(min_size=0, max_size=400))
    def prop(text):
        raw = cdc_chunks(text, raw=True)
        assert "".join(raw) == text
        assert all(raw)  # no empty chunk
        dig = cdc_chunks(text)
        assert dig == [hashlib.md5(c.encode("utf-8")).hexdigest()
                       for c in raw]

    prop()


def test_minhash_accuracy_audit(spark):
    """est = n_match/k matches a manual signature comparison and the
    exact jaccard column agrees with set arithmetic."""
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        md5_hash64, minhash_accuracy, minhash_signatures,
    )
    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [(0, base), (1, base + " extra tail words here"),
         (2, "completely unrelated text about something else entirely "
             "with many distinct words to avoid any shingle overlap")],
        "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r
           for r in minhash_accuracy(docs, k=8, bands=4,
                                     hash_fn=md5_hash64).collect()}
    assert (0, 1) in out          # near-dups must be candidates
    r = out[(0, 1)]
    sigs = {s["doc_id"]: s["sig"]
            for s in minhash_signatures(docs, k=8,
                                        hash_fn=md5_hash64).collect()}
    want_match = sum(1 for a, b in zip(sigs[0], sigs[1]) if a == b)
    assert r["n_match"] == want_match
    assert r["est_jaccard"] == round(want_match / 8, 6)
    assert 0.0 <= r["abs_err"] <= 1.0
    assert abs(r["est_jaccard"] - r["exact_jaccard"]) == \
        pytest.approx(r["abs_err"], abs=1e-6)


def test_ngram_novelty(spark):
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        ngram_novelty)

    old = spark.createDataFrame(
        [(1, "a b c d e f", "s1")], ["doc_id", "text", "source"])
    new = spark.createDataFrame([
        # 3-gram windows: "a b c","b c d" seen; "c d x" novel
        (2, "a b c d x", "s1"),
        # all novel
        (3, "p q r s", "s1"),
        # too short for a 3-gram: contributes nothing
        (4, "zz", "s2"),
    ], ["doc_id", "text", "source"])
    out = {r.source: r for r in
           ngram_novelty(old, new, n=3, use_md5=True).collect()}
    s1 = out["s1"]
    assert s1.n_grams_new == 5  # abc,bcd,cdx,pqr,qrs
    assert s1.n_novel == 3
    assert s1.novelty == pytest.approx(3 / 5)
    assert "s2" not in out  # no grams emitted at all


def test_ngram_novelty_hash_twins_agree(spark):
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        ngram_novelty)

    old = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "s")],
        ["doc_id", "text", "source"])
    new = spark.createDataFrame(
        [(2, "w3 w4 w5 w6 w7 w8 w9 w10 w11 w12", "s")],
        ["doc_id", "text", "source"])
    a = ngram_novelty(old, new, n=8).collect()[0]
    b = ngram_novelty(old, new, n=8, use_md5=True).collect()[0]
    assert a.asDict() == b.asDict()
