"""ExactSubstr-style substring dedup: duplicated n-gram windows merge
into maximal per-doc spans."""

import pyspark.sql.functions as F
import pytest

from deepseek_ocr_omnidocbench_spark.operators.dedup import substring_dedup_spans

BOILER = "all rights reserved contact us for more information about terms"  # 10 words
N = 5


@pytest.fixture(scope="module")
def corpus(spark):
    uniq = ["alpha beta gamma delta epsilon zeta eta theta iota kappa",
            "one two three four five six seven eight nine ten",
            "red orange yellow green blue indigo violet pink brown black"]
    selfdup = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [
        (0, uniq[0] + " " + BOILER),
        (1, BOILER + " " + uniq[1]),
        (2, uniq[2]),                      # no duplicated content
        (3, "tiny doc"),                   # shorter than n
        (4, selfdup + " " + selfdup),      # self-duplicate within one doc
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_spans_found_and_merged(corpus):
    spans = substring_dedup_spans(corpus, n=N).orderBy("doc_id",
                                                       "span_start")
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in spans.collect()}
    # doc 0: boilerplate at words [10, 20); doc 1: at [0, 10)
    assert (0, 10, 20) in got
    assert (1, 0, 10) in got
    # doc 2 and 3 have no duplicated windows
    assert not any(d in (2, 3) for d, *_ in got)
    # doc 4 duplicates its own 10 words: every window duplicated -> one
    # maximal span covering the whole 20-word doc
    assert (4, 0, 20) in got
    # merged: exactly one span per involved doc
    assert spans.groupBy("doc_id").count().where(
        F.col("count") > 1).count() == 0


def test_span_gram_counts(corpus):
    spans = substring_dedup_spans(corpus, n=N)
    r = {x["doc_id"]: x["n_grams"] for x in spans.collect()}
    # a 10-word span has 10 - n + 1 = 6 duplicated 5-gram starts
    assert r[0] == 6 and r[1] == 6
    # doc 4 (10 words doubled): windows 0-5 repeat at 10-15 (12 grams);
    # boundary-straddling windows 6-9 occur once and don't count
    assert r[4] == 12


def test_md5_key_matches_xxhash(corpus):
    a = substring_dedup_spans(corpus, n=N)
    b = substring_dedup_spans(corpus, n=N, key_fn=F.md5)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(a) == rows(b)


def test_cross_partition_duplicates(spark):
    # same 6-word window in 40 docs scattered across partitions
    rows = [(i, f"filler{i} " + "shared phrase repeated across many docs"
             + f" tail{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string") \
        .repartition(13)
    spans = substring_dedup_spans(df, n=6)
    assert spans.count() == 40
    got = spans.agg(F.min("span_start"), F.max("span_end")).collect()[0]
    assert got[0] == 1 and got[1] == 7  # only window at start 1 repeats


def test_empty_and_null(spark):
    df = spark.createDataFrame([(0, ""), (1, None)],
                               "doc_id int, text string")
    assert substring_dedup_spans(df, n=3).count() == 0


def test_giant_doc_routing_parity(spark, corpus=None):
    # same corpus through both routes: force every doc giant vs none
    rows = [(i, f"head{i} shared phrase repeated across many docs tail{i}")
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    small_route = substring_dedup_spans(df, n=6, giant_words=10**9)
    giant_route = substring_dedup_spans(df, n=6, giant_words=1)
    key = lambda d: sorted(tuple(r) for r in d.collect())  # noqa: E731
    assert key(small_route) == key(giant_route)
    # mixed: half the docs giant-routed, duplicates still pair ACROSS routes
    mixed = substring_dedup_spans(
        df.withColumn("text", F.when(F.col("doc_id") < 6, F.col("text"))
          .otherwise(F.concat_ws(" ", "text", F.lit("x " * 30)))),
        n=6, giant_words=15)
    # the shared phrase (words [1, 7)) is found in BOTH halves — small
    # docs pair with giant docs, proving keys match across routes
    shared = mixed.where((F.col("span_start") == 1)
                         & (F.col("span_end") == 7))
    assert shared.where(F.col("doc_id") < 6).count() == 6
    assert shared.where(F.col("doc_id") >= 6).count() == 6
