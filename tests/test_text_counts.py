"""The Python text counter (``textstats.text_counts``) against the same
counts taken with plain Spark forms (``lower``, ``split``, ``isin`` and
regex character classes), field by field, so the counter keeps Spark's
own case mapping and ``\\s``; and the decisions the documents stage takes
from summed page counts against the gates on the joined text."""

import ast
import os
import random

import pyarrow as pa
from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.operators import textstats as TS
from deepseek_ocr_omnidocbench_spark.sources.pages import (
    PAGES_ARROW_SCHEMA, generate_pages)

SF_DIR = "/root/testdata/sf0.01"
FIELDS = (["alpha", "punct", "words", "stop_hits", "seo_hits"]
          + ["latin_" + lang for lang, _ in TS.LATIN_PROFILES]
          + ["script_" + p[0] for p in TS.SCRIPT_PROFILES]
          + ["marker_range_" + p[0] for p in TS.MARKER_PROFILES]
          + ["marker_" + p[0] for p in TS.MARKER_PROFILES])


def _spark_counts(df):
    """(i, text) -> (i, c): the TEXT_COUNTS layout in plain Spark forms.
    Words are the non-empty pieces of split(lower(text), '[^a-z]+'),
    list hits are isin over them, character classes are the length left
    by regexp_replace; the range and marker classes run over the text
    with ASCII removed (every profiled range is above U+0370)."""
    t = F.col("text")
    words = F.filter(F.split(F.lower(t), "[^a-z]+"), lambda w: F.length(w) > 0)
    listed = sorted({w for _, ws in TS.LATIN_PROFILES for w in ws}
                    | set(TS.EN_STOPWORDS) | set(TS.SEO_WORDS))
    # one select per step: Spark keeps a projection apart when merging
    # it would repeat a costly expression (the word array) per count
    bound = df.select(
        "i", "text", F.size(words).alias("n_words"),
        F.filter(words, lambda w: w.isin(listed)).alias("m"),
        F.regexp_replace(t, "[\\x00-\\x7f]+", "").alias("na"))

    def hits(ws):
        return F.size(F.filter(F.col("m"), lambda w: w.isin(ws)))

    def chars_in(c, cls):
        return F.length(F.regexp_replace(c, "[^%s]+" % cls, ""))

    na = F.col("na")
    ranges = ["%s-%s" % (chr(p[1]), chr(p[2]))
              for p in TS.SCRIPT_PROFILES + TS.MARKER_PROFILES]
    return bound.select("i", F.array(
        chars_in(t, "A-Za-z"),
        F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]+", "")),
        F.col("n_words"), hits(TS.EN_STOPWORDS), hits(TS.SEO_WORDS),
        *[hits(ws) for _, ws in TS.LATIN_PROFILES],
        *[chars_in(na, c) for c in ranges],
        *[chars_in(na, p[4]) for p in TS.MARKER_PROFILES]).alias("c"))


def _check_counts(spark, texts, what):
    assert len(FIELDS) == TS.TEXT_COUNTS
    df = spark.createDataFrame([(i, x) for i, x in enumerate(texts)],
                               "i int, text string")
    got = {r["i"]: r["c"] for r in _spark_counts(df).collect()}
    assert len(got) == len(texts)
    for i, x in enumerate(texts):
        py = TS.text_counts(x)
        bad = [(f, j, p) for f, j, p in zip(FIELDS, got[i], py) if j != p]
        assert not bad, (what, x[:60], bad)


def _texts_in_textstats_tests():
    """Every string literal of tests/test_textstats.py: the language
    samples of each profile tier, the adversarial and gate rows."""
    path = os.path.join(os.path.dirname(__file__), "test_textstats.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return sorted({n.value for n in ast.walk(tree)
                   if isinstance(n, ast.Constant) and isinstance(n.value, str)})


def _sweep_texts():
    """Code points where the two counters could part: every one whose
    Python lower() holds an ASCII letter (U+0130, U+212A, A-Z), every
    Python-only whitespace (Java's \\s is ASCII), supplementary-plane
    chars, and both sides of every script and marker range edge, each
    alone and glued to stopwords; then every code point, 256 a row."""
    cps = [cp for cp in range(0x110000) if not 0xD800 <= cp <= 0xDFFF]
    special = [cp for cp in cps
               if any("a" <= c <= "z" for c in chr(cp).lower())
               or (chr(cp).isspace() and chr(cp) not in " \t\n\x0b\x0c\r")]
    assert {0x130, 0x212A, 0x85, 0xA0, 0x1680, 0x2028, 0x3000, 0x1C} \
        <= set(special)
    special += [0x10000, 0x1F600, 0x20000, 0x2A6D6, 0xE0041, 0x10FFFF]
    for p in TS.SCRIPT_PROFILES + TS.MARKER_PROFILES:
        special += [p[1] - 1, p[1], p[2], p[2] + 1]
    for p in TS.MARKER_PROFILES:
        special += map(ord, p[4])
    texts = []
    for cp in special:
        c = chr(cp)
        texts += [c, c * 3, "the" + c + "and", c + "free pdf " + c + "the",
                  "x" + c + "Y" + c + "ukuthi " + c]
    texts += [" ".join(map(chr, cps[i:i + 256])) for i in range(0, len(cps), 256)]
    return texts


def test_counts_match_jvm_on_pages(spark):
    for seed in (41, 42, 7):
        texts = [r["text"] for r in generate_pages(200, seed=seed)]
        assert sum(map(len, texts)) > 1_000_000
        _check_counts(spark, texts, "pages seed %d" % seed)


def test_counts_match_jvm_on_documents(spark):
    import pyarrow.parquet as pq

    texts = pq.read_table("%s/documents.parquet" % SF_DIR,
                          columns=["text"]).column("text").to_pylist()
    assert len(texts) == 500
    _check_counts(spark, [x or "" for x in texts], "sf0.01 documents")


def test_counts_match_jvm_on_language_samples(spark):
    texts = _texts_in_textstats_tests()
    assert "これは日本語のテキストです、漢字も混ざっています" in texts
    _check_counts(spark, texts, "textstats samples")


def test_counts_match_jvm_on_code_point_sweep(spark):
    _check_counts(spark, _sweep_texts(), "code points")


def _decisions_match_gates(rows):
    for r in rows:
        assert r["lang"] == r["want_lang"], (r["text"][:60], r["lang"], r["want_lang"])
        assert r["score"] == r["want_score"], r["text"][:60]
        assert r["spam"] == r["want_spam"], r["text"][:60]


def test_summed_counts_decide_as_the_gates(spark):
    """Documents joined from pages with "\\n": the decisions from the
    slot-wise sum of the pages' counts equal lang_id_col, quality_cols
    and seo_spam_cols on the joined text."""
    samples = [x for x in _texts_in_textstats_tests() if x]
    rng = random.Random(5)
    rows = []
    for i in range(300):
        pages = rng.sample(samples, rng.randint(1, 4))
        sums = [sum(c) for c in zip(*map(TS.text_counts, pages))]
        rows.append((i, "\n".join(pages), sums))
    df = spark.createDataFrame(rows, "i int, text string, counts array<bigint>")
    t = F.col("text")
    d = TS.decisions_from_counts(F.length(t), F.col("counts"))
    got = df.select(
        "text", d["lang_pred"].alias("lang"),
        d["quality_score"].alias("score"), d["is_spam"].alias("spam"),
        TS.lang_id_col(t).alias("want_lang"),
        TS.quality_cols(t)["quality_score"].alias("want_score"),
        TS.seo_spam_cols(t)["is_spam"].alias("want_spam")).collect()
    assert len({r["want_lang"] for r in got}) > 20
    assert {True, False} <= {r["want_spam"] for r in got}
    _decisions_match_gates(got)


def test_pipeline_decisions_match_gates_on_pdf_documents(spark):
    """run_pipeline_inline's lang_pred and quality_score, taken from the
    kernel's summed page counts, equal the Column gates over the
    assembled markdown of multi-page PDF documents (and of the rest)."""
    from deepseek_ocr_omnidocbench_spark.operators.assemble import assemble_documents
    from deepseek_ocr_omnidocbench_spark.operators.filters import page_quality_keep
    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
        run_pipeline_inline, stage_page_md)

    pages = spark.createDataFrame(pa.Table.from_pylist(
        generate_pages(120, seed=23), schema=PAGES_ARROW_SCHEMA).to_pandas())
    docs = run_pipeline_inline(pages)
    t = F.col("markdown")
    got = docs.select(
        F.col("markdown").alias("text"), "n_pages",
        F.col("lang_pred").alias("lang"), F.col("quality_score").alias("score"),
        F.lit(False).alias("spam"),
        TS.lang_id_col(t).alias("want_lang"),
        F.round(TS.quality_cols(t)["quality_score"], 6).alias("want_score"),
        TS.seo_spam_cols(t)["is_spam"].alias("want_spam")).collect()
    assert sum(r["n_pages"] > 1 for r in got) >= 2
    _decisions_match_gates(got)
    # the same documents survive the quality cut as under the text gates
    kept = assemble_documents(stage_page_md(pages)).where(
        page_quality_keep(t, TS.seo_spam_cols(t)["is_spam"])).count()
    assert kept == len(got)
