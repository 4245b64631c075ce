"""Adversarial inputs through the REAL Spark path (not plain Python):
garbage bytes, truncated markup, deep nesting, pathological repeats.
One poisoned row must never kill a task (the 10^12-row rule)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def nasty_pages(spark):
    rows = [
        ("garbage", b"\x00\xff\xfe\x89PNG not html at all \x9c"),
        ("empty", b""),
        ("null", None),
        ("unclosed", b"<html><body><div><p>unclosed <b>bold <table><tr><td>x"),
        ("deep", ("<div>" * 400 + "core" + "</div>" * 400).encode()),
        ("bad_utf8", b"<p>caf\xe9 \xc3\x28</p>"),
        ("pdf_garbage", b"%PDF-1.4 then nothing sensible"),
        ("pdf_trunc", b"%PDF-1.4\n1 0 obj\n<< /Length 99 >>\nstream\nBT (hi"),
        ("huge_line", b"<p>" + b"a" * 2_000_000 + b"</p>"),
        ("entities", b"<p>&amp;&lt;&gt;&#x1F600;&bogus; &#99999999999;</p>"),
        ("only_noise", b"<nav><a href='/'>x</a></nav><script>hi</script>"),
        ("cdata_comment", b"<p>a</p><!-- <p>ghost</p> --><![CDATA[raw]]><p>b</p>"),
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def test_extract_pages_survives_all(spark, nasty_pages):
    from deepseek_ocr_omnidocbench_spark.operators.html_extract import extract_pages

    out = {r["url"]: r["md"] for r in
           extract_pages(nasty_pages).collect()}
    assert len(out) == nasty_pages.count()
    assert out["null"] is None
    assert out["deep"] is not None and "core" in out["deep"]
    assert out["only_noise"] == ""
    assert "ghost" not in (out["cdata_comment"] or "")
    assert "a" * 100 in out["huge_line"]


def test_extract_pages_one_bad_row_is_null(spark):
    """A page whose kernel raises (2,000 unclosed <div>s overflow the
    recursive walkers) gets NULL md; the job completes and every other
    page is still byte-identical to its text."""
    import pyarrow as pa

    from deepseek_ocr_omnidocbench_spark.operators.html_extract import extract_pages
    from deepseek_ocr_omnidocbench_spark.sources.pages import (
        PAGES_ARROW_SCHEMA, generate_pages,
    )

    rows = generate_pages(30, seed=11)
    bad = dict(rows[0], url="https://bad.example/deep",
               html=("<div>" * 2000 + "x").encode())
    rows.insert(15, bad)
    pages = spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA).to_pandas())
    out = {r["url"]: r["md"] for r in
           extract_pages(pages).collect()}
    assert len(out) == len(rows)
    assert out.pop(bad["url"]) is None
    assert out == {r["url"]: r["text"] for r in rows if r is not bad}


def test_pipeline_survives_all(spark, nasty_pages):
    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
        run_pipeline_inline,
    )

    df = nasty_pages.select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"), "html",
        F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
        F.lit("x").alias("category"))
    docs = run_pipeline_inline(df)
    got = docs.collect()  # must not raise
    assert all(r["doc_id"] is not None for r in got)


def test_span_parser_survives_nasty_markdown(spark):
    from deepseek_ocr_omnidocbench_spark.operators.extract_spans import parse_spans

    rows = [
        ("a", "$" * 5001),
        ("b", "\\begin{tabular}" * 50),
        ("c", "| " * 4000),
        ("d", "$$" + "x" * 100000),
        ("e", "\\[" * 100 + "\\]" * 100),
        ("f", ""),
        ("g", None),
    ]
    df = spark.createDataFrame(rows, "img_id string, md string")
    parse_spans(df).collect()  # must not raise


def test_matchers_survive_pathological_pages(spark):
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import match_page

    # one GT, 60 identical preds: assignment + dedup paths under stress
    gt = [{"img_id": "p", "anno_id": 1, "category_type": "text_block",
           "order": 1.0, "text": "word " * 50, "latex": None, "html": None,
           "ignore": False, "attribute": {}, "truncated_pair": None}]
    md = "\n\n".join(["word " * 50] * 60)
    recs = match_page(gt, md, "p")
    assert recs
    assert all(0.0 <= r["edit"] <= 1.0 for r in recs)


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over messy inputs —
    the property url_dedup's grouping correctness rests on."""
    from pyspark.sql import functions as F

    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        canonical_url,
    )

    urls = [
        "HTTP://WWW.Example.COM:80/a/b/?b=2&utm_source=x&a=1#frag",
        "https://example.com./a/b",
        "example.com/path/",
        "https://ex.com/?",
        "https://ex.com/p?fbclid=abc",
        "https://ex.com:443/",
        "   https://pad.example/x  ",
        "ftp://files.example/data/",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c1"))
    twice = once.select("c1", canonical_url(F.col("c1")).alias("c2"))
    for r in twice.collect():
        assert r["c1"] == r["c2"], r


def test_pack_documents_invariants(spark):
    """Offsets are a contiguous cumsum per group; bin ids are monotone
    non-decreasing in the deterministic doc order."""
    import random

    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        pack_documents,
    )

    rng = random.Random(5)
    rows = [(i, "w " * rng.randint(1, 50), "g%d" % (i % 3))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = pack_documents(df, budget=64)
    by_grp = {}
    for r in out.collect():
        by_grp.setdefault(r["lang"], []).append(r)
    for grp, rs in by_grp.items():
        rs.sort(key=lambda r: r["doc_id"])
        offset = 0
        prev_bin = 0
        for r in rs:
            assert r["start_offset"] == offset, (grp, r)
            assert r["bin"] == offset // 64
            assert r["bin"] >= prev_bin
            offset += r["n_tokens"]
            prev_bin = r["bin"]


def test_gumbel_topk_prefix_consistency(spark):
    """Gumbel keys are per-row deterministic, so top-k must be a prefix
    of top-(k+m) under the same seed."""
    from deepseek_ocr_omnidocbench_spark.operators.dsir import (
        gumbel_topk_sample,
    )

    w = spark.createDataFrame([(i, float(i % 7)) for i in range(100)],
                              "doc_id long, logw double")
    top5 = [r["doc_id"] for r in gumbel_topk_sample(w, k=5).collect()]
    top20 = [r["doc_id"] for r in gumbel_topk_sample(w, k=20).collect()]
    assert top20[:5] == top5


def test_parse_sitemaps_fuzz(spark):
    """Random garbage around valid <url> entries: parser must recover
    exactly the well-formed locs and never raise."""
    import random as _r

    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        parse_sitemaps,
    )

    rng = _r.Random(77)
    noise_chars = "<>/&;\"' \n\tabcurl-loc"
    rows = []
    want = set()
    for i in range(30):
        noise = "".join(rng.choice(noise_chars)
                        for _ in range(rng.randint(0, 120)))
        entries = []
        for j in range(rng.randint(0, 3)):
            loc = "https://f%d.example/p%d" % (i, j)
            want.add(loc)
            entries.append("<url><loc>%s</loc></url>" % loc)
        # malformed: unclosed url block, loc outside url, empty loc
        junk = rng.choice(["<url><loc>", "<loc>https://stray</loc>",
                           "<url><loc></loc></url>", ""])
        rows.append(("h%d" % i,
                     noise + "".join(entries) + junk + noise))
    df = spark.createDataFrame(rows, "host string, xml string")
    got = {r.loc for r in parse_sitemaps(df).collect()}
    assert got == want


def test_pdf_image_report_fuzz():
    """Garbage bytes, truncated objects, and image dicts with broken
    payloads must never raise — worst case is an empty report."""
    import random as _r

    from deepseek_ocr_omnidocbench_spark.operators.pdf_extract import (
        pdf_image_report,
    )

    rng = _r.Random(88)
    for i in range(50):
        n = rng.randint(0, 400)
        blob = bytes(rng.randrange(256) for _ in range(n))
        assert pdf_image_report(b"%PDF-1.4\n" + blob) is not None
        assert pdf_image_report(blob) is not None  # non-PDF -> []
    # image object with truncated stream + content stream referencing it
    broken = (b"%PDF-1.4\n"
              b"1 0 obj\n<< /Length 5 >>\nstream\nq 1 0 0 1 5 5 cm /Im0 Do Q\nendstream\nendobj\n"
              b"2 0 obj\n<< /Subtype /Image /Width 9 /Height 9 /Filter /DCTDecode >>\nstream\n\xff\xd8\xff\nendstream\nendobj\n"
              b"3 0 obj\n<< /Type /Page /Contents 1 0 R /Resources "
              b"<< /XObject << /Im0 2 0 R >> >> >>\nendobj\n")
    report = pdf_image_report(broken)
    recs = [r for p in report for r in p]
    assert len(recs) == 1
    assert recs[0]["width"] == 9 and recs[0]["width_true"] is None
    assert recs[0]["dims_match"] is None  # unsniffable payload
