"""Document assembly: span offsets, ordering, fallback cut (A14/F8)."""

from deepseek_ocr_omnidocbench_spark.operators.assemble import (
    MAX_PAGE_ERROR_RATE,
    assemble_documents,
)


def make_pages(spark, rows):
    return spark.createDataFrame(rows, ["url", "page", "md", "is_fallback"])


def test_concat_in_page_order_with_spans(spark):
    rows = [("u1", 1, "second", False), ("u1", 0, "first", False),
            ("u1", 2, "third", False)]
    out = assemble_documents(make_pages(spark, rows)).collect()
    assert len(out) == 1
    d = out[0]
    assert d["markdown"] == "first\nsecond\nthird"
    spans = [(s["start"], s["end"], s["page"]) for s in d["page_spans"]]
    assert spans == [(0, 5, 0), (6, 12, 1), (13, 18, 2)]
    # span slices reproduce the page texts
    for s, e, p in spans:
        assert d["markdown"][s:e] == ["first", "second", "third"][p]


def test_doc_id_is_sha1_of_markdown(spark):
    import hashlib

    rows = [("u1", 0, "hello", False)]
    d = assemble_documents(make_pages(spark, rows)).collect()[0]
    assert d["doc_id"] == hashlib.sha1(b"hello").hexdigest()


def test_fallback_rate_cut(spark):
    at_cap = round(1 / MAX_PAGE_ERROR_RATE)             # 1 fallback page in 250
    rows = [("bad", p, "x", p == 0) for p in range(4)]   # 25% fallback
    rows += [("good", p, "x", False) for p in range(4)]
    rows += [("at_cap", p, "x", p == 0) for p in range(at_cap)]
    out = assemble_documents(make_pages(spark, rows))
    urls = {r["url"] for r in out.collect()}
    assert urls == {"good", "at_cap"}


def test_spans_tile_the_markdown(spark):
    rows = [("u", p, "page %d content" % p, False) for p in range(5)]
    d = assemble_documents(make_pages(spark, rows)).collect()[0]
    n = len(d["markdown"])
    spans = [(s["start"], s["end"]) for s in d["page_spans"]]
    assert all(0 <= s <= e <= n for s, e in spans)
    assert spans[0][0] == 0 and spans[-1][1] == n
    # consecutive spans are separated by exactly the page separator
    assert all(b[0] == a[1] + 1 for a, b in zip(spans, spans[1:]))


def test_empty_pages_still_assemble(spark):
    rows = [("u", 0, "", False), ("u", 1, "text", False)]
    d = assemble_documents(make_pages(spark, rows)).collect()[0]
    assert d["markdown"] == "\ntext"
    spans = [(s["start"], s["end"]) for s in d["page_spans"]]
    assert spans == [(0, 0), (1, 5)]


def test_no_fallback_column(spark):
    df = spark.createDataFrame([("u", 0, "a")], ["url", "page", "md"])
    d = assemble_documents(df).collect()[0]
    assert d["n_fallback_pages"] == 0
