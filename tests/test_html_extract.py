"""HTML -> markdown extractor: boilerplate pruning, serialization,
reading order, and the byte-identity round-trip invariant."""

import pytest

from deepseek_ocr_omnidocbench_spark.operators.html_extract import (
    extract_markdown,
    parse_html,
    prune,
)
from deepseek_ocr_omnidocbench_spark.sources.pages import generate_pages


def test_headings_and_paragraphs():
    md = extract_markdown("<h1>Title</h1><p>Body text.</p><h2>Sub</h2>")
    assert md == "# Title\n\nBody text.\n\n## Sub"


def test_lists():
    md = extract_markdown("<ul><li>a</li><li>b</li></ul><ol><li>x</li></ol>")
    assert md == "- a\n- b\n\n1. x"


def test_inline_markup():
    md = extract_markdown("<p>a <strong>b</strong> <em>c</em> <code>d</code></p>")
    assert md == "a **b** *c* `d`"


def test_regular_table_to_pipes():
    md = extract_markdown(
        "<table><tr><th>h1</th><th>h2</th></tr><tr><td>1</td><td>2</td></tr></table>")
    assert md == "| h1 | h2 |\n| --- | --- |\n| 1 | 2 |"


def test_irregular_table_stays_html():
    md = extract_markdown(
        '<table><tr><td rowspan="2">a</td><td>b</td></tr><tr><td>c</td></tr></table>')
    assert md.startswith("<table>")
    assert 'rowspan="2"' in md


def test_code_block():
    md = extract_markdown('<pre><code class="language-py">x = 1</code></pre>')
    assert md == "```py\nx = 1\n```"


def test_blockquote():
    md = extract_markdown("<blockquote><p>quoted</p></blockquote>")
    assert md == "> quoted"


def test_script_style_nav_dropped():
    md = extract_markdown(
        "<script>var x;</script><style>p{}</style><nav><a href='/'>home</a></nav>"
        "<p>real</p><aside>side</aside>")
    assert md == "real"


def test_class_hint_noise_dropped():
    md = extract_markdown('<div class="sidebar"><p>junk</p></div><p>keep</p>')
    assert md == "keep"


def test_link_farm_dropped_but_long_link_block_kept():
    farm = "<div>" + "".join('<a href="/%d">word word</a> ' % i for i in range(10)) + "</div>"
    md = extract_markdown(farm + "<p>content</p>")
    assert md == "content"
    # a link-dense block with substantial text survives (min-text guard)
    long_links = "<div><a href='/x'>%s</a></div>" % ("t" * 300)
    assert "t" * 300 in (extract_markdown(long_links) or "")


def test_header_footer_outside_article_dropped_inside_kept():
    md = extract_markdown("<header><p>chrome</p></header><p>body</p>")
    assert md == "body"
    md2 = extract_markdown("<article><header><p>title area</p></header><p>body</p></article>")
    assert "title area" in md2


def test_absolute_position_reading_order():
    html = (
        '<div style="position:absolute; top:100px; left:10px"><p>second</p></div>'
        '<div style="position:absolute; top:20px; left:10px"><p>first</p></div>'
    )
    assert extract_markdown(html) == "first\n\nsecond"


def test_same_line_sorts_left_to_right():
    html = (
        '<div style="position:absolute; top:50px; left:300px"><p>right</p></div>'
        '<div style="position:absolute; top:52px; left:10px"><p>left</p></div>'
    )
    assert extract_markdown(html) == "left\n\nright"


def test_definition_list():
    md = extract_markdown("<dl><dt>Term</dt><dd>meaning one</dd>"
                          "<dt>Other</dt><dd>meaning two</dd></dl>")
    assert md == "**Term**\n: meaning one\n**Other**\n: meaning two"


def test_figcaption():
    md = extract_markdown("<figure><img src='x.png'>"
                          "<figcaption>A chart of results</figcaption></figure>")
    assert md == "*A chart of results*"


def test_malformed_html_no_crash():
    assert extract_markdown("<p>unclosed <div><b>x") is not None
    assert extract_markdown("") == ""
    assert extract_markdown(None) is None


def test_entity_unescape():
    assert extract_markdown("<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>"


def test_prune_preserves_article_content():
    root = parse_html("<article><p>x</p></article><nav>n</nav>")
    prune(root)
    # nav gone, article kept
    tags = [c.tag for c in root.children if not isinstance(c, str)]
    assert "nav" not in tags


def test_byte_identity_roundtrip_200_pages():
    """The north-rule invariant: extractor(html) == text, byte for byte."""
    from deepseek_ocr_omnidocbench_spark.operators.pdf_extract import extract_pdf_markdown

    for row in generate_pages(200, seed=7):
        if row["category"] == "pdfish":
            got = extract_pdf_markdown(row["html"]) or ""
        else:
            got = extract_markdown(row["html"].decode("utf-8")) or ""
        assert got == row["text"], row["url"]


@pytest.fixture(scope="module")
def mixed_scans(spark, tmp_path_factory):
    """-> (rows, {n: pages scanned from n parquet files}).

    One full category cycle of synthetic pages (small HTML of every
    kind, empty pages, multi-page PDFs, 2 giant pages from
    ``_content_giant``) plus a NULL blob."""
    import pyarrow as pa

    from deepseek_ocr_omnidocbench_spark.sources.pages import PAGES_ARROW_SCHEMA

    rows = generate_pages(100, seed=3)
    rows.append(dict(rows[0], url="https://example.org/null/000100.html",
                     html=None, text=None))
    df = spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA).to_pandas())
    root = tmp_path_factory.mktemp("mixed_pages")
    scans = {}
    for n in (1, 4):
        df.repartition(n).write.parquet(str(root / str(n)))
        scans[n] = spark.read.parquet(str(root / str(n)))
        # split packing may fold small files together (4 files scan as 3
        # partitions on 4 cores), but the 4-file case must span partitions
        parts = scans[n].rdd.getNumPartitions()
        assert parts == 1 if n == 1 else parts > 1, (n, parts)
    return rows, scans


def test_spark_extract_pages_byte_identity(mixed_scans):
    """Distributed path: binary column in, markdown out, equal to text,
    one row per url, whether the giants share a scan partition with
    everything else or not."""
    from deepseek_ocr_omnidocbench_spark.operators.html_extract import (
        BIG_BLOB_BYTES, extract_pages,
    )
    from deepseek_ocr_omnidocbench_spark.operators.pdf_extract import extract_pdf_pages

    rows, scans = mixed_scans
    blobs = [r["html"] for r in rows]
    assert sum(b is not None and len(b) >= BIG_BLOB_BYTES for b in blobs) >= 2
    assert any(b is not None and b.startswith(b"%PDF")
               and len(extract_pdf_pages(b)) > 1 for b in blobs)
    assert None in blobs
    want = {r["url"]: r["text"] for r in rows}
    for n, pages in scans.items():
        got = extract_pages(pages).select("url", "md").collect()
        assert len(got) == len(rows), n
        assert {r["url"]: r["md"] for r in got} == want, n


def test_kernel_runs_in_the_scan_partitions(mixed_scans):
    """extract_pages and stage_page_md run the kernel once (one
    ArrowEvalPython) in the scan's partitions: no Exchange between the
    scan and the kernel, as many output partitions as scan partitions."""
    from deepseek_ocr_omnidocbench_spark.operators.html_extract import extract_pages
    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import stage_page_md

    _, scans = mixed_scans
    for n, pages in scans.items():
        for op in (extract_pages, stage_page_md):
            out = op(pages)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert plan.count("ArrowEvalPython") == 1, plan
            assert out.rdd.getNumPartitions() == pages.rdd.getNumPartitions(), n


def test_documents_stage_reads_no_text_after_the_kernel(mixed_scans):
    """run_pipeline_inline runs the kernel once and takes the language,
    quality and spam decisions from the kernel's page counts: no
    lower() or regex pass over the markdown anywhere in the executed
    plan.  extract_pages, the docs/s path, stays (url, md, n_chars)."""
    from deepseek_ocr_omnidocbench_spark.operators.html_extract import extract_pages
    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
        run_pipeline_inline)

    _, scans = mixed_scans
    for pages in scans.values():
        docs = run_pipeline_inline(pages)
        plan = docs._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        for op in ("lower(", "regexp_"):
            assert op not in plan, (op, plan)
        assert extract_pages(pages).columns == ["url", "md", "n_chars"]


def test_page_metadata_cols(spark):
    from pyspark.sql import functions as F

    from deepseek_ocr_omnidocbench_spark.operators.html_extract import (
        page_metadata_cols,
    )

    rows = [
        (1, '<html lang="en"><head><title>Hello</title>'
            '<meta name="description" content="a page">'
            '<link rel="canonical" href="https://x.example/a">'
            '<meta property="og:title" content="OG Hello">'
            '</head><body></body></html>'),
        (2, "<html><head></head><body>no metadata</body></html>"),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    m = page_metadata_cols(F.col("html"))
    out = {r["id"]: r for r in df.select(
        "id", *[m[k].alias(k) for k in m]).collect()}
    assert out[1]["title"] == "Hello"
    assert out[1]["meta_description"] == "a page"
    assert out[1]["canonical_href"] == "https://x.example/a"
    assert out[1]["og_title"] == "OG Hello"
    assert out[1]["html_lang"] == "en"
    assert all(out[2][k] is None for k in
               ("title", "meta_description", "canonical_href",
                "og_title", "html_lang"))
