"""End-to-end north-star pipeline: filter -> page extraction -> document
assembly, with checkpoint resume."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
    run_pipeline,
    run_pipeline_inline,
    stage_filter,
    stage_page_md,
)
from deepseek_ocr_omnidocbench_spark.sources.pages import (
    PAGES_ARROW_SCHEMA,
    generate_pages,
)


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = generate_pages(100, seed=21)
    pdf = pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA).to_pandas()
    return spark.createDataFrame(pdf).cache()


def test_stage_filter_keeps_all_synthetic(spark, pages_df):
    # synthetic pages carry en/zh/de langs and no form pdfs
    assert stage_filter(pages_df).count() == pages_df.count()


def test_page_md_explodes_pdf_pages(spark, pages_df):
    pm = stage_page_md(pages_df)
    per_url = pm.groupBy("url").count()
    pdf_urls = [r["url"] for r in pages_df.filter(
        F.col("category") == "pdfish").select("url").collect()]
    multi = per_url.where(F.col("url").isin(pdf_urls) & (F.col("count") > 1)).count()
    assert multi >= 1  # some mini-PDFs have 2-3 pages
    html_side = per_url.where(~F.col("url").isin(pdf_urls)).collect()
    assert all(r["count"] == 1 for r in html_side)


def test_inline_pipeline_output_matches_text(spark, pages_df):
    """For single-page (html) urls the assembled markdown must equal the
    ground-truth text byte-for-byte; for pdfs it is the page join."""
    docs = run_pipeline_inline(pages_df)
    joined = docs.join(pages_df.select("url", "text", "category"), "url")
    html_bad = joined.where(
        (F.col("category") != "pdfish")
        & (F.col("markdown") != F.col("text"))).count()
    assert html_bad == 0
    # spam/runaway cut should not fire on synthetic content
    assert docs.count() >= pages_df.count() - \
        pages_df.where(F.col("category") == "empty").count() - \
        pages_df.where(F.col("category") == "pdfish").count()


def test_pdf_docs_assembled_with_spans(spark, pages_df):
    docs = run_pipeline_inline(pages_df)
    pdf_urls = [r["url"] for r in pages_df.filter(
        F.col("category") == "pdfish").select("url").collect()]
    rows = docs.where(F.col("url").isin(pdf_urls)).collect()
    assert rows
    for r in rows:
        # page spans tile the markdown with "\n" separators
        md = r["markdown"]
        for s in r["page_spans"]:
            assert md[s["start"]:s["end"]] != "" or s["start"] == s["end"]
        assert r["page_spans"][-1]["end"] == len(md)


def test_checkpointed_pipeline_resumes(spark, pages_df, tmp_path):
    docs1 = run_pipeline(spark, pages_df, str(tmp_path), n_buckets=4)
    n1 = docs1.count()
    assert n1 > 0
    # second run over the same root recomputes nothing and agrees
    docs2 = run_pipeline(spark, pages_df, str(tmp_path), n_buckets=4)
    assert docs2.count() == n1
    ids1 = {r["doc_id"] for r in docs1.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in docs2.select("doc_id").collect()}
    assert ids1 == ids2
    # lineage has one row per (stage, bucket)
    from deepseek_ocr_omnidocbench_spark.sources.lineage import StageCheckpoint

    lin = StageCheckpoint(spark, str(tmp_path), n_buckets=4).lineage()
    per_stage = {r["stage"]: r["n"] for r in
                 lin.groupBy("stage").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_stage == {"filtered": 4, "page_md": 4, "documents": 4}


def test_root_without_page_counts_is_refused(spark, pages_df, tmp_path):
    """A page_md stage committed before the kernel counted pages has no
    ``counts`` column; run_pipeline must refuse the root rather than
    decide documents from NULL counts."""
    from deepseek_ocr_omnidocbench_spark.sources.lineage import StageCheckpoint

    ck = StageCheckpoint(spark, str(tmp_path), n_buckets=2)
    filtered = ck.run_stage("filtered", pages_df, stage_filter)
    ck.run_stage("page_md", filtered,
                 lambda df: stage_page_md(df).drop("counts"), failure_col="md")
    with pytest.raises(ValueError, match="without per-page counts"):
        run_pipeline(spark, pages_df, str(tmp_path), n_buckets=2)


def test_write_pages_streams_row_groups(tmp_path):
    """write_pages writes one row group at a time; the file reads back
    equal to the whole table written at once, with the same row groups."""
    import pyarrow.parquet as pq

    from deepseek_ocr_omnidocbench_spark.sources.pages import write_pages

    got = write_pages(str(tmp_path / "streamed" / "pages.parquet"), 120, seed=4)
    want = str(tmp_path / "whole.parquet")
    pq.write_table(pa.Table.from_pylist(generate_pages(120, seed=4),
                                        schema=PAGES_ARROW_SCHEMA),
                   want, row_group_size=50)
    assert pq.read_table(got).equals(pq.read_table(want))
    sizes = [[m.row_group(i).num_rows for i in range(m.num_row_groups)]
             for m in (pq.ParquetFile(p).metadata for p in (got, want))]
    assert sizes[0] == sizes[1] == [50, 50, 20]
