"""Document assembly — per-page extraction rows -> one document per url.

Re-expresses the reference's Dolma-doc builder
(olmocr/olmocr/pipeline.py:456-505): concatenate page texts in page
order, record per-page [start, end, page] char spans via cumulative
offsets, id the document by sha1 of its text, and carry metadata.
The cumulative offset is a window sum (SURVEY §2.7 O4,
pipeline.py:458-471); everything here is native Spark SQL — no Python.
Per-page ``counts`` (textstats TEXT_COUNTS, counted by the extraction
kernel) are summed per document: every slot is additive across the
page separator.

Fallback-rate filtering (F8, pipeline.py:426-432): a document whose
fraction of ``is_fallback`` pages exceeds ``MAX_PAGE_ERROR_RATE`` is
dropped, mirroring the reference's per-doc guard.  The extraction
kernel emits no ``is_fallback`` column, so in ``plans/extract_pipeline``
every document has ``n_fallback_pages`` 0 and the cut drops nothing; a
kernel failure is a NULL ``md`` that assembles as an empty page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import TEXT_COUNTS

PAGE_SEP = "\n"  # reference joins page texts with "\n" (pipeline.py:469)
MAX_PAGE_ERROR_RATE = 0.004  # the reference's default (pipeline.py:426-432)


def assemble_documents(pages_md: DataFrame) -> DataFrame:
    """(url, page, md[, is_fallback][, counts]) -> one row per url:

    (url, doc_id, markdown, page_spans array<struct<start,end,page>>,
     n_pages, n_fallback_pages[, counts]) — documents over the
    error-rate cut are dropped (pipeline.py:426-432).  ``counts`` is the
    slot-wise sum of the pages' TEXT_COUNTS arrays (array<bigint>).

    Single shuffle on url (window + groupBy share the partitioning).
    """
    has_fallback = "is_fallback" in pages_md.columns
    has_counts = "counts" in pages_md.columns
    df = pages_md.select(
        "url", "page",
        F.coalesce(F.col("md"), F.lit("")).alias("md"),
        (F.col("is_fallback").cast("int") if has_fallback else F.lit(0)).alias("fb"),
        *([F.col("counts")] if has_counts else []),
    )
    w = Window.partitionBy("url").orderBy("page")
    # start offset = sum of (len + separator) of preceding pages
    df = df.withColumn(
        "start",
        F.coalesce(
            F.sum(F.length("md") + F.lit(len(PAGE_SEP)))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    ).withColumn("end", (F.col("start") + F.length("md")).cast("long"))

    docs = (
        df.groupBy("url")
        .agg(
            F.concat_ws(PAGE_SEP, F.transform(
                F.array_sort(F.collect_list(F.struct("page", "md"))),
                lambda s: s["md"])).alias("markdown"),
            F.array_sort(F.collect_list(
                F.struct("start", "end", "page"))).alias("page_spans"),
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("fb").alias("n_fallback_pages"),
            # one fold over the collected arrays: 87 sum() aggregates
            # took twice as long (200 perfbench pages, 4 cores: 1.3-1.8
            # against 0.7-1.0 s warm, 4.5 against 3.0 s cold)
            *([F.aggregate(F.collect_list("counts"),
                           F.array_repeat(F.lit(0).cast("long"), TEXT_COUNTS),
                           lambda acc, c: F.zip_with(acc, c, lambda a, b: a + b))
               .alias("counts")] if has_counts else []),
        )
        .withColumn("doc_id", F.sha1(F.encode("markdown", "UTF-8")))
    )
    return docs.where(
        (F.col("n_fallback_pages") / F.col("n_pages")) <= F.lit(MAX_PAGE_ERROR_RATE))
