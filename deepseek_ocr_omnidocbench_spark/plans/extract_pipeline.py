"""The north-star extraction pipeline: Common-Crawl-style pages table ->
filtered -> per-page extraction -> assembled documents, every stage
checkpointed with per-partition lineage so a killed job resumes.

Re-expresses the olmocr worker topology (olmocr/olmocr/pipeline.py:
508-590: work queue -> per-PDF filter -> per-page extract -> doc
assembly -> Dolma sink) as three Spark stages:

  stage ``filtered``   F3/F4 predicates (prunable Column filters)
  stage ``page_md``    content sniff (%PDF vs HTML) -> pandas UDF ->
                       explode per page, in the input's own partitions
                       (giant-blob routing was measured and dropped:
                       perfbench ``extract`` x1.33 rows per CPU-s
                       without it; see the html_extract docstring).
                       The kernel also counts each page's TEXT_COUNTS
                       (textstats.text_counts) in the same Python pass
  stage ``documents``  window-offset span assembly (A14) + F8 fallback
                       cut; per-url sums of the page counts give
                       lang_pred, quality_score and the SEO-spam cut
                       (textstats.decisions_from_counts) with no JVM
                       regex pass over the markdown; the runaway cut
                       reads the tail; sha1 doc ids

The work-queue/locking layer (work_queue.py:30-225) is replaced by
StageCheckpoint's bucket lineage + anti-join resume (sources/lineage.py).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.assemble import assemble_documents
from ..operators.filters import is_form_pdf, language_keep, page_quality_keep
from ..operators.html_extract import extract_any_udf
from ..operators.textstats import decisions_from_counts
from ..sources.lineage import StageCheckpoint


def stage_filter(pages: DataFrame) -> DataFrame:
    """F3 form-PDF drop + F4 language keep — pure predicates, pushed to
    the scan by Catalyst (PushedFilters for ``lang`` on parquet).

    NULL html must flow through: ``~is_form_pdf(NULL)`` is SQL NULL and
    where() would silently drop the row before stage_page_md and the
    lineage failure counters ever see it — coalesce to keep NULL-blob
    rows."""
    return pages.where(language_keep(F.col("lang"), keep=("en", "zh", "de", None))
                       & ~F.coalesce(is_form_pdf(F.col("html")), F.lit(False)))


def stage_page_md(pages: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """-> (url, page, md, counts): the heavy UDF stage, one row per page,
    in the input's partitions (as html_extract.extract_pages).
    ``counts`` is the page's TEXT_COUNTS array.

    ``salt_buckets`` is accepted and ignored: no stage salts any more."""
    # inline the kernel expression itself: over a ``pm`` column projected
    # first, Catalyst infers ``size(pm) > 0``, pushes it below the
    # kernel's projection and runs the kernel twice
    return pages.select("url", F.inline(extract_any_udf(counts=True)(F.col("html"))))


def stage_documents(page_md: DataFrame) -> DataFrame:
    """Assembly + annotations + post-extraction quality cut, decided
    from the pages' summed counts."""
    docs = assemble_documents(page_md)
    n = F.length("markdown")
    d = decisions_from_counts(n, F.col("counts"))
    return docs.where(page_quality_keep(F.col("markdown"), d["is_spam"])).select(
        "url", "doc_id", "markdown", "page_spans", "n_pages",
        n.alias("n_chars"),
        d["lang_pred"].alias("lang_pred"),
        F.round(d["quality_score"], 6).alias("quality_score"),
    )


def _check_page_md_layout(ck: StageCheckpoint) -> None:
    """A ``page_md`` bucket committed without a ``counts`` column (a root
    written before the kernel counted pages) cannot feed the documents
    stage: refuse it, rather than read its missing counts as NULL."""
    for schema in ck.committed_schemas("page_md"):
        if schema is None or "counts" not in T.StructType.fromJson(json.loads(schema)).names:
            raise ValueError(
                "checkpoint root %s holds page_md buckets without per-page "
                "counts (written by an older pipeline); run into a fresh root"
                % ck.root)


def run_pipeline(spark: SparkSession, pages: DataFrame, checkpoint_root: str,
                 n_buckets: int = 16, salt_buckets: int = 0) -> DataFrame:
    """Checkpointed end-to-end run; restart-safe per stage bucket.
    ``salt_buckets`` is accepted and ignored (see ``stage_page_md``)."""
    ck = StageCheckpoint(spark, checkpoint_root, n_buckets=n_buckets)
    _check_page_md_layout(ck)
    filtered = ck.run_stage("filtered", pages, stage_filter)
    page_md = ck.run_stage("page_md", filtered, stage_page_md, failure_col="md")
    docs = ck.run_stage("documents", page_md, stage_documents)
    return docs


def run_pipeline_inline(pages: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Same dataflow without checkpoints (benchmarks, small runs).
    ``salt_buckets`` is accepted and ignored (see ``stage_page_md``)."""
    return stage_documents(stage_page_md(stage_filter(pages)))
