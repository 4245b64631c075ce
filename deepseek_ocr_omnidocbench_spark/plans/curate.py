"""End-to-end corpus curation plan: extracted documents -> quality
gates -> URL dedup -> MinHash near-dup clustering -> sequence packing,
every stage checkpointed with per-partition lineage (StageCheckpoint) so
a killed 10^12-doc run resumes from the last committed bucket.

This is the post-extraction half of a training-data pipeline — the
stage a user runs AFTER plans/extract_pipeline.py to turn raw extracted
markdown into training-ready packed sequences.  Each stage is an
operator that is independently value-gated elsewhere; the plan
contributes the ORDER (cheapest-cut-first), the checkpoint topology,
and the drop accounting:

  stage ``gated``       composite per-row quality gates
                        (curation_pipeline: gopher/spam/runaway/lang)
                        — zero-shuffle, cuts the corpus before anything
                        that shuffles
  stage ``url_unique``  canonical-URL exact dedup — one window shuffle
  stage ``survivors``   MinHash-LSH candidates -> verified jaccard ->
                        connected-components clusters -> min-id
                        survivor per cluster
  stage ``packed``      whitespace-token counts -> fixed-budget bin
                        layout (pack_documents) for batch assembly

Stage order matters at 100 TB: the pure-Column gate stage typically
drops 40-70% of a raw crawl before the first shuffle, url dedup removes
exact refetches before shingling pays per-byte, and only the gated,
url-unique remainder enters the (banded, but still most expensive)
MinHash stage.  Packing runs last so bins are dense over survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.curation import curation_pipeline
from ..operators.dedup import dedup_clusters, lsh_candidate_pairs
from ..operators.filters import canonical_url
from ..operators.textstats import pack_documents
from ..sources.lineage import StageCheckpoint


JACCARD_THRESHOLD = 0.5  # verified MinHash jaccard that marks a near-dup


def stage_gated(docs: DataFrame) -> DataFrame:
    """Composite quality gates + canonical-URL materialization (the
    next stage buckets on the canonical form, so it must exist at the
    stage boundary)."""
    verdicts = curation_pipeline(docs.withColumnRenamed("markdown", "text"))
    return (docs.join(verdicts.select("doc_id", "keep", "reasons"), "doc_id")
            .where(F.col("keep") == 1)
            .drop("keep", "reasons")
            .withColumn("canonical_url", canonical_url(F.col("url"))))


def stage_url_unique(docs: DataFrame) -> DataFrame:
    """Keep only the canonical representative (min url) of each
    canonical-URL group.  Correct per bucket ONLY when the caller
    buckets on canonical_url (run_curation does) — same-canonical rows
    must co-locate; the window then adds no extra exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("canonical_url")
    return (docs.withColumn("_min_url", F.min("url").over(w))
            .where(F.col("url") == F.col("_min_url"))
            .drop("_min_url", "canonical_url"))


def stage_survivors(docs: DataFrame) -> DataFrame:
    pairs = (lsh_candidate_pairs(docs, text_col="markdown")
             .where(F.col("jaccard") >= JACCARD_THRESHOLD))
    clusters = dedup_clusters(docs, pairs)
    return (docs.join(clusters.where(F.col("is_survivor") == 1)
                      .select("doc_id", "cluster_id"), "doc_id"))


def stage_packed(docs: DataFrame, budget: int = 2048) -> DataFrame:
    counted = docs.withColumn(
        "grp", F.coalesce(F.col("lang_pred"), F.lit("unknown")))
    return pack_documents(counted.withColumnRenamed("markdown", "text"),
                          budget=budget, group_col="grp")


def run_curation(spark: SparkSession, docs: DataFrame,
                 checkpoint_root: str, n_buckets: int = 16,
                 budget: int = 2048) -> DataFrame:
    """Checkpointed end-to-end curation; restart-safe per stage bucket.

    Note the ONE intentional deviation from bucket-local semantics:
    ``survivors`` needs cross-bucket pair information (a dup pair can
    straddle buckets), so that stage runs on the full url_unique output
    in one checkpointed step rather than per bucket — its lineage row
    still records counts/bytes/elapsed for the whole stage.
    """
    ck = StageCheckpoint(spark, checkpoint_root, n_buckets=n_buckets)
    gated = ck.run_stage("gated", docs, stage_gated)
    # url dedup buckets on the CANONICAL url so every canonical group is
    # bucket-local and per-bucket resume stays correct
    ck_url = StageCheckpoint(spark, checkpoint_root, n_buckets=n_buckets,
                             key_col="canonical_url")
    uniq = ck_url.run_stage("url_unique", gated, stage_url_unique)
    surv = ck.run_stage("survivors", uniq, stage_survivors, cross_bucket=True)
    return ck.run_stage(
        "packed", surv, lambda df: stage_packed(df, budget=budget),
        cross_bucket=True)


def run_curation_inline(docs: DataFrame, budget: int = 2048) -> DataFrame:
    """Same dataflow without checkpoints (benchmarks, small runs).

    The url-unique frame feeds three consumers (pair generation, the
    survivor join, packing); one lazy localCheckpoint materializes it
    once — the in-memory analog of the parquet stage boundary the
    checkpointed ``run_curation`` gets for free."""
    gated = stage_gated(docs)
    uniq = stage_url_unique(gated).localCheckpoint(eager=False)
    return stage_packed(stage_survivors(uniq), budget=budget)
