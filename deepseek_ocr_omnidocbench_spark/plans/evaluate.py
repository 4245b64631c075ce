"""End-to-end evaluation plan (SURVEY §3.1 re-expressed as a DataFrame DAG).

gt/pred scan -> ONE Python pass: cogroup on img_id, per page match and
per row score (edit counts, TEDS, METEOR, BLEU counts) -> cache -> table
arbitration (stream counts observed on the action that fills the cache,
then a filter/projection) -> edit ratio -> one two-level report
aggregate, collected once and split into the five reports in Python.
A cold 50-page run is 4 Python tasks (one per core) and 9 Spark jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.eval_harness import match_elements
from ..operators.metrics_report import (
    arbitrate_tables,
    collect_reports,
    overall_score,
    score_samples,
)
from ..sources.annotations import generate_eval_fixtures

GT_SCHEMA = T.StructType([
    T.StructField("img_id", T.StringType()),
    T.StructField("anno_id", T.IntegerType()),
    T.StructField("category_type", T.StringType()),
    T.StructField("order", T.DoubleType()),
    T.StructField("text", T.StringType()),
    T.StructField("latex", T.StringType()),
    T.StructField("html", T.StringType()),
    T.StructField("ignore", T.BooleanType()),
    T.StructField("attribute", T.MapType(T.StringType(), T.StringType())),
    T.StructField("truncated_pair", T.IntegerType()),
])

PAGE_ATTR_SCHEMA = T.StructType([
    T.StructField("img_id", T.StringType()),
    T.StructField("page_attribute", T.MapType(T.StringType(), T.StringType())),
    T.StructField("special_issue", T.ArrayType(T.StringType())),
])

PRED_SCHEMA = T.StructType([
    T.StructField("img_id", T.StringType()),
    T.StructField("md", T.StringType()),
])


def fixture_frames(spark: SparkSession, n_pages: int, seed: int = 42,
                   perturb: float = 1.0):
    gt_rows, page_rows, pred_rows = generate_eval_fixtures(n_pages, seed, perturb)
    gt = spark.createDataFrame(gt_rows, GT_SCHEMA)
    pages = spark.createDataFrame(page_rows, PAGE_ATTR_SCHEMA)
    preds = spark.createDataFrame(pred_rows, PRED_SCHEMA)
    return gt, pages, preds


def evaluate(gt: DataFrame, preds: DataFrame, page_attrs: DataFrame,
             method: str = "quick_match") -> dict:
    """Run the full harness; returns the nested result dict (S10 shape)."""
    # cached: the arbitration's count and the report aggregate both read it
    matches = match_elements(gt, preds, method=method).cache()
    reports = collect_reports(score_samples(arbitrate_tables(matches)), page_attrs)
    matches.unpersist()
    teds = reports["teds"][0] if reports["teds"] else None
    return {
        "edit_dist": {r["element_class"]: r for r in reports["edit_dist"]},
        "teds": teds,
        "attributes": reports["attributes"],
        "page_split": reports["page_split"],
        "text_metrics": {r["group"]: r for r in reports["text_metrics"]},
        "overall": overall_score(reports["edit_dist"], teds),
    }


def evaluate_fixtures(spark: SparkSession, n_pages: int = 50, seed: int = 42,
                      perturb: float = 1.0, method: str = "quick_match") -> dict:
    gt, pages, preds = fixture_frames(spark, n_pages, seed, perturb)
    return evaluate(gt, preds, pages, method=method)
