"""md2md evaluation (SURVEY §2.1 S3): ground truth is ALSO a markdown
folder — both sides go through the span parser, then stream-wise
matching (OmniDocBench/dataset/md2md_dataset.py:15-140):

* text:    gt text_all   vs pred text_all
* formula: gt equation_isolated vs pred equation_isolated (inline-GT
           rows and extra-pred rows dropped, md2md_dataset.py:100-103)
* tables:  latex-vs-latex when both sides have latex tables, else
           html-vs-html; extra-pred rows dropped
* order:   reading-order pairing over the text stream

Each page is independent (both documents arrive in one row), so the
match runs in ``mapInPandas`` — no cogroup shuffle at all; the join of
the two folders is a broadcast by image stem.  The same pass counts
each row's edit distance (``metrics_report.edit_counts``).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.eval_harness import MATCH_SCHEMA, _to_row, order_pair
from ..operators.extract_spans import md_tex_filter
from ..operators.matching import match_quick, match_simple
from ..operators.metrics_report import (
    EDIT_FIELDS,
    edit_counts,
    edit_dist_report,
    score_samples,
)
from ..sources.md_folder import scan_md_folder


def match_md2md_page(gt_md: str, pred_md: str, img_id: str,
                     method: str = "simple_match") -> list[dict]:
    gt_spans = md_tex_filter(gt_md or "")
    pred_spans = md_tex_filter(pred_md or "")

    def bucket(spans, cat):
        return [s for s in spans if s["category_type"] == cat]

    def run(gts, preds):
        if method == "quick_match":
            return match_quick(gts, preds, None, img_id)
        return match_simple(gts, preds, "text_all", img_id)[0]

    records: list[dict] = []
    text_records: list[dict] = []
    gt_text = bucket(gt_spans, "text_all")
    if gt_text:
        for r in run(gt_text, bucket(pred_spans, "text_all")):
            r["element_class"] = "text_block"
            text_records.append(r)
            records.append(r)
    gt_form = bucket(gt_spans, "equation_isolated")
    if gt_form:
        for r in run(gt_form, bucket(pred_spans, "equation_isolated")):
            if r["gt_idx"] is None or r.get("gt_category_type") == "equation_inline":
                continue
            r["element_class"] = "display_formula"
            records.append(r)
    gt_ltx, pred_ltx = bucket(gt_spans, "latex_table"), bucket(pred_spans, "latex_table")
    gt_html, pred_html = bucket(gt_spans, "html_table"), bucket(pred_spans, "html_table")
    table_pairs = None
    if gt_ltx and pred_ltx:
        table_pairs = (gt_ltx, pred_ltx, "table_latex")
    elif gt_html and pred_html:
        table_pairs = (gt_html, pred_html, "table_html")
    if table_pairs:
        gts, preds, cls = table_pairs
        for r in run(gts, preds):
            if r["gt_idx"] is None:
                continue
            r["element_class"] = cls
            records.append(r)
    op = order_pair(text_records, img_id)
    if op:
        records.append(op)
    return records


# match_md2md's output: match rows with their edit counts
MD2MD_SCHEMA = T.StructType(MATCH_SCHEMA.fields + EDIT_FIELDS)


def match_md2md(pairs: DataFrame, method: str = "simple_match") -> DataFrame:
    """pairs(img_id, gt_md, pred_md) -> match-record DataFrame with the
    edit counts (MD2MD_SCHEMA)."""

    def _gen(batches: Iterable[pd.DataFrame]):
        cols = MD2MD_SCHEMA.fieldNames()
        for pdf in batches:
            rows = []
            for img_id, gt_md, pred_md in zip(pdf["img_id"], pdf["gt_md"],
                                              pdf["pred_md"]):
                for r in match_md2md_page(gt_md, pred_md, img_id, method):
                    row = _to_row(r)
                    edit_counts(row)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return pairs.mapInPandas(_gen, MD2MD_SCHEMA)


def md2md_evaluate(spark: SparkSession, gt_folder: str, pred_folder: str,
                   method: str = "simple_match") -> dict:
    gt = scan_md_folder(spark, gt_folder).select(
        F.regexp_replace("file_name", r"\.md$", ".jpg").alias("img_id"),
        F.col("md").alias("gt_md"))
    pred = scan_md_folder(spark, pred_folder).select(
        F.regexp_replace("file_name", r"\.md$", ".jpg").alias("img_id"),
        F.col("md").alias("pred_md"))
    pairs = gt.join(F.broadcast(pred), "img_id")  # missing preds warn via anti-join
    matches = match_md2md(pairs, method=method)
    scored = score_samples(matches)
    report = [r.asDict() for r in edit_dist_report(scored).collect()]
    return {"edit_dist": {r["element_class"]: r for r in report},
            "n_pages": pairs.count()}
