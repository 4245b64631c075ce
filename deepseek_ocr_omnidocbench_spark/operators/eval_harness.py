"""Page-level evaluation orchestration + Spark surface (SURVEY §3.1).

Re-expresses End2EndDataset's eager per-page loop
(OmniDocBench/dataset/end2end_dataset.py:153-340) as a cogrouped
``applyInPandas`` over ``img_id``:

  gt_elements ⟂ pred pages  --cogroup(img_id)-->  match records

Per page: truncated-block merge (P8, end2end_dataset.py:53-93) ->
md_tex_filter span parse (P1) -> table-format arbitration feeding
unmatched table cells back into the text pool (J7,
end2end_dataset.py:287-302) -> quick/simple match with deadline
fallback (J6) -> stream classification (text/formula/table/order) ->
reading-order pairing (A6, end2end_dataset.py:125-143) -> per-row
scores (metrics_report.score_record: table normalization, edit counts,
TEDS, METEOR, BLEU counts).

This is the evaluation's only Python pass.  The only cross-page
decision — latex-vs-html table-format arbitration by global count
(end2end_dataset.py:229-234) — happens later in
metrics_report.arbitrate_tables, from two stream counts observed over
this pass's output.
"""

from __future__ import annotations

import time
from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.editdist import levenshtein
from ..functions.normalize import clean_string, latex_to_text
from .extract_spans import md_tex_filter
from .matching import (
    IGNORE_CATEGORIES,
    MATCH_GT_CATEGORIES,
    MatchTimeout,
    QUICK_DEADLINE_SEC,
    TEXT_CATEGORIES,
    match_no_split,
    match_quick,
    match_simple,
)
from .metrics_report import SCORE_FIELDS, score_record

# ---------------------------------------------------------------------------
# P8: element grouping + truncated merge
# ---------------------------------------------------------------------------


def group_page_elements(rows: list[dict]) -> dict[str, list[dict]]:
    """Bucket GT rows by category, merging truncated chains by `order`.

    ``truncated_pair`` (our flattened stand-in for extra.relation
    entries, FIXTURES.md §2) links anno_id -> continuation anno_id.
    """
    chains: list[set] = []
    linked: set = set()
    for r in rows:
        tp = r.get("truncated_pair")
        if tp is None or (isinstance(tp, float) and pd.isna(tp)):
            continue
        tp = int(tp)
        aid = int(r["anno_id"])
        linked.update((aid, tp))
        for ch in chains:
            if aid in ch or tp in ch:
                ch.update((aid, tp))
                break
        else:
            chains.append({aid, tp})

    by_cat: dict[str, list[dict]] = {}
    by_id = {int(r["anno_id"]): r for r in rows}
    for r in rows:
        if int(r["anno_id"]) not in linked:
            by_cat.setdefault(r["category_type"], []).append(r)
    for ch in chains:
        blocks = sorted((by_id[a] for a in ch if a in by_id),
                        key=lambda b: b.get("order") or 0)
        if not blocks:
            continue
        merged = dict(blocks[0])
        merged["text"] = "".join(b.get("text") or "" for b in blocks)
        by_cat.setdefault(merged["category_type"], []).append(merged)
    return by_cat


def _sorted_by_order(items: list[dict]) -> list[dict]:
    return [it for _, it in sorted(((it.get("order") or 0, i), it)
            for i, it in enumerate(items))]


# ---------------------------------------------------------------------------
# A6: reading-order pairing
# ---------------------------------------------------------------------------


def order_pair(text_records: list[dict], img_id: str) -> Optional[dict]:
    """Reading-order edit record (end2end_dataset.py:125-143)."""
    matched = [(r["gt_position"], r["pred_position"]) for r in text_records
               if r["gt_position"] is not None and r["pred_position"] is not None]
    gt_all = [r["gt_position"] for r in text_records if r["gt_position"] is not None]
    pred_seq = [pos for _, positions in sorted(
        ((pp, gp) for gp, pp in matched), key=lambda x: x[0])
        for pos in positions if pos]
    gt_seq = sorted(p for sub in gt_all for p in sub if p)
    if not gt_seq and not pred_seq:
        return None
    edit = levenshtein(gt_seq, pred_seq) / max(len(gt_seq), len(pred_seq))
    # norm fields carry a codepoint encoding of the sequences (one char per
    # order value) so the downstream Edit_dist metric can use the native
    # JVM levenshtein on them — identical to sequence distance.
    alphabet = {v: chr(0x4E00 + i) for i, v in enumerate(sorted(set(gt_seq) | set(pred_seq)))}
    return {"img_id": img_id, "element_class": "reading_order",
            "gt": ",".join(str(x) for x in gt_seq),
            "pred": ",".join(str(x) for x in pred_seq),
            "norm_gt": "".join(alphabet[v] for v in gt_seq),
            "norm_pred": "".join(alphabet[v] for v in pred_seq),
            "edit": float(edit)}


# ---------------------------------------------------------------------------
# per-page orchestration
# ---------------------------------------------------------------------------


def match_page(gt_rows: list[dict], md: str, img_id: str,
               method: str = "quick_match") -> list[dict]:
    """One page -> flat match records tagged with element_class."""
    spans = md_tex_filter(md or "")
    for s in spans:  # matcher expects 'position'
        s["position"] = [s["position"][0], s["position"][1]]
    gt_by_cat = group_page_elements(gt_rows)

    pred_mix = [s for s in spans if s["category_type"] not in
                ("html_table", "latex_table", "md2html_table")]
    gt_mix: list[dict] = []
    for cat in MATCH_GT_CATEGORIES:
        gt_mix.extend(gt_by_cat.get(cat, []))
    if gt_mix:
        gt_mix = _sorted_by_order(gt_mix)

    records: list[dict] = []

    # ---- tables first (J7); unmatched pred tables feed the text pool ----
    if gt_by_cat.get("table"):
        gt_tables = _sorted_by_order(gt_by_cat["table"])
        latex_preds = [s for s in spans if s["category_type"] == "latex_table"]
        html_preds = [s for s in spans if s["category_type"] == "html_table"]
        if len(latex_preds) > len(html_preds):
            table_recs, residual = match_simple(gt_tables, latex_preds, "latex_table", img_id)
            cls = "table_latex"
        else:
            table_recs, residual = match_simple(gt_tables, html_preds, "html_table", img_id)
            cls = "table_html"
        for r in table_recs:
            if r["gt_idx"] is not None:  # drop extra-pred residual rows
                r["element_class"] = cls
                records.append(r)
        if residual:
            pred_mix.extend(residual)

    # ---- mixed text/formula match with deadline fallback (J6) ----
    if method == "no_split":
        mix_records = match_no_split(gt_mix, pred_mix, "text_all", img_id)
    elif method == "simple_match":
        mix_records, _ = match_simple(gt_mix, pred_mix, "text_all", img_id)
    else:
        try:
            mix_records = match_quick(gt_mix, pred_mix, "text_all", img_id,
                                      deadline=time.monotonic() + QUICK_DEADLINE_SEC)
        except MatchTimeout:
            mix_records, _ = match_simple(gt_mix, pred_mix, "text_all", img_id)

    text_records: list[dict] = []
    formula_records: list[dict] = []
    for r in mix_records:
        cat = r.get("gt_category_type")
        if cat in TEXT_CATEGORIES:
            text_records.append(r)
        elif cat == "equation_isolated":
            if r["gt_idx"] is not None:
                formula_records.append(r)

    # formula re-typing (N12, end2end_dataset.py:197-215): a formula the
    # prediction rendered as something other than an equation is scored as
    # text, gt converted latex->text.
    formula_clean: list[dict] = []
    for r in formula_records:
        if r.get("pred_category_type") not in ("equation_inline", "equation_isolated", ""):
            r = dict(r)
            r["gt"] = latex_to_text(r["gt"])
            r["norm_gt"] = clean_string(r["gt"])
            text_records.append(r)
        else:
            formula_clean.append(r)

    # ignore-category filter for the text stream (F2)
    text_clean = [r for r in text_records
                  if r.get("gt_category_type") not in IGNORE_CATEGORIES]

    for r in text_clean:
        r["element_class"] = "text_block"
        records.append(r)
    for r in formula_clean:
        r["element_class"] = "display_formula"
        records.append(r)

    op = order_pair(text_clean, img_id)
    if op:
        records.append(op)
    return records


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

MATCH_SCHEMA = T.StructType([
    T.StructField("img_id", T.StringType()),
    T.StructField("element_class", T.StringType()),
    T.StructField("gt_idx", T.ArrayType(T.IntegerType())),
    T.StructField("pred_idx", T.ArrayType(T.IntegerType())),
    T.StructField("gt", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("norm_gt", T.StringType()),
    T.StructField("norm_pred", T.StringType()),
    T.StructField("gt_category", T.StringType()),
    T.StructField("pred_category", T.StringType()),
    T.StructField("gt_attribute", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
    T.StructField("gt_position", T.ArrayType(T.DoubleType())),
    T.StructField("pred_position", T.LongType()),
    T.StructField("edit", T.DoubleType()),
])

# match_elements' output: match rows with their per-row scores
SCORED_MATCH_SCHEMA = T.StructType(MATCH_SCHEMA.fields + SCORE_FIELDS)

GT_ELEMENT_FIELDS = ["img_id", "anno_id", "category_type", "order", "text",
                     "latex", "html", "ignore", "attribute", "truncated_pair"]


def _to_row(rec: dict) -> dict:
    def _ints(v):
        return None if v is None else [int(x) for x in v]

    pos = rec.get("gt_position")
    if pos is not None:
        pos = [float(p) if p is not None else None for p in pos]
    ppos = rec.get("pred_position")
    return {
        "img_id": rec["img_id"],
        "element_class": rec.get("element_class", ""),
        "gt_idx": _ints(rec.get("gt_idx")),
        "pred_idx": _ints(rec.get("pred_idx")),
        "gt": rec.get("gt", ""),
        "pred": rec.get("pred", ""),
        "norm_gt": rec.get("norm_gt", ""),
        "norm_pred": rec.get("norm_pred", ""),
        "gt_category": rec.get("gt_category_type", ""),
        "pred_category": rec.get("pred_category_type", ""),
        "gt_attribute": rec.get("gt_attribute"),
        "gt_position": pos,
        "pred_position": int(ppos) if ppos is not None else None,
        "edit": float(rec.get("edit", 1.0)),
    }


def match_elements(gt_elements: DataFrame, pred_pages: DataFrame,
                   method: str = "quick_match") -> DataFrame:
    """(gt_elements, pages-of-markdown) -> scored match-record DataFrame
    (SCORED_MATCH_SCHEMA).

    Shuffles both sides once on img_id (the cogroup key); matching and
    per-row scoring are per-page Python inside Arrow workers.  At cluster
    scale the key is page-granular so skew is bounded by page size.

    The shuffle partition count is PINNED with an explicit
    repartition(n, img_id): the match stage is CPU-bound per page, not
    byte-bound, and AQE's size-based coalescing would otherwise fold the
    few-MB shuffle into ONE partition and serialize the whole matcher
    (measured: 7.9 s -> 2.8 s at 100 pages x 32 cores).  AQE respects
    user-specified partition counts, and the cogroup reuses the
    hash-partitioning instead of adding its own exchange.
    """

    def _match(key, gt_pdf: pd.DataFrame, pred_pdf: pd.DataFrame) -> pd.DataFrame:
        img_id = key[0]
        md = pred_pdf["md"].iloc[0] if len(pred_pdf) else ""
        gt_rows = gt_pdf.to_dict("records") if len(gt_pdf) else []
        recs = match_page(gt_rows, md, img_id, method=method)
        rows = [score_record(_to_row(r)) for r in recs]
        return pd.DataFrame(rows, columns=SCORED_MATCH_SCHEMA.fieldNames())

    n_part = gt_elements.sparkSession.sparkContext.defaultParallelism
    return (
        gt_elements.select(*[c for c in GT_ELEMENT_FIELDS if c in gt_elements.columns])
        .repartition(n_part, "img_id")
        .groupBy("img_id")
        .cogroup(pred_pages.select("img_id", "md")
                 .repartition(n_part, "img_id").groupBy("img_id"))
        .applyInPandas(_match, SCORED_MATCH_SCHEMA)
    )
