"""Metric computation + report aggregations (SURVEY §2.6 A1-A10).

Python runs once per match row, inside the evaluation pass: ``score_record``
(called by operators/eval_harness.match_elements) normalizes table rows
and adds every per-row score that does not depend on the global table
decision — TEDS, sentence METEOR and the BLEU sufficient statistics.
Everything after the pass is native Spark: the table arbitration, the
native ``levenshtein`` edit distance, and ONE two-level aggregate
(``report_frame``) that all five reports read.  Parity targets:

* Edit_dist — `Levenshtein(pred, gt)/max(len)` per sample, three
  aggregates (metrics 2/cal_metric.py:139-184): page-weighted mean of
  per-page sum(edit)/sum(upper_len) (`ALL_page_avg`), global sum ratio
  (`edit_whole`), sample mean (`edit_sample_avg`).
* TEDS / TEDS_structure_only — sample mean per group
  (cal_metric.py:36-96), scores from operators/teds.py.
* BLEU / METEOR per element class (cal_metric.py:99-137): corpus BLEU
  from summed per-row n-gram counts (functions/bleu.py), mean of
  sentence METEOR.  Scored gt-as-hypothesis, the reference's argument
  swap.
* Attribute-group means (metrics 2/show_result.py:22-49) — gt_attribute
  'k: v' labels, mean + count per label.
* Page-attribute split (show_result.py:83-139) — rows x (ALL + page
  attrs + special issues); Edit_dist page-weighted, then page mean per
  label.
* Overall = ((1-text_ED)*100 + (1-formula_ED)*100 + TEDS*100)/3
  (tools/generate_result_tables_final.ipynb).

Table-format arbitration (end2end_dataset.py:218-234): the only global
decision — latex wins when the latex match stream outnumbers html; the
losing latex stream is folded in as pred-empty rows, whose scores follow
from the gt alone (TEDS and METEOR 0, no matched n-grams).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.bleu import bleu_from_stats, bleu_stats
from ..functions.meteor import sentence_meteor
from ..functions.normalize import normalized_table
from .teds import teds_score

TABLE_FORMATS = {"table_latex": "latex", "table_html": "html"}

SCORE_FIELDS = [
    T.StructField("teds", T.DoubleType()),
    T.StructField("teds_struct", T.DoubleType()),
    T.StructField("meteor", T.DoubleType()),
    # functions/bleu.bleu_stats(gt, pred): 4 clipped counts, 4 gt n-gram
    # totals, gt token count, pred token count
    T.StructField("bleu_stats", T.ArrayType(T.LongType())),
]
_N_BLEU = 10  # len(bleu_stats(...)) at max_n=4
# the bleu_stats slots that count prediction tokens (clipped n-grams and
# the reference length): all zero when the prediction is empty
_PRED_SLOTS = (0, 1, 2, 3, 9)


def _eff_text(norm: Optional[str], raw: Optional[str]) -> str:
    """Reference convention: norm field when non-empty else raw field."""
    return norm if norm else (raw or "")


def score_record(rec: dict) -> dict:
    """Add the per-row scores to one match row (in place) and return it.

    Table rows (``table_latex``/``table_html``) get their gt normalized as
    html and their prediction in the row's own stream format, then
    ``teds``/``teds_struct``; other rows get NULL TEDS.  Every row gets
    sentence METEOR and ``bleu_stats`` over the norm-effective texts."""
    fmt = TABLE_FORMATS.get(rec.get("element_class"))
    if fmt:
        rec["norm_gt"] = normalized_table(rec["gt"], "html") if rec.get("gt") else ""
        rec["norm_pred"] = normalized_table(rec["pred"], fmt) if rec.get("pred") else ""
    gt = _eff_text(rec.get("norm_gt"), rec.get("gt"))
    pred = _eff_text(rec.get("norm_pred"), rec.get("pred"))
    rec["teds"] = teds_score(pred, gt) if fmt else None
    rec["teds_struct"] = teds_score(pred, gt, structure_only=True) if fmt else None
    rec["meteor"] = sentence_meteor(gt, pred)
    rec["bleu_stats"] = bleu_stats(gt, pred)
    return rec


def arbitrate_tables(matches: DataFrame) -> DataFrame:
    """Pick the winning table stream by global count (J7).

    The two stream counts are observed while one action runs over
    ``matches`` (which fills its cache, if it is cached); the rest is a
    filter and a projection.  Table rows come out as
    element_class='table'.  When html wins, latex rows stay as empty
    predictions: their scores are rewritten to what ``score_record``
    gives for an empty prediction."""
    cls = F.col("element_class")
    streams = Observation()
    (matches.observe(streams, *[F.count(F.when(cls == c, 1)).alias(c) for c in TABLE_FORMATS])
     .write.format("noop").mode("overwrite").save())
    n_latex, n_html = streams.get["table_latex"], streams.get["table_html"]
    as_table = F.when(cls.isin(*TABLE_FORMATS), F.lit("table")).otherwise(cls)
    if n_latex > n_html:
        return (matches.where(cls.isNotNull() & (cls != "table_html"))
                .withColumn("element_class", as_table))
    blank = cls == "table_latex"
    blanked = {
        "pred": F.lit(""), "norm_pred": F.lit(""), "pred_category": F.lit(""),
        "edit": F.lit(1.0), "teds": F.lit(0.0), "teds_struct": F.lit(0.0),
        "meteor": F.lit(0.0),
        "bleu_stats": F.transform("bleu_stats", lambda x, i: F.when(
            i.isin(*_PRED_SLOTS), F.lit(0).cast("long")).otherwise(x)),
    }
    return matches.where(cls.isNotNull()).withColumns(
        {c: F.when(blank, v).otherwise(F.col(c)) for c, v in blanked.items()}
        | {"element_class": as_table})


def _eff(col: str, fallback: str):
    """``_eff_text`` as a Column."""
    c = F.col(col)
    return F.when(c.isNotNull() & (F.length(c) > 0), c).otherwise(
        F.coalesce(F.col(fallback), F.lit("")))


def score_samples(matches: DataFrame, teds_partitions: int | None = None) -> DataFrame:
    """Add the edit-distance columns upper_len, edit_num (native
    levenshtein) and edit_dist.  The scores of ``score_record`` come with
    rows of the evaluation pass; a frame without them (md2md) gets them
    as NULL, so every scored frame has one schema.

    ``teds_partitions`` is accepted and ignored: TEDS runs in the
    evaluation pass."""
    df = (
        matches.withColumn("_gt_eff", _eff("norm_gt", "gt"))
        .withColumn("_pred_eff", _eff("norm_pred", "pred"))
        .withColumn("upper_len", F.greatest(F.length("_gt_eff"), F.length("_pred_eff")))
        .withColumn("edit_num", F.levenshtein("_gt_eff", "_pred_eff"))
        .withColumn(
            "edit_dist",
            F.when(F.col("upper_len") > 0,
                   F.col("edit_num") / F.col("upper_len")).otherwise(F.lit(None)),
        )
    )
    missing = {f.name: F.lit(None).cast(f.dataType)
               for f in SCORE_FIELDS if f.name not in df.columns}
    return df.withColumns(missing).drop("_gt_eff", "_pred_eff")


# ---------------------------------------------------------------------------
# reports: one aggregate, collected once and split in Python
# ---------------------------------------------------------------------------

def _or_empty(strings):
    return F.coalesce(strings, F.array().cast("array<string>"))


def _kv_labels(m):
    """'k: v' per entry of a map Column; empty for a NULL map."""
    return _or_empty(F.transform(F.map_entries(m),
                                 lambda e: F.concat_ws(": ", e["key"], e["value"])))


def _page_labels(page_attrs: DataFrame) -> DataFrame:
    """img_id -> its distinct page labels: 'ALL', each 'k: v' page
    attribute and each special issue not about tables."""
    labels = F.concat(F.array(F.lit("ALL")), _kv_labels("page_attribute"),
                      _or_empty(F.filter("special_issue", lambda x: ~x.contains("table"))))
    return (page_attrs.groupBy("img_id")
            .agg(F.array_distinct(F.flatten(F.collect_list(labels))).alias("page_labels")))


def _keys(report: str, labels):
    return F.transform(labels, lambda x: F.struct(F.lit(report).alias("report"),
                                                  x.alias("label")))


def report_frame(scored: DataFrame, page_attrs: Optional[DataFrame] = None) -> DataFrame:
    """Every report's sums in one two-level aggregate.

    Each scored row is counted under the keys (report, label):
    ('class', NULL) once, ('attr', 'k: v') per gt attribute entry, and
    ('page', label) per page label of its img_id (with ``page_attrs``).
    Level one sums per (report, element_class, label, img_id), level two
    per (report, element_class, label) and takes the page-weighted mean
    edit ratio (``page_avg``, ``n_pages``: pages with a non-empty
    sample).  BLEU counts are summed as integers."""
    keys = [F.array(F.struct(F.lit("class").alias("report"),
                             F.lit(None).cast("string").alias("label"))),
            _keys("attr", _or_empty(F.flatten(F.transform("gt_attribute", _kv_labels))))]
    if page_attrs is not None:
        scored = scored.join(F.broadcast(_page_labels(page_attrs)), "img_id", "left")
        keys.append(_keys("page", _or_empty(F.col("page_labels"))))
    counted = F.col("upper_len") > 0
    rows = scored.select(
        "element_class", "img_id", "edit_dist", "teds", "teds_struct", "meteor",
        "bleu_stats", F.when(counted, F.col("edit_num")).alias("_edit"),
        F.when(counted, F.col("upper_len")).alias("_len"), F.inline(F.concat(*keys)))
    sums = [F.sum("_edit").alias("e_n"), F.sum("_len").alias("e_len"),
            F.sum("edit_dist").alias("e_dsum"), F.count("edit_dist").alias("e_cnt"),
            F.count(F.lit(1)).alias("n_rows"), F.sum("teds").alias("teds_sum"),
            F.sum("teds_struct").alias("teds_struct_sum"), F.count("teds").alias("teds_n"),
            F.sum("meteor").alias("meteor_sum")]
    per_page = rows.groupBy("report", "element_class", "label", "img_id").agg(
        *sums, *[F.sum(F.col("bleu_stats")[i]).alias("b%d" % i) for i in range(_N_BLEU)])
    return per_page.groupBy("report", "element_class", "label").agg(
        F.avg(F.col("e_n") / F.col("e_len")).alias("page_avg"),
        F.count(F.col("e_n") / F.col("e_len")).alias("n_pages"),
        *[F.sum(c).alias(c) for c in ("e_n", "e_len", "e_dsum", "e_cnt", "n_rows",
                                      "teds_sum", "teds_struct_sum", "teds_n", "meteor_sum")],
        F.array(*[F.sum("b%d" % i) for i in range(_N_BLEU)]).alias("bleu"))


def _div(a, b):
    """a / b; NULL for an empty group or unscored rows (md2md)."""
    return None if a is None or not b else a / b


def _ordered(rows: list[dict], *keys: str) -> list[dict]:
    """Spark's ORDER BY: NULLs first."""
    return sorted(rows, key=lambda r: [(r[k] is not None, r[k] or "") for k in keys])


def collect_reports(scored: DataFrame, page_attrs: Optional[DataFrame] = None) -> dict:
    """Collect ``report_frame`` once and split it into the five reports
    (lists of row dicts, in each report's documented order).
    ``page_split`` is empty without ``page_attrs``."""
    parts: dict = {"class": [], "attr": [], "page": []}
    for r in report_frame(scored, page_attrs).collect():
        parts[r["report"]].append(r.asDict())
    by_class = _ordered(parts["class"], "element_class")
    return {
        "edit_dist": [
            {"element_class": r["element_class"], "page_avg_edit": r["page_avg"],
             "edit_whole": r["e_n"] / r["e_len"],
             "edit_sample_avg": r["e_dsum"] / r["e_cnt"], "n_samples": r["e_cnt"]}
            for r in by_class if r["e_cnt"]],
        "teds": [
            {"teds": _div(r["teds_sum"], r["teds_n"]),
             "teds_structure_only": _div(r["teds_struct_sum"], r["teds_n"]),
             "n_tables": r["n_rows"]}
            for r in by_class if r["element_class"] == "table"],
        "attributes": _ordered([
            {"element_class": r["element_class"], "attribute": r["label"],
             "mean_score": r["e_dsum"] / r["e_cnt"], "sample_count": r["e_cnt"]}
            for r in parts["attr"] if r["e_cnt"]], "element_class", "attribute"),
        "page_split": _ordered([
            {"element_class": r["element_class"], "attribute": r["label"],
             "edit_dist": r["page_avg"], "page_count": r["n_pages"]}
            for r in parts["page"] if r["n_pages"]], "element_class", "attribute"),
        "text_metrics": [
            {"group": r["element_class"],
             "bleu": bleu_from_stats(r["bleu"]) if None not in r["bleu"] else None,
             "meteor": _div(r["meteor_sum"], r["n_rows"]), "n_samples": r["n_rows"]}
            for r in by_class],
    }


_REPORT_SCHEMAS = {
    "edit_dist": "element_class string, page_avg_edit double, edit_whole double, "
                 "edit_sample_avg double, n_samples long",
    "teds": "teds double, teds_structure_only double, n_tables long",
    "attributes": "element_class string, attribute string, mean_score double, "
                  "sample_count long",
    "page_split": "element_class string, attribute string, edit_dist double, "
                  "page_count long",
    "text_metrics": "group string, bleu double, meteor double, n_samples long",
}


def _view(name: str, scored: DataFrame, page_attrs: Optional[DataFrame] = None) -> DataFrame:
    """One report of ``collect_reports`` as a small local DataFrame."""
    rows = collect_reports(scored, page_attrs)[name]
    return scored.sparkSession.createDataFrame(rows, _REPORT_SCHEMAS[name])


def edit_dist_report(scored: DataFrame) -> DataFrame:
    """Three Edit_dist aggregates per element_class (cal_metric.py:159-184)."""
    return _view("edit_dist", scored)


def teds_report(scored: DataFrame) -> DataFrame:
    """Sample-mean TEDS for the table stream (cal_metric.py:80-96); no
    row when there is no table."""
    return _view("teds", scored)


def text_metric_report(scored: DataFrame) -> DataFrame:
    """Corpus BLEU + mean METEOR per element_class (cal_metric.py:99-137)."""
    return _view("text_metrics", scored)


def attribute_report(scored: DataFrame) -> DataFrame:
    """Mean edit_dist + count per gt_attribute 'k: v' label (A7)."""
    return _view("attributes", scored)


def page_split_report(scored: DataFrame, page_attrs: DataFrame) -> DataFrame:
    """ALL + per-page-attribute rows; Edit_dist page-weighted (A8).

    page_attrs: (img_id, page_attribute map<string,string>,
    special_issue array<string>)."""
    return _view("page_split", scored, page_attrs)


def overall_score(edit_report_rows: list, teds_row) -> Optional[float]:
    """((1-text_ED)*100 + (1-formula_ED)*100 + TEDS*100)/3 (A10)."""
    by_class = {r["element_class"]: r for r in edit_report_rows}
    text = by_class.get("text_block")
    formula = by_class.get("display_formula")
    if text is None or formula is None or teds_row is None:
        return None
    return (
        (1 - text["page_avg_edit"]) * 100
        + (1 - formula["page_avg_edit"]) * 100
        + (teds_row["teds"] or 0) * 100
    ) / 3
