"""The evaluation pass's edit counts equal Spark's native forms.

``metrics_report.score_record`` sets ``edit_num`` with the package's
bit-parallel Levenshtein and ``upper_len`` with ``len``; the report
aggregate used to compute both in the JVM as ``levenshtein`` and
``greatest(length, length)`` of the same norm-effective texts.  Both
engines count code points, which the non-ASCII, CJK and astral-plane
pairs pin.
"""

from __future__ import annotations

from collections import defaultdict

PAIRS = [
    ("", ""), ("", "x"), ("abc", ""),
    ("café au lait", "cafe au lait"), ("straße", "strasse"),
    ("étude", "étude"),
    ("中文字符识别", "中文字府识别"), ("日本語のテキスト", "日本語テキスト"),
    ("한국어 문장", "한국 문장"),
    ("😀 emoji 😃", "😀 emoji"), ("𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "𝔘𝔫𝔦𝔠𝔬𝔡"), ("a𝄞b", "ab𝄞"),
]


def _records() -> list[dict]:
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import _to_row, match_page
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import score_record
    from deepseek_ocr_omnidocbench_spark.sources.annotations import generate_eval_fixtures

    out = [score_record(_to_row({"img_id": "p", "element_class": "text_block",
                                 "gt": g, "pred": p})) for g, p in PAIRS]
    for n_pages, seed in ((20, 7), (20, 41)):
        gt_rows, _, pred_rows = generate_eval_fixtures(n_pages, seed=seed)
        by_page = defaultdict(list)
        for r in gt_rows:
            by_page[r["img_id"]].append(r)
        for pred in pred_rows:
            out += [score_record(_to_row(rec))
                    for rec in match_page(by_page[pred["img_id"]], pred["md"], pred["img_id"])]
    return out


def test_edit_counts_equal_spark_levenshtein(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import (
        EDIT_FIELDS,
        _eff_text,
    )

    recs = _records()
    assert any(r["element_class"].startswith("table") for r in recs)
    schema = T.StructType([T.StructField("g", T.StringType()),
                           T.StructField("p", T.StringType())] + EDIT_FIELDS)
    df = spark.createDataFrame(
        [(_eff_text(r["norm_gt"], r["gt"]), _eff_text(r["norm_pred"], r["pred"]),
          r["upper_len"], r["edit_num"]) for r in recs], schema)
    native = df.select("g", "p", "upper_len", "edit_num",
                       F.greatest(F.length("g"), F.length("p")).alias("spark_len"),
                       F.levenshtein("g", "p").alias("spark_num"))
    assert [f.dataType for f in native.schema.fields[-2:]] == [
        f.dataType for f in EDIT_FIELDS]
    rows = native.collect()
    assert len(rows) == len(recs)
    bad = [r for r in rows
           if (r["upper_len"], r["edit_num"]) != (r["spark_len"], r["spark_num"])]
    assert bad == []
    # the astral pairs are counted in code points, not UTF-16 units
    assert rows[PAIRS.index(("𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "𝔘𝔫𝔦𝔠𝔬𝔡"))]["edit_num"] == 1
