"""Both outcomes of the global table-format arbitration, end to end.

The seeded eval fixtures predict tables as HTML or pipe markdown only, so
no page ever yields a ``table_latex`` match.  These fixtures rewrite some
predicted tables as LaTeX ``tabular`` blocks:

* ``latex_wins``: three of the four table pages predict LaTeX, so the
  LaTeX stream outnumbers HTML and the HTML table row is dropped;
* ``html_wins``: one table page predicts LaTeX, so HTML wins and that
  page's LaTeX row is scored as an empty prediction.

The reports are compared with ``tests/golden/eval_table_arbitration.json``:
ints and strings equal, BLEU equal, other floats within rel 1e-12.
Regenerate the golden (only when the report is meant to change) with
``PYTHONPATH=. python tests/test_eval_arbitration.py``.
"""

from __future__ import annotations

import json
import math
import os
import re

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "eval_table_arbitration.json")
N_PAGES, SEED = 8, 42
# index into the fixture's table pages -> predict that page's table in LaTeX
OUTCOMES = {"latex_wins": (0, 1, 2), "html_wins": (0,)}


def _latex_tabular(html: str, drop_last_row: bool) -> str:
    rows = [re.findall(r"<td>(.*?)</td>", r) for r in re.findall(r"<tr>(.*?)</tr>", html)]
    if drop_last_row:
        rows = rows[:-1]
    body = "\n".join(" & ".join(r) + r" \\" for r in rows)
    return "\\begin{tabular}{%s}\n\\hline\n%s\n\\end{tabular}" % ("c" * len(rows[0]), body)


def latex_fixture_rows(outcome: str):
    """Seeded eval fixtures with the chosen pages' predicted tables in LaTeX."""
    from deepseek_ocr_omnidocbench_spark.sources.annotations import generate_eval_fixtures

    gt_rows, page_rows, pred_rows = generate_eval_fixtures(N_PAGES, SEED)
    tables = {r["img_id"]: r["html"] for r in gt_rows if r["category_type"] == "table"}
    # OmniDocBench GT tables carry both forms; LaTeX matching reads `latex`
    gt_rows = [dict(r, latex=_latex_tabular(r["html"], drop_last_row=False))
               if r["category_type"] == "table" else r for r in gt_rows]
    latex_pages = [img for i, img in enumerate(sorted(tables)) if i in OUTCOMES[outcome]]
    for k, pred in enumerate(pred_rows):
        if pred["img_id"] not in latex_pages:
            continue
        parts = pred["md"].split("\n\n")
        for j, part in enumerate(parts):
            if part.startswith(("<table", "|")):
                parts[j] = _latex_tabular(tables[pred["img_id"]], drop_last_row=k % 2 == 1)
        pred_rows[k] = dict(pred, md="\n\n".join(parts))
    return gt_rows, page_rows, pred_rows


def evaluate_outcome(spark, outcome: str) -> dict:
    from deepseek_ocr_omnidocbench_spark.plans.evaluate import (
        GT_SCHEMA, PAGE_ATTR_SCHEMA, PRED_SCHEMA, evaluate)

    gt_rows, page_rows, pred_rows = latex_fixture_rows(outcome)
    return evaluate(spark.createDataFrame(gt_rows, GT_SCHEMA),
                    spark.createDataFrame(pred_rows, PRED_SCHEMA),
                    spark.createDataFrame(page_rows, PAGE_ATTR_SCHEMA))


def assert_report_equal(got, want, path="report"):
    """ints, strings and BLEU equal; other floats within rel 1e-12."""
    if isinstance(want, dict):
        assert isinstance(got, dict) and sorted(got) == sorted(want), path
        for k in want:
            assert_report_equal(got[k], want[k], "%s.%s" % (path, k))
    elif isinstance(want, list):
        assert isinstance(got, list) and len(got) == len(want), path
        for i, (g, w) in enumerate(zip(got, want)):
            assert_report_equal(g, w, "%s[%d]" % (path, i))
    elif isinstance(want, float) and not path.endswith(".bleu"):
        assert isinstance(got, float), path
        assert math.isclose(got, want, rel_tol=1e-12, abs_tol=0.0), (path, got, want)
    else:
        assert type(got) is type(want) and got == want, (path, got, want)


def _jsonable(report: dict) -> dict:
    return json.loads(json.dumps(report))


@pytest.mark.parametrize("outcome", sorted(OUTCOMES))
def test_table_arbitration_outcome_matches_golden(spark, outcome):
    with open(GOLDEN) as f:
        want = json.load(f)[outcome]
    got = _jsonable(evaluate_outcome(spark, outcome))
    assert_report_equal(got, want)


def test_fixtures_reach_both_outcomes(spark):
    """The golden is only worth keeping while each fixture still produces
    its outcome: a LaTeX-table match on some page, won or lost."""
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import match_elements
    from deepseek_ocr_omnidocbench_spark.plans.evaluate import GT_SCHEMA, PRED_SCHEMA

    for outcome, pages in OUTCOMES.items():
        n_latex_pages = len(pages)
        gt_rows, _, pred_rows = latex_fixture_rows(outcome)
        m = match_elements(spark.createDataFrame(gt_rows, GT_SCHEMA),
                           spark.createDataFrame(pred_rows, PRED_SCHEMA))
        counts = {r["element_class"]: r["count"]
                  for r in m.groupBy("element_class").count().collect()}
        assert counts.get("table_latex") == n_latex_pages, outcome
        assert counts.get("table_html") == 4 - n_latex_pages, outcome


def _scored_rows(spark, rows):
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import (
        SCORED_MATCH_SCHEMA, _to_row)
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import score_record

    return spark.createDataFrame(
        [score_record(_to_row(dict(r, img_id="p"))) for r in rows], SCORED_MATCH_SCHEMA)


_GT = "<table><tr><td>a</td><td>1</td></tr><tr><td>b</td><td>2</td></tr></table>"
_LATEX = "\\begin{tabular}{cc}\na & 1 \\\\\nb & 3 \\\\\n\\end{tabular}"


def test_losing_latex_rows_score_as_empty_predictions(spark):
    """html wins 2:1, so the latex row stays with an empty prediction;
    its JVM-blanked scores equal what the per-row scorer gives that row
    with the prediction emptied."""
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import arbitrate_tables

    latex = {"element_class": "table_latex", "gt": _GT, "pred": _LATEX}
    rows = [latex,
            {"element_class": "table_html", "gt": _GT, "pred": _GT},
            {"element_class": "table_html", "gt": _GT, "pred": ""},
            {"element_class": "text_block", "gt": "some words", "pred": "some word"}]
    out = arbitrate_tables(_scored_rows(spark, rows)).collect()
    assert sorted(r["element_class"] for r in out) == ["table"] * 3 + ["text_block"]
    blanked = [r for r in out if r["pred_category"] == "" and r["edit"] == 1.0
               and r["gt"] == _GT and r["pred"] == "" and r["teds"] == 0.0]
    want = _scored_rows(spark, [dict(latex, pred="")]).first()
    assert len(blanked) == 2  # the latex row and the html row without a prediction
    for r in blanked:
        for c in ("norm_pred", "upper_len", "edit_num", "teds", "teds_struct", "meteor",
                  "bleu_stats"):
            assert r[c] == want[c], c
    assert want["teds"] == 0.0 and want["meteor"] == 0.0


def test_winning_latex_stream_drops_html_rows(spark):
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import arbitrate_tables

    rows = [{"element_class": "table_latex", "gt": _GT, "pred": _LATEX}] * 2 + [
        {"element_class": "table_html", "gt": _GT, "pred": _GT}]
    scored = _scored_rows(spark, rows)
    out = arbitrate_tables(scored).collect()
    assert [r["element_class"] for r in out] == ["table", "table"]
    latex = [r for r in scored.collect() if r["element_class"] == "table_latex"]
    assert [r["teds"] for r in out] == [r["teds"] for r in latex]
    assert 0.0 < out[0]["teds"] < 1.0  # one cell differs


if __name__ == "__main__":
    from deepseek_ocr_omnidocbench_spark.session import get_spark

    session = get_spark(app_name="golden", cores=len(os.sched_getaffinity(0)),
                        shuffle_partitions=8)
    reports = {o: _jsonable(evaluate_outcome(session, o)) for o in sorted(OUTCOMES)}
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump(reports, f, indent=1, sort_keys=True)
        f.write("\n")
    session.stop()
