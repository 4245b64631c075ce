"""End-to-end evaluation harness: fixed point, perturbation response,
element grouping, reading order (Spark path)."""

import re

import pytest

from deepseek_ocr_omnidocbench_spark.operators.eval_harness import (
    group_page_elements,
    match_page,
    order_pair,
)


def test_group_truncated_merge():
    rows = [
        {"img_id": "p", "anno_id": 1, "category_type": "text_block", "order": 1.0,
         "text": "first half ", "truncated_pair": 2},
        {"img_id": "p", "anno_id": 2, "category_type": "text_block", "order": 2.0,
         "text": "second half", "truncated_pair": None},
        {"img_id": "p", "anno_id": 3, "category_type": "title", "order": 0.5,
         "text": "T", "truncated_pair": None},
    ]
    out = group_page_elements(rows)
    assert len(out["text_block"]) == 1
    assert out["text_block"][0]["text"] == "first half second half"
    assert len(out["title"]) == 1


def test_order_pair_perfect():
    recs = [{"gt_position": [1.0], "pred_position": 0},
            {"gt_position": [2.0], "pred_position": 10}]
    op = order_pair(recs, "p")
    assert op["edit"] == 0.0
    assert op["element_class"] == "reading_order"


def test_order_pair_swap():
    recs = [{"gt_position": [1.0], "pred_position": 10},
            {"gt_position": [2.0], "pred_position": 0}]
    op = order_pair(recs, "p")
    assert op["edit"] == 1.0  # both positions moved


def test_match_page_classifies_streams():
    gt_rows = [
        {"img_id": "p", "anno_id": 1, "category_type": "title", "order": 1.0,
         "text": "The Title", "latex": None, "html": None, "ignore": False,
         "attribute": {"text_language": "en"}, "truncated_pair": None},
        {"img_id": "p", "anno_id": 2, "category_type": "equation_isolated", "order": 2.0,
         "text": None, "latex": "E = mc^2", "html": None, "ignore": False,
         "attribute": {}, "truncated_pair": None},
        {"img_id": "p", "anno_id": 3, "category_type": "table", "order": 3.0,
         "text": None, "latex": None,
         "html": "<table><tr><td>1</td></tr></table>", "ignore": False,
         "attribute": {}, "truncated_pair": None},
    ]
    md = "# The Title\n\n$$ E = mc^2 $$\n\n<table><tr><td>1</td></tr></table>"
    recs = match_page(gt_rows, md, "p")
    classes = {r["element_class"] for r in recs}
    assert {"text_block", "display_formula", "table_html", "reading_order"} <= classes
    for r in recs:
        if r["element_class"] != "reading_order":
            assert r["edit"] == 0.0, r


def test_match_page_empty_pred():
    gt_rows = [{"img_id": "p", "anno_id": 1, "category_type": "text_block",
                "order": 1.0, "text": "abc def", "latex": None, "html": None,
                "ignore": False, "attribute": {}, "truncated_pair": None}]
    recs = match_page(gt_rows, "", "p")
    tb = [r for r in recs if r["element_class"] == "text_block"]
    assert len(tb) == 1 and tb[0]["edit"] == 1.0


@pytest.fixture(scope="module")
def fixed_point_result(spark):
    from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate_fixtures

    return evaluate_fixtures(spark, n_pages=12, seed=11, perturb=0.0)


def test_fixed_point_all_zero(fixed_point_result):
    res = fixed_point_result
    for cls, row in res["edit_dist"].items():
        assert row["page_avg_edit"] == 0.0, cls
        assert row["edit_whole"] == 0.0, cls
    assert res["teds"] is None or res["teds"]["teds"] == 1.0
    assert res["overall"] == 100.0


def test_fixed_point_page_split_all_zero(fixed_point_result):
    for row in fixed_point_result["page_split"]:
        assert row["edit_dist"] == 0.0, row


def test_perturbed_scores_degrade(spark):
    from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate_fixtures

    res = evaluate_fixtures(spark, n_pages=12, seed=11, perturb=1.0)
    text = res["edit_dist"]["text_block"]
    assert 0.0 < text["page_avg_edit"] < 0.6
    assert res["overall"] < 100.0
    # attribute report exists and carries the en label
    assert any("text_language" in r["attribute"] for r in res["attributes"])
    # ALL row present in page split
    assert any(r["attribute"] == "ALL" for r in res["page_split"])


def test_quick_beats_simple_on_truncated_blocks(spark):
    """simple_match has no truncation merge, so GT blocks split across
    pred paragraphs score > 0 even at perturb=0; quick_match merges them
    to exactly 0 — the reason the reference defaults to quick
    (end2end_dataset.py:304-312)."""
    from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate_fixtures

    simple = evaluate_fixtures(spark, n_pages=6, seed=2, perturb=0.0,
                               method="simple_match")
    s = simple["edit_dist"]["text_block"]["page_avg_edit"]
    assert 0.0 <= s < 0.2  # small residual from unmerged truncated pairs
    quick = evaluate_fixtures(spark, n_pages=6, seed=2, perturb=0.0,
                              method="quick_match")
    assert quick["edit_dist"]["text_block"]["page_avg_edit"] == 0.0


def test_score_samples_table_split_edges(spark):
    """TEDS comes from the per-row scorer of the evaluation pass
    (``score_record``): table rows get a score, every other row (NULL
    element_class too) gets NULL, and ``score_samples`` keeps every row
    of zero-table and all-table frames."""
    import pyspark.sql.functions as F

    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import (
        SCORED_MATCH_SCHEMA,
        _to_row,
    )
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import (
        score_record,
        score_samples,
    )

    table = "<table><tr><td>a</td></tr></table>"
    rows = [
        ("table_html", table, table),
        ("text_block", "hello world", "hello world"),
        (None, "x", "y"),
    ]
    df = spark.createDataFrame(
        [score_record(_to_row({"img_id": "p", "element_class": c, "gt": g,
                               "norm_gt": g, "pred": p, "norm_pred": p}))
         for c, g, p in rows], SCORED_MATCH_SCHEMA)

    out = score_samples(df, teds_partitions=2).collect()
    assert len(out) == 3
    by_class = {r["element_class"]: r for r in out}
    assert by_class["table_html"]["teds"] == 1.0
    assert by_class["text_block"]["teds"] is None
    assert by_class[None]["teds"] is None

    # zero tables
    no_tab = df.where(F.col("element_class").eqNullSafe("text_block"))
    out2 = score_samples(no_tab, teds_partitions=2).collect()
    assert len(out2) == 1 and out2[0]["teds"] is None

    # all tables
    all_tab = df.where(F.col("element_class").eqNullSafe("table_html"))
    out3 = score_samples(all_tab).collect()
    assert len(out3) == 1 and out3[0]["teds"] == 1.0


_PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython")


def test_evaluate_job_and_python_budget(spark):
    """evaluate on 8 fixture pages runs at most 10 Spark jobs, and every
    plan it executes holds exactly one Python evaluation node: the
    cogroup pass of match_elements (the report reads its cached output).
    No plan runs ``levenshtein``: the pass counts the edit distances."""
    import time

    from deepseek_ocr_omnidocbench_spark.plans.evaluate import evaluate, fixture_frames

    sc = spark.sparkContext
    gt, pages, preds = fixture_frames(spark, 8, seed=41)
    group = "evaluate-budget"
    sc.setJobGroup(group, "evaluate job count")
    try:
        evaluate(gt, preds, pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < len(jobs) <= 10

    # the SQL status store hears of executions through the listener bus
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + 30
    while True:
        execs = store.executionsList()
        ours = [execs.apply(i) for i in range(execs.size())
                if any(execs.apply(i).jobs().contains(j) for j in jobs)]
        if sum(e.jobs().size() for e in ours) >= len(jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    assert ours
    for e in ours:
        nodes = store.planGraph(e.executionId()).allNodes()
        names = [nodes.apply(k).name() for k in range(nodes.size())]
        assert [n for n in names if _PYTHON_NODE.search(n)] == ["FlatMapCoGroupsInPandas"]
        assert "levenshtein" not in e.physicalPlanDescription()
