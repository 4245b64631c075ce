"""METEOR (A4) — hand-computed goldens for the exact-match formula
(alpha=0.9, beta=3, gamma=0.5) + the grouped Spark report."""

import pytest

from deepseek_ocr_omnidocbench_spark.functions.meteor import (
    _align_exact,
    _count_chunks,
    corpus_meteor,
    sentence_meteor,
)


def test_identical_sentence():
    # m=3, P=R=1, fmean=1, chunks=1 -> penalty = 0.5*(1/3)^3
    got = sentence_meteor("the cat sat", "the cat sat")
    assert got == pytest.approx(1 - 0.5 / 27)


def test_disjoint_is_zero():
    assert sentence_meteor("aa bb", "cc dd") == 0.0
    assert sentence_meteor("", "anything") == 0.0


def test_full_reorder_penalty():
    # hyp "b a" vs ref "a b": m=2, fmean=1, chunks=2 -> penalty=0.5
    assert sentence_meteor("b a", "a b") == pytest.approx(0.5)


def test_partial_overlap():
    # hyp "the cat" ref "the cat sat": P=1, R=2/3,
    # fmean = PR/(0.9P+0.1R) = (2/3)/(29/30); chunks=1, penalty=0.5/8
    fmean = (2 / 3) / (0.9 + 0.1 * 2 / 3)
    assert sentence_meteor("the cat", "the cat sat") == pytest.approx(fmean * (1 - 0.0625))


def test_alignment_and_chunks():
    m = _align_exact("a b c".split(), "a x b c".split())
    assert m == [(0, 0), (1, 2), (2, 3)]
    assert _count_chunks(m) == 2  # (0,0) alone, then (1,2)(2,3) contiguous
    # duplicate tokens consumed once each
    m2 = _align_exact("a a".split(), "a".split())
    assert len(m2) == 1


def test_corpus_is_sentence_mean():
    preds = ["the cat sat", "b a"]
    refs = ["the cat sat", "a b"]
    want = (sentence_meteor(*p) for p in zip(preds, refs))
    assert corpus_meteor(preds, refs) == pytest.approx(sum(want) / 2)


def test_text_metric_report(spark):
    """Per-row scores from the evaluation pass's scorer, summed by the
    report aggregate."""
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import (
        SCORED_MATCH_SCHEMA,
        _to_row,
    )
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import (
        score_record,
        score_samples,
        text_metric_report,
    )

    rows = [
        ("text", "the cat sat", "", "the cat sat", ""),
        ("text", "b a", "", "a b", ""),
        ("title", "hello world", "", "hello world", ""),
    ]
    df = spark.createDataFrame(
        [score_record(_to_row({"img_id": "p", "element_class": c, "gt": g,
                               "norm_gt": ng, "pred": p, "norm_pred": np_}))
         for c, g, ng, p, np_ in rows], SCORED_MATCH_SCHEMA)
    out = {r["group"]: r for r in text_metric_report(score_samples(df)).collect()}
    assert set(out) == {"text", "title"}
    want_text = (sentence_meteor("the cat sat", "the cat sat")
                 + sentence_meteor("b a", "a b")) / 2
    assert out["text"]["meteor"] == pytest.approx(want_text)
    # identical pair: m=2 -> penalty = 0.5*(1/2)^3
    assert out["title"]["meteor"] == pytest.approx(1 - 0.5 / 8)
    assert out["title"]["bleu"] == pytest.approx(0.0)  # <4 tokens -> no 4-grams
    assert out["text"]["n_samples"] == 2
