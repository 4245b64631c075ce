"""BLEU as per-pair sufficient statistics: summing ``bleu_stats`` and
applying ``bleu_from_stats`` must reproduce corpus BLEU exactly, which is
what lets the evaluation report sum the counts natively in Spark."""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest

from deepseek_ocr_omnidocbench_spark.functions.bleu import (
    bleu_from_stats,
    bleu_stats,
    corpus_bleu,
    tokenize_13a,
)
from deepseek_ocr_omnidocbench_spark.operators.metrics_report import _PRED_SLOTS


def _reference_corpus_bleu(preds, refs, max_n=4):
    """The corpus loop as written before the split into statistics."""
    clipped, total = [0] * max_n, [0] * max_n
    pred_len = ref_len = 0
    for pred, ref in zip(preds, refs):
        pt, rt = tokenize_13a(pred), tokenize_13a(ref)
        pred_len += len(pt)
        ref_len += len(rt)
        for n in range(1, max_n + 1):
            pc = Counter(tuple(pt[i:i + n]) for i in range(len(pt) - n + 1))
            rc = Counter(tuple(rt[i:i + n]) for i in range(len(rt) - n + 1))
            total[n - 1] += max(0, len(pt) - n + 1)
            clipped[n - 1] += sum(min(c, rc[g]) for g, c in pc.items())
    if pred_len == 0 or any(t == 0 for t in total) or any(c == 0 for c in clipped):
        return 0.0
    log_prec = sum(math.log(c / t) for c, t in zip(clipped, total)) / max_n
    bp = 1.0 if pred_len > ref_len else math.exp(1 - ref_len / max(pred_len, 1))
    return bp * math.exp(log_prec)


def _summed(preds, refs):
    sums = [0] * 10
    for p, r in zip(preds, refs):
        sums = [a + b for a, b in zip(sums, bleu_stats(p, r))]
    return bleu_from_stats(sums)


_VOCAB = ["the", "cat", "sat", "on", "mat", "a", "dog", "3.5", "x-1", "(b)",
          "end.", "it,", "table", "数据", "表格"]


def _sentence(rng):
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(0, 14)))


@pytest.mark.parametrize("seed", range(20))
def test_summed_stats_reproduce_corpus_bleu(seed):
    rng = random.Random(seed)
    n = rng.randint(1, 12)
    preds = [_sentence(rng) for _ in range(n)]
    refs = [p if rng.random() < 0.3 else _sentence(rng) for p in preds]
    want = _reference_corpus_bleu(preds, refs)
    assert _summed(preds, refs) == want
    assert corpus_bleu(preds, refs) == want


@pytest.mark.parametrize("preds, refs", [
    ([""], [""]),
    (["", "the cat"], ["the cat", ""]),
    (["a b"], ["a b"]),                           # fewer than 4 tokens
    (["the cat sat"], ["the cat sat on"]),
    (["數據表格很好", "表格"], ["數據表格很好", "表"]),  # CJK: one token each
    (["the cat sat on the mat"] * 3, ["the cat sat on the mat"] * 3),
])
def test_edge_corpora(preds, refs):
    want = _reference_corpus_bleu(preds, refs)
    assert _summed(preds, refs) == want
    assert corpus_bleu(preds, refs) == want


@pytest.mark.parametrize("gt", ["", "a", "the cat sat on the mat.", "數據 表格 x",
                                "one two three four five six"])
def test_blank_prediction_stats_follow_from_gt_token_count(gt):
    """An empty prediction leaves only the gt (hypothesis) side: no
    clipped n-grams, totals and hypothesis length from the gt token
    count, reference length 0."""
    k = len(tokenize_13a(gt))
    want = [0, 0, 0, 0] + [max(0, k - n + 1) for n in range(1, 5)] + [k, 0]
    assert bleu_stats(gt, "") == want
    # arbitrate_tables blanks a row by zeroing the prediction slots
    for pred in ("", "the cat", gt):
        s = bleu_stats(gt, pred)
        assert [0 if i in _PRED_SLOTS else v for i, v in enumerate(s)] == want
