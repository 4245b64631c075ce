"""BLEU score (SURVEY §2.6 A4) — from-scratch corpus/sentence BLEU.

The reference calls HuggingFace ``evaluate``'s bleu per group
(OmniDocBench/metrics 2/cal_metric.py:99-121), which implements the
standard Papineni et al. corpus BLEU: modified n-gram precision up to
4-grams, geometric mean, brevity penalty, tokenized with the
mteval-v13a scheme (sacrebleu's default: punctuation split off as
separate tokens, periods/commas kept attached inside numbers).  This is
that formula + tokenizer directly, split into per-pair sufficient
statistics (``bleu_stats``, integer counts that sum across pairs) and
the formula over their sums (``bleu_from_stats``), so Spark can sum the
counts natively and only the formula runs in Python.  Like the
reference's 13a default, CJK text is NOT character-segmented (a Chinese
sentence is one token), so CJK-heavy groups score near zero on both
sides.
"""

from __future__ import annotations

import math
import re
from collections import Counter

_PUNCT = re.compile(r"([\{-\~\[-\` -\&\(-\+\:-\@\/])")
_PERIOD_BEFORE = re.compile(r"([^0-9])([\.,])")
_PERIOD_AFTER = re.compile(r"([\.,])([^0-9])")
_DASH_AFTER_DIGIT = re.compile(r"([0-9])(-)")


def tokenize_13a(text: str) -> list[str]:
    """mteval-v13a tokenization (language-independent part)."""
    t = text.replace("<skipped>", "").replace("-\n", "").replace("\n", " ")
    t = (t.replace("&quot;", '"').replace("&amp;", "&")
         .replace("&lt;", "<").replace("&gt;", ">"))
    t = " " + t + " "
    t = _PUNCT.sub(r" \1 ", t)
    t = _PERIOD_BEFORE.sub(r"\1 \2 ", t)
    t = _PERIOD_AFTER.sub(r" \1 \2", t)
    t = _DASH_AFTER_DIGIT.sub(r"\1 \2 ", t)
    return t.split()


def _ngrams(tokens: list[str], n: int) -> Counter:
    return Counter(tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1))


def bleu_stats(pred: str, ref: str, max_n: int = 4) -> list[int]:
    """Sufficient statistics of one sentence pair, in one flat list:
    ``max_n`` clipped n-gram counts, ``max_n`` prediction n-gram totals,
    then the prediction and reference token counts.  Corpus BLEU is
    ``bleu_from_stats`` of their element-wise sum."""
    pt = tokenize_13a(pred)
    rt = tokenize_13a(ref)
    clipped, total = [], []
    for n in range(1, max_n + 1):
        rc = _ngrams(rt, n)
        clipped.append(sum(min(c, rc[g]) for g, c in _ngrams(pt, n).items()))
        total.append(max(0, len(pt) - n + 1))
    return clipped + total + [len(pt), len(rt)]


def bleu_from_stats(stats: list[int], max_n: int = 4) -> float:
    """BLEU from summed ``bleu_stats``: modified n-gram precisions,
    geometric mean, brevity penalty."""
    clipped, total = stats[:max_n], stats[max_n:2 * max_n]
    pred_len, ref_len = stats[2 * max_n], stats[2 * max_n + 1]
    if pred_len == 0 or any(t == 0 for t in total):
        return 0.0
    if any(c == 0 for c in clipped):
        return 0.0
    log_prec = sum(math.log(c / t) for c, t in zip(clipped, total)) / max_n
    bp = 1.0 if pred_len > ref_len else math.exp(1 - ref_len / max(pred_len, 1))
    return bp * math.exp(log_prec)


def corpus_bleu(preds: list[str], refs: list[str], max_n: int = 4) -> float:
    """Corpus BLEU with one reference per prediction."""
    sums = [0] * (2 * max_n + 2)
    for pred, ref in zip(preds, refs):
        sums = [a + b for a, b in zip(sums, bleu_stats(pred, ref, max_n))]
    return bleu_from_stats(sums, max_n)


def sentence_bleu(pred: str, ref: str, max_n: int = 4) -> float:
    return corpus_bleu([pred], [ref], max_n)
