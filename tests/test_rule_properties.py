"""Property tests for the round-2 kernels (SURVEY §5 strategy: fuzz the
from-scratch kernels against brute-force oracles)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deepseek_ocr_omnidocbench_spark.functions.bleu import corpus_bleu, tokenize_13a
from deepseek_ocr_omnidocbench_spark.functions.editdist import (
    lcs_length,
    windowed_indel_distances,
)
from deepseek_ocr_omnidocbench_spark.functions.meteor import sentence_meteor
from deepseek_ocr_omnidocbench_spark.operators.rule_checks import (
    indel_ratio,
    normalize_check_text,
)

short_text = st.text(alphabet="abcxyz ", min_size=0, max_size=24)


def _lcs(a, b) -> int:
    """Longest common subsequence by the naive row-by-row table."""
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0]
        for j, y in enumerate(b):
            cur.append(prev[j] + 1 if x == y else max(prev[j + 1], cur[j]))
        prev = cur
    return prev[-1]


# BMP, CJK and astral-plane symbols; lanes both under and over 64
wide_text = st.text(alphabet="ab c日\U0001D11E\U0001F600", max_size=150)


@settings(max_examples=200, deadline=None)
@given(short_text, short_text)
def test_indel_ratio_matches_bruteforce_lcs(a, b):
    want = 1.0 if not (a or b) else (0.0 if not (a and b)
                                     else 2 * _lcs(a, b) / (len(a) + len(b)))
    assert abs(indel_ratio(a, b) - want) < 1e-12


@settings(max_examples=100, deadline=None)
@given(short_text, short_text)
def test_indel_ratio_symmetric_and_bounded(a, b):
    r = indel_ratio(a, b)
    assert 0.0 <= r <= 1.0
    assert abs(r - indel_ratio(b, a)) < 1e-12
    assert indel_ratio(a, a) == 1.0


@settings(max_examples=100, deadline=None, derandomize=True)
@given(wide_text, st.text(alphabet="ab c日\U0001D11E\U0001F600", min_size=1, max_size=70))
def test_windowed_indel_matches_per_window(text, pattern):
    got = windowed_indel_distances(text, pattern)
    lp = len(pattern)
    want = [lp + lp - 2 * _lcs(text[i:i + lp], pattern)
            for i in range(max(0, len(text) - lp + 1))]
    assert got.tolist() == want


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abc xyz.", max_size=40))
def test_meteor_bounds_and_identity(s):
    assert 0.0 <= sentence_meteor(s, "some other words") <= 1.0
    toks = tokenize_13a(s)
    if toks:
        m = len(toks)
        # identical strings: all matched, one chunk
        assert abs(sentence_meteor(s, s) - (1 - 0.5 / m ** 3)) < 1e-12
    else:
        assert sentence_meteor(s, s) == 0.0


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(alphabet="abcd efg", min_size=8, max_size=40),
                min_size=1, max_size=4))
def test_bleu_identity_and_bounds(docs):
    b = corpus_bleu(docs, docs)
    assert 0.0 <= b <= 1.0 + 1e-12
    if all(len(tokenize_13a(d)) >= 4 for d in docs):
        assert abs(b - 1.0) < 1e-9


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=60))
def test_normalize_is_idempotent_on_clean_text(s):
    once = normalize_check_text(s)
    assert normalize_check_text(once) is not None
    # whitespace collapse is idempotent; markers only ever shrink
    assert len(normalize_check_text(once)) <= len(once)


def test_windowed_indel_empty_cases():
    assert windowed_indel_distances("", "abc").size == 0
    assert windowed_indel_distances("abc", "").size == 0
    assert np.array_equal(windowed_indel_distances("abab", "ab"),
                          np.array([0, 2, 0]))


@settings(max_examples=100, deadline=None, derandomize=True)
@given(wide_text, wide_text)
def test_lcs_length_matches_dp(a, b):
    assert lcs_length(a, b) == lcs_length(b, a) == _lcs(a, b)


@settings(max_examples=5, deadline=None, derandomize=True)
@given(st.text(alphabet="abc日\U0001F600", min_size=1001, max_size=1200),
       st.text(alphabet="abc日\U0001F600", min_size=1, max_size=30))
def test_lcs_length_over_1000_codepoints(long, short):
    assert lcs_length(long, short) == _lcs(short, long)
    assert lcs_length([ord(c) for c in long], [float(ord(c)) for c in short]) == \
        _lcs(short, long)

