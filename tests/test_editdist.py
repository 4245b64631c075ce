"""Levenshtein kernel: golden cases + hypothesis vs a naive DP."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deepseek_ocr_omnidocbench_spark.functions.editdist import (
    edit_matrix,
    levenshtein,
    levenshtein_many_to_many,
    levenshtein_one_to_many,
    norm_edit,
    windowed_distances,
)

# BMP, CJK and astral-plane symbols: lanes are codepoints, not UTF-16 units
ALPHABET = "ab c日\U0001D11E\U0001F600"
line = st.text(alphabet=ALPHABET, max_size=90)  # lanes both under and over 64
lanes = st.lists(st.one_of(line, st.just("")), min_size=1, max_size=6)


def naive_lev(a, b):
    la, lb = len(a), len(b)
    dp = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        dp[i][0] = i
    for j in range(lb + 1):
        dp[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            dp[i][j] = min(dp[i - 1][j] + 1, dp[i][j - 1] + 1,
                           dp[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
    return dp[la][lb]


def test_golden():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert levenshtein("abc", "") == 3
    assert levenshtein("abc", "abc") == 0
    assert levenshtein("flaw", "lawn") == 2
    assert levenshtein("数据处理", "数据处里") == 1


def test_sequences_of_ints():
    assert levenshtein([1, 2, 3], [1, 3]) == 1
    assert levenshtein([1.0, 2.5], [1.0, 2.5]) == 0
    assert levenshtein([], [1]) == 1
    # elements compare by ==, not by hash: hash(-1) == hash(-2) in CPython
    assert levenshtein([-1], [-2]) == 1
    assert levenshtein([2, 1], [2.0, 1.0]) == 0


@given(st.text(alphabet="abc日", max_size=30), st.text(alphabet="abc日", max_size=30))
@settings(max_examples=200, deadline=None)
def test_matches_naive(a, b):
    assert levenshtein(a, b) == naive_lev(a, b)


def test_norm_edit():
    assert norm_edit("", "") == 0.0
    assert norm_edit("ab", "") == 1.0
    assert norm_edit("kitten", "sitting") == 3 / 7


def test_edit_matrix_shape_and_values():
    m = edit_matrix(["ab", "cd"], ["ab", "ce", "x"])
    assert m.shape == (2, 3)
    assert m[0][0] == 0.0
    assert m[1][1] == 0.5
    assert np.all(m <= 1.0)


@given(line, lanes, st.data())
@settings(max_examples=150, deadline=None, derandomize=True)
def test_one_to_many_matches_naive(a, bs, data):
    # duplicate lanes as well as empty ones share one packed int
    bs = bs + data.draw(st.lists(st.sampled_from(bs), max_size=2))
    assert levenshtein_one_to_many(a, bs).tolist() == [naive_lev(a, b) for b in bs]


def test_one_to_many_single_and_empty_lanes():
    assert levenshtein_one_to_many("abc", ["abd"]).tolist() == [1]
    assert levenshtein_one_to_many("abc", ["", "", "abc"]).tolist() == [3, 3, 0]
    assert levenshtein_one_to_many("", ["", "xy"]).tolist() == [0, 2]
    assert levenshtein_one_to_many("abc", []).size == 0


@given(st.text(alphabet=ALPHABET, min_size=1001, max_size=1300),
       st.text(alphabet=ALPHABET, max_size=25))
@settings(max_examples=8, deadline=None, derandomize=True)
def test_lanes_over_1000_codepoints(long, short):
    want = naive_lev(short, long)
    assert levenshtein(long, short) == levenshtein(short, long) == want
    assert levenshtein_one_to_many(short, [long, short, long[:70]]).tolist() == [
        want, 0, naive_lev(short, long[:70])]


@given(st.lists(st.integers(-3, 3), max_size=40),
       st.lists(st.floats(-3, 3).map(round), max_size=40))
@settings(max_examples=100, deadline=None, derandomize=True)
def test_int_and_float_sequences(a, b):
    # 2.0 == 2 in both the kernel and the naive DP
    b = [float(x) for x in b]
    assert levenshtein(a, b) == levenshtein(b, a) == naive_lev(a, b)
    assert levenshtein_one_to_many(a, [b, a, []]).tolist() == [
        naive_lev(a, b), 0, len(a)]


@given(st.lists(line, max_size=4), lanes)
@settings(max_examples=80, deadline=None, derandomize=True)
def test_edit_matrix_bit_identical_to_naive(gts, preds):
    got = edit_matrix(gts, preds)
    want = np.array([[naive_lev(g, p) / max(len(g), len(p), 1) for p in preds]
                     for g in gts], dtype=np.float64).reshape(len(gts), len(preds))
    assert got.shape == want.shape and got.tobytes() == want.tobytes()
    assert levenshtein_many_to_many(gts, preds).tolist() == [
        [naive_lev(g, p) for p in preds] for g in gts]


@given(st.text(alphabet=ALPHABET, max_size=120), st.text(alphabet=ALPHABET, max_size=70))
@settings(max_examples=100, deadline=None, derandomize=True)
def test_windowed_distances_per_window(text, pattern):
    lp = len(pattern)
    want = [naive_lev(text[i:i + lp], pattern)
            for i in range(len(text) - lp + 1)] if lp else []
    assert windowed_distances(text, pattern).tolist() == want
