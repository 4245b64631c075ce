"""Levenshtein and indel distances — bit-parallel, on Python ints.

The reference uses the `Levenshtein` C library (e.g.
OmniDocBench/utils/match.py:20-29, metrics 2/cal_metric.py:153).  This
package does not depend on it: every distance here comes from one
bit-vector core: Myers' edit distance (J. ACM 1999) in Hyyrö's
formulation, and its LCS sibling for indel distances.

Many sequences are packed into ONE Python int, one *lane* per sequence
with a zero guard bit above each lane.  Each symbol of the other
sequence then costs 18 big-int operations for every lane at once: the
guard bit absorbs a lane's carry and ``& lanes`` clears it.  Python ints
have no width limit, so lanes longer than 64 symbols need no multi-word
code.  Lane k's distance is ``len(a) + popcount(pv & lane_k) -
popcount(mv & lane_k)``.  Called from the Python workers of the
matching, TEDS and rule-check stages.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np


def _to_int(bits: np.ndarray) -> int:
    """A bool array as an int: element i is bit i."""
    return int.from_bytes(np.packbits(bits, bitorder="little").tobytes(), "little")


class _Lanes(dict):
    """Sequences packed one per lane of an int, each lane followed by one
    zero guard bit.  ``flat`` holds the symbol id of every bit (-1 on a
    guard).  The dict maps a symbol (a character, or a list element
    compared by ``==``) to the bits where a lane holds it: Myers' Peq,
    built on first lookup."""

    def __init__(self, ids: dict, flat: np.ndarray, lens: np.ndarray):
        self.ids, self.flat, self.lens = ids, flat, lens
        self.starts = np.cumsum(lens + 1) - (lens + 1)
        self.mask = _to_int(flat >= 0)
        bottom = np.zeros(len(flat), dtype=bool)
        bottom[self.starts[lens > 0]] = True
        self.bottoms = _to_int(bottom)

    @classmethod
    def of(cls, seqs: list) -> "_Lanes":
        ids: dict = {}
        flat: list = []
        for s in seqs:
            flat += [ids.setdefault(x, len(ids)) for x in s]
            flat.append(-1)
        lens = np.asarray([len(s) for s in seqs], dtype=np.int64)
        return cls(ids, np.asarray(flat, dtype=np.int32), lens)

    @classmethod
    def windows(cls, text: str, width: int) -> "_Lanes":
        """One lane per ``width``-long window of ``text``."""
        ids: dict = {}
        codes = np.asarray([ids.setdefault(x, len(ids)) for x in text], dtype=np.int32)
        win = np.lib.stride_tricks.sliding_window_view(codes, width)
        flat = np.pad(win, ((0, 0), (0, 1)), constant_values=-1).ravel()
        return cls(ids, flat, np.full(len(win), width, dtype=np.int64))

    def __missing__(self, x) -> int:
        i = self.ids.get(x)
        bits = self[x] = 0 if i is None else _to_int(self.flat == i)
        return bits

    def popcounts(self, plus: int, minus: int = 0) -> np.ndarray:
        """Per lane: popcount(plus & lane) - popcount(minus & lane)."""
        n = len(self.flat) // 8 + 1

        def bits(x):
            return np.unpackbits(np.frombuffer(x.to_bytes(n, "little"), dtype=np.uint8),
                                 count=len(self.flat), bitorder="little").view(np.int8)

        # a lane's slice runs up to the next lane's start: its guard bit is 0
        return np.add.reduceat(bits(plus) - bits(minus), self.starts, dtype=np.int64)


def _myers(lanes: _Lanes, a: Sequence) -> np.ndarray:
    """Levenshtein distance from ``a`` to every lane (Hyyrö's recurrence)."""
    mask, bottoms = lanes.mask, lanes.bottoms
    pv, mv = mask, 0
    for x in a:
        eq = lanes[x]
        xv = eq | mv
        xh = (((eq & pv) + pv) ^ pv) | eq  # a carry may sit in a guard bit
        ph = mv | ((xh | pv) ^ mask)
        mh = pv & xh
        ph = ((ph << 1) & mask) | bottoms  # row 0 of the DP steps by +1
        mh = (mh << 1) & mask
        pv = mh | ((xv | ph) ^ mask)
        mv = ph & xv
    return len(a) + lanes.popcounts(pv, mv)


def _lcs(lanes: _Lanes, a: Sequence) -> np.ndarray:
    """Longest-common-subsequence length of ``a`` and every lane: the
    zero bits of ``v`` after the bit-parallel LCS step."""
    mask = v = lanes.mask
    for x in a:
        u = v & lanes[x]
        v = ((v + u) | (v ^ u)) & mask
    return lanes.lens - lanes.popcounts(v)


def levenshtein(a: Sequence, b: Sequence) -> int:
    """Exact Levenshtein distance between two sequences (str or lists)."""
    if len(a) > len(b):  # step over the shorter one, pack the longer
        a, b = b, a
    return int(_myers(_Lanes.of([b]), a)[0])


def lcs_length(a: Sequence, b: Sequence) -> int:
    """Length of the longest common subsequence of ``a`` and ``b``."""
    if len(a) > len(b):
        a, b = b, a
    return int(_lcs(_Lanes.of([b]), a)[0])


def levenshtein_one_to_many(a: Sequence, bs: list) -> np.ndarray:
    """Distances from ``a`` to every sequence in ``bs``: all of ``bs`` in
    one packed int, one sweep over ``a``."""
    if not bs:
        return np.empty(0, dtype=np.int64)
    return _myers(_Lanes.of(bs), a)


def levenshtein_many_to_many(a_list: list, b_list: list) -> np.ndarray:
    """Full |a| x |b| distance matrix; ``b_list`` is packed ONCE."""
    if not a_list or not b_list:
        return np.zeros((len(a_list), len(b_list)), dtype=np.int64)
    lanes = _Lanes.of(b_list)
    return np.stack([_myers(lanes, a) for a in a_list])


def windowed_distances(text: str, pattern: str) -> np.ndarray:
    """Levenshtein(text[i:i+len(pattern)], pattern) for every window i.

    Exact fixed-length-window semantics of the reference's substring
    fuzzy search (match_quick.py:721-758) — NOT the cheaper
    any-substring (Sellers) variant, which would change threshold
    behavior.  One lane per window."""
    lp = len(pattern)
    if len(text) < lp or lp == 0:
        return np.empty(0, dtype=np.int64)
    return _myers(_Lanes.windows(text, lp), pattern)


def windowed_indel_distances(text: str, pattern: str) -> np.ndarray:
    """Indel distance (no substitutions; sub = delete+insert = cost 2)
    of ``pattern`` vs every fixed-length window of ``text``.

    rapidfuzz's fuzz.partial_ratio scores each candidate window with the
    indel ratio (|a|+|b|-d)/(|a|+|b|); this supplies d = |a|+|b|-2*LCS
    for all windows, one lane per window."""
    lp = len(pattern)
    if len(text) < lp or lp == 0:
        return np.empty(0, dtype=np.int64)
    return 2 * lp - 2 * _lcs(_Lanes.windows(text, lp), pattern)


def norm_edit(a: Sequence, b: Sequence) -> float:
    """Levenshtein / max(len) — the reference's normalized distance.

    Both empty -> 0.0 (reference guards this case explicitly).
    """
    m = max(len(a), len(b))
    if m == 0:
        return 0.0
    return levenshtein(a, b) / m


def edit_matrix(gt_lines: list, pred_lines: list) -> np.ndarray:
    """len(gt) x len(pred) normalized distance matrix (match.py:20-29
    parity); the pred lines are packed once for the whole matrix.  Two
    empty lines give 0 / 1 = 0.0."""
    gt_lens = np.asarray([len(g) for g in gt_lines], dtype=np.int64)
    pred_lens = np.asarray([len(p) for p in pred_lines], dtype=np.int64)
    denom = np.maximum(np.maximum(gt_lens[:, None], pred_lens[None, :]), 1)
    return levenshtein_many_to_many(gt_lines, pred_lines) / denom
