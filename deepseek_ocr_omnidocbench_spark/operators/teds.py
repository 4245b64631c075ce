"""TEDS — Tree-Edit-Distance-based Similarity for tables (SURVEY §2.6 A3).

The reference scores tables with APTED over parsed HTML trees
(OmniDocBench/metrics 2/table_metric.py:63-134, the published PubTabNet
TEDS metric).  No apted/lxml wheels exist in this container, so this is
a from-scratch Zhang-Shasha tree edit distance (the classic published
algorithm) with the TEDS cost model:

* insert/delete: cost 1;
* rename: 1 if (tag, colspan, rowspan) differ, else — for <td> nodes —
  the normalized Levenshtein distance between cell texts (0 in
  structure_only mode);
* TEDS(a, b) = 1 - dist / max(|a|, |b|).

Tables are small (tens-hundreds of nodes); O(n^2 m^2) worst case is fine
inside an applyInPandas worker.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Optional

import numpy as np


class _TNode:
    __slots__ = ("tag", "colspan", "rowspan", "text", "children")

    def __init__(self, tag, colspan="1", rowspan="1", text=""):
        self.tag = tag
        self.colspan = colspan
        self.rowspan = rowspan
        self.text = text
        self.children: list[_TNode] = []


class _TableTreeParser(HTMLParser):
    """HTML -> table tree; only structural table tags become nodes, cell
    markup collapses into the td text (matching TEDS's tokenized cells)."""

    STRUCT = {"table", "thead", "tbody", "tfoot", "tr", "td", "th"}

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root: Optional[_TNode] = None
        self.stack: list[_TNode] = []
        self._cell: Optional[_TNode] = None

    def handle_starttag(self, tag, attrs):
        if tag not in self.STRUCT:
            return
        if tag == "th":
            tag = "td"
        a = dict(attrs)
        node = _TNode(tag, a.get("colspan", "1") or "1", a.get("rowspan", "1") or "1")
        if tag == "td":
            self._cell = node
        if self.stack:
            self.stack[-1].children.append(node)
        elif tag == "table":
            self.root = node
        self.stack.append(node)

    def handle_endtag(self, tag):
        if tag == "th":
            tag = "td"
        if tag not in self.STRUCT:
            return
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break
        if tag == "td":
            self._cell = None

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.text += data


def parse_table_tree(html: str) -> Optional[_TNode]:
    m = re.search(r"<table.*?</table>", html or "", re.DOTALL | re.IGNORECASE)
    if not m:
        return None
    p = _TableTreeParser()
    p.feed(m.group(0))
    return p.root


def _postorder(root: _TNode):
    """-> (nodes postorder, leftmost-leaf index per node, keyroots)."""
    nodes: list[_TNode] = []
    lml: list[int] = []

    def walk(n: _TNode) -> int:
        first = None
        for ch in n.children:
            f = walk(ch)
            if first is None:
                first = f
        idx = len(nodes)
        nodes.append(n)
        lml.append(first if first is not None else idx)
        return lml[idx]

    walk(root)
    keyroots = [i for i in range(len(nodes))
                if not any(lml[j] == lml[i] for j in range(i + 1, len(nodes)))]
    return nodes, lml, keyroots


def _cost_matrix(n1: list, n2: list, structure_only: bool) -> np.ndarray:
    """Rename costs for every node pair, batched: key mismatch = 1,
    matching <td> pairs get the normalized cell-text distance.

    Distances run over UNIQUE text pairs only (tables repeat cell values
    heavily — a 900-cell numeric table has ~100 distinct texts), as one
    ``edit_matrix`` with the second table's texts packed once."""
    def key(n):
        return (n.tag, n.colspan, n.rowspan)

    k1 = [key(a) for a in n1]
    k2 = [key(b) for b in n2]
    same = np.asarray([[ka == kb for kb in k2] for ka in k1])
    C = np.where(same, 0.0, 1.0)
    if structure_only:
        return C

    def cell_text(n):
        return n.text if n.tag == "td" else None

    texts1 = [cell_text(a) for a in n1]
    texts2 = [cell_text(b) for b in n2]
    uniq1 = sorted({t for t in texts1 if t is not None})
    uniq2 = sorted({t for t in texts2 if t is not None})
    if not uniq1 or not uniq2:
        return C
    from ..functions.editdist import edit_matrix

    D = edit_matrix(uniq1, uniq2)
    u1_of = {t: i for i, t in enumerate(uniq1)}
    u2_of = {t: i for i, t in enumerate(uniq2)}
    idx1 = np.asarray([u1_of[t] if t is not None else -1 for t in texts1])
    idx2 = np.asarray([u2_of[t] if t is not None else -1 for t in texts2])
    td_mask = (idx1[:, None] >= 0) & (idx2[None, :] >= 0) & same
    C[td_mask] = D[idx1[:, None].clip(0), idx2[None, :].clip(0)][td_mask]
    return C


def tree_edit_distance(t1: _TNode, t2: _TNode, structure_only: bool = False) -> float:
    """Zhang-Shasha ordered tree edit distance with the TEDS cost model.

    Row-vectorized: per forest-DP row the three candidate terms are
    numpy vectors and the left-deletion chain is a prefix-min (the
    insertion chain of a Wagner-Fischer row; verified identical to the
    scalar form; ~20x faster on 200+-node tables)."""
    n1, l1, k1 = _postorder(t1)
    n2, l2, k2 = _postorder(t2)
    C = _cost_matrix(n1, n2, structure_only)
    l1a = np.asarray(l1, dtype=np.int64)
    l2a = np.asarray(l2, dtype=np.int64)
    td = np.zeros((len(n1), len(n2)))

    # leaf x leaf keyroot pairs have the closed form td = rename cost
    # (min(delete+insert, rename) with rename <= 1 <= 2): one matrix
    # assignment replaces the O(leaves^2) tiny DPs that dominate flat
    # tables (in a 480-cell table they are ~98% of keyroot pairs)
    leaf1 = l1a == np.arange(len(n1))
    leaf2 = l2a == np.arange(len(n2))
    td[np.ix_(leaf1, leaf2)] = C[np.ix_(leaf1, leaf2)]

    # per-keyroot metadata, computed once (the pair loop runs O(k1*k2)
    # times — np.arange/gather setup per pair was half the runtime)
    meta2 = {}
    for j in k2:
        lj = l2[j]
        gj = np.arange(lj, j + 1)
        meta2[j] = (lj, gj, l2a[gj] - lj, l2a[gj] == lj)
    max_cols = max((j - l2[j] + 2) for j in k2)
    idx_buf = np.arange(max_cols)
    arr_buf = np.empty(max_cols)

    for i in k1:
        li = l1[i]
        rows = i - li + 2
        i_leaf = leaf1[i]
        for j in k2:
            if i_leaf and leaf2[j]:
                continue
            lj, gj, py, m2 = meta2[j]
            cols = j - lj + 2
            if cols == 2:
                # single-column DP: tight scalar loop, no numpy setup
                prev0, prev1 = 0.0, 1.0  # fd[0,0], fd[0,1]
                for x in range(1, rows):
                    gi = li + x - 1
                    if l1a[gi] == li:
                        cur1 = min(prev1 + 1, x + 1, prev0 + C[gi, j])
                        td[gi, j] = cur1
                    else:
                        px = l1a[gi] - li
                        base = px + td[gi, j]  # fd[px,0] = px
                        cur1 = min(prev1 + 1, x + 1, base)
                    prev0, prev1 = float(x), cur1
                continue
            fd = np.zeros((rows, cols))
            fd[0] = idx_buf[:cols]
            idx = idx_buf[:cols]
            arr = arr_buf[:cols]
            for x in range(1, rows):
                gi = li + x - 1
                up = fd[x - 1]
                px = l1a[gi] - li
                cand = fd[px][py] + td[gi, lj:j + 1]
                row_whole = l1a[gi] == li
                if row_whole:
                    cand = np.where(m2, up[:-1] + C[gi, lj:j + 1], cand)
                np.minimum(up[1:] + 1, cand, out=cand)
                arr[0] = x
                arr[1:] = cand
                arr -= idx
                np.minimum.accumulate(arr, out=arr)
                arr += idx
                fd[x] = arr
                if row_whole:
                    td[gi, gj[m2]] = fd[x, 1:][m2]
    return float(td[len(n1) - 1, len(n2) - 1])


TEDS_MAX_NODES = 3000


def _truncate_tree(root: _TNode, max_nodes: int) -> _TNode:
    """Keep the first ``max_nodes`` nodes in document order (runaway web
    tables reach 10^5 cells; unbounded ZS would pin an executor for
    hours — scores for such monsters are approximate by necessity)."""
    budget = [max_nodes]

    def walk(n: _TNode) -> _TNode:
        budget[0] -= 1
        out = _TNode(n.tag, n.colspan, n.rowspan, n.text)
        for ch in n.children:
            if budget[0] <= 0:
                break
            out.children.append(walk(ch))
        return out

    return walk(root)


def teds_score(pred_html: str, gt_html: str,
               structure_only: bool = False) -> float:
    """1 - dist/max(descendant counts); 0 when either side lacks a table
    (cal_metric.py:49-58 sets errors to 0).

    The denominator is the descendant count EXCLUDING the <table> root —
    the reference normalizes by ``len(tree.xpath(".//*"))``
    (table_metric.py:122-125), so scores can go slightly negative on
    degenerate pairs; parity with the reference scorer is asserted in
    tests/test_teds_reference_parity.py."""
    t_pred = parse_table_tree(pred_html)
    t_gt = parse_table_tree(gt_html)
    if t_pred is None or t_gt is None:
        return 0.0
    n_pred = len(_postorder(t_pred)[0])
    n_gt = len(_postorder(t_gt)[0])
    if n_pred > TEDS_MAX_NODES:
        t_pred = _truncate_tree(t_pred, TEDS_MAX_NODES)
    if n_gt > TEDS_MAX_NODES:
        t_gt = _truncate_tree(t_gt, TEDS_MAX_NODES)
    dist = tree_edit_distance(t_pred, t_gt, structure_only)
    denom = max(n_pred - 1, n_gt - 1)  # UNtruncated sizes, sans root
    return 1.0 - dist / denom if denom > 0 else 0.0
