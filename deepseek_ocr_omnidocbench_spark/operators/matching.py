"""Per-page GT<->prediction element matching (SURVEY.md §2.5, J3-J7).

Pure-Python page-level matchers re-expressing the reference semantics:

* ``match_simple``  — Hungarian assignment over the normalized-edit cost
  matrix, residual handling (OmniDocBench/utils/match.py:161-269);
* ``match_quick``   — the full quick pipeline: equation-array split,
  ignore-category pre-match (<0.25), truncation merge search, Hungarian,
  weak-pair rejection (>0.7), substring fuzzy rescue (<0.4), merge and
  re-score (utils/match_quick.py:265-611 and helpers);
* ``match_no_split`` — page-level concatenation (match.py:272-305);
* ``match_page``    — the per-page orchestration: span parse output ->
  table arbitration -> text/formula/table/order streams
  (dataset/end2end_dataset.py:253-340).

Unmatched sides use ``None`` (SQL NULL) instead of the reference's
``""``-in-list convention (SURVEY §1.4 note).  These functions run inside
Spark ``applyInPandas`` workers (see eval_harness.py); they never touch
the driver.

A wall-clock deadline replaces func_timeout(30) (end2end_dataset.py:
304-312): the quick matcher checks the clock in its expensive loops and
the orchestrator falls back to match_simple on expiry (J6).
"""

from __future__ import annotations

import re
import time
from collections import Counter, defaultdict
from typing import Any, Optional

import numpy as np

from ..functions.editdist import edit_matrix, levenshtein, norm_edit
from ..functions.hungarian import linear_sum_assignment
from ..functions.normalize import (
    clean_string,
    latex_to_text,
    normalized_formula,
    textblock2unicode,
)

TEXT_CATEGORIES = [
    "text_block", "title", "code_txt", "code_txt_caption", "reference",
    "equation_caption", "figure_caption", "figure_footnote", "table_caption",
    "table_footnote", "code_algorithm", "code_algorithm_caption",
    "header", "footer", "page_footnote", "page_number",
]
IGNORE_CATEGORIES = [
    "figure_caption", "figure_footnote", "table_caption", "table_footnote",
    "code_algorithm", "code_algorithm_caption", "header", "footer",
    "page_footnote", "page_number", "equation_caption",
]
MATCH_GT_CATEGORIES = TEXT_CATEGORIES + ["equation_isolated"]

QUICK_DEADLINE_SEC = 30.0
PRE_MATCH_THRESHOLD = 0.25
REJECT_THRESHOLD = 0.7
FUZZY_RESCUE_THRESHOLD = 0.4
MERGE_THRESHOLD = 0.6


class MatchTimeout(Exception):
    pass


def _cat_of(item: dict) -> str:
    return item.get("fine_category_type") or item["category_type"]


def _position_of_gt(item: dict) -> Any:
    # reference: get('order') if get('order') else position[0]; 0 is falsy
    return item.get("order") if item.get("order") else item.get("position", [None])[0]


def _norm_text(s: str) -> str:
    return clean_string(textblock2unicode(s))


def prepare_lines(gt_items: list[dict], pred_items: list[dict], line_type: Optional[str]):
    """Raw + normalized line lists (match.py:35-158 semantics).

    Returns (gt_lines, norm_gt, gt_cats, gt_keep, pred_lines, norm_pred,
    pred_keep) where *_keep are the surviving item dicts aligned with the
    line lists (the reference filters empty lines in place).
    """
    gt_lines: list[str] = []
    norm_gt: list[str] = []
    gt_cats: list[str] = []
    pred_lines: list[str] = []
    norm_pred: list[str] = []

    if line_type in ("html_table", "latex_table"):
        norm_html: list[str] = []
        for it in gt_items:
            gt_cats.append(_cat_of(it))
            if it.get("content"):
                gt_lines.append(str(it["content"]))
                norm_html.append(str(it["content"]))
            elif line_type == "html_table":
                gt_lines.append(str(it.get("html") or ""))
            else:
                gt_lines.append(str(it.get("latex") or ""))
                norm_html.append(str(it.get("html") or ""))
        pred_lines = [str(it["content"]) for it in pred_items]
        norm_gt = list(gt_lines)
        norm_pred = list(pred_lines)
        if line_type == "latex_table":
            gt_lines = norm_html  # gt field carries html; norm carries latex
    else:
        for it in pred_items:
            c = str(it["content"])
            pred_lines.append(c)
            if it["category_type"] == "text_all":
                norm_pred.append(_norm_text(c))
            elif it["category_type"] == "equation_isolated":
                norm_pred.append(normalized_formula(c))
            else:
                norm_pred.append(c)
        for it in gt_items:
            if it.get("content"):
                gt_lines.append(str(it["content"]))
                norm_gt.append(_norm_text(str(it["content"]))
                               if it["category_type"] == "text_all" else str(it["content"]))
                gt_cats.append(_cat_of(it))
            elif it["category_type"] in TEXT_CATEGORIES:
                gt_lines.append(str(it.get("text") or ""))
                norm_gt.append(_norm_text(str(it.get("text") or "")))
                gt_cats.append(_cat_of(it))
            elif it["category_type"] == "equation_isolated":
                gt_lines.append(str(it.get("latex") or ""))
                norm_gt.append(normalized_formula(str(it.get("latex") or "")))
                gt_cats.append(_cat_of(it))

    gt_keep = []
    kept = [(a, b, c, it) for a, b, c, it in zip(gt_lines, norm_gt, gt_cats, gt_items) if a and b]
    if kept:
        gt_lines, norm_gt, gt_cats, gt_keep = map(list, zip(*kept))
    else:
        gt_lines, norm_gt, gt_cats, gt_keep = [], [], [], []

    kept_p = [(a, b, it) for a, b, it in zip(pred_lines, norm_pred, pred_items) if a and b]
    if kept_p:
        pred_lines, norm_pred, pred_keep = map(list, zip(*kept_p))
    else:
        pred_lines, norm_pred, pred_keep = [], [], []
    return list(gt_lines), list(norm_gt), list(gt_cats), list(gt_keep), list(pred_lines), list(norm_pred), list(pred_keep)


def _record(img_id: str, **kw) -> dict:
    base = {
        "gt_idx": None, "gt": "", "norm_gt": "", "gt_category_type": "",
        "gt_position": None, "gt_attribute": [{}],
        "pred_idx": None, "pred": "", "norm_pred": "", "pred_category_type": "",
        "pred_position": None, "edit": 1.0, "img_id": img_id,
    }
    base.update(kw)
    return base


_TD_RE = re.compile(r"<td[^>]*>(.*?)</td>", re.DOTALL)


def explode_table_pred_to_text(pred_item: dict) -> list[dict]:
    """Unmatched pred table -> per-cell text items (match.py:240-251).

    The reference takes td direct strings via bs4 (nested markup -> None);
    cells containing markup are skipped accordingly.
    """
    out = []
    for cell in _TD_RE.findall(str(pred_item.get("content") or "")):
        if "<" in cell:
            continue
        text = re.sub(r"\$\\cdot\$", "", cell).strip()
        if not text:
            continue
        item = dict(pred_item)
        item["content"] = text
        item["category_type"] = "text_all"
        out.append(item)
    return out


def match_simple(gt_items, pred_items, line_type, img_id):
    """Hungarian one-shot matcher (match.py:161-269). -> (records, table_residual)."""
    gt_lines, norm_gt, gt_cats, gt_keep, pred_lines, norm_pred, pred_keep = prepare_lines(
        gt_items, pred_items, line_type)
    records: list[dict] = []

    def residual_pred_record(idx_list):
        return _record(
            img_id,
            pred_idx=[int(i) for i in idx_list],
            pred="".join(pred_lines[i] for i in idx_list),
            norm_pred="".join(norm_pred[i] for i in idx_list),
            pred_position=pred_keep[idx_list[0]]["position"][0],
            pred_category_type=_cat_of(pred_keep[idx_list[0]]),
        )

    if not norm_gt:
        if norm_pred:
            records.append(residual_pred_record(list(range(len(norm_pred)))))
        return records, None
    if not norm_pred:
        for gi in range(len(norm_gt)):
            records.append(_record(
                img_id, gt_idx=[gi], gt=gt_lines[gi], norm_gt=norm_gt[gi],
                gt_category_type=gt_cats[gi],
                gt_position=[_position_of_gt(gt_keep[gi])],
                gt_attribute=[gt_keep[gi].get("attribute") or {}],
            ))
        return records, None

    cost = edit_matrix(norm_gt, norm_pred)
    row_ind, col_ind = linear_sum_assignment(cost)
    assigned = dict(zip(row_ind.tolist(), col_ind.tolist()))
    for gi in range(len(norm_gt)):
        pj = assigned.get(gi)
        rec = _record(
            img_id, gt_idx=[gi], gt=gt_lines[gi], norm_gt=norm_gt[gi],
            gt_category_type=gt_cats[gi],
            gt_position=[_position_of_gt(gt_keep[gi])],
            gt_attribute=[gt_keep[gi].get("attribute") or {}],
        )
        if pj is not None:
            rec.update(
                pred_idx=[int(pj)], pred=pred_lines[pj], norm_pred=norm_pred[pj],
                pred_category_type=_cat_of(pred_keep[pj]),
                pred_position=pred_keep[pj]["position"][0],
                edit=float(cost[gi][pj]),
            )
        records.append(rec)

    leftover = [j for j in range(len(norm_pred)) if j not in set(col_ind.tolist())]
    if leftover:
        if line_type in ("html_table", "latex_table"):
            residual = []
            for j in leftover:
                residual.extend(explode_table_pred_to_text(pred_keep[j]))
            return records, residual
        records.append(residual_pred_record(leftover))
    return records, None


def match_no_split(gt_items, pred_items, line_type, img_id):
    """Whole-page concatenation matcher (match.py:272-305)."""
    gt_lines, norm_gt, _cats, gt_keep, pred_lines, norm_pred, pred_keep = prepare_lines(
        gt_items, pred_items, None)
    gt_sorted = sorted(
        ((p, g, n) for g, n, it in zip(gt_lines, norm_gt, gt_keep)
         if (p := _position_of_gt(it)) is not None),
        key=lambda x: x[0])
    pred_sorted = sorted(
        zip((it["position"] for it in pred_keep), pred_lines, norm_pred),
        key=lambda x: x[0])
    gt = "\n\n".join(x[1] for x in gt_sorted)
    ngt = "\n\n".join(x[2] for x in gt_sorted)
    pred = "\n\n".join(x[1] for x in pred_sorted)
    npred = "\n\n".join(x[2] for x in pred_sorted)
    if not (ngt or npred):
        return []
    return [_record(img_id, gt_idx=[0], gt=gt, norm_gt=ngt, gt_category_type="text_merge",
                    pred_idx=[0], pred=pred, norm_pred=npred,
                    pred_category_type="text_merge",
                    edit=norm_edit(ngt, npred))]


# ---- quick matcher --------------------------------------------------------

_ARRAY_RE = re.compile(
    r"\\begin\{array\}\{(?P<spec>[^}]*)\}(?P<body>.*?)\\end\{array\}", re.DOTALL)


def _single_col_spec(spec: str) -> bool:
    spec = re.sub(r"\s+|\|", "", spec)
    spec = re.sub(r"@\{[^}]*\}", "", spec)
    spec = re.sub(r"!\{[^}]*\}", "", spec)
    return len(spec) == 1 and spec in {"l", "c", "r"}


def split_gt_arrays(items: list[dict]) -> list[dict]:
    """Single-column \\begin{array} GT equations -> one item per row,
    orders 7 -> 7.1, 7.2 (match_quick.py:139-183)."""
    out = []
    for it in items:
        if it.get("category_type") == "equation_isolated" and "\\begin{array" in (it.get("latex") or ""):
            m = _ARRAY_RE.search(it["latex"])
            if m and _single_col_spec(m.group("spec")):
                lines = [ln.strip() for ln in re.split(r"\\\\", m.group("body")) if ln.strip()]
                base = float(it.get("order") or 0)
                for k, ln in enumerate(lines, 1):
                    new = dict(it)
                    new["latex"] = "\\[%s\\]" % ln
                    new["order"] = round(base + k / 10, 1)
                    out.append(new)
                continue
        out.append(it)
    return out


def split_pred_arrays(items: list[dict]) -> list[dict]:
    """Same split on pred spans, recomputing positions (match_quick.py:188-246)."""
    out = []
    for it in items:
        if it.get("category_type") == "equation_isolated" and "\\begin{array" in (it.get("content") or ""):
            m = _ARRAY_RE.search(it["content"])
            if m and _single_col_spec(m.group("spec")):
                body = m.group("body")
                lines = [ln.strip() for ln in re.split(r"\\\\", body) if ln.strip()]
                start = it["position"][0] + m.start("body")
                cursor = 0
                for ln in lines:
                    at = body.find(ln, cursor)
                    if at < 0:
                        at = cursor
                    cursor = at + len(ln)
                    new = dict(it)
                    new["content"] = "\\[%s\\]" % ln
                    new["position"] = [start + at, start + at + len(ln) - 1]
                    out.append(new)
                continue
        out.append(it)
    return out


def sort_preds_inline_last(items: list[dict]) -> list[dict]:
    """Position sort with equation_inline stably last (match_quick.py:249-264)."""
    return [x for _, x in sorted(
        enumerate(items),
        key=lambda p: (p[1].get("fine_category_type") == "equation_inline",
                       p[1]["position"][0], p[0]))]


def _sub_pred_fuzzy(gt: str, pred: str):
    """Min windowed distance of pred inside gt (match_quick.py:722-739);
    all windows in one batched DP (editdist.windowed_distances)."""
    if len(gt) < len(pred) or not pred:
        return None
    from ..functions.editdist import windowed_distances

    return int(windowed_distances(gt, pred).min()) / len(pred)


def _sub_gt_fuzzy(pred: str, gt: str) -> float:
    """Min windowed distance of gt inside pred (match_quick.py:743-758)."""
    if len(pred) < len(gt) or not gt:
        return 1.0
    from ..functions.editdist import windowed_distances

    return int(windowed_distances(pred, gt).min()) / len(gt)


def _judge_merge(gt_line: str, pred_list: list[str]) -> tuple[bool, bool]:
    """Should the last pred join the merge run? (match_quick.py:834-861)."""
    if len(pred_list) == 1:
        return False, False
    cur = " ".join(pred_list[:-1])
    merged = " ".join(pred_list)
    if norm_edit(gt_line, merged) > norm_edit(gt_line, cur):
        return False, False
    for piece in pred_list[:-1]:
        d = _sub_pred_fuzzy(gt_line, piece)
        if d is None or d > MERGE_THRESHOLD:
            return False, False
    add = _sub_pred_fuzzy(gt_line, pred_list[-1])
    if add is None:
        return False, False
    return add < MERGE_THRESHOLD, len(merged) <= len(gt_line)


def _pick_final_subsets(cands: list[list[int]], costs: list[float]) -> list[list[int]]:
    """Resolve overlapping merge candidates to the min-avg-cost paths
    (match_quick.py:763-830)."""
    if not cands:
        return []
    items = sorted(zip(cands, costs), key=lambda x: x[0][0])
    groups: list[list] = [[items[0]]]
    for it in items[1:]:
        overlap = any(i in sub[0] for sub in groups[-1] for i in it[0])
        if overlap:
            groups[-1].append(it)
        else:
            groups.append([it])
    final: list[list[int]] = []
    for group in groups:
        if len(group) == 1:
            final.append(group[0][0])
            continue
        paths: dict[int, list] = defaultdict(list)
        paths[0].append(group[0])
        for subset in group[1:]:
            placed = False
            new_path = True
            for pid in list(paths):
                dup = same = False
                for existing in list(paths[pid]):
                    if existing[0] == subset[0]:
                        dup = same = True
                        if existing[1] > subset[1]:
                            paths[pid].remove(existing)
                            paths[pid].append(subset)
                    elif set(existing[0]) & set(subset[0]):
                        dup = True
                if not dup:
                    paths[pid].append(subset)
                    new_path = False
                if same:
                    new_path = False
            if new_path and not placed:
                paths[len(paths)].append(subset)
        best_cost = float("inf")
        best: list = []
        for path in paths.values():
            avg = sum(x[1] for x in path) / len(path)
            if avg < best_cost:
                best_cost = avg
                best = [x[0] for x in path]
        final.extend(best)
    return final


def _merge_into_main(full: list, subsets: list[list[int]]) -> list:
    """Replace runs in `full` by their subset lists (match_quick.py:711-718)."""
    out = list(full)
    for sub in subsets:
        at = out.index(sub[0])
        for _ in sub:
            out.pop(at)
        out.insert(at, sub)
    return out


def _truncation_merge(cost, norm_gt, norm_pred, deadline):
    """Greedy consecutive-pred merge search (match_quick.py:858-927)."""
    strong = np.argwhere(cost < PRE_MATCH_THRESHOLD)
    strong_gt = {int(i) for i, _ in strong}
    strong_pred = {int(j) for _, j in strong}
    open_gt = [i for i in range(cost.shape[0]) if i not in strong_gt]
    open_pred = [j for j in range(cost.shape[1]) if j not in strong_pred]

    cands: list[list[int]] = []
    costs: list[float] = []
    for gi in open_gt:
        if time.monotonic() > deadline:
            raise MatchTimeout
        best_cost = float("inf")
        best_subset: list[int] = []
        for pj in open_pred:
            step = 1
            run = [norm_pred[pj]]
            while pj + step not in strong_pred and pj + step < len(norm_pred):
                run.append(norm_pred[pj + step])
                ok, keep_going = _judge_merge(norm_gt[gi], run)
                if not ok:
                    break
                step += 1
                if not keep_going:
                    break
            subset = list(range(pj, pj + step))
            d = norm_edit(norm_gt[gi], " ".join(norm_pred[k] for k in subset))
            if d < best_cost:
                best_cost = d
                best_subset = subset
        if best_subset:
            cands.append(best_subset)
            costs.append(best_cost)

    chosen = _pick_final_subsets(cands, costs)
    if not chosen:
        return cost, list(range(len(norm_pred)))
    idx_list = _merge_into_main(range(len(norm_pred)), chosen)
    # an int entry is a column of `cost` already: only merged runs are new
    runs = [" ".join(norm_pred[k[0]:k[-1] + 1]) for k in idx_list if isinstance(k, list)]
    run_cols = iter(edit_matrix(norm_gt, runs).T)
    return np.column_stack([next(run_cols) if isinstance(k, list) else cost[:, k]
                            for k in idx_list]), idx_list


def _assign_with_merges(cost, norm_gt, norm_pred, deadline):
    """Truncation-aware assignment (match_quick.py:938-948)."""
    new_cost, idx_list = _truncation_merge(cost, norm_gt, norm_pred, deadline)
    row_ind, col_ind = linear_sum_assignment(new_cost)
    cost_list = [float(new_cost[r][c]) for r, c in zip(row_ind, col_ind)]
    matched_cols = [idx_list[c] for c in col_ind]
    return matched_cols, list(row_ind), cost_list


def _collect_matches(matched_cols, row_ind, cost_list, norm_gt, norm_pred):
    """Accept/reject assignment pairs (match_quick.py:966-1010)."""
    matches: dict[int, dict] = {}
    unmatched_gt: list[int] = []
    unmatched_pred: list[int] = []
    for gi in range(len(norm_gt)):
        if gi not in row_ind:
            unmatched_gt.append(gi)
            continue
        k = row_ind.index(gi)
        pj = matched_cols[k]
        span = list(range(pj[0], pj[-1] + 1)) if isinstance(pj, list) else [pj]
        edit = cost_list[k]
        if edit > REJECT_THRESHOLD:
            unmatched_pred.extend(span)
            unmatched_gt.append(gi)
        else:
            matches[gi] = {"pred_indices": span, "edit_distance": edit}
            for s in span:
                if s in unmatched_pred:
                    unmatched_pred.remove(s)
    return matches, unmatched_gt, unmatched_pred


def _fuzzy_rescue(unmatched_gt, norm_gt, norm_pred, deadline):
    """GT fragments found inside some pred (match_quick.py:996-1014)."""
    rescue: dict[int, list[int]] = {}
    for pj, pred_content in enumerate(norm_pred):
        if time.monotonic() > deadline:
            raise MatchTimeout
        hits = [gi for gi in unmatched_gt
                if _sub_gt_fuzzy(pred_content, norm_gt[gi]) < FUZZY_RESCUE_THRESHOLD]
        if hits:
            rescue[pj] = hits
    return rescue


def _merge_match_maps(matches: dict, rescue: dict) -> dict:
    """Combine assignment + rescue keyed by pred tuple (match_quick.py:1016-1052)."""
    final: dict[tuple, dict] = {}
    seen_gt: set[int] = set()
    for gi, info in matches.items():
        key = tuple(sorted(info["pred_indices"]))
        if key in final:
            if gi not in seen_gt:
                final[key]["gt_indices"].append(gi)
                seen_gt.add(gi)
        else:
            final[key] = {"gt_indices": [gi], "edit_distance": info["edit_distance"]}
            seen_gt.add(gi)
    for pj, gts in rescue.items():
        key = (pj,)
        if key in final:
            for gi in gts:
                if gi not in seen_gt:
                    final[key]["gt_indices"].append(gi)
                    seen_gt.add(gi)
        else:
            fresh = [gi for gi in gts if gi not in seen_gt]
            final[key] = {"gt_indices": fresh, "edit_distance": None}
            seen_gt.update(fresh)
    return final


def _rescore(final: dict, norm_gt, norm_pred) -> None:
    """Recompute distances for merged groups (match_quick.py:1056-1087)."""
    for key, info in final.items():
        gts = sorted(set(info["gt_indices"]))
        if not gts:
            info["edit_distance"] = 1
            continue
        if len(gts) > 1:
            merged_gt = "".join(norm_gt[g] for g in gts)
            pred = norm_pred[key[0]] if isinstance(key[0], int) else ""
            info["edit_distance"] = norm_edit(merged_gt, pred) if (merged_gt or pred) else 1
        else:
            pred = " ".join(norm_pred[p] for p in key if isinstance(p, int))
            g = norm_gt[gts[0]]
            info["edit_distance"] = norm_edit(g, pred) if (g or pred) else 1


def _flatten_matches(final: dict, norm_gt, norm_pred) -> list[dict]:
    """Final map -> per-gt entries + leftover Hungarian (match_quick.py:1090-1156)."""
    out: list[dict] = []
    for key, info in final.items():
        pred = " ".join(norm_pred[p] for p in key if isinstance(p, int))
        for gi in sorted(set(info["gt_indices"])):
            out.append({"gt_idx": int(gi), "gt": norm_gt[gi], "pred_idx": list(key),
                        "pred": pred, "edit": info["edit_distance"]})
    matched_gt = set().union(*[set(i["gt_indices"]) for i in final.values()]) if final else set()
    open_gt = set(range(len(norm_gt))) - matched_gt
    matched_pred = {p for key in final for p in key if isinstance(p, int)}
    open_pred = set(range(len(norm_pred))) - matched_pred
    if open_pred:
        if open_gt:
            og, op = list(open_gt), list(open_pred)
            mat = [[norm_edit(norm_gt[g], norm_pred[p]) for p in op] for g in og]
            ri, ci = linear_sum_assignment(np.asarray(mat))
            for i, j in zip(ri, ci):
                out.append({"gt_idx": int(og[i]), "gt": norm_gt[og[i]],
                            "pred_idx": [op[j]], "pred": norm_pred[op[j]], "edit": 1})
        else:
            out.append({"gt_idx": None, "gt": "", "pred_idx": sorted(open_pred),
                        "pred": " ".join(norm_pred[p] for p in sorted(open_pred)),
                        "edit": 1})
    else:
        for gi in open_gt:
            out.append({"gt_idx": int(gi), "gt": norm_gt[gi], "pred_idx": None,
                        "pred": "", "edit": 1})
    return out


def _dedupe_and_backfill(entries: list[dict], norm_gt, gt_lines) -> list[dict]:
    """Merge same-pred duplicates; re-add dropped GTs (match_quick.py:657-695)."""
    merged: list[dict] = []
    done_pred: set = set()
    done_gt: set = set()
    for e in entries:
        key = tuple(e["pred_idx"]) if isinstance(e["pred_idx"], list) else (e["pred_idx"],)
        if key in done_pred or key == (None,):
            continue
        m = {"gt_idx": [e["gt_idx"]], "gt": e["gt"], "pred_idx": e["pred_idx"],
             "pred": e["pred"], "edit": e["edit"]}
        for o in entries:
            okey = tuple(o["pred_idx"]) if isinstance(o["pred_idx"], list) else (o["pred_idx"],)
            if okey == key and o is not e:
                m["gt_idx"].append(o["gt_idx"])
                m["gt"] += o["gt"]
                done_gt.add(o["gt_idx"])
        merged.append(m)
        done_pred.add(key)
        done_gt.add(e["gt_idx"])
    for gi in range(len(norm_gt)):
        if gi not in done_gt:
            merged.append({"gt_idx": [gi], "gt": gt_lines[gi], "pred_idx": None,
                           "pred": "", "edit": 1})
    return merged


def _finalize_quick_entries(merged, gt_lines, norm_gt, gt_cats, gt_keep,
                            pred_lines, norm_pred, pred_keep, img_id,
                            gt_idx_map, pred_idx_map) -> list[dict]:
    """Attach positions/categories/attributes; multi-formula array rebuild
    (match_quick.py:553-607 / 474-520)."""
    out: list[dict] = []
    for e in merged:
        gt_idx = e["gt_idx"] if isinstance(e["gt_idx"], list) else [e["gt_idx"]]
        gt_idx = [g for g in gt_idx if g is not None]
        pred_idx = e["pred_idx"] if isinstance(e["pred_idx"], list) else (
            [e["pred_idx"]] if e["pred_idx"] is not None else None)
        rec = _record(img_id, edit=float(e["edit"]))
        if gt_idx:
            clean_cats = [gt_cats[g] for g in gt_idx if gt_cats[g] not in IGNORE_CATEGORIES]
            pool = clean_cats or [gt_cats[g] for g in gt_idx]
            rec["gt_category_type"] = Counter(pool).most_common(1)[0][0]
            rec["gt_position"] = [_position_of_gt(gt_keep[g]) for g in gt_idx]
            rec["gt_attribute"] = [gt_keep[g].get("attribute") or {} for g in gt_idx]
            if rec["gt_category_type"] == "equation_isolated" and len(gt_idx) > 1:
                rows = " \\\\ ".join("{%s}" % gt_lines[g].strip("$$").strip("\n") for g in gt_idx)
                rec["gt"] = "\\begin{array}{l} %s \\end{array}" % rows
            else:
                rec["gt"] = "".join(gt_lines[g] for g in gt_idx)
            rec["norm_gt"] = "".join(norm_gt[g] for g in gt_idx)
            rec["gt_idx"] = [int(gt_idx_map[g]) for g in gt_idx]
        if pred_idx:
            rec["pred_category_type"] = _cat_of(pred_keep[pred_idx[0]])
            rec["pred_position"] = pred_keep[pred_idx[0]]["position"][0]
            if "equation" in rec["pred_category_type"] and len(pred_idx) > 1:
                rows = " \\\\ ".join("{%s}" % pred_lines[p].strip("$$").strip("\n") for p in pred_idx)
                rec["pred"] = "\\begin{array}{l} %s \\end{array}" % rows
            else:
                rec["pred"] = "".join(pred_lines[p] for p in pred_idx)
            rec["norm_pred"] = "".join(norm_pred[p] for p in pred_idx)
            rec["pred_idx"] = [int(pred_idx_map[p]) for p in pred_idx]
        if not gt_idx and rec["pred_category_type"] == "equation_inline":
            continue  # reference drops unmatched inline-equation residuals
        out.append(rec)
    return out


def match_quick(gt_items, pred_items, line_type, img_id,
                deadline: Optional[float] = None):
    """Full quick matcher (match_quick.py:265-611). Raises MatchTimeout."""
    if deadline is None:
        deadline = time.monotonic() + QUICK_DEADLINE_SEC
    gt_items = split_gt_arrays(gt_items)
    pred_items = split_pred_arrays(sort_preds_inline_last(pred_items))
    gt_lines, norm_gt, gt_cats, gt_keep, pred_lines, norm_pred, pred_keep = prepare_lines(
        gt_items, pred_items, None)

    if not norm_gt:
        return [
            _record(img_id, pred_idx=[pj], pred=pred_lines[pj], norm_pred=norm_pred[pj],
                    pred_category_type=_cat_of(pred_keep[pj]),
                    pred_position=pred_keep[pj]["position"][0])
            for pj in range(len(norm_pred))
        ]
    if not norm_pred:
        return [
            _record(img_id, gt_idx=[gi], gt=gt_lines[gi], norm_gt=norm_gt[gi],
                    gt_category_type=gt_cats[gi],
                    gt_position=[_position_of_gt(gt_keep[gi])],
                    gt_attribute=[gt_keep[gi].get("attribute") or {}])
            for gi in range(len(norm_gt))
        ]
    if len(norm_gt) == 1 and len(norm_pred) == 1:
        return [_record(img_id, gt_idx=[0], gt=gt_lines[0], norm_gt=norm_gt[0],
                        gt_category_type=gt_cats[0],
                        gt_position=[_position_of_gt(gt_keep[0])],
                        gt_attribute=[gt_keep[0].get("attribute") or {}],
                        pred_idx=[0], pred=pred_lines[0], norm_pred=norm_pred[0],
                        pred_category_type=_cat_of(pred_keep[0]),
                        pred_position=pred_keep[0]["position"][0],
                        edit=norm_edit(norm_gt[0], norm_pred[0]))]

    # --- ignore-category pre-match (J4b) ---
    ig_sel = [i for i, c in enumerate(gt_cats) if c in IGNORE_CATEGORIES]
    main_sel = [i for i in range(len(norm_gt)) if i not in ig_sel]
    ignore_records: list[dict] = []
    used_pred: set[int] = set()
    if ig_sel:
        ig_norm = [norm_gt[i] for i in ig_sel]
        ig_matrix = edit_matrix(ig_norm, norm_pred)
        hits = np.argwhere(ig_matrix < PRE_MATCH_THRESHOLD)
        ig_pred_idx = [int(j) for _, j in hits]
        used_pred = set(ig_pred_idx)
        matches = {}
        for k, (gi_local, pj) in enumerate(hits):
            matches[int(gi_local)] = {"pred_indices": [k],
                                      "edit_distance": float(ig_matrix[gi_local][pj])}
        sub_pred_lines = [pred_lines[j] for j in ig_pred_idx]
        sub_norm_pred = [norm_pred[j] for j in ig_pred_idx]
        final = _merge_match_maps(matches, {})
        _rescore(final, ig_norm, sub_norm_pred)
        entries = _flatten_matches(final, ig_norm, sub_norm_pred)
        merged = _dedupe_and_backfill(entries, ig_norm, [gt_lines[i] for i in ig_sel])
        ignore_records = _finalize_quick_entries(
            merged, [gt_lines[i] for i in ig_sel], ig_norm,
            [gt_cats[i] for i in ig_sel], [gt_keep[i] for i in ig_sel],
            sub_pred_lines, sub_norm_pred, [pred_keep[j] for j in ig_pred_idx],
            img_id, ig_sel, ig_pred_idx)

    # --- main pool ---
    m_gt_lines = [gt_lines[i] for i in main_sel]
    m_norm_gt = [norm_gt[i] for i in main_sel]
    m_gt_cats = [gt_cats[i] for i in main_sel]
    m_gt_keep = [gt_keep[i] for i in main_sel]
    open_pred_sel = [j for j in range(len(norm_pred)) if j not in used_pred]
    m_pred_lines = [pred_lines[j] for j in open_pred_sel]
    m_norm_pred = [norm_pred[j] for j in open_pred_sel]
    m_pred_keep = [pred_keep[j] for j in open_pred_sel]

    cost = edit_matrix(m_norm_gt, m_norm_pred)
    matched_cols, row_ind, cost_list = _assign_with_merges(cost, m_norm_gt, m_norm_pred, deadline)
    matches, open_gt, _open_pred = _collect_matches(matched_cols, row_ind, cost_list,
                                                    m_norm_gt, m_norm_pred)
    rescue = _fuzzy_rescue(open_gt, m_norm_gt, m_norm_pred, deadline)
    final = _merge_match_maps(matches, rescue)
    _rescore(final, m_norm_gt, m_norm_pred)
    entries = _flatten_matches(final, m_norm_gt, m_norm_pred)
    merged = _dedupe_and_backfill(entries, m_norm_gt, m_gt_lines)
    records = _finalize_quick_entries(
        merged, m_gt_lines, m_norm_gt, m_gt_cats, m_gt_keep,
        m_pred_lines, m_norm_pred, m_pred_keep, img_id, main_sel, open_pred_sel)
    records.extend(ignore_records)
    return records
