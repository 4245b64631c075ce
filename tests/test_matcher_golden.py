"""The matcher's output on 50 seeded fixture pages, pinned exactly.

Every record ``match_page`` + ``score_record`` produce for
``generate_eval_fixtures(50, seed=41)`` is compared with
``tests/golden/matcher_seed41.json``: ``img_id``, ``element_class``,
``gt_idx``, ``pred_idx``, ``edit`` and the score fields, floats equal to
the last bit.  This pins every matcher decision (Hungarian ties,
truncation-merge runs, fuzzy rescue) and every edit-distance value.

Regenerate the golden (only when the matcher is meant to change) with
``PYTHONPATH=. python tests/test_matcher_golden.py``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "matcher_seed41.json")
N_PAGES, SEED = 50, 41


def matcher_records(n_pages: int = N_PAGES, seed: int = SEED) -> list[dict]:
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import _to_row, match_page
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import (
        SCORE_FIELDS, score_record)
    from deepseek_ocr_omnidocbench_spark.sources.annotations import generate_eval_fixtures

    gt_rows, _, pred_rows = generate_eval_fixtures(n_pages, seed=seed)
    by_page = defaultdict(list)
    for r in gt_rows:
        by_page[r["img_id"]].append(r)
    keep = ["img_id", "element_class", "gt_idx", "pred_idx", "edit"] + [
        f.name for f in SCORE_FIELDS]
    out = []
    for pred in pred_rows:
        img_id = pred["img_id"]
        for rec in match_page(by_page[img_id], pred["md"], img_id):
            row = score_record(_to_row(rec))
            out.append({k: row[k] for k in keep})
    return out


def test_matcher_matches_golden():
    with open(GOLDEN) as f:
        want = json.load(f)
    got = json.loads(json.dumps(matcher_records()))
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, (i, g, w)


if __name__ == "__main__":
    with open(GOLDEN, "w") as f:
        f.write("[\n%s\n]\n" % ",\n".join(json.dumps(r) for r in matcher_records()))
