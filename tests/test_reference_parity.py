"""DIRECT behavioral parity with the reference matchers.

Imports the reference's own `utils/match.py` / `utils/match_quick.py`
from /root/reference (read-only) with its C-extension dependencies
shimmed by this repo's kernels (Levenshtein -> functions/editdist,
scipy linear_sum_assignment -> functions/hungarian, pylatexenc ->
functions/normalize.latex_to_text), then runs the SAME random pages
through the reference matcher and ours and compares the match
structure and edit distances.

Because both sides share the kernels, any disagreement is a logic
divergence in the matcher port itself — exactly what this guards.
No reference code is copied; it is imported from the read-only mount at
test time only.
"""

import sys
import types

import pytest

REF_DIR = "/root/reference/OmniDocBench"

pytestmark = pytest.mark.skipif(
    not __import__("os").path.isdir(REF_DIR), reason="reference not mounted")


@pytest.fixture(scope="module")
def ref_matchers():
    from deepseek_ocr_omnidocbench_spark.functions.editdist import levenshtein
    from deepseek_ocr_omnidocbench_spark.functions.hungarian import (
        linear_sum_assignment,
    )
    from deepseek_ocr_omnidocbench_spark.functions.normalize import latex_to_text

    # ---- dependency shims (registered before importing reference code) ----
    lev = types.ModuleType("Levenshtein")
    lev.distance = levenshtein
    sci = types.ModuleType("scipy")
    sci_opt = types.ModuleType("scipy.optimize")
    sci_opt.linear_sum_assignment = linear_sum_assignment
    sci.optimize = sci_opt
    ev = types.ModuleType("evaluate")
    ev.load = lambda *a, **k: (_ for _ in ()).throw(RuntimeError("unused"))
    bs4 = types.ModuleType("bs4")

    class _Soup:  # only reached on table paths, which this test avoids
        def __init__(self, *a, **k):
            raise RuntimeError("bs4 shim: table path not under test")

    bs4.BeautifulSoup = _Soup
    ple = types.ModuleType("pylatexenc")
    ple_l2t = types.ModuleType("pylatexenc.latex2text")

    class _L2T:
        def latex_to_text(self, s):
            return latex_to_text(s)

    ple_l2t.LatexNodes2Text = lambda *a, **k: _L2T()
    ple.latex2text = ple_l2t

    ple_enc = types.ModuleType("pylatexenc.latexencode")
    ple_enc.unicode_to_latex = lambda s, **k: s  # imported, never called
    ple_walk = types.ModuleType("pylatexenc.latexwalker")
    for name in ("LatexWalker", "LatexEnvironmentNode", "LatexCharsNode",
                 "LatexGroupNode", "LatexMacroNode", "LatexSpecialsNode"):
        setattr(ple_walk, name, type(name, (), {}))
    ple.latexencode = ple_enc
    ple.latexwalker = ple_walk
    tq = types.ModuleType("tqdm")
    tq.tqdm = lambda it=None, **k: it
    fto = types.ModuleType("func_timeout")

    class _FTO(Exception):
        pass

    fto.FunctionTimedOut = _FTO
    fto.func_timeout = lambda t, f, args=(), kwargs=None: f(*args, **(kwargs or {}))
    lg = types.ModuleType("loguru")

    class _Log:
        def __getattr__(self, name):
            return lambda *a, **k: None

    lg.logger = _Log()
    mme = types.ModuleType("mmeval")
    mme.COCODetection = type("COCODetection", (), {})
    mpl = types.ModuleType("matplotlib")
    mpl_plt = types.ModuleType("matplotlib.pyplot")
    mpl_fm = types.ModuleType("matplotlib.font_manager")
    mpl_fm.FontProperties = lambda *a, **k: None  # module-level in table_utils
    mpl.pyplot = mpl_plt
    mpl.font_manager = mpl_fm

    saved = {}
    mods = {"Levenshtein": lev, "scipy": sci, "scipy.optimize": sci_opt,
            "evaluate": ev, "bs4": bs4, "pylatexenc": ple,
            "pylatexenc.latex2text": ple_l2t,
            "pylatexenc.latexencode": ple_enc,
            "pylatexenc.latexwalker": ple_walk,
            "matplotlib": mpl, "matplotlib.pyplot": mpl_plt,
            "matplotlib.font_manager": mpl_fm,
            "tqdm": tq, "func_timeout": fto, "loguru": lg, "mmeval": mme}
    for name, mod in mods.items():
        saved[name] = sys.modules.get(name)
        sys.modules[name] = mod
    sys.path.insert(0, REF_DIR)
    # the repo ships its metrics package as "metrics 2"; matchers don't need it
    try:
        import importlib

        ref_match = importlib.import_module("utils.match")
        ref_quick = importlib.import_module("utils.match_quick")
        ref_extract = importlib.import_module("utils.extract")
        ref_e2e = importlib.import_module("dataset.end2end_dataset")
    finally:
        pass
    yield ref_match, ref_quick, ref_extract, ref_e2e
    sys.path.remove(REF_DIR)
    for name, mod in saved.items():
        if mod is None:
            sys.modules.pop(name, None)
        else:
            sys.modules[name] = mod
    for name in list(sys.modules):
        if name.startswith("utils") or name.startswith("dataset") or \
                name.startswith("registry"):
            del sys.modules[name]


def make_page(rng, derived=False):
    """Random page; with ``derived=True`` predictions come from the GT
    via typo/merge/split/drop perturbations — driving the truncation
    merge (J4c), fuzzy rescue (J4f) and rejection (J4e) paths."""
    words = ["alpha", "beta", "gamma", "delta", "data", "spark", "table",
             "value", "metric", "result", "pipeline", "cluster"]
    n_gt = rng.randint(1, 6)
    gts = []
    for i in range(n_gt):
        text = " ".join(rng.choice(words) for _ in range(rng.randint(2, 9)))
        cat = rng.choice(["text_block", "title", "figure_caption"])
        gts.append({"anno_id": i + 1, "category_type": cat,
                    "order": float(i + 1), "text": text,
                    "attribute": {"k": "v"}})

    def typo(s):
        cs = list(s)
        for k in range(len(cs)):
            if cs[k].isalpha() and rng.random() < 0.04:
                cs[k] = rng.choice("abcdefghij")
        return "".join(cs)

    contents = []
    if derived:
        for g in gts:
            roll = rng.random()
            if roll < 0.15:
                continue  # dropped block
            text = typo(g["text"])
            if roll < 0.35 and len(text) > 12:
                cut = text.find(" ", len(text) // 2)
                if cut > 0:  # split one GT into two preds (rescue fodder)
                    contents.extend([text[:cut], text[cut + 1:]])
                    continue
            contents.append(text)
        if len(contents) >= 2 and rng.random() < 0.4:
            k = rng.randrange(len(contents) - 1)  # merge two preds (J4c)
            contents[k:k + 2] = [contents[k] + " " + contents[k + 1]]
        if rng.random() < 0.3:
            contents.append(" ".join(rng.choice(words) for _ in range(5)))
    else:
        for _ in range(rng.randint(0, 6)):
            contents.append(" ".join(rng.choice(words)
                                     for _ in range(rng.randint(2, 9))))
    preds = []
    pos = 0
    for content in contents:
        preds.append({"category_type": "text_all",
                      "position": [pos, pos + len(content)],
                      "content": content, "fine_category_type": "text_block"})
        pos += len(content) + 2
    return gts, preds


def canon(records):
    """Comparable view: (gt_idx tuple, pred_idx tuple, rounded edit).
    The reference uses "" for the unmatched side; we use None."""
    out = []
    for r in records:
        gt_idx = r.get("gt_idx")
        pred_idx = r.get("pred_idx")

        def norm_idx(v):
            if v in (None, "", [""]):
                return ()
            if isinstance(v, list):
                return tuple(x for x in v if x != "")
            return (v,)

        g, p = norm_idx(gt_idx), norm_idx(pred_idx)
        if not g:
            # unmatched-pred residual rows: the reference keeps its
            # internal post-merge list order for the indices, we sort —
            # the semantic content (which preds are unmatched, edit=1)
            # is a set, so compare order-insensitively
            p = tuple(sorted(p))
        out.append((g, p, round(float(r["edit"]), 6)))
    return sorted(out)


def test_simple_matcher_parity(ref_matchers):
    import random

    ref_match, *_rest = ref_matchers
    from deepseek_ocr_omnidocbench_spark.operators.matching import match_simple

    agree = 0
    for seed in range(40):
        rng = random.Random("parity:%d" % seed)
        gts, preds = make_page(rng)
        ref, _ref_resid = ref_match.match_gt2pred_simple(gts, preds, "text", "img")
        mine, _resid = match_simple(gts, preds, "text_all", "img")
        assert canon(ref) == canon(mine), (seed, canon(ref), canon(mine))
        agree += 1
    assert agree == 40


def test_quick_matcher_parity(ref_matchers):
    import random

    _, ref_quick, *_rest = ref_matchers
    from deepseek_ocr_omnidocbench_spark.operators.matching import match_quick

    agree = 0
    for seed in range(40):
        rng = random.Random("quickparity:%d" % seed)
        gts, preds = make_page(rng)
        ref = ref_quick.match_gt2pred_quick(gts, preds, "text", "img")
        mine = match_quick(gts, preds, None, "img")
        assert canon(ref) == canon(mine), (seed, canon(ref), canon(mine))
        agree += 1
    assert agree == 40


def test_quick_matcher_parity_derived_preds(ref_matchers):
    """Perturbation-derived predictions hit the merge/rescue/reject
    sub-ops; structure must still match the reference exactly."""
    import random

    _, ref_quick, *_rest = ref_matchers
    from deepseek_ocr_omnidocbench_spark.operators.matching import match_quick

    for seed in range(150):
        rng = random.Random("derived:%d" % seed)
        gts, preds = make_page(rng, derived=True)
        ref = ref_quick.match_gt2pred_quick(gts, preds, "text", "img")
        mine = match_quick(gts, preds, None, "img")
        assert canon(ref) == canon(mine), (seed, canon(ref), canon(mine))


def test_simple_matcher_parity_derived_preds(ref_matchers):
    import random

    ref_match, *_rest = ref_matchers
    from deepseek_ocr_omnidocbench_spark.operators.matching import match_simple

    for seed in range(150):
        rng = random.Random("sderived:%d" % seed)
        gts, preds = make_page(rng, derived=True)
        ref, _r = ref_match.match_gt2pred_simple(gts, preds, "text", "img")
        mine, _m = match_simple(gts, preds, "text_all", "img")
        assert canon(ref) == canon(mine), (seed, canon(ref), canon(mine))


MD_SAMPLES = [
    "Plain paragraph one.\n\nParagraph two with $x^2$ inline.",
    "$$E = mc^2$$\n\ntext after",
    "\\[ a + b = c \\]",
    "| h1 | h2 |\n| --- | --- |\n| 1 | 2 |\n\nafter table",
    "<table><tr><td>x</td></tr></table>\n\npara",
    "\\begin{tabular}{ll} a & b \\\\ c & d \\end{tabular}",
    "```python\nprint(1)\n``` tail",
    "# Title\n\nbody text\n\n![img](u.png) trailing",
    "\\section{Intro}\n\nSome content here.",
    "a\nb\nc",
    "",
    "$$ \\begin{array}{l} x=1 \\\\ y=2 \\end{array} $$",
    "nested <table><tr><td><table><tr><td>i</td></tr></table></td></tr></table> done",
]


def _flatten_ref(d):
    out = []
    for cat, items in d.items():
        for it in items:
            out.append((it.get("category_type", cat), it["content"],
                        tuple(it["position"]),
                        it.get("fine_category_type")))
    return sorted(out, key=lambda t: (t[2][0], str(t)))


def _flatten_mine(spans):
    return sorted(
        ((s["category_type"], s["content"], tuple(s["position"]),
          s.get("fine_category_type")) for s in spans),
        key=lambda t: (t[2][0], str(t)))


def test_md_tex_filter_parity(ref_matchers):
    """P1-P7 span parser vs the reference's own md_tex_filter."""
    _m, _q, ref_extract, _d = ref_matchers
    from deepseek_ocr_omnidocbench_spark.operators.extract_spans import md_tex_filter

    for k, md in enumerate(MD_SAMPLES):
        ref = _flatten_ref(ref_extract.md_tex_filter(md))
        mine = _flatten_mine(md_tex_filter(md))
        assert ref == mine, (k, md, ref, mine)


def test_md_tex_filter_parity_on_demo_mds(ref_matchers):
    """Same comparison over the 18 REAL model-output markdown files."""
    import os

    _m, _q, ref_extract, _d = ref_matchers
    from deepseek_ocr_omnidocbench_spark.operators.extract_spans import md_tex_filter

    folder = REF_DIR + "/demo_data/end2end"
    for name in sorted(os.listdir(folder)):
        if not name.endswith(".md"):
            continue
        md = open(os.path.join(folder, name)).read()
        ref = _flatten_ref(ref_extract.md_tex_filter(md))
        mine = _flatten_mine(md_tex_filter(md))
        assert ref == mine, (name, len(ref), len(mine))


def _to_omnidoc_sample(gt_rows):
    """My flattened fixture rows -> the reference's page JSON structure."""
    dets = []
    relations = []
    for r in gt_rows:
        det = {"category_type": r["category_type"], "anno_id": r["anno_id"],
               "order": r["order"], "ignore": r.get("ignore", False),
               "attribute": r.get("attribute") or {}}
        for k in ("text", "latex", "html"):
            if r.get(k) is not None:
                det[k] = r[k]
        dets.append(det)
        if r.get("truncated_pair") is not None:
            relations.append({"relation_type": "truncated",
                              "source_anno_id": r["anno_id"],
                              "target_anno_id": r["truncated_pair"]})
    return {"layout_dets": dets, "extra": {"relation": relations},
            "page_info": {"page_attribute": {}, "image_path": "x.jpg"}}


def test_page_orchestration_parity(ref_matchers):
    """process_get_matched_elements (end2end_dataset.py:253-340) vs
    match_page: same fixture pages, same streams, same matches."""
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import match_page
    from deepseek_ocr_omnidocbench_spark.sources.annotations import (
        generate_eval_fixtures,
    )

    _m, _q, _e, ref_e2e = ref_matchers
    ds = object.__new__(ref_e2e.End2EndDataset)
    ds.match_method = "quick_match"

    gt_rows, _pages, pred_rows = generate_eval_fixtures(25, seed=77, perturb=1.0)
    by_img = {}
    for r in gt_rows:
        by_img.setdefault(r["img_id"], []).append(r)
    preds = {p["img_id"]: p["md"] for p in pred_rows}

    n_pages = n_rows_compared = 0
    for img_id, rows in by_img.items():
        sample = _to_omnidoc_sample(rows)
        ref_txt, ref_formula, ref_ltx, ref_html, ref_order = \
            ds.process_get_matched_elements(sample, preds[img_id], img_id, False)

        mine = match_page(rows, preds[img_id], img_id)
        my_txt = [r for r in mine if r.get("element_class") == "text_block"]
        my_formula = [r for r in mine if r.get("element_class") == "display_formula"]
        my_tbl = [r for r in mine
                  if r.get("element_class") in ("table_html", "table_latex")]
        my_order = [r for r in mine if r.get("element_class") == "reading_order"]

        assert canon(ref_txt) == canon(my_txt), (img_id, "text")
        # my match_page re-types formulas whose pred isn't an equation
        # (N12) inside the page; the reference does it at dataset level —
        # fixtures emit equation preds so the streams align here
        assert canon(ref_formula) == canon(my_formula), (img_id, "formula")
        assert canon(ref_ltx + ref_html) == canon(my_tbl), (img_id, "table")
        if ref_order:
            assert my_order and abs(my_order[0]["edit"] - ref_order["edit"]) < 1e-9, img_id
        else:
            assert not my_order
        n_rows_compared += len(ref_txt) + len(ref_formula) + len(ref_html)
        n_pages += 1
    assert n_pages == 25 and n_rows_compared > 100


def test_normalizer_parity(ref_matchers):
    """N1/N3/F10/F11 normalizers vs the reference's data_preprocess
    (pylatexenc-dependent paths excluded — the shim would make them
    tautological; those are frozen by golden tests instead)."""
    import importlib

    ref_pre = importlib.import_module("utils.data_preprocess")
    from deepseek_ocr_omnidocbench_spark.functions import normalize as N

    strings = [
        "Hello, world!", "a\tb\nc", r"x\t y\n z", "/tfoo/nbar",
        "数据 processing_123!", "ＡＢＣ１２３！", "",
        "a_______b  and  a        b", "under_score-dash.dot",
        "mixed 数据 and english WORDS 42",
    ]
    for s in strings:
        assert N.clean_string(s) == ref_pre.clean_string(s), s
        assert N.replace_repeated_chars(s) == ref_pre.replace_repeated_chars(s), s

    fences = ["```markdown\nbody\n```", "```html\nx\n```", "plain\n```\ntail",
              "```latex\ny\n```\nz", "a\n```\nb\n```\n"]
    for s in fences:
        assert N.remove_markdown_fences(s) == ref_pre.remove_markdown_fences(s), s

    formulas = [
        r"$$\mathbf{E} = mc^2$$", r"\[ x\quad y \]", r"a \tag{1} b",
        r"\left( x \right)", r"\begin{array}{l} a \\ b \end{array}",
        r"x \hspace{1em} y", r"E=mc^2.", r"  $$ \alpha $$  ",
        r"\displaystyle \sum_{i=1}^n x_i", "",
    ]
    for s in formulas:
        assert N.normalized_formula(s) == ref_pre.normalized_formula(s), s
