"""Rule-based extraction-output checks (SURVEY §5(c) — the reference's
production QA surface, olmocr/olmocr/bench/tests.py:519-995).

The reference runs a suite of per-page declarative checks against
extracted markdown: TextPresenceTest (present/absent with fuzzy
threshold), TextOrderTest (before/after with bounded edit distance),
TableTest (cell relations up/down/left/right/top-heading/left-heading
over parsed markdown+HTML tables with rowspan/colspan expansion,
tests.py:304-472), BaselineTest (non-blank, bounded trailing n-gram
repeats, charset restrictions) and MathTest (equation present, by exact
match before falling back to a render compare).

Here each check is a pure function (content, params) -> (passed,
explanation), and ``rule_checks`` runs a rules table against a
documents table as one broadcast join + one Arrow-batched pandas stage:
rules are per-url QA declarations (small — a QA suite, not data), so
the join never shuffles the document side, and at 100 TB the cost is
exactly one pass over the corpus.

Fidelity notes (documented divergences, all container-driven):
- fuzzy ratios use indel similarity (2*LCS / (|a|+|b|)) — the same
  formula rapidfuzz ``fuzz.ratio`` implements;
- ``partial`` matching uses fixed-window Levenshtein sweeps
  (functions/editdist.windowed_distances) rather than rapidfuzz's
  alignment heuristic — identical for max_diffs=0 (exact substring),
  the dominant case in the reference's published test sets;
- MathTest's render-compare fallback (pypdfium+PIL) is replaced by
  normalized-string and fuzzy equation comparison; exact-match
  short-circuit behavior is identical (tests.py:976-979).
"""

from __future__ import annotations

import json
import re
import unicodedata
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.editdist import (
    lcs_length,
    levenshtein,
    windowed_distances,
    windowed_indel_distances,
)
from .textstats import trailing_repeats

_BR_RE = re.compile(r"<br/?>")
_WS_RE = re.compile(r"\s+")
_BOLD1 = re.compile(r"\*\*(.*?)\*\*")
_BOLD2 = re.compile(r"__(.*?)__")
_TAG_BI = re.compile(r"</?[bi]>")
_ITAL1 = re.compile(r"\*(.*?)\*")
_ITAL2 = re.compile(r"_(.*?)_")
_FANCY = {"‘": "'", "’": "'", "‚": "'", "“": '"',
          "”": '"', "„": '"', "＿": "_", "–": "-",
          "—": "-", "‑": "-", "‒": "-", "−": "-",
          "µ": "μ"}
_IMG_TAG = re.compile(r"!\[.*?\]\(.*?\)")
# CJK + emoji ranges the BaselineTest disallows by default
_DISALLOWED = re.compile(
    "[一-鿿぀-ゟ゠-ヿ"
    "\U0001f600-\U0001f64f\U0001f300-\U0001f5ff"
    "\U0001f680-\U0001f6ff\U0001f1e0-\U0001f1ff]")


def normalize_check_text(s: str | None) -> str | None:
    """tests.py:116-147 normalization: br -> space, whitespace collapse,
    bold/italic markers stripped, NFC, fancy punctuation ASCII-folded."""
    if s is None:
        return None
    s = _BR_RE.sub(" ", s)
    s = _WS_RE.sub(" ", s)
    s = _BOLD1.sub(r"\1", s)
    s = _BOLD2.sub(r"\1", s)
    s = _TAG_BI.sub("", s)
    s = _ITAL1.sub(r"\1", s)
    s = _ITAL2.sub(r"\1", s)
    s = unicodedata.normalize("NFC", s)
    for fancy, plain in _FANCY.items():
        s = s.replace(fancy, plain)
    return s


def indel_ratio(a: str, b: str) -> float:
    """2*LCS/(|a|+|b|) — insert/delete-only similarity (fuzz.ratio)."""
    if not (a or b):
        return 1.0
    return 2.0 * lcs_length(a, b) / (len(a) + len(b))


def best_partial_ratio(query: str, content: str) -> float:
    """Best similarity of ``query`` against any |query|-length window of
    ``content`` — fuzz.partial_ratio semantics: windows scored by indel
    ratio (|a|+|b|-d_indel)/(|a|+|b|)."""
    if not query:
        return 1.0
    if not content:
        return 0.0
    if query in content:
        return 1.0
    if len(content) < len(query):
        return indel_ratio(query, content)
    d = int(windowed_indel_distances(content, query).min())
    return max(0.0, 1.0 - d / (2 * len(query)))


def find_near_starts(query: str, content: str, max_dist: int) -> list[int]:
    """Window start offsets where ``query`` matches within ``max_dist``
    edits (find_near_matches fixed-window analog)."""
    if not query:
        return []
    if max_dist == 0:
        return [m.start() for m in re.finditer(re.escape(query), content)]
    if len(content) < len(query):
        return [0] if levenshtein(query, content) <= max_dist else []
    d = windowed_distances(content, query)
    return np.flatnonzero(d <= max_dist).tolist()


# ---------------------------------------------------------------------------
# table grids with rowspan/colspan expansion (tests.py:149-472 semantics)

@dataclass
class TableGrid:
    data: list[list[str]]
    header_rows: set = field(default_factory=set)
    header_cols: set = field(default_factory=set)
    col_headers: dict = field(default_factory=dict)  # col -> [(row, text)]
    row_headers: dict = field(default_factory=dict)  # row -> [(col, text)]


def parse_markdown_grids(md: str) -> list[TableGrid]:
    """Pipe-table runs -> rectangular grids; first row is the header row
    and first column the header column (tests.py:149-259)."""
    grids = []
    run: list[str] = []
    for line in md.strip().split("\n") + [""]:
        if "|" in line:
            run.append(line)
            continue
        if len(run) >= 2:
            rows = []
            for ln in run:
                bare = ln.replace("|", "").strip()
                if bare and all(c in "- :" for c in bare):
                    continue  # separator row
                if ln.strip() and all(c in "- :|" for c in ln):
                    continue
                cells = [c.strip() for c in ln.split("|")]
                if cells and cells[0] == "":
                    cells = cells[1:]
                if cells and cells[-1] == "":
                    cells = cells[:-1]
                if cells:
                    rows.append(cells)
            if rows:
                ncol = max(len(r) for r in rows)
                data = [r + [""] * (ncol - len(r)) for r in rows]
                grids.append(TableGrid(
                    data=data,
                    header_rows={0},
                    header_cols={0} if ncol else set(),
                    col_headers={j: [(0, data[0][j])] for j in range(ncol)},
                    row_headers={i: [(0, data[i][0])] for i in range(1, len(data))},
                ))
        run = []
    return grids


def parse_html_grids(html: str) -> list[TableGrid]:
    """<table> elements -> expanded rectangular grids.  Rowspan text is
    carried into the directly-below cells (same column); the rest of a
    row/col span expands to "" — the reference's expansion rule
    (tests.py:368-377), which keeps TableTest's up/down/left/right
    neighborhood semantics stable under spans."""
    from .html_extract import parse_html, Node

    grids = []
    root = parse_html(html)

    def tables_of(n):
        if isinstance(n, Node):
            if n.tag == "table":
                yield n
            for ch in n.children:
                yield from tables_of(ch)

    for table in tables_of(root):
        trs = []

        def walk(n, in_thead=False):
            for ch in n.children:
                if not isinstance(ch, Node):
                    continue
                if ch.tag == "tr":
                    trs.append((ch, in_thead))
                elif ch.tag in ("thead", "tbody", "tfoot"):
                    walk(ch, in_thead or ch.tag == "thead")

        walk(table)
        if not trs:
            continue

        grid: dict[tuple[int, int], str] = {}
        header_rows, header_cols = set(), set()
        col_headers: dict[int, list] = {}
        row_headers: dict[int, list] = {}
        col_span_headers: dict[str, set] = {}
        row_span_headers: dict[str, set] = {}

        for ri, (tr, in_thead) in enumerate(trs):
            if in_thead:
                header_rows.add(ri)
            ci = 0
            cells = [c for c in tr.children
                     if isinstance(c, Node) and c.tag in ("td", "th")]
            if any(c.tag == "th" for c in cells):
                header_rows.add(ri)
            for cell in cells:
                while (ri, ci) in grid:
                    ci += 1
                text = _cell_text_with_breaks(cell)
                try:
                    rs = int(cell.attrs.get("rowspan", "1") or "1")
                    cs = int(cell.attrs.get("colspan", "1") or "1")
                except ValueError:
                    rs = cs = 1
                grid[(ri, ci)] = text
                for i in range(rs):
                    for j in range(cs):
                        if i == 0 and j == 0:
                            continue
                        # below-in-same-column keeps the text; other
                        # spanned positions become empty cells
                        grid[(ri + i, ci + j)] = text if (j == 0 and i > 0) else ""
                if cell.tag == "th":
                    for j in range(cs):
                        header_cols.add(ci + j)
                        col_headers.setdefault(ci + j, []).append((ri, text))
                        if text and cs > 1:
                            col_span_headers.setdefault(text, set()).add(ci + j)
                    for i in range(1, rs):
                        if ri + i < len(trs):
                            header_rows.add(ri + i)
                    if text and rs > 1:
                        for i in range(rs):
                            row_span_headers.setdefault(text, set()).add(ri + i)
                elif rs > 1 and ci in header_cols:
                    for i in range(1, rs):
                        if ri + i < len(trs):
                            row_headers.setdefault(ri + i, []).append((ci, text))
                ci += cs

        n_rows = max(r for r, _ in grid) + 1
        n_cols = max(c for _, c in grid) + 1
        data = [[grid.get((r, c), "") for c in range(n_cols)]
                for r in range(n_rows)]

        # spanned headers inherit to the data rows/columns they cover
        for text, cols in col_span_headers.items():
            for col in cols:
                for j in range(col, n_cols):
                    hdrs = col_headers.setdefault(j, [])
                    if not any(h[1] == text for h in hdrs):
                        hdrs.append((min(r for r, t in col_headers.get(col, [(0, "")])), text))
        for text, rws in row_span_headers.items():
            hcol = min(header_cols) if header_cols else 0
            for r in rws:
                if r < n_rows:
                    hdrs = row_headers.setdefault(r, [])
                    if not any(h[1] == text for h in hdrs):
                        hdrs.append((hcol, text))
        for c in header_cols:
            for r in range(n_rows):
                if c < n_cols and data[r][c].strip():
                    hdrs = row_headers.setdefault(r, [])
                    if not any(h[1] == data[r][c] for h in hdrs):
                        hdrs.append((c, data[r][c]))

        grids.append(TableGrid(data, header_rows, header_cols,
                               col_headers, row_headers))
    return grids


def _cell_text_with_breaks(cell) -> str:
    """Cell text with <br> rendered as newline (tests.py:357-359)."""
    from .html_extract import Node

    parts: list[str] = []

    def rec(n):
        for ch in n.children:
            if isinstance(ch, Node):
                if ch.tag == "br":
                    parts.append("\n")
                else:
                    rec(ch)
            else:
                parts.append(str(ch))

    rec(cell)
    return "".join(parts).strip()


# ---------------------------------------------------------------------------
# the checks

def check_presence(content: str, text: str, *, absent: bool = False,
                   case_sensitive: bool = True, max_diffs: int = 0,
                   first_n: int | None = None,
                   last_n: int | None = None) -> tuple[bool, str]:
    query = normalize_check_text(text)
    content = normalize_check_text(content) or ""
    if not case_sensitive:
        query = query.lower()
        content = content.lower()
    if first_n and last_n:
        content = content[:first_n] + content[-last_n:]
    elif first_n:
        content = content[:first_n]
    elif last_n:
        content = content[-last_n:]
    threshold = 1.0 - max_diffs / (len(query) or 1)
    ratio = best_partial_ratio(query, content)
    if not absent:
        if ratio >= threshold:
            return True, ""
        return False, ("expected '%s...' at threshold %.3f, best ratio %.3f"
                       % (query[:40], threshold, ratio))
    if ratio < threshold:
        return True, ""
    return False, ("expected absence of '%s...' but ratio %.3f >= %.3f"
                   % (query[:40], ratio, threshold))


def check_order(content: str, before: str, after: str,
                max_diffs: int = 0) -> tuple[bool, str]:
    before = normalize_check_text(before)
    after = normalize_check_text(after)
    content = normalize_check_text(content) or ""
    b_starts = find_near_starts(before, content, max_diffs)
    a_starts = find_near_starts(after, content, max_diffs)
    if not b_starts:
        return False, "'before' text not found: %s" % before[:40]
    if not a_starts:
        return False, "'after' text not found: %s" % after[:40]
    if min(b_starts) < max(a_starts):
        return True, ""
    return False, "no position has '%s...' before '%s...'" % (before[:40], after[:40])


def _rel_threshold(s: str, max_diffs: int) -> float:
    return max(0.5, 1.0 - max_diffs / (len(s) or 1))


def check_table(content: str, cell: str, *, up: str = "", down: str = "",
                left: str = "", right: str = "", top_heading: str = "",
                left_heading: str = "", max_diffs: int = 0,
                ignore_markdown_tables: bool = False) -> tuple[bool, str]:
    cell = normalize_check_text(cell)
    rels = {k: normalize_check_text(v) for k, v in
            (("up", up), ("down", down), ("left", left), ("right", right),
             ("top_heading", top_heading), ("left_heading", left_heading))
            if v}
    grids: list[TableGrid] = []
    if not ignore_markdown_tables:
        grids.extend(parse_markdown_grids(content))
    grids.extend(parse_html_grids(content))
    if not grids:
        return False, "no tables found in content"
    threshold = _rel_threshold(cell, max_diffs)
    reasons = []
    for g in grids:
        data = g.data
        matches = [(i, j) for i, row in enumerate(data)
                   for j, c in enumerate(row)
                   if indel_ratio(cell, normalize_check_text(c)) >= threshold]
        for i, j in matches:
            ok = True
            why = []
            neighbors = {"up": (i - 1, j), "down": (i + 1, j),
                         "left": (i, j - 1), "right": (i, j + 1)}
            for rel, (ni, nj) in neighbors.items():
                if rel not in rels:
                    continue
                if not (0 <= ni < len(data) and 0 <= nj < len(data[ni])):
                    continue  # reference skips out-of-bounds relations
                got = normalize_check_text(data[ni][nj])
                if indel_ratio(rels[rel], got) < _rel_threshold(rels[rel], max_diffs):
                    ok = False
                    why.append("%s cell '%s' != '%s'" % (rel, got, rels[rel]))
            for rel, headers, fallback_axis in (
                    ("top_heading", g.col_headers.get(j, []), "col"),
                    ("left_heading", g.row_headers.get(i, []), "row")):
                if rel not in rels:
                    continue
                want = rels[rel]
                thr = _rel_threshold(want, max_diffs)
                cands = [normalize_check_text(t) for _, t in headers if t.strip()]
                if not cands:  # last resort: any non-empty cell before ours
                    if fallback_axis == "col":
                        cands = [normalize_check_text(data[r][j])
                                 for r in range(i) if data[r][j].strip()]
                    else:
                        cands = [normalize_check_text(data[i][c])
                                 for c in range(j) if data[i][c].strip()]
                best = max((indel_ratio(want, c) for c in cands), default=0.0)
                if not cands:
                    ok = False
                    why.append("no %s found for cell (%d,%d)" % (rel, i, j))
                elif best < thr:
                    ok = False
                    why.append("%s best ratio %.2f < %.2f for '%s'"
                               % (rel, best, thr, want))
            if ok:
                return True, ""
            reasons.extend(why)
    if not reasons:
        return False, "no cell matching '%s' at threshold %.2f" % (cell, threshold)
    return False, "cell found but relations failed: " + "; ".join(reasons)


def check_baseline(content: str, *, max_length: int | None = None,
                   max_length_skips_image_alt_tags: bool = False,
                   max_repeats: int = 30,
                   check_disallowed_characters: bool = True) -> tuple[bool, str]:
    body = content or ""
    alnum_len = len("".join(c for c in body if c.isalnum()).strip())
    if max_length is not None:  # blank-page check short-circuits the rest
        if max_length_skips_image_alt_tags:
            stripped = _IMG_TAG.sub("", body)
            alnum_len = len("".join(c for c in stripped if c.isalnum()).strip())
        if alnum_len > max_length:
            return False, "%d chars output for an expected-blank page" % alnum_len
        return True, ""
    if alnum_len == 0:
        return False, "no alphanumeric characters"
    reps = trailing_repeats(body, max_ngram=5)
    if reps > max_repeats:
        return False, "text ends with %d trailing n-gram repeats" % reps
    if check_disallowed_characters:
        bad = _DISALLOWED.findall(body)
        if bad:
            return False, "disallowed characters present: %s" % "".join(bad[:10])
    return True, ""


_MATH_PATTERNS = [r"\\\((.+?)\\\)", r"\\\[(.+?)\\\]"]
_MATH_DOLLAR = [r"\$\$(.+?)\$\$", r"\$(.+?)\$"]


def check_math(content: str, math: str, *,
               ignore_dollar_delimited: bool = False) -> tuple[bool, str]:
    """Equation presence.  Exact match short-circuit mirrors the
    reference (tests.py:976-979); render-compare fallback is replaced by
    whitespace-normalized + fuzzy comparison (no renderer here)."""
    pats = list(_MATH_PATTERNS) + ([] if ignore_dollar_delimited else _MATH_DOLLAR)
    equations = []
    remaining = content or ""
    for pat in pats:
        equations.extend(e.strip() for e in re.findall(pat, remaining, re.DOTALL))
        remaining = re.sub(pat, "", remaining, flags=re.DOTALL)
    if any(eq == math for eq in equations):
        return True, ""
    norm = re.sub(r"\s+", "", math)
    for eq in sorted(equations, key=lambda e: -indel_ratio(e, math)):
        if re.sub(r"\s+", "", eq) == norm:
            return True, ""
        if indel_ratio(re.sub(r"\s+", "", eq), norm) >= 0.95:
            return True, ""
    return False, "no match for %s in content" % math[:60]


_CHECKS = {
    "present": lambda c, p: check_presence(c, p["text"], absent=False,
                                           **_presence_kw(p)),
    "absent": lambda c, p: check_presence(c, p["text"], absent=True,
                                          **_presence_kw(p)),
    "order": lambda c, p: check_order(c, p["before"], p["after"],
                                      int(p.get("max_diffs", 0))),
    "table": lambda c, p: check_table(
        c, p["cell"], up=p.get("up", ""), down=p.get("down", ""),
        left=p.get("left", ""), right=p.get("right", ""),
        top_heading=p.get("top_heading", ""),
        left_heading=p.get("left_heading", ""),
        max_diffs=int(p.get("max_diffs", 0)),
        ignore_markdown_tables=bool(p.get("ignore_markdown_tables", False))),
    "baseline": lambda c, p: check_baseline(
        c, max_length=p.get("max_length"),
        max_length_skips_image_alt_tags=bool(
            p.get("max_length_skips_image_alt_tags", False)),
        max_repeats=int(p.get("max_repeats", 30)),
        check_disallowed_characters=bool(
            p.get("check_disallowed_characters", True))),
    "math": lambda c, p: check_math(
        c, p["math"],
        ignore_dollar_delimited=bool(p.get("ignore_dollar_delimited", False))),
}


def _presence_kw(p: dict) -> dict:
    return {"case_sensitive": bool(p.get("case_sensitive", True)),
            "max_diffs": int(p.get("max_diffs", 0)),
            "first_n": p.get("first_n"), "last_n": p.get("last_n")}


def run_check(rule_type: str, content: str, params: dict) -> tuple[bool, str]:
    fn = _CHECKS.get(rule_type)
    if fn is None:
        return False, "unknown rule type: %s" % rule_type
    try:
        return fn(content or "", params)
    except Exception as e:  # a malformed rule fails, never kills the job
        return False, "rule error: %s" % e


RULE_RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("rule_id", T.StringType()),
    T.StructField("rule_type", T.StringType()),
    T.StructField("passed", T.BooleanType()),
    T.StructField("explanation", T.StringType()),
])


def rule_checks(docs: DataFrame, rules: DataFrame,
                text_col: str = "text", url_col: str = "url") -> DataFrame:
    """(url, rule_id, rule_type, passed, explanation) — every rule run
    against its document's extracted markdown.

    ``rules`` columns: (url, rule_id, rule_type, params) with params a
    JSON string.  The rules side is a QA suite (thousands of rows, not
    billions) so it is broadcast — the documents table never shuffles,
    and the pandas stage streams Arrow batches; one corpus pass total.
    """
    joined = docs.select(F.col(url_col).alias("url"),
                         F.col(text_col).alias("_content")) \
        .join(F.broadcast(rules), "url")

    def _run(it):
        for pdf in it:
            out = []
            # itertuples, not iterrows: iterrows builds a Series per row
            # (~10x the iteration overhead on a 4-rules-per-doc batch)
            for url, content, rule_id, rule_type, params_js in zip(
                    pdf["url"], pdf["_content"], pdf["rule_id"],
                    pdf["rule_type"], pdf["params"]):
                params = json.loads(params_js) if params_js else {}
                passed, why = run_check(rule_type, content, params)
                out.append((url, rule_id, rule_type, passed, why))
            yield pd.DataFrame(out, columns=[f.name for f in RULE_RESULT_SCHEMA])

    return joined.mapInPandas(_run, RULE_RESULT_SCHEMA)
