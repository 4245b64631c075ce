"""Normalization functions (SURVEY.md §2.4, N1-N12).

Each normalizer exists in two forms where possible:

* a pure-Python function (used inside pandas UDFs and in pytest golden
  tests) reproducing the reference semantics, cited per function;
* a native Column expression builder (``*_col``) so Catalyst keeps the
  cheap ones JVM-side (regexp_replace / translate chains — no Python).

Divergences from the reference are deliberate and documented:
pylatexenc's LatexNodes2Text and the latexmlc subprocess are not in this
container, so latex->unicode and latex-table->html use small
deterministic built-ins (optional upgrade hooks try the real libs first).
"""

from __future__ import annotations

import html as _html
import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# N1 clean_string — reference: OmniDocBench/utils/data_preprocess.py:447-452
# keep only [\w] + CJK; strip literal tab/newline escape spellings first.
# --------------------------------------------------------------------------

_CLEAN_DROP = re.compile(r"[^\w\u4e00-\u9fff]")


def clean_string(s: str) -> str:
    for lit in ("\\t", "\\n", "\t", "\n", "/t", "/n"):
        s = s.replace(lit, "")
    return _CLEAN_DROP.sub("", s)


def clean_string_col(c: Column) -> Column:
    for lit in ("\\\\t", "\\\\n", "\t", "\n", "/t", "/n"):
        c = F.regexp_replace(c, F.lit(lit), F.lit(""))
    # (?U): Java \w is ASCII-only by default; Python's is unicode-aware
    return F.regexp_replace(c, F.lit(r"(?U)[^\w\u4e00-\u9fff]"), F.lit(""))


# --------------------------------------------------------------------------
# N7 fullwidth -> halfwidth — data_preprocess.py:26-37
# U+3000 -> space; U+FF01..FF5E -> code-0xFEE0.
# --------------------------------------------------------------------------

_FW_SRC = "\u3000" + "".join(chr(c) for c in range(0xFF01, 0xFF5F))
_FW_DST = " " + "".join(chr(c - 0xFEE0) for c in range(0xFF01, 0xFF5F))
_FW_TABLE = str.maketrans(_FW_SRC, _FW_DST)


def fullwidth_to_halfwidth(s: str) -> str:
    return s.translate(_FW_TABLE)


def fullwidth_to_halfwidth_col(c: Column) -> Column:
    return F.translate(c, _FW_SRC, _FW_DST)


# --------------------------------------------------------------------------
# F10/F11 markdown pre-clean — data_preprocess.py:11-22, extract.py:116-119
# --------------------------------------------------------------------------

_IMG_RE = re.compile(r"!\[.*?\]\(.*?\)")


def remove_markdown_fences(s: str) -> str:
    s = re.sub(r"^```markdown\n?", "", s, flags=re.MULTILINE)
    s = re.sub(r"^```html\n?", "", s, flags=re.MULTILINE)
    s = re.sub(r"^```latex\n?", "", s, flags=re.MULTILINE)
    s = re.sub(r"```\n?$", "", s, flags=re.MULTILINE)
    return s


def replace_repeated_chars(s: str) -> str:
    s = re.sub(r"_{4,}", "____", s)
    s = re.sub(r" {4,}", "    ", s)
    return s


def strip_images(s: str) -> str:
    return _IMG_RE.sub("", s)


def md_preclean(s: str) -> str:
    """extract.py:116-119 pre-pass: images, fences, repeats, html/body tags."""
    s = strip_images(s)
    s = remove_markdown_fences(s)
    s = replace_repeated_chars(s)
    return (
        s.replace("<html>", "").replace("</html>", "")
        .replace("<body>", "").replace("</body>", "")
    )


# --------------------------------------------------------------------------
# F12 grounding-token cleanup — DeepSeek-OCR-vllm/run_dpsk_ocr_eval_batch.py:70-79,154-156
# Strip <|ref|>..<|/ref|><|det|>..<|/det|> blocks, squeeze blank lines,
# drop <center> tags.  Pure Column chain.
# --------------------------------------------------------------------------

_GROUND_RE = re.compile(r"<\|ref\|>.*?<\|/ref\|><\|det\|>.*?<\|/det\|>", re.DOTALL)


def strip_grounding(s: str) -> str:
    s = _GROUND_RE.sub("", s)
    s = s.replace("\n\n\n\n", "\n\n").replace("\n\n\n", "\n\n")
    return s.replace("<center>", "").replace("</center>", "")


def strip_grounding_col(c: Column) -> Column:
    c = F.regexp_replace(c, F.lit(r"(?s)<\|ref\|>.*?<\|/ref\|><\|det\|>.*?<\|/det\|>"), F.lit(""))
    c = F.regexp_replace(c, F.lit("\n{3,4}"), F.lit("\n\n"))
    return F.regexp_replace(c, F.lit("</?center>"), F.lit(""))


# --------------------------------------------------------------------------
# N10 clean_formula — run_dpsk_ocr_eval_batch.py:53-68
# drop \quad (...) annotations inside \[...\]; strip the body.
# --------------------------------------------------------------------------


def clean_formula(s: str) -> str:
    def _proc(m: re.Match) -> str:
        body = re.sub(r"\\quad\s*\([^)]*\)", "", m.group(1)).strip()
        return r"\[" + body + r"\]"

    return re.sub(r"\\\[(.*?)\\\]", _proc, s)


# --------------------------------------------------------------------------
# latex -> plain text (stand-in for pylatexenc LatexNodes2Text, used by
# N2/N12).  Tries pylatexenc when installed; otherwise a deterministic
# macro-table converter sufficient for the synthetic fixture latex set.
# --------------------------------------------------------------------------

try:  # pragma: no cover - not present in this container
    from pylatexenc.latex2text import LatexNodes2Text  # type: ignore

    def latex_to_text(s: str) -> str:
        return LatexNodes2Text().latex_to_text(s)

except ImportError:
    _GREEK = {
        "alpha": "\u03b1", "beta": "\u03b2", "gamma": "\u03b3", "delta": "\u03b4",
        "epsilon": "\u03b5", "zeta": "\u03b6", "eta": "\u03b7", "theta": "\u03b8",
        "lambda": "\u03bb", "mu": "\u03bc", "pi": "\u03c0", "rho": "\u03c1",
        "sigma": "\u03c3", "tau": "\u03c4", "phi": "\u03c6", "chi": "\u03c7",
        "psi": "\u03c8", "omega": "\u03c9", "Gamma": "\u0393", "Delta": "\u0394",
        "Sigma": "\u03a3", "Omega": "\u03a9", "Pi": "\u03a0",
    }
    _SYM = {
        "times": "\u00d7", "pm": "\u00b1", "leq": "\u2264", "geq": "\u2265",
        "neq": "\u2260", "approx": "\u2248", "cdot": "\u22c5", "infty": "\u221e",
        "sum": "\u2211", "prod": "\u220f", "int": "\u222b", "partial": "\u2202",
        "nabla": "\u2207", "sqrt": "\u221a", "rightarrow": "\u2192",
        "leftarrow": "\u2190", "to": "\u2192", "in": "\u2208", "ldots": "...",
        "dots": "...", "quad": " ", "qquad": "  ",
    }
    _SUPS = str.maketrans("0123456789+-=()ni", "\u2070\u00b9\u00b2\u00b3\u2074\u2075\u2076\u2077\u2078\u2079\u207a\u207b\u207c\u207d\u207e\u207f\u2071")
    _SUBS = str.maketrans("0123456789+-=()", "\u2080\u2081\u2082\u2083\u2084\u2085\u2086\u2087\u2088\u2089\u208a\u208b\u208c\u208d\u208e")

    def _script(body: str, table) -> str:
        conv = body.translate(table)
        return conv if conv != body or all(ch.translate(table) != ch for ch in body) else body

    def latex_to_text(s: str) -> str:
        """Deterministic latex -> unicode-ish text (pylatexenc stand-in)."""
        s = re.sub(r"\\(?:mathrm|mathbf|mathit|text|textbf|textit|operatorname)\{([^{}]*)\}", r"\1", s)
        s = re.sub(r"\\frac\{([^{}]*)\}\{([^{}]*)\}", r"\1/\2", s)

        def _macro(m: re.Match) -> str:
            name = m.group(1)
            return _GREEK.get(name) or _SYM.get(name) or name

        s = re.sub(r"\\([A-Za-z]+)", _macro, s)
        s = re.sub(r"\^\{([^{}]*)\}", lambda m: _script(m.group(1), _SUPS), s)
        s = re.sub(r"_\{([^{}]*)\}", lambda m: _script(m.group(1), _SUBS), s)
        s = re.sub(r"\^(\S)", lambda m: _script(m.group(1), _SUPS), s)
        s = re.sub(r"_(\S)", lambda m: _script(m.group(1), _SUBS), s)
        s = s.replace("{", "").replace("}", "")
        return s


# --------------------------------------------------------------------------
# N2 textblock2unicode — data_preprocess.py:76-100
# inline $..$ / \(..\) whose content (escapes removed) still has \ ^ _
# gets converted to unicode text in place.
# --------------------------------------------------------------------------

_INLINE_RE = re.compile(r"\$(.*?)\$|\\\((.*?)\\\)")


def textblock2unicode(text: str) -> str:
    repls = []
    for m in _INLINE_RE.finditer(text):
        content = m.group(1) if m.group(1) is not None else m.group(2)
        clean = re.sub(r"\\([\\_&%^])", "", content)
        if any(ch in clean for ch in "\\^_"):
            if clean.endswith("\\"):
                clean += " "
            try:
                uni = latex_to_text(clean)
            except Exception:
                continue
            repls.append((m.start(), m.end(), uni))
    for start, end, uni in sorted(repls, reverse=True):
        text = text[:start] + uni.strip() + text[end:]
    return text


# --------------------------------------------------------------------------
# N3 normalized_formula — data_preprocess.py:102-137
# --------------------------------------------------------------------------

_FORMULA_FILTER = [
    "\\mathbf", "\\mathrm", "\\mathnormal", "\\mathit", "\\mathbb", "\\mathcal",
    "\\mathscr", "\\mathfrak", "\\mathsf", "\\mathtt",
    "\\textbf", "\\text", "\\boldmath", "\\boldsymbol", "\\operatorname", "\\bm",
    "\\symbfit", "\\mathbfcal", "\\symbf", "\\scriptscriptstyle", "\\notag",
    "\\setlength", "\\coloneqq", "\\space", "\\thickspace", "\\thinspace",
    "\\medspace", "\\nobreakspace", "\\negmedspace",
    "\\quad", "\\qquad", "\\enspace", "\\substackw",
    " ", "$$", "\\left", "\\right", "\\displaystyle", "\\text",
]


def normalized_formula(text: str) -> str:
    text = text.strip().strip("$").strip("\n")
    m = re.search(r"\\\[(.+?)(?<!\\)\\\]", text)
    if m:
        text = m.group(1).strip()
    for pat in (r"\\tag\{.*?\}", r"\\hspace\{.*?\}", r"\\begin\{.*?\}",
                r"\\end\{.*?\}", r"\\arraycolsep.*?\}"):
        text = re.sub(pat, "", text)
    text = text.strip(".")
    for tok in _FORMULA_FILTER:
        text = text.replace(tok, "")
    return text.lower()


# --------------------------------------------------------------------------
# N4 normalized_html_table — data_preprocess.py:139-207
# bs4-free re-expression: tag rewrites via regex on well-formed table html.
# --------------------------------------------------------------------------


def _th_to_td(s: str) -> str:
    s = re.sub(r"<th(\s[^>]*)?>", lambda m: "<td%s>" % (m.group(1) or ""), s)
    return s.replace("</th>", "</td>")


def normalized_html_table(text: str) -> str:
    if "<table" not in text.replace(" ", "").replace("'", '"'):
        return ""
    s = _th_to_td(text)
    s = re.sub(r"</?thead(\s[^>]*)?>", "", s)
    s = re.sub(
        r"<math\b([^>]*)>.*?</math>",
        lambda m: "$%s$" % (re.search(r'alttext="([^"]*)"', m.group(1) or "").group(1)
                            if re.search(r'alttext="([^"]*)"', m.group(1) or "") else ""),
        s, flags=re.DOTALL)
    s = re.sub(r"</?span(\s[^>]*)?>", "", s)
    s = _html.unescape(s).replace("\n", "")
    s = unicodedata.normalize("NFKC", s).strip()
    tables = re.findall(r"<table\b[^>]*>(.*)</table>", s, re.DOTALL | re.IGNORECASE)
    s = "".join(tables)
    for attr in ("style", "height", "width", "align", "class"):
        s = re.sub('( %s=".*?")' % attr, "", s)
    s = re.sub("</?tbody>", "", s)
    s = re.sub(r"\s+", " ", s)
    s = '<html><body><table border="1" >' + s + "</table></body></html>"
    # clean_table pass (data_preprocess.py:194-203)
    for tag in ("sup", "sub", "span", "div", "p"):
        s = s.replace("<%s>" % tag, "").replace("</%s>" % tag, "")
    s = s.replace('<spandata-span-identity="">', "")
    s = re.sub("<colgroup>.*?</colgroup>", "", s)
    return s


# --------------------------------------------------------------------------
# N5 normalized_latex_table — data_preprocess.py:209-305.  The reference
# shells out to latexmlc; here a deterministic pure-python tabular->html
# conversion (rows on \\, cells on &, \multicolumn -> colspan), then N4.
# --------------------------------------------------------------------------


def latex_tabular_to_html(latex: str) -> str:
    m = re.search(r"\\begin\{tabular\}(\{[^}]*\})?(.*)\\end\{tabular\}", latex, re.DOTALL)
    if not m:
        return ""
    body = m.group(2)
    body = re.sub(r"\\(?:top|mid|bottom)rule(\[.*?\])?", "", body)
    body = re.sub(r"\\[hc]line(\{[^}]*\})?", "", body)
    body = re.sub(r"\\cmidrule(\[.*?\])?(\(.*?\))?\{[^}]*\}", "", body)
    rows = [r.strip() for r in re.split(r"\\\\", body) if r.strip()]
    out = ["<table>"]
    for row in rows:
        cells = [c.strip() for c in row.split("&")]
        tds = []
        for cell in cells:
            mc = re.match(r"\\multicolumn\{(\d+)\}\{[^}]*\}\{(.*)\}$", cell, re.DOTALL)
            if mc:
                tds.append('<td colspan="%s">%s</td>' % (mc.group(1), mc.group(2).strip()))
            else:
                cell = re.sub(r"\\(?:textbf|textit|text)\{([^{}]*)\}", r"\1", cell)
                tds.append("<td>%s</td>" % cell)
        out.append("<tr>" + "".join(tds) + "</tr>")
    out.append("</table>")
    return "".join(out)


def normalized_latex_table(text: str) -> str:
    matches = re.findall(r"\\begin\{tabular\}.*?\\end\{tabular\}", text, re.DOTALL)
    html_parts = [latex_tabular_to_html(t) for t in matches]
    return normalized_html_table("\n".join(p for p in html_parts if p))


def normalized_table(text: str, fmt: str = "html") -> str:
    if fmt == "html":
        return normalized_html_table(text)
    if fmt == "latex":
        return normalized_latex_table(text)
    raise ValueError("Invalid format: %s" % fmt)


# --------------------------------------------------------------------------
# N8 olmocr normalize_text — olmocr/olmocr/bench/tests.py:116-146
# --------------------------------------------------------------------------

_N8_REPL = {
    "\u2018": "'", "\u2019": "'", "\u201a": "'", "\u201c": '"', "\u201d": '"',
    "\u201e": '"', "\uff3f": "_", "\u2013": "-", "\u2014": "-", "\u2011": "-",
    "\u2012": "-", "\u2212": "-", "\u00b5": "\u03bc",
}


def olmocr_normalize_text(s: str) -> str:
    s = re.sub(r"<br/?>", " ", s)
    s = re.sub(r"\s+", " ", s)
    s = re.sub(r"\*\*(.*?)\*\*", r"\1", s)
    s = re.sub(r"__(.*?)__", r"\1", s)
    s = re.sub(r"</?b>", "", s)
    s = re.sub(r"</?i>", "", s)
    s = re.sub(r"\*(.*?)\*", r"\1", s)
    s = re.sub(r"_(.*?)_", r"\1", s)
    s = unicodedata.normalize("NFC", s)
    for k, v in _N8_REPL.items():
        s = s.replace(k, v)
    return s


def olmocr_normalize_text_col(c: Column) -> Column:
    c = F.regexp_replace(c, F.lit("<br/?>"), F.lit(" "))
    c = F.regexp_replace(c, F.lit(r"\s+"), F.lit(" "))
    c = F.regexp_replace(c, F.lit(r"\*\*(.*?)\*\*"), F.lit("$1"))
    c = F.regexp_replace(c, F.lit("__(.*?)__"), F.lit("$1"))
    c = F.regexp_replace(c, F.lit("</?b>"), F.lit(""))
    c = F.regexp_replace(c, F.lit("</?i>"), F.lit(""))
    c = F.regexp_replace(c, F.lit(r"\*(.*?)\*"), F.lit("$1"))
    c = F.regexp_replace(c, F.lit("_(.*?)_"), F.lit("$1"))
    c = F.translate(c, "".join(_N8_REPL.keys()), "".join(_N8_REPL.values()))
    return c


# --------------------------------------------------------------------------
# N9 formula whitespace normalizer — dataset/recog_dataset.py:148-163
# iterated removal of whitespace at letter/non-letter boundaries.
# --------------------------------------------------------------------------


def normalize_formula_ws(s: str) -> str:
    prev = None
    while prev != s:
        prev = s
        s = re.sub(r"([^A-Za-z])\s+([A-Za-z])", r"\1\2", s)
        s = re.sub(r"([A-Za-z])\s+([^A-Za-z])", r"\1\2", s)
        s = re.sub(r"([^A-Za-z])\s+([^A-Za-z])", r"\1\2", s)
    return s


# --------------------------------------------------------------------------
# N11 markdown escape — OmniDocBench/utils/ocr_utils.py:107-115
# --------------------------------------------------------------------------


def md_escape(s: str) -> str:
    for ch in ("*", "`", "~", "$"):
        s = s.replace(ch, "\\" + ch)
    return s


# --------------------------------------------------------------------------
# N13 dehyphenation — PDF/column line-break hyphen repair.
# Extracted PDF text carries typographic line-break hyphens
# ("exam-\nple" -> "example"); every extraction stack repairs them
# before tokenization.  Two rules, applied in order:
#   1. letter "-" optional-spaces newline optional-spaces letter  ->
#      join (drop hyphen + break)
#   2. soft hyphens (U+00AD) are always discarded.
# Restricted to [a-z] on both sides so a numeric range ("3-\n4") or
# an em-dash context is never joined.  Same pattern string compiles
# in Java regex (Spark) and in Python re; replacement backreference
# syntax is the only dialect split ($1$2 vs \1\2), handled per engine.
# --------------------------------------------------------------------------

_DEHYPHEN_RE = r"([a-z])- *\n *([a-z])"
_SOFT_HYPHEN = "­"


def dehyphenate(s: str) -> str:
    s = s.replace(_SOFT_HYPHEN, "")
    return re.sub(_DEHYPHEN_RE, r"\1\2", s)


def dehyphenate_col(c: Column) -> Column:
    c = F.replace(c, F.lit(_SOFT_HYPHEN))
    return F.regexp_replace(c, F.lit(_DEHYPHEN_RE), F.lit("$1$2"))
