"""HTML -> markdown main-content extraction (the north-rule pipeline core).

A from-scratch boilerplate-stripping extractor in the spirit of the
reference's production pipeline (olmocr/olmocr/pipeline.py turns page
blobs into markdown documents; the DOM/text-density approach follows the
published Boilerpipe/jusText line of work):

  1. parse HTML into a lightweight DOM (stdlib html.parser — no bs4/lxml
     in this container);
  2. prune structural noise (script/style/nav/ads...) plus a
     link-density + text-length heuristic on block candidates;
  3. resolve reading order — document order, with absolutely-positioned
     blocks re-ordered by (top, left), the P10 span-sort semantics
     (OmniDocBench/utils/ocr_utils.py:7-77) transplanted to CSS coords;
  4. serialize headings/paragraphs/lists/tables/code/formulas to
     deterministic markdown.

The whole thing is a pure function str -> str, exposed to Spark as an
Arrow-batched pandas UDF over the pages table's ``html: binary`` column
(input_hint shape), run in the scan's own partitions (``extract_pages``).
Determinism is a hard invariant: the byte-identical "extracted text per
url" check depends on it.  For the pipeline's ``page_md`` stage the same
kernel also returns each page's ``textstats.text_counts``
(``extract_any_udf(counts=True)``), so the documents stage needs no
JVM regex pass over the markdown; ``extract_pages`` does not count.

Giant-blob routing (giants round-robin, small rows hash-salted) was
measured and dropped: it scanned the html twice, shuffled it, and ran
perfbench ``extract``'s one-split input as 12 Python tasks to protect 4
giant pages of ~0.12 CPU-s each.  Without it ``rows_per_cpu_s`` rose
x1.33 (median of 10 alternating pairs, 10/10 better).  The stage tail
is now one scan split (32 MB, ``session.py``): a small table whose
giants all share one parquet row group runs them in one task (sf0.1
sorted by category, 4 cores: 301-343 docs/s against the router's
473-529; as written 582-597 against 438-447).
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pdf_extract import extract_pdf_pages
from .textstats import TEXT_COUNTS_TYPE, text_counts

# ---- tunables (frozen; changing any of these breaks byte parity) ---------

NOISE_TAGS = frozenset(
    "head title script style noscript template iframe svg canvas form button select option input textarea".split()
)
STRUCTURAL_NOISE_TAGS = frozenset("nav aside".split())
NOISE_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(nav|navbar|menu|sidebar|footer|header|banner|advert|ads?|promo|breadcrumbs?|cookie|social|share|comments?)(?:$|[\s_-])",
    re.IGNORECASE,
)
LINK_DENSITY_MAX = 0.5       # blocks denser than this are boilerplate...
LINK_DENSITY_MIN_TEXT = 200  # ...unless they carry this much text
VOID_TAGS = frozenset("br hr img meta link input area base col embed source track wbr".split())
BLOCK_TAGS = frozenset(
    "p div section article main h1 h2 h3 h4 h5 h6 ul ol li table thead tbody tr pre blockquote figure header footer".split()
)


class Node:
    __slots__ = ("tag", "attrs", "children", "text")

    def __init__(self, tag: str, attrs: Optional[dict] = None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list = []  # Node or str
        self.text = None


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#root")
        self.stack = [self.root]
        self._skip_depth = 0  # inside a NOISE_TAGS subtree

    def handle_starttag(self, tag, attrs):
        if self._skip_depth:
            if tag in NOISE_TAGS and tag not in VOID_TAGS:
                self._skip_depth += 1
            return
        if tag in NOISE_TAGS:
            if tag not in VOID_TAGS:
                self._skip_depth = 1
            return
        node = Node(tag, dict(attrs))
        # implied close: a new <p>/<li>/<tr>/<td> closes an open same-tag
        if tag in ("p", "li", "tr", "td", "th", "option"):
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == tag:
                    del self.stack[i:]
                    break
                if self.stack[i].tag in ("table", "ul", "ol", "#root", "div", "section", "article", "body"):
                    break
        self.stack[-1].children.append(node)
        if tag not in VOID_TAGS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        if self._skip_depth or tag in NOISE_TAGS:
            return
        self.stack[-1].children.append(Node(tag, dict(attrs)))

    def handle_endtag(self, tag):
        if self._skip_depth:
            if tag in NOISE_TAGS:
                self._skip_depth -= 1
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if self._skip_depth or not data:
            return
        self.stack[-1].children.append(data)


# ---- fast tokenizer --------------------------------------------------------
#
# stdlib html.parser spends ~65% of extraction CPU in goahead/updatepos
# (line-number bookkeeping and char-by-char scanning we never use).  This
# regex tokenizer emits the SAME event stream (starttag/startendtag/
# endtag/data with convert_charrefs semantics, script/style CDATA modes,
# comments/decls/PIs/bogus-comments ignored) straight into the tree
# builder.  Equivalence with the stdlib path is pinned by
# tests/test_html_fast_parse.py (full synthetic corpus at every category,
# adversarial fixtures, and a random-junk fuzz sweep); any exception
# falls back to the stdlib parser for the whole document.

_COMMENT_CLOSE = re.compile(r"--\s*>")
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_CLOSE = re.compile(r"]\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_GT = re.compile(r">")
# the stdlib tolerant grammar, reproduced verbatim so both paths accept
# exactly the same start/end-tag shapes (html/parser.py:36-58)
_TAGFIND = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*")
_LOCATESTART = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*
  (?:[\s/]*
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*
      (?:\s*=+\s*
        (?:'[^']*'
          |"[^"]*"
          |(?!['"])[^>\s]*
         )
        \s*
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*
""", re.VERBOSE)
_ENDTAGFIND = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script", re.IGNORECASE),
    "style": re.compile(r"</\s*style", re.IGNORECASE),
}
_MARKED_KEYWORDS = {"temp", "cdata", "ignore", "include", "rcdata"}
_MS_KEYWORDS = {"if", "else", "endif"}


def _fast_feed(b: "_TreeBuilder", html: str) -> None:
    """Single-pass port of html.parser's goahead(end=1) event loop —
    same tolerant regex grammar, same recovery rules, minus the
    line/column bookkeeping (updatepos) and feed-buffer management that
    dominate stdlib parse time.  Two deliberate divergences: invalid
    marked sections (``<![`` with an unknown keyword), where the stdlib
    path RAISES from _markupbase, are treated as bogus comments here;
    and feed() chunk boundaries don't exist, so data chunking can differ
    (content is identical — test_html_fast_parse pins both)."""
    n = len(html)
    pos = 0
    data = b.handle_data
    find = html.find
    startswith = html.startswith
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            t = html[pos:]
            data(unescape(t) if "&" in t else t)
            break
        if lt > pos:
            t = html[pos:lt]
            data(unescape(t) if "&" in t else t)
        pos = lt
        c = html[pos + 1:pos + 2]
        if c and ("a" <= c <= "z" or "A" <= c <= "Z"):
            k = _fast_starttag(b, html, pos)
            if isinstance(k, tuple):  # script/style: consume CDATA
                pos = _fast_cdata(b, html, k[0], k[1])
                continue
        elif c == "/":
            k = _fast_endtag(b, html, pos)
        elif startswith("<!--", pos):
            m = _COMMENT_CLOSE.search(html, pos + 4)
            k = m.end() if m else -1
        elif c == "?":
            gt = find(">", pos + 2)
            k = gt + 1 if gt >= 0 else -1
        elif c == "!":
            k = _fast_decl(html, pos)
        else:
            data("<")
            pos += 1
            continue
        if k < 0:
            # goahead end=1 recovery: emit through the next '>' (else
            # the next '<', else one char) as charref-converted data
            k = find(">", pos + 1)
            if k < 0:
                k = find("<", pos + 1)
                if k < 0:
                    k = pos + 1
            else:
                k += 1
            chunk = html[pos:k]
            data(unescape(chunk) if "&" in chunk else chunk)
        pos = k


def _fast_starttag(b, html, i):
    """parse_starttag + check_for_whole_start_tag (html/parser.py:308-373).
    Returns new pos, -1 (incomplete), or ('cdata-start-pos', tag)."""
    m = _LOCATESTART.match(html, i)
    j = m.end()
    nxt = html[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if html.startswith("/>", j):
            endpos = j + 2
        else:
            return -1
    elif nxt == "":
        return -1
    elif nxt == "=" or ("a" <= nxt <= "z") or ("A" <= nxt <= "Z"):
        return -1  # ended inside an attribute value at EOF
    else:
        endpos = j if j > i else i + 1
    tm = _TAGFIND.match(html, i + 1)
    tag = tm.group(1).lower()
    k = tm.end()
    attrs = []
    while k < endpos:
        am = _ATTRFIND.match(html, k)
        if am is None:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif attrvalue[:1] == "'" == attrvalue[-1:] or                 attrvalue[:1] == '"' == attrvalue[-1:]:
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()
    end = html[k:endpos].strip()
    if end not in (">", "/>"):
        b.handle_data(html[i:endpos])  # junk in start tag: raw, like stdlib
        return endpos
    if end.endswith("/>"):
        b.handle_startendtag(tag, attrs)
        return endpos
    b.handle_starttag(tag, attrs)
    if tag in _CDATA_CLOSE:
        return (endpos, tag)
    return endpos


def _fast_endtag(b, html, i):
    """parse_endtag outside CDATA (html/parser.py:375-410)."""
    gm = _GT.search(html, i + 1)
    if gm is None:
        return -1
    gtpos = gm.end()
    m = _ENDTAGFIND.match(html, i)
    if m is None:
        nm = _TAGFIND.match(html, i + 2)
        if nm is None:
            if html[i:i + 3] == "</>":
                return i + 3
            p = html.find(">", i + 2)  # bogus comment
            return p + 1 if p >= 0 else -1
        tagname = nm.group(1).lower()
        gtpos = html.find(">", nm.end())
        b.handle_endtag(tagname)
        return gtpos + 1
    b.handle_endtag(m.group(1).lower())
    return gtpos


def _fast_decl(html, i):
    """parse_html_declaration (comments are dispatched earlier).
    Declarations/PIs/marked sections produce no builder events."""
    if html.startswith("<![", i):
        dm = _DECLNAME.match(html, i + 3)
        name = dm.group().strip().lower() if dm else None
        if name in _MARKED_KEYWORDS:
            mm = _MARKED_CLOSE.search(html, i + 3)
        elif name in _MS_KEYWORDS:
            mm = _MS_MARKED_CLOSE.search(html, i + 3)
        else:
            # stdlib RAISES here (_markupbase.py:155); treat as bogus
            mm = None
            p = html.find(">", i + 2)
            return p + 1 if p >= 0 else -1
        return mm.end() if mm else -1
    if html[i:i + 9].lower() == "<!doctype":
        p = html.find(">", i + 9)
        return p + 1 if p >= 0 else -1
    p = html.find(">", i + 2)  # bogus comment
    return p + 1 if p >= 0 else -1


def _fast_cdata(b, html, pos, tag):
    """script/style content mode (set_cdata_mode + parse_endtag's
    cdata_elem branches): raw data, only the matching end tag closes."""
    n = len(html)
    closer = _CDATA_CLOSE[tag]
    while pos < n:
        cm = closer.search(html, pos)
        if cm is None:
            b.handle_data(html[pos:])
            return n
        if cm.start() > pos:
            b.handle_data(html[pos:cm.start()])
        i = cm.start()
        gm = _GT.search(html, i + 1)
        if gm is None:
            # EOF recovery inside CDATA: raw chunk through next '<'
            k = html.find("<", i + 1)
            k = k if k >= 0 else i + 1
            b.handle_data(html[i:k])
            pos = k
            continue
        m = _ENDTAGFIND.match(html, i)
        if m is not None and m.group(1).lower() == tag:
            b.handle_endtag(tag)
            return gm.end()
        # a non-matching or malformed end tag stays inside the CDATA
        b.handle_data(html[i:gm.end()])
        pos = gm.end()
    return n


def parse_html(html: str, fast: bool = True) -> Node:
    if fast:
        b = _TreeBuilder()
        try:
            _fast_feed(b, html)
            return b.root
        except Exception:
            pass  # fall back to the stdlib parser for the whole doc
    b = _TreeBuilder()
    b.feed(html)
    b.close()
    return b.root


# ---- boilerplate heuristics ------------------------------------------------


def _text_stats(node) -> tuple[int, int]:
    """(total text chars, text chars under <a>) — whitespace-squeezed."""
    if isinstance(node, str):
        n = len(re.sub(r"\s+", " ", node).strip())
        return n, 0
    total = link = 0
    for ch in node.children:
        t, l = _text_stats(ch)
        total += t
        link += l if node.tag != "a" else 0
    if node.tag == "a":
        link = total
    return total, link


def _is_noise(node: Node, in_article: bool = False) -> bool:
    if node.tag in STRUCTURAL_NOISE_TAGS:
        return True
    # page-level header/footer chrome is boilerplate; inside article/main
    # the same tags are content structure (e.g. a table header note).
    if node.tag in ("header", "footer") and not in_article:
        return True
    hint = "%s %s" % (node.attrs.get("class", ""), node.attrs.get("id", ""))
    if hint.strip() and NOISE_CLASS_RE.search(hint):
        return True
    if node.tag in ("div", "section", "ul", "ol", "table", "header", "footer"):
        total, link = _text_stats(node)
        if total and total < LINK_DENSITY_MIN_TEXT and link / total > LINK_DENSITY_MAX:
            return True
    return False


def prune(node: Node, in_article: bool = False) -> Node:
    node.children = [
        ch
        for ch in node.children
        if isinstance(ch, str) or not _is_noise(ch, in_article)
    ]
    for ch in node.children:
        if isinstance(ch, Node):
            prune(ch, in_article or ch.tag in ("article", "main"))
    return node


# ---- reading order ---------------------------------------------------------

_POS_RE = re.compile(r"position\s*:\s*absolute", re.IGNORECASE)
_TOP_RE = re.compile(r"top\s*:\s*(-?[\d.]+)", re.IGNORECASE)
_LEFT_RE = re.compile(r"left\s*:\s*(-?[\d.]+)", re.IGNORECASE)


def order_children(node: Node) -> None:
    """Stable re-order: absolutely positioned siblings sort by (top,left).

    CSS transplant of the span->line->para merge (ocr_utils.py:7-77):
    non-positioned children keep document order; positioned ones are
    ordered by rounded top (line grouping) then left.
    """
    any_positioned = False
    for ch in node.children:
        if isinstance(ch, Node):
            if not any_positioned:
                style = ch.attrs.get("style")
                if style and _POS_RE.search(style):
                    any_positioned = True
            order_children(ch)
    if not any_positioned:
        # common case: no keyed-list allocation, no sort
        return
    keyed = []
    for i, ch in enumerate(node.children):
        key = (0, 0.0, 0.0, i)
        if isinstance(ch, Node):
            style = ch.attrs.get("style", "") or ""
            if _POS_RE.search(style):
                tm, lm = _TOP_RE.search(style), _LEFT_RE.search(style)
                top = float(tm.group(1)) if tm else 0.0
                left = float(lm.group(1)) if lm else 0.0
                key = (1, round(top / 10.0), left, i)
        keyed.append((key, ch))
    # document-order blocks first, then positioned blocks by (line, left)
    keyed.sort(key=lambda kc: kc[0])
    node.children = [c for _, c in keyed]


# ---- markdown serialization -------------------------------------------------


_WS_RUN_RE = re.compile(r"[ \t\r\f\v]+")
_WS_OTHER = ("\t", "\r", "\f", "\v", "  ")


def _inline_text(node) -> str:
    if isinstance(node, str):
        s = node.replace("\n", " ") if "\n" in node else node
        # fast path: already single-spaced (the overwhelmingly common
        # case; the regexp pass on every text node was ~40% of giant-page
        # extraction time)
        if "  " not in s and not any(c in s for c in "\t\r\f\v"):
            return s
        return _WS_RUN_RE.sub(" ", s)
    if node.tag == "br":
        return "\n"
    if node.tag == "img":
        return ""
    body = "".join(_inline_text(ch) for ch in node.children)
    if node.tag in ("strong", "b"):
        return "**%s**" % body.strip() if body.strip() else ""
    if node.tag in ("em", "i"):
        return "*%s*" % body.strip() if body.strip() else ""
    if node.tag == "code":
        return "`%s`" % body if body.strip() else ""
    if node.tag in ("sub", "sup"):
        return "<%s>%s</%s>" % (node.tag, body, node.tag)
    return body


_SQUEEZE_RE = re.compile(r"[ \t]+")


def _squeeze(s: str) -> str:
    if "  " not in s and "\t" not in s:
        return s.strip()
    return _SQUEEZE_RE.sub(" ", s).strip()


def _cell_text(node: Node) -> str:
    return _squeeze(_inline_text(node).replace("\n", " "))


def _table_grid(table: Node) -> tuple[list[list[str]], bool]:
    """Rows of cell texts; regular=False when row/colspan appears."""
    rows: list[list[str]] = []
    regular = True

    def walk_rows(n: Node):
        nonlocal regular
        for ch in n.children:
            if not isinstance(ch, Node):
                continue
            if ch.tag == "tr":
                cells = []
                for cell in ch.children:
                    if isinstance(cell, Node) and cell.tag in ("td", "th"):
                        if cell.attrs.get("rowspan", "1") not in ("", "1") or cell.attrs.get("colspan", "1") not in ("", "1"):
                            regular = False
                        cells.append(_cell_text(cell))
                rows.append(cells)
            elif ch.tag in ("thead", "tbody", "tfoot"):
                walk_rows(ch)

    walk_rows(table)
    if rows and len({len(r) for r in rows}) != 1:
        regular = False
    return rows, regular


def _serialize_table(table: Node) -> str:
    rows, regular = _table_grid(table)
    if not rows:
        return ""
    if regular:
        ncol = len(rows[0])
        out = ["| " + " | ".join(rows[0]) + " |", "|" + " --- |" * ncol]
        out.extend("| " + " | ".join(r) + " |" for r in rows[1:])
        return "\n".join(out)
    # irregular tables keep html, normalized shape
    def ser_row(tr: Node) -> str:
        tds = []
        for cell in tr.children:
            if isinstance(cell, Node) and cell.tag in ("td", "th"):
                attrs = ""
                for a in ("colspan", "rowspan"):
                    v = cell.attrs.get(a)
                    if v and v != "1":
                        attrs += ' %s="%s"' % (a, v)
                tds.append("<td%s>%s</td>" % (attrs, _cell_text(cell)))
        return "<tr>" + "".join(tds) + "</tr>"

    trs = []

    def walk(n: Node):
        for ch in n.children:
            if isinstance(ch, Node):
                if ch.tag == "tr":
                    trs.append(ser_row(ch))
                elif ch.tag in ("thead", "tbody", "tfoot"):
                    walk(ch)

    walk(table)
    return "<table>" + "".join(trs) + "</table>"


def _blocks(node: Node, out: list[str], list_depth: int = 0) -> None:
    for ch in node.children:
        if isinstance(ch, str):
            txt = _squeeze(ch)
            if txt:
                out.append(txt)
            continue
        tag = ch.tag
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            txt = _squeeze(_inline_text(ch).replace("\n", " "))
            if txt:
                out.append("#" * int(tag[1]) + " " + txt)
        elif tag == "p":
            txt = "\n".join(_squeeze(x) for x in _inline_text(ch).split("\n"))
            txt = re.sub(r"\n{2,}", "\n", txt).strip()
            if txt:
                out.append(txt)
        elif tag in ("ul", "ol"):
            items = []
            idx = 1
            for li in ch.children:
                if isinstance(li, Node) and li.tag == "li":
                    txt = _squeeze(_inline_text(li).replace("\n", " "))
                    if not txt:
                        continue
                    prefix = "- " if tag == "ul" else "%d. " % idx
                    items.append("  " * list_depth + prefix + txt)
                    idx += 1
            if items:
                out.append("\n".join(items))
        elif tag == "table":
            t = _serialize_table(ch)
            if t:
                out.append(t)
        elif tag == "pre":
            lang = ""
            body = None
            for sub in ch.children:
                if isinstance(sub, Node) and sub.tag == "code":
                    cls = sub.attrs.get("class", "") or ""
                    m = re.search(r"language-(\w+)", cls)
                    lang = m.group(1) if m else ""
                    body = "".join(c if isinstance(c, str) else _inline_text(c) for c in sub.children)
                    break
            if body is None:
                body = "".join(c if isinstance(c, str) else _inline_text(c) for c in ch.children)
            body = body.strip("\n")
            out.append("```%s\n%s\n```" % (lang, body))
        elif tag == "blockquote":
            inner: list[str] = []
            _blocks(ch, inner, list_depth)
            if inner:
                out.append("\n".join("> " + line for blk in inner for line in blk.split("\n")))
        elif tag == "hr":
            out.append("---")
        elif tag == "dl":
            items = []
            for sub in ch.children:
                if not isinstance(sub, Node):
                    continue
                txt = _squeeze(_inline_text(sub).replace("\n", " "))
                if not txt:
                    continue
                if sub.tag == "dt":
                    items.append("**%s**" % txt)
                elif sub.tag == "dd":
                    items.append(": " + txt)
            if items:
                out.append("\n".join(items))
        elif tag in ("figcaption", "caption"):
            txt = _squeeze(_inline_text(ch).replace("\n", " "))
            if txt:
                out.append("*%s*" % txt)
        else:
            # container: recurse
            _blocks(ch, out, list_depth)


def extract_markdown(html: Optional[str]) -> Optional[str]:
    """Pure html -> markdown main-content extraction (deterministic)."""
    if html is None:
        return None
    root = parse_html(html)
    prune(root)
    order_children(root)
    out: list[str] = []
    _blocks(root, out)
    return "\n\n".join(b for b in out if b)


# ---- Spark surface ----------------------------------------------------------


# the kernel's output: one (page, md) per page -- one for HTML, one per
# content stream for PDF -- exploded by the pipeline's ``page_md`` stage
PAGE_MD_TYPE = T.ArrayType(T.StructType([
    T.StructField("page", T.IntegerType()),
    T.StructField("md", T.StringType()),
]))
# ... and with each page's TEXT_COUNTS (textstats.text_counts of its md,
# all zero for a NULL md), counted in the same Python pass, for the
# documents stage's language, quality and spam decisions
PAGE_MD_COUNTS_TYPE = T.ArrayType(T.StructType(
    PAGE_MD_TYPE.elementType.fields
    + [T.StructField("counts", TEXT_COUNTS_TYPE)]))


def _extract_any(blob: Optional[bytes]) -> Optional[list]:
    """Dispatch on magic bytes: PDF -> one entry per page, HTML -> one.

    Content sniffing: CC-style blob columns mix HTML and PDF; decoding
    PDF bytes as HTML would emit mojibake markdown.  A failing row yields
    ``[(0, None)]`` (NULL md) rather than raising: one poisoned blob (say
    ~1,000 unclosed ``<div>``s, which overflow the recursive walkers)
    must not kill a task at 10^12 rows; the NULL is counted into the
    lineage failure metrics (run_stage failure_col)."""
    if blob is None:
        return None
    try:
        b = bytes(blob)
        if b.startswith(b"%PDF"):
            return list(enumerate(extract_pdf_pages(b)))
        return [(0, extract_markdown(b.decode("utf-8", errors="replace")))]
    except Exception:
        return [(0, None)]


def _extract_counted(blob: Optional[bytes]) -> Optional[list]:
    pages = _extract_any(blob)
    if pages is None:
        return None
    return [(p, md, text_counts(md or "")) for p, md in pages]


def extract_any_udf(counts: bool = False):
    """Arrow-batched UDF over ``_extract_any`` -> PAGE_MD_TYPE, or with
    ``counts`` PAGE_MD_COUNTS_TYPE (built lazily: pandas_udf needs a
    live session)."""
    kernel = _extract_counted if counts else _extract_any

    def _batch(blob: pd.Series) -> pd.Series:
        return blob.map(kernel)

    return F.pandas_udf(_batch, PAGE_MD_COUNTS_TYPE if counts else PAGE_MD_TYPE)


# a "giant" page: perfbench's ``giant_cpu_share`` counts the kernel CPU
# spent on blobs at least this long (2% of the synthetic pages, ~1.5 MB)
BIG_BLOB_BYTES = 256 * 1024


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (url, md, n_chars), one
    row per url, computed in the input's own partitions.

    No repartition: the scan's split sizing already spreads the rows
    (``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    bytes / cores))``, so sf0.1's 37 MB scans as 4 partitions), and a
    small input that scans as one partition is cheaper as one Python
    task, each of which costs ~0.27 CPU-s before its first row."""
    # one md per url: PDF pages joined by blank lines (extract_pdf_markdown),
    # NULL when the blob is NULL or its kernel failed
    md = F.when(~F.exists("pm", lambda p: p["md"].isNull()),
                F.array_join(F.transform("pm", lambda p: p["md"]), "\n\n"))
    return pages.select("url", extract_any_udf()(F.col("html")).alias("pm")) \
        .select("url", md.alias("md")).withColumn("n_chars", F.length("md"))


def page_metadata_cols(html_text: Column) -> dict[str, Column]:
    """Head-metadata extraction as pure Columns (no UDF, RE2-safe
    patterns shared verbatim with the SQL oracle): <title>, meta
    description, rel=canonical href, og:title, and the <html lang>
    attribute — the fields a crawl index keeps per page alongside the
    extracted body.

    Simplification (documented): attributes are matched in their
    conventional order (name/property/rel before content/href), double
    quoted — the dominant form in served HTML; a full attribute parser
    lives in the extractor's tokenizer for body work, but index-side
    metadata wants the cheap single-pass regex."""
    def rx(pat: str) -> Column:
        return F.nullif(F.regexp_extract(html_text, pat, 1), F.lit(""))

    return {
        "title": rx(r"<title[^>]*>([^<]*)</title>"),
        "meta_description":
            rx(r'<meta[^>]*name="description"[^>]*content="([^"]*)"'),
        "canonical_href":
            rx(r'<link[^>]*rel="canonical"[^>]*href="([^"]*)"'),
        "og_title":
            rx(r'<meta[^>]*property="og:title"[^>]*content="([^"]*)"'),
        "html_lang": rx(r'<html[^>]*lang="([^"]*)"'),
    }
