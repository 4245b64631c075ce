"""Markdown span parser (SURVEY.md §2.3 P1-P7).

Re-expression of the reference's ``md_tex_filter`` master parser
(OmniDocBench/utils/extract.py:111-392) and its helpers: balanced
``\\begin{tabular}`` / ``<table>`` scanners (extract.py:18-56,483-521),
display-formula extraction + delimiter normalization (extract.py:201-256),
pipe-table -> HTML conversion (utils/table_utils.py:76-239), code blocks
(extract.py:282-296) and paragraph split (extract.py:335-382).

The parser is pure Python string scanning; it runs per page inside the
evaluation's match pass (``eval_harness.match_page``) and the md2md
plan, so it has no Spark surface of its own.
"""

from __future__ import annotations

import re

from ..functions.normalize import md_preclean

# ---- regexes (parity with extract.py:62-109) -----------------------------

DISPLAY_RE = re.compile(
    r"\$\$(.*?)\$\$|" r"\\\[(.*?)\\\]|" r"\$(.*?)\$|" r"\\\((.*?)\\\)", re.DOTALL
)
MD_TABLE_ROW_RE = re.compile(r"\|\s*.*?\s*\|\n", re.DOTALL)
HTML_TABLE_RE = re.compile(r"(<table.*?</table>)", re.DOTALL)
CODE_BLOCK_RE = re.compile(r"```(\w+)\n(.*?)```", re.DOTALL)
_DOLLAR_SUB_RE = re.compile(r"\$\$(.*?)\$\$|\$(.*?)\$|\\\((.*?)\\\)", re.DOTALL)


def _balanced_scan(text: str, begin_pat: str, end_pat: str) -> tuple[list[str], list[tuple[int, int]]]:
    """Outermost balanced begin..end blocks (extract.py:18-56 semantics).

    Returns (blocks, positions).  Unclosed opens recurse past the first
    dangling begin, as the reference does.
    """
    begin_re = re.compile(begin_pat)
    end_re = re.compile(end_pat)
    blocks: list[str] = []
    positions: list[tuple[int, int]] = []
    pos = 0
    stack: list[int] = []
    end_len = len(end_pat.replace("\\", ""))  # advance step, like reference's len(end_pattern)
    while pos < len(text):
        bm = begin_re.search(text, pos)
        em = end_re.search(text, pos)
        if not bm and not em:
            break
        if bm and (not em or bm.start() < em.start()):
            stack.append(bm.start())
            pos = bm.start() + end_len
        elif em:
            if stack:
                start = stack.pop()
                if not stack:
                    end = em.end()
                    blocks.append(text[start:end])
                    positions.append((start, end))
            pos = em.end()
        else:
            pos += 1
    if stack:
        # skip the dangling open and rescan the remainder
        new_start = stack[0] + 1
        sub_blocks, sub_pos = _balanced_scan(text[new_start:], begin_pat, end_pat)
        blocks.extend(sub_blocks)
        positions.extend((s + new_start, e + new_start) for s, e in sub_pos)
    return blocks, positions


def extract_tex_tables(content: str) -> tuple[list[str], list[tuple[int, int]]]:
    """\\begin{table}..\\end{table} blocks + balanced nested tabulars."""
    tables, positions = [], []
    blanked = content
    for m in re.finditer(r"\\begin\{table\}(.*?)\\end\{table\}", content, re.DOTALL):
        tables.append(m.group(0))
        positions.append((m.start(), m.end()))
        blanked = blanked[: m.start()] + " " * (m.end() - m.start()) + blanked[m.end():]
    tabs, tab_pos = _balanced_scan(blanked, r"\\begin\{tabular\}", r"\\end\{tabular\}")
    merged = sorted(zip(positions + tab_pos, tables + tabs), key=lambda x: x[0][0])
    return [t for _, t in merged], [p for p, _ in merged]


def extract_html_tables(content: str) -> tuple[list[str], list[tuple[int, int]]]:
    return _balanced_scan(content, r"<table(?:[^>]*)>", r"</table>")


def markdown_table_to_html(block: str) -> str:
    """One pipe-table block -> thead/tbody html, 2/4/6-space indents
    (table_utils.py:76-95 markdown_to_html — whitespace is part of the
    downstream byte contract)."""
    rows = [r.strip() for r in block.strip().split("\n")]
    out = "<table>\n  <thead>\n    <tr>\n"
    for cell in (c.strip() for c in rows[0].split("|")[1:-1]):
        out += f"      <th>{cell}</th>\n"
    out += "    </tr>\n  </thead>\n  <tbody>\n"
    for row in rows[2:]:
        out += "    <tr>\n"
        for cell in (c.strip() for c in row.split("|")[1:-1]):
            out += f"      <td>{cell}</td>\n"
        out += "    </tr>\n"
    out += "  </tbody>\n</table>\n"
    return out


_MD_TABLE_MODE_RE = re.compile(r"-*?:|---|:-*?")


def _is_md_separator_line(line: str) -> bool:
    """find_md_table_mode (table_utils.py:129-132): separator-ish lines
    (converted '---' header cells included) drop during the merge."""
    return bool(_MD_TABLE_MODE_RE.search(line))


def _merge_table_block(block: str) -> str:
    """merge_tables (table_utils.py:139-166): strip comments, collapse
    every inner <table> block to its rows (th->td, no table/thead/tbody
    tags), rewrap once, pad with blank lines."""
    block = re.sub(r"<!--[\s\S]*?-->", "", block)
    out_lines: list[str] = []
    for tbl in re.findall(r"<table>[\s\S]*?</table>", block):
        lines = tbl.split("\n")
        lines = [ln.replace("<th>", "<td>").replace("</th>", "</td>")
                 if "<th>" in ln else ln for ln in lines]
        kept = [ln for ln in lines if not re.search(r"</?t(able|head|body)>", ln)]
        if len(kept) > 2:
            out_lines.extend(kept)
    return "\n\n<table>\n%s\n</table>\n\n" % "\n".join(out_lines)


def _merge_adjacent_tables(content: str) -> str:
    """replace_table_with_placeholder (table_utils.py:168-222): a
    line-lookbehind state machine that fuses runs of adjacent mini
    tables (one per original pipe row) into one table block, dropping
    separator rows and </thead> remnants."""
    lines = content.split("\n")
    out: list[str] = []
    in_block = False
    block = ""
    last = ""
    for line in lines:
        if "<table>" in line:
            in_block = True
            block += last
        elif in_block:
            if not _is_md_separator_line(last) and "</thead>" not in last:
                block += "\n" + last
            if "</table>" in last and "<table>" not in line:
                in_block = False
                out.append(_merge_table_block(block))
                block = ""
        else:
            out.append(last)
        last = line
    if last:
        if in_block or "</table>" in last:
            block += "\n" + last
            out.append(_merge_table_block(block))
        else:
            out.append(last)
    return "\n".join(out)


def convert_md_tables_in_content(content: str) -> str:
    """Full pipe-table -> html pass (table_utils.py:224-239
    convert_markdown_to_html): every pipe ROW becomes a mini html table
    via str.replace (first occurrence), adjacent minis merge, then
    border/colspan/rowspan attributes are stamped on."""
    content = content.replace("\r", "") + "\n"
    for match in MD_TABLE_ROW_RE.findall(content):
        content = content.replace(match, markdown_table_to_html(match), 1)
    content = _merge_adjacent_tables(content)
    content = content.replace("<table>", '<table border="1" >')
    return content.replace("<td>", '<td colspan="1" rowspan="1">')


def _blank(content: str, start: int, end: int) -> str:
    return content[:start] + " " * (end - start) + content[end:]


def md_tex_filter(content: str) -> list[dict]:
    """Parse one page of markdown into categorized spans.

    Output: list of dicts {category_type, position:[s,e], content,
    fine_category_type?, language?} sorted by start position — the
    flattened form of extract.py:387-392's defaultdict.
    """
    content = md_preclean(content)
    spans: list[dict] = []

    # latex tables (P2)
    tex_tables, tex_pos = extract_tex_tables(content)
    for tbl, (s, _e) in zip(tex_tables, tex_pos):
        e = s + len(tbl)
        spans.append({"category_type": "latex_table", "position": [s, e], "content": tbl})
        content = _blank(content, s, e)

    # html tables (P3)
    html_tables, html_pos = extract_html_tables(content)
    for tbl, (s, _e) in zip(html_tables, html_pos):
        e = s + len(tbl)
        spans.append({"category_type": "html_table", "position": [s, e], "content": tbl})
        content = _blank(content, s, e)

    # display formulas (P4) — normalize $$..$$ to \[..\]; $..$/\(..\) tagged inline
    for m in DISPLAY_RE.finditer(content):
        matched = m.group(0)
        if not matched:
            continue
        single_line = " ".join(matched.strip().split("\n"))
        s, e = m.start(), m.end()
        sub = _DOLLAR_SUB_RE.search(single_line)
        if sub is None:
            content = _blank(content, s, e)
            spans.append({"category_type": "equation_isolated", "position": [s, e],
                          "content": single_line})
        elif sub.group(1):
            single_line = _DOLLAR_SUB_RE.sub(r"\\[\1\\]", single_line)
            content = _blank(content, s, e)
            spans.append({"category_type": "equation_isolated", "position": [s, e],
                          "content": single_line})
        else:
            single_line = _DOLLAR_SUB_RE.sub(r"\\[\2\3\\]", single_line)
            spans.append({"category_type": "equation_isolated", "position": [s, e],
                          "content": single_line, "fine_category_type": "equation_inline"})

    # markdown pipe tables (P5): >=2 pipe rows -> convert, rescan as html
    if len(MD_TABLE_ROW_RE.findall(content + "\n")) >= 2:
        content = convert_md_tables_in_content(content)
        for m in HTML_TABLE_RE.finditer(content):
            s, e = m.start(), m.end()
            content = _blank(content, s, e)
            spans.append({"category_type": "html_table", "position": [s, e],
                          "content": m.group(0).strip(),
                          "fine_category_type": "md2html_table"})

    # code blocks (P6)
    for m in CODE_BLOCK_RE.finditer(content):
        s, e = m.start(), m.end()
        content = _blank(content, s, e)
        spans.append({"category_type": "text_all", "position": [s, e],
                      "content": m.group(2).strip(), "language": m.group(1),
                      "fine_category_type": "code"})

    # latex style unwrap (extract.py:329-333)
    content = re.sub(r"\\title\{(.*?)\}", r"\1", content)
    content = re.sub(r"\\title\s*\{\s*(.*?)\s*\}", r"\1", content, flags=re.DOTALL)
    content = re.sub(r"\\text\s*\{\s*(.*?)\s*\}", r"\1", content, flags=re.DOTALL)
    content = re.sub(r"\\section\*?\{(.*?)\}", r"\1", content)
    content = re.sub(r"\\section\*?\{\s*(.*?)\s*\}", r"\1", content, flags=re.DOTALL)

    # paragraph split (P7): \n\n, fallback \n
    paras = content.split("\n\n")
    if len(paras) == 1:
        paras = content.split("\n")
    pos_cursor = 0
    for para in paras:
        position = [pos_cursor, pos_cursor + len(para)]
        pos_cursor += len(para)
        text = para.strip().strip("\n")
        text = "\n".join(x.strip() for x in text.split("\n") if x.strip())
        if not text:
            continue
        if text.startswith("<table") and text.endswith("</table>"):
            spans.append({"category_type": "html_table", "position": position, "content": text})
        elif text.startswith("$") and text.endswith("$"):
            if text.replace("$", "").strip():
                spans.append({"category_type": "equation_isolated", "position": position,
                              "content": text.strip()})
        else:
            spans.append({"category_type": "text_all", "position": position,
                          "content": text, "fine_category_type": "text_block"})

    return sorted(spans, key=lambda x: x["position"][0])
