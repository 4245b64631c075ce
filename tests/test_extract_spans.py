"""Span parser (P1-P7): category classification, positions, Spark explode."""

from deepseek_ocr_omnidocbench_spark.operators.extract_spans import (
    convert_md_tables_in_content,
    extract_html_tables,
    extract_tex_tables,
    markdown_table_to_html,
    md_tex_filter,
)


def cats(spans):
    return [s["category_type"] for s in spans]


def test_plain_paragraphs():
    spans = md_tex_filter("Para one.\n\nPara two.")
    assert cats(spans) == ["text_all", "text_all"]
    assert spans[0]["content"] == "Para one."
    assert spans[1]["content"] == "Para two."
    assert spans[0]["position"][0] < spans[1]["position"][0]


def test_single_newline_fallback():
    spans = md_tex_filter("a\nb")
    assert [s["content"] for s in spans] == ["a", "b"]


def test_display_formula_dollar_normalized():
    spans = md_tex_filter("$$E = mc^2$$")
    assert cats(spans) == ["equation_isolated"]
    assert spans[0]["content"] == r"\[E = mc^2\]"


def test_display_formula_bracket():
    spans = md_tex_filter(r"\[ x + y \]")
    assert cats(spans) == ["equation_isolated"]


def test_inline_formula_tagged_and_kept_in_text():
    spans = md_tex_filter("value $x^2$ here")
    inline = [s for s in spans if s.get("fine_category_type") == "equation_inline"]
    assert len(inline) == 1
    text = [s for s in spans if s["category_type"] == "text_all"]
    assert len(text) == 1  # the paragraph survives (inline not blanked)


def test_html_table():
    spans = md_tex_filter("before\n\n<table><tr><td>1</td></tr></table>\n\nafter")
    assert "html_table" in cats(spans)
    tbl = next(s for s in spans if s["category_type"] == "html_table")
    assert tbl["content"].startswith("<table")


def test_nested_html_table_outermost_only():
    src = "<table><tr><td><table><tr><td>i</td></tr></table></td></tr></table>"
    tables, pos = extract_html_tables(src)
    assert len(tables) == 1
    assert tables[0] == src


def test_latex_table():
    src = "x\n\n\\begin{tabular}{ll} a & b \\\\ c & d \\end{tabular}\n\ny"
    spans = md_tex_filter(src)
    assert "latex_table" in cats(spans)


def test_nested_tabular_outermost_only():
    src = (r"\begin{tabular}{l} \begin{tabular}{r} i \end{tabular} \end{tabular}")
    tabs, pos = extract_tex_tables(src)
    assert len(tabs) == 1


def test_markdown_pipe_table_to_html():
    md = "| h1 | h2 |\n| --- | --- |\n| a | b |"
    spans = md_tex_filter(md)
    tables = [s for s in spans if s["category_type"] == "html_table"]
    assert len(tables) == 1
    assert 'border="1"' in tables[0]["content"]
    assert "<td" in tables[0]["content"] and "h1" in tables[0]["content"]
    # separator row must not appear as cells
    assert "---" not in tables[0]["content"]


def test_markdown_table_to_html_unit():
    html = markdown_table_to_html("| a | b |\n|---|---|\n| 1 | 2 |\n")
    assert html.count("<tr>") == 2


def test_convert_md_tables_leaves_other_lines():
    out = convert_md_tables_in_content("text\n| a |\n| b |\nmore")
    # reference parity (table_utils.py:185-190): the line immediately
    # before a pipe table is folded into the table block and dropped by
    # the merge — verified against the reference implementation in
    # tests/test_reference_parity.py; following lines survive.
    assert out.rstrip("\n").endswith("more")
    assert "text" not in out
    assert "<table" in out
    # content separated from the table by a blank line survives
    out2 = convert_md_tables_in_content("text\n\n| a |\n| b |\nmore")
    assert "text" in out2


def test_code_block():
    # reference parity: remove_markdown_fences strips a ``` at line end
    # BEFORE code extraction (data_preprocess.py:15 runs first), so a
    # bare fenced block degrades to text; a fence with a trailing token
    # survives and is extracted as code (extract.py:282-296).
    bare = md_tex_filter("```python\nprint(1)\n```")
    assert all(s.get("fine_category_type") != "code" for s in bare)
    spans = md_tex_filter("```python\nprint(1)\n``` x")
    code = [s for s in spans if s.get("fine_category_type") == "code"]
    assert len(code) == 1
    assert code[0]["language"] == "python"
    assert code[0]["content"] == "print(1)"


def test_image_refs_removed():
    spans = md_tex_filter("before ![alt](img.png) after")
    assert all("![" not in s["content"] for s in spans)


def test_section_macros_unwrapped():
    spans = md_tex_filter(r"\section{Intro}" + "\n\nbody")
    assert spans[0]["content"] == "Intro"


def test_span_positions_and_categories():
    spans = md_tex_filter(
        "Hello.\n\n$$x=1$$\n\n<table><tr><td>c</td></tr></table>")
    got = {s["category_type"] for s in spans}
    assert got == {"text_all", "equation_isolated", "html_table"}
    assert all(s["position"][1] > s["position"][0] for s in spans)
