"""Golden tests for the normalization library (SURVEY §2.4 N1-N11).

Expected strings encode the reference semantics (cited per function in
functions/normalize.py); these freeze byte-level behavior — the
extraction byte-identity invariant depends on them never drifting.
"""

from deepseek_ocr_omnidocbench_spark.functions import normalize as N


def test_clean_string_basic():
    assert N.clean_string("Hello, world!") == "Helloworld"
    assert N.clean_string("a\tb\nc") == "abc"
    assert N.clean_string(r"x\t y\n z") == "xyz"
    assert N.clean_string("/tfoo/nbar") == "foobar"


def test_clean_string_keeps_cjk_and_word():
    assert N.clean_string("数据 processing_123!") == "数据processing_123"


def test_strip_images():
    assert N.strip_images("a ![alt](x.png) b") == "a  b"
    assert N.strip_images("![](u)") == ""


def test_remove_markdown_fences():
    assert N.remove_markdown_fences("```markdown\nbody\n```") == "body\n"


def test_replace_repeated_chars():
    assert N.replace_repeated_chars("a_______b") == "a____b"
    assert N.replace_repeated_chars("a        b") == "a    b"
    assert N.replace_repeated_chars("a___b") == "a___b"


def test_md_preclean_strips_html_body_tags():
    s = "<html><body>x</body></html>"
    assert N.md_preclean(s) == "x"


def test_normalized_formula():
    # strips wrapping, \mathbf-style macros, lowercases
    assert N.normalized_formula(r"$$\mathbf{E} = mc^2$$") == "{e}=mc^2"
    assert N.normalized_formula(r"\[ x\quad y \]") == "xy"
    assert N.normalized_formula(r"a \tag{1} b") == "ab"
    # \left \right removal
    assert N.normalized_formula(r"\left( x \right)") == "(x)"


def test_normalized_html_table_shape():
    out = N.normalized_html_table("<table><thead><tr><th>h</th></tr></thead>"
                                  "<tbody><tr><td>1</td></tr></tbody></table>")
    assert out.startswith('<html><body><table border="1" >')
    assert out.endswith("</table></body></html>")
    assert "<th" not in out and "thead" not in out and "tbody" not in out
    assert "<td>h</td>" in out and "<td>1</td>" in out


def test_normalized_html_table_strips_attrs_and_math():
    src = ('<table><tr><td style="color:red" width="5">x</td>'
           '<td><math alttext="a+b">junk</math></td></tr></table>')
    out = N.normalized_html_table(src)
    assert "style=" not in out and "width=" not in out
    assert "$a+b$" in out


def test_normalized_html_table_non_table_is_empty():
    assert N.normalized_html_table("no table here") == ""


def test_latex_tabular_to_html():
    src = r"\begin{tabular}{ll} a & b \\ \hline c & d \end{tabular}"
    out = N.latex_tabular_to_html(src)
    assert out == "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"


def test_latex_tabular_multicolumn():
    src = r"\begin{tabular}{ll} \multicolumn{2}{c}{x} \\ a & b \end{tabular}"
    out = N.latex_tabular_to_html(src)
    assert '<td colspan="2">x</td>' in out


def test_normalized_table_dispatch():
    html = "<table><tr><td>1</td></tr></table>"
    assert N.normalized_table(html, "html") == N.normalized_html_table(html)
    latex = r"\begin{tabular}{l} 1 \end{tabular}"
    assert N.normalized_table(latex, "latex") == N.normalized_latex_table(latex)
    try:
        N.normalized_table("x", "nope")
        assert False
    except ValueError:
        pass


def test_md_escape():
    assert N.md_escape("a*b`c~d$e") == r"a\*b\`c\~d\$e"


def test_latex_to_text_macros():
    out = N.latex_to_text(r"\alpha + \beta")
    assert "α" in out and "β" in out
    assert N.latex_to_text(r"\mathbf{x}") == "x"
    assert N.latex_to_text(r"\frac{a}{b}") == "a/b"


def test_textblock2unicode_inline_math():
    # inline math with \ or ^ or _ converts; plain inline math is untouched
    out = N.textblock2unicode(r"value $x^2$ here")
    assert "$" not in out
    plain = N.textblock2unicode("cost $5$ here")
    assert "$5$" in plain
