"""Deterministic synthetic `pages` table (FIXTURES.md §1, input_hint shape).

Schema: url string, warc_ts timestamp, html binary, text string, lang
string (+ category string for test slicing).  ``text`` is the
ground-truth main-content markdown: for HTML rows it is the extraction of
the *noise-free* content DOM, so the byte-identical invariant tests that
the extractor strips the injected nav/sidebar/link-farm boilerplate
without touching content; for pdfish rows it is the mini-PDF extraction.

Everything is seeded (seed=42 by default) and reproducible bit-for-bit.
Template mix per 100 rows follows FIXTURES.md: 40 article / 20 table /
15 math / 10 boiler / 5 cjk / 5 pdfish / 3 empty / 2 giant.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from ..operators.html_extract import extract_markdown
from ..operators.pdf_extract import extract_pdf_markdown

_WORDS = (
    "data spark engine query table column partition shuffle join filter "
    "document page extraction markdown heading paragraph table formula "
    "pipeline cluster executor task stage metric score match element "
    "system model result value order index batch stream source sink "
    "network science research analysis method experiment baseline measure"
).split()

_CJK_CHARS = "数据处理分布式系统文档提取标题段落表格公式评测指标匹配元素集群执行器任务阶段度量分数结果数值顺序索引批次流源汇网络科学研究分析方法实验基线测量"

_FORMULAS = [
    r"E = mc^2", r"\sum_{i=1}^{n} x_i = X", r"\alpha + \beta = \gamma",
    r"f(x) = \int_0^1 g(t) dt", r"x = \frac{-b \pm \sqrt{b^2-4ac}}{2a}",
    r"\nabla \cdot F = \rho", r"a_n = a_{n-1} + a_{n-2}",
]

CATEGORY_MIX = (
    ["article"] * 40 + ["table_page"] * 20 + ["math"] * 15 + ["boiler"] * 10
    + ["cjk"] * 5 + ["pdfish"] * 5 + ["empty"] * 3 + ["giant"] * 2
)

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _sentence(rng: random.Random, n_lo=6, n_hi=14) -> str:
    n = rng.randint(n_lo, n_hi)
    words = [rng.choice(_WORDS) for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, n_sent=(2, 5)) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(*n_sent)))


def _cjk_paragraph(rng: random.Random) -> str:
    n = rng.randint(30, 90)
    s = "".join(rng.choice(_CJK_CHARS) for _ in range(n))
    # sprinkle fullwidth punctuation/digits to exercise the N7 fold
    return s + "\uff0c\uff11\uff12\uff13\uff01"


def _html_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _content_article(rng: random.Random) -> str:
    parts = ["<h1>%s</h1>" % _html_escape(_sentence(rng, 3, 6).rstrip("."))]
    for _ in range(rng.randint(2, 4)):
        if rng.random() < 0.5:
            parts.append("<h2>%s</h2>" % _html_escape(_sentence(rng, 2, 5).rstrip(".")))
        for _ in range(rng.randint(1, 3)):
            parts.append("<p>%s</p>" % _html_escape(_paragraph(rng)))
        if rng.random() < 0.4:
            items = "".join("<li>%s</li>" % _html_escape(_sentence(rng, 3, 7)) for _ in range(rng.randint(2, 5)))
            parts.append("<%s>%s</%s>" % (("ul", items, "ul") if rng.random() < 0.5 else ("ol", items, "ol")))
    return "\n".join(parts)


def _content_table(rng: random.Random) -> str:
    parts = ["<h1>%s</h1>" % _html_escape(_sentence(rng, 3, 5).rstrip("."))]
    parts.append("<p>%s</p>" % _html_escape(_paragraph(rng)))
    ncol = rng.randint(2, 5)
    nrow = rng.randint(2, 6)
    header = "<tr>" + "".join("<th>%s</th>" % rng.choice(_WORDS) for _ in range(ncol)) + "</tr>"
    body = "".join(
        "<tr>" + "".join("<td>%d</td>" % rng.randint(0, 999) for _ in range(ncol)) + "</tr>"
        for _ in range(nrow)
    )
    parts.append("<table>%s%s</table>" % (header, body))
    if rng.random() < 0.5:  # irregular table with spans
        parts.append("<p>%s</p>" % _html_escape(_paragraph(rng)))
        parts.append(
            '<table><tr><td rowspan="2">%s</td><td>%d</td></tr>'
            "<tr><td>%d</td></tr>"
            '<tr><td colspan="2">%s</td></tr></table>'
            % (rng.choice(_WORDS), rng.randint(0, 99), rng.randint(0, 99), rng.choice(_WORDS))
        )
    return "\n".join(parts)


def _content_math(rng: random.Random) -> str:
    parts = ["<h1>%s</h1>" % _html_escape(_sentence(rng, 3, 5).rstrip("."))]
    parts.append(
        "<p>%s The quantity $%s$ matters. %s</p>"
        % (_html_escape(_sentence(rng)), rng.choice([r"x^2", r"a_i", r"\alpha"]), _html_escape(_sentence(rng)))
    )
    for _ in range(rng.randint(1, 3)):
        parts.append("<p>\\[ %s \\]</p>" % rng.choice(_FORMULAS))
        parts.append("<p>%s</p>" % _html_escape(_paragraph(rng)))
    # a multi-line single-column array (exercises J4a array split)
    rows = " \\\\ ".join(rng.choice(_FORMULAS) for _ in range(2))
    parts.append("<p>$$\\begin{array}{l} %s \\end{array}$$</p>" % rows)
    return "\n".join(parts)


def _content_boiler(rng: random.Random) -> str:
    # tiny real content — most of the page is injected noise
    return "<p>%s</p>" % _html_escape(_sentence(rng))


def _content_cjk(rng: random.Random) -> str:
    parts = ["<h1>%s</h1>" % "".join(rng.choice(_CJK_CHARS) for _ in range(8))]
    for _ in range(rng.randint(2, 4)):
        parts.append("<p>%s</p>" % _cjk_paragraph(rng))
    return "\n".join(parts)


def _content_giant(rng: random.Random, target_bytes: int = 1_500_000) -> str:
    parts = ["<h1>%s</h1>" % _html_escape(_sentence(rng, 3, 6).rstrip("."))]
    size = len(parts[0])
    while size < target_bytes:
        p = "<p>%s</p>" % _html_escape(_paragraph(rng, (4, 8)))
        parts.append(p)
        size += len(p)
    return "\n".join(parts)


def _boilerplate_wrap(rng: random.Random, content: str) -> str:
    """Wrap content with the three classes of noise the pruner must drop:
    structural tags (nav/aside), class-hint blocks, and link farms."""
    nav_links = "".join('<a href="/x%d">%s</a> ' % (i, rng.choice(_WORDS)) for i in range(8))
    farm = "".join('<a href="/l%d">%s %s</a> ' % (i, rng.choice(_WORDS), rng.choice(_WORDS)) for i in range(10))
    ad = "<div class=\"ads banner\"><p>%s</p></div>" % _html_escape(_sentence(rng))
    side = "<div id=\"sidebar\"><ul>%s</ul></div>" % "".join(
        "<li><a href=\"/s%d\">%s</a></li>" % (i, rng.choice(_WORDS)) for i in range(6)
    )
    return (
        "<html><head><title>t</title><script>var x=1;</script>"
        "<style>p{margin:0}</style></head><body>"
        "<nav>%s</nav>%s<div>%s</div>"
        "<article>\n%s\n</article>"
        "%s<footer><p>contact us terms privacy</p></footer>"
        "</body></html>" % (nav_links, ad, farm, content, side)
    )


def _mini_jpeg(width: int, height: int) -> bytes:
    """Header-valid JPEG: SOI + SOF0 carrying true dimensions + EOI.
    No entropy data — enough for SOFn dimension sniffing (the pixel
    decode is container-blocked anyway), tiny enough to embed inline."""
    import struct

    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", height, width)
            + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    return b"\xff\xd8" + sof0 + b"\xff\xd9"


def _mini_pdf(rng: random.Random, compress: bool = False,
              with_images: bool = False) -> bytes:
    """1-3 page PDF with Td/Tf/Tj text — parseable by
    pdf_extract.extract_pdf_markdown.  ``compress=True`` Flate-compresses
    the content streams (the real-world CC shape); extraction output must
    be byte-identical to the uncompressed twin.  ``with_images=True``
    additionally embeds /DCTDecode image XObjects with q/cm/Do
    placements (opt-in so default pages tables stay byte-stable)."""
    n_pages = rng.randint(1, 3)
    pages_content = []
    page_images: list[list[tuple[int, int, int, int]]] = []
    for _ in range(n_pages):
        ops = ["BT", "/F1 24 Tf", "72 720 Td", "(%s) Tj" % _sentence(rng, 3, 6).rstrip(".").replace("(", "").replace(")", ""), "ET"]
        y = 680
        for _ in range(rng.randint(2, 5)):
            ops += ["BT", "/F1 12 Tf", "72 %d Td" % y, "(%s) Tj" % _sentence(rng).replace("(", "").replace(")", ""), "ET"]
            y -= 16
            if rng.random() < 0.3:
                y -= 30  # paragraph gap
        imgs: list[tuple[int, int, int, int]] = []
        if with_images:
            for k in range(rng.randint(1, 2)):
                w, h = rng.randint(64, 512), rng.randint(64, 512)
                x, ypos = rng.randint(36, 300), rng.randint(72, 400)
                imgs.append((w, h, x, ypos))
                ops += ["q", "%d 0 0 %d %d %d cm" % (w, h, x, ypos),
                        "/Im%d Do" % k, "Q"]
        page_images.append(imgs)
        pages_content.append("\n".join(ops))

    objs: list[bytes] = []

    def add(body) -> int:
        objs.append(body if isinstance(body, bytes) else body.encode("latin-1"))
        return len(objs)

    kids = []
    content_ids = []
    for pc in pages_content:
        if compress:
            import zlib

            payload = zlib.compress(pc.encode("latin-1"))
            cid = add(b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                      % (len(payload), payload))
        else:
            cid = add("<< /Length %d >>\nstream\n%s\nendstream" % (len(pc), pc))
        content_ids.append(cid)
    image_ids: list[list[int]] = []
    for imgs in page_images:
        ids = []
        for (w, h, _x, _y) in imgs:
            payload = _mini_jpeg(w, h)
            ids.append(add(
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                b"/Filter /DCTDecode /Length %d >>\nstream\n%s\nendstream"
                % (w, h, len(payload), payload)))
        image_ids.append(ids)
    font_id = add("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids = []
    pages_id_placeholder = len(objs) + len(pages_content) + 1  # id the Pages obj will get
    for cid, img_ids in zip(content_ids, image_ids):
        xobj = ""
        if img_ids:
            xobj = " /XObject << %s >>" % " ".join(
                "/Im%d %d 0 R" % (k, oid) for k, oid in enumerate(img_ids))
        pid = add(
            "<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
            "/Contents %d 0 R /Resources << /Font << /F1 %d 0 R >>%s >> >>"
            % (pages_id_placeholder, cid, font_id, xobj)
        )
        page_ids.append(pid)
        kids.append("%d 0 R" % pid)
    pages_id = add("<< /Type /Pages /Kids [%s] /Count %d >>" % (" ".join(kids), len(kids)))
    assert pages_id == pages_id_placeholder
    catalog_id = add("<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, catalog_id, xref_pos,
    )
    return bytes(out)


_CONTENT_BUILDERS = {
    "article": _content_article,
    "table_page": _content_table,
    "math": _content_math,
    "boiler": _content_boiler,
    "cjk": _content_cjk,
    "giant": _content_giant,
}


def iter_pages(n_rows: int, seed: int = 42) -> Iterator[dict]:
    """The synthetic pages one row at a time; each row has its own
    seeded rng, so any prefix is the same as in a longer table."""
    for seq in range(n_rows):
        rng = random.Random("%d:%d" % (seed, seq))
        category = CATEGORY_MIX[seq % len(CATEGORY_MIX)]
        url = "https://example.org/%s/%06d.html" % (category, seq)
        ts = _EPOCH + dt.timedelta(seconds=seq * 137)
        lang = "zh" if category == "cjk" else ("de" if seq % 17 == 0 else "en")
        if category == "pdfish":
            # alternate compressed/uncompressed so the pipeline's pdfish
            # path exercises FlateDecode (the real-world CC shape)
            blob = _mini_pdf(rng, compress=(seq % 2 == 0))
            text = extract_pdf_markdown(blob) or ""
        elif category == "empty":
            blob = _boilerplate_wrap(rng, "").encode("utf-8")
            text = ""
        else:
            content = _CONTENT_BUILDERS[category](rng)
            text = extract_markdown(content) or ""
            blob = _boilerplate_wrap(rng, content).encode("utf-8")
        yield {"url": url, "warc_ts": ts, "html": blob, "text": text,
               "lang": lang, "category": category}


def generate_pages(n_rows: int, seed: int = 42) -> list[dict]:
    return list(iter_pages(n_rows, seed))


PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("category", pa.string()),
    ]
)


def write_pages(path: str, n_rows: int, seed: int = 42,
                row_group_size: int = 50) -> str:
    """Small row groups matter: Spark parallelizes a parquet scan only at
    row-group boundaries, so one giant row group serializes the whole
    read (measured: a single 500 MB group capped scaling at 0.35).
    Rows are generated and written one row group at a time, so memory
    holds one group, not the table."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    rows = iter_pages(n_rows, seed)
    with pq.ParquetWriter(path, PAGES_ARROW_SCHEMA) as writer:
        while batch := list(itertools.islice(rows, row_group_size)):
            writer.write_table(pa.Table.from_pylist(batch, schema=PAGES_ARROW_SCHEMA),
                               row_group_size=row_group_size)
    return path


def n_pages_for_sf(sf: float) -> int:
    return max(40, int(sf * 20000))


def pages_path_for_sf(sf: float, base_dir: str = "/root/repo/.data/pages") -> str:
    """Parquet path for a scale factor; generated on first use (seeded)."""
    path = os.path.join(base_dir, "sf%s" % sf, "pages.parquet")
    if not os.path.exists(path):
        write_pages(path, n_pages_for_sf(sf))
    return path
