"""Minimal deterministic PDF text extraction + layout parse (P9/P10 port).

The reference renders PDF pages and queries a model
(olmocr/olmocr/pipeline.py:381-424), with a pypdf "anchor text" layout
parse as prompt context (olmocr/olmocr/prompts/anchor.py:129-359): text
elements with (x, y), merged and linearized in reading order.  This
module re-expresses the *deterministic* part for the blob shapes our
pages table carries: it parses real (uncompressed) PDF syntax — objects,
page content streams, BT/ET text blocks, Td/TD/Tm cursor moves, Tj/TJ
show-text — then resolves reading order by line-grouping on y and
sorting x ascending (the ocr_utils.py:7-77 span->line merge, SURVEY P10)
and serializes markdown: large-font lines become headings.

/FlateDecode content streams are inflated with stdlib zlib before
parsing (virtually every real-world PDF compresses its content streams
— the reference gets this via pypdf, anchor.py:129-159); /LZWDecode is
a from-scratch PDF-variant LZW (early-change codes, 9-12 bit), and
/ASCIIHexDecode is binascii.  Remaining filters (DCT/ASCII85/RunLength),
fonts and images are out of scope (the container has no pypdf/pymupdf):
anything non-parsable extracts as "" rather than erroring, and
real-deployment rasterize+OCR is stubbed in multimodal.py.

random.shuffle in the reference's anchor sampler (anchor.py:342) is
replaced by this fully deterministic ordering (SURVEY §2.8 R4).
"""

from __future__ import annotations

import re
import zlib
from typing import Optional

HEADING_FONT_SIZE = 18.0
LINE_Y_TOL = 2.0
PARA_GAP = 20.0

# trailing EOL before endstream is recommended but not mandatory for
# binary (compressed) payloads — capture it and strip per-filter below
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)
_TEXT_SHOW_RE = re.compile(
    r"(?:(-?[\d.]+)\s+(-?[\d.]+)\s+Td)"          # cursor move
    r"|(?:(-?[\d.]+)\s+(-?[\d.]+)\s+TD)"
    r"|(?:[\d.\- ]+\s+(-?[\d.]+)\s+(-?[\d.]+)\s+Tm)"  # text matrix (e,f tail)
    r"|(?:/\w+\s+([\d.]+)\s+Tf)"                  # font size
    r"|(?:\((?P<txt>(?:[^()\\]|\\.)*)\)\s*Tj)"    # show text
)
_PDF_ESC = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f", "(": "(", ")": ")", "\\": "\\"}


def _unescape_pdf(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in _PDF_ESC:
                out.append(_PDF_ESC[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal
                j = i + 1
                while j < len(s) and j < i + 4 and s[j].isdigit():
                    j += 1
                out.append(chr(int(s[i + 1 : j], 8)))
                i = j
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _parse_content_stream(stream: str) -> list[tuple[float, float, float, str]]:
    """-> [(y, x, font_size, text)] for each Tj inside BT/ET blocks."""
    elements = []
    for block in re.findall(r"BT(.*?)ET", stream, re.DOTALL):
        x = y = 0.0
        size = 12.0
        for m in _TEXT_SHOW_RE.finditer(block):
            if m.group(1) is not None:  # Td — absolute within our minimal writer
                x, y = float(m.group(1)), float(m.group(2))
            elif m.group(3) is not None:  # TD
                x += float(m.group(3))
                y += float(m.group(4))
            elif m.group(5) is not None:  # Tm
                x, y = float(m.group(5)), float(m.group(6))
            elif m.group(7) is not None:  # Tf
                size = float(m.group(7))
            elif m.group("txt") is not None:
                txt = _unescape_pdf(m.group("txt"))
                if txt:
                    elements.append((y, x, size, txt))
    return elements


def _layout_to_markdown(elements: list[tuple[float, float, float, str]]) -> str:
    """Line-group by y, sort lines top->bottom, spans left->right (P10)."""
    if not elements:
        return ""
    elements = sorted(elements, key=lambda e: (-e[0], e[1]))
    lines: list[list[tuple[float, float, float, str]]] = []
    for el in elements:
        if lines and abs(lines[-1][-1][0] - el[0]) <= LINE_Y_TOL:
            lines[-1].append(el)
        else:
            lines.append([el])
    blocks: list[str] = []
    cur: list[str] = []
    prev_y = None

    def flush():
        if cur:
            blocks.append(" ".join(cur))
            cur.clear()

    for line in lines:
        line.sort(key=lambda e: e[1])
        text = " ".join(e[3] for e in line).strip()
        if not text:
            continue
        y = line[0][0]
        if max(e[2] for e in line) >= HEADING_FONT_SIZE:
            flush()
            blocks.append("# " + text)
        else:
            if prev_y is not None and (prev_y - y) > PARA_GAP:
                flush()
            cur.append(text)
        prev_y = y
    flush()
    return "\n\n".join(blocks)


def _lzw_decode(data: bytes) -> Optional[bytes]:
    """PDF-variant LZW (ISO 32000 §7.4.4): 9->12-bit codes with
    early-change, code 256 = clear table, 257 = EOD."""
    out = bytearray()
    table = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: Optional[bytes] = None
    acc = bits = 0
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (acc >> bits) & ((1 << width) - 1)
            if code == 256:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code > 255:
                    return None
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                return None
            out += entry
            prev = entry
            # early-change: width grows one code before the table fills
            if len(table) + 1 >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _rle_decode(data: bytes) -> Optional[bytes]:
    """PDF /RunLengthDecode (ISO 32000 §7.4.5): length byte L then
    either L+1 literal bytes (L<128) or one byte repeated 257-L times
    (L>128); 128 = EOD."""
    out = bytearray()
    i = 0
    end = len(data)
    while i < end:
        length = data[i]
        if length == 128:
            return bytes(out)
        if length < 128:
            chunk = data[i + 1:i + 2 + length]
            if len(chunk) != length + 1:
                return None
            out += chunk
            i += 2 + length
        else:
            if i + 1 >= end:
                return None
            out += data[i + 1:i + 2] * (257 - length)
            i += 2
    return bytes(out)


def _stream_payload(data: bytes, m: "re.Match[bytes]") -> Optional[bytes]:
    """Stream bytes for a ``_STREAM_RE`` match, decoded per the owning
    object dict's /Filter (Flate, LZW, RunLength, ASCIIHex, ASCII85
    supported — chains like [/ASCII85Decode /FlateDecode] work because
    the transport decode happens first).  The dict is the window between
    the previous ``endstream`` (or buffer start) and this ``stream``
    keyword — nested dicts (/DecodeParms) stay inside that window, so a
    plain substring probe is exact enough here."""
    raw = m.group(1)
    head = data[max(0, m.start() - 512):m.start()]
    prev_end = head.rfind(b"endstream")
    if prev_end != -1:
        head = head[prev_end:]
    if b"/ASCIIHexDecode" in head:
        import binascii

        hexpart = raw.split(b">")[0]
        hexpart = re.sub(rb"\s+", b"", hexpart)
        if len(hexpart) % 2:
            hexpart += b"0"
        try:
            raw = binascii.unhexlify(hexpart)
        except (binascii.Error, ValueError):
            return None
    # ISO 32000 reserves the /A85 and /RL abbreviations for INLINE
    # images (BI..ID..EI), never for regular stream dicts — probing for
    # them here would mis-decode a valid stream whose dict merely
    # contains a name starting with those bytes (e.g. /RLx metadata).
    if b"/ASCII85Decode" in head:
        import base64

        payload = re.sub(rb"\s+", b"", raw)
        tail = payload.find(b"~>")
        if tail != -1:
            payload = payload[:tail]
        try:
            raw = base64.a85decode(payload)
        except ValueError:
            return None
    if b"/FlateDecode" in head:
        # decompressobj tolerates the trailing EOL the regex captured
        try:
            return zlib.decompressobj().decompress(raw)
        except zlib.error:
            return None
    if b"/LZWDecode" in head:
        return _lzw_decode(raw)
    if b"/RunLengthDecode" in head:
        return _rle_decode(raw)
    if b"/ASCIIHexDecode" in head or b"/ASCII85Decode" in head:
        return raw
    return raw.rstrip(b"\r\n")


def extract_pdf_pages(data: Optional[bytes]) -> Optional[list[str]]:
    """PDF bytes -> one markdown string per page (content stream).

    The per-page granularity matters at scale: a 2000-page document
    explodes to 2000 rows *before* any heavy downstream work, so one
    giant PDF cannot pin a task (SURVEY §4 skew row; the reference's
    per-page asyncio tasks at pipeline.py:417-424)."""
    if data is None:
        return None
    if not data.startswith(b"%PDF"):
        return []
    pages = []
    for m in _STREAM_RE.finditer(data):
        raw = _stream_payload(data, m)
        if raw is None:
            continue
        try:
            stream = raw.decode("latin-1")
        except Exception:
            continue
        els = _parse_content_stream(stream)
        md = _layout_to_markdown(els)
        if md:
            pages.append(md)
    return pages


def extract_pdf_markdown(data: Optional[bytes]) -> Optional[str]:
    """PDF bytes -> markdown (page texts joined by blank lines)."""
    pages = extract_pdf_pages(data)
    if pages is None:
        return None
    return "\n\n".join(pages)


# ---------------------------------------------------------------------------
# Image XObject placements (anchor.py:142-151 semantics, from scratch)
# ---------------------------------------------------------------------------
# The reference's page report records, for every ``Do`` of an /Image
# XObject, the unit square (0,0)-(1,1) pushed through the current CTM
# (olmocr/olmocr/prompts/anchor.py:144-151), then union-finds
# overlapping boxes into merged "[Image x0xy0 to x1xy1]" anchors
# (anchor.py:162-225, 267-272).  pypdf supplies the CTM there; here a
# minimal graphics-state walk (q/Q stack + ``cm`` concatenation) does.

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
_XOBJ_MAP_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.DOTALL)
_NAME_REF_RE = re.compile(rb"/([^\s/<>\[\]()]+)\s+(\d+)\s+0\s+R")
_CM_TOKEN_RE = re.compile(
    r"(?:(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+cm)"
    r"|(?:\bq\b)|(?:\bQ\b)"
    r"|(?:/([^\s/<>\[\]()]+)\s+Do\b)"
)
_IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mult(m: tuple, c: tuple) -> tuple:
    """Matrix whose application equals 'apply m, then c' — PDF ``cm``
    premultiplies the new matrix onto the CTM (ISO 32000 §8.3.4)."""
    ma, mb, mc, md, me, mf = m
    ca, cb, cc, cd, ce, cf = c
    return (
        ma * ca + mb * cc, ma * cb + mb * cd,
        mc * ca + md * cc, mc * cb + md * cd,
        me * ca + mf * cc + ce, me * cb + mf * cd + cf,
    )


def _transform(x: float, y: float, m: tuple) -> tuple[float, float]:
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


def _int_after(head: bytes, key: bytes) -> Optional[int]:
    m = re.search(re.escape(key) + rb"\s+(\d+)", head)
    return int(m.group(1)) if m else None


def _image_xobjects(data: bytes) -> dict[int, dict]:
    """objnum -> {width, height, filter, fmt, width_true, height_true}
    for every /Subtype /Image stream object.  /DCTDecode (and any other
    recognizable container) payloads get header-sniffed true dimensions
    so a lying /Width//Height dict is caught without any pixel decode."""
    out: dict[int, dict] = {}
    for m in _STREAM_RE.finditer(data):
        head = data[max(0, m.start() - 512):m.start()]
        prev_end = head.rfind(b"endstream")
        if prev_end != -1:
            head = head[prev_end:]
        if not re.search(rb"/Subtype\s*/Image\b", head):
            continue
        objm = None
        for objm in _OBJ_RE.finditer(head):
            pass  # last "N 0 obj" before the stream keyword owns it
        if objm is None:
            continue
        fm = re.search(rb"/Filter\s*/(\w+)", head)
        rec = {
            "width": _int_after(head, b"/Width"),
            "height": _int_after(head, b"/Height"),
            "filter": fm.group(1).decode("latin-1") if fm else None,
            "fmt": None, "width_true": None, "height_true": None,
        }
        from .multimodal import sniff_image_header

        sniffed = sniff_image_header(m.group(1))
        if sniffed is not None:
            rec["fmt"], rec["width_true"], rec["height_true"] = sniffed
        elif rec["filter"] == "CCITTFaxDecode":
            # G3/G4 payloads carry no header: true width is the decode
            # parameter /Columns (spec default 1728), height /Rows when
            # stated (G4 height is otherwise implicit in the coded data)
            rec["fmt"] = "ccitt"
            dp = re.search(rb"/DecodeParms\s*<<(.*?)>>", head, re.DOTALL)
            if dp:
                rec["width_true"] = _int_after(dp.group(1), b"/Columns")
                rec["height_true"] = _int_after(dp.group(1), b"/Rows")
            if rec["width_true"] is None:
                rec["width_true"] = 1728
        elif rec["filter"] == "JBIG2Decode":
            dims = _jbig2_dims(m.group(1))
            if dims is not None:
                rec["fmt"] = "jbig2"
                rec["width_true"], rec["height_true"] = dims
        out[int(objm.group(1))] = rec
    return out


def _jbig2_dims(payload: bytes) -> Optional[tuple[int, int]]:
    """(width, height) from an embedded-JBIG2 page-information segment
    (type 48), walking the segment headers per the public JBIG2 spec
    (ITU-T T.88 §7.2): number(4) flags(1) referred-to(var)
    page-assoc(1|4) data-length(4), page-info data = width(4) height(4)."""
    i = 0
    n = len(payload)
    while i + 11 <= n:
        seg_num = int.from_bytes(payload[i:i + 4], "big")
        flags = payload[i + 4]
        stype = flags & 0x3F
        rts = payload[i + 5]
        cnt = (rts >> 5) & 0x7
        if cnt == 7:
            cnt = int.from_bytes(payload[i + 5:i + 9], "big") & 0x1FFFFFFF
            j = i + 9 + (cnt + 8) // 8  # long form + retain-bit bytes
        else:
            j = i + 6
        ref_size = 1 if seg_num <= 256 else (2 if seg_num <= 65536 else 4)
        j += cnt * ref_size
        j += 4 if flags & 0x40 else 1
        if j + 4 > n:
            return None
        data_len = int.from_bytes(payload[j:j + 4], "big")
        j += 4
        if stype == 48 and j + 8 <= n:
            return (int.from_bytes(payload[j:j + 4], "big"),
                    int.from_bytes(payload[j + 4:j + 8], "big"))
        if data_len == 0xFFFFFFFF:
            return None  # unknown-length segment: cannot skip safely
        i = j + data_len
    return None


_INLINE_IMG_RE = re.compile(r"\bBI\b(.*?)\bID[ \r\n](.*?)\sEI\b", re.DOTALL)
_INLINE_KEY_RES = {
    "width": re.compile(r"/(?:W|Width)\s+(\d+)"),
    "height": re.compile(r"/(?:H|Height)\s+(\d+)"),
    "filter": re.compile(r"/(?:F|Filter)\s*/(\w+)"),
}


def _rewrite_inline_images(stream: str) -> tuple[str, dict[str, dict]]:
    """Replace each ``BI <dict> ID <bytes> EI`` inline image with a
    synthetic ``/__iiK Do`` so the CTM placement walk treats it exactly
    like an XObject; returns (rewritten stream, synthetic name -> info).
    Payloads that carry a sniffable container (inline DCT) get true
    dimensions; raw samples stay None."""
    infos: dict[str, dict] = {}

    def _sub(m: "re.Match[str]") -> str:
        name = "__ii%d" % len(infos)
        d = m.group(1)
        rec = {"fmt": "inline", "width_true": None, "height_true": None}
        for key in ("width", "height"):
            km = _INLINE_KEY_RES[key].search(d)
            rec[key] = int(km.group(1)) if km else None
        fm = _INLINE_KEY_RES["filter"].search(d)
        rec["filter"] = fm.group(1) if fm else None
        from .multimodal import sniff_image_header

        sniffed = sniff_image_header(m.group(2).encode("latin-1"))
        if sniffed is not None:
            rec["fmt"], rec["width_true"], rec["height_true"] = sniffed
        infos[name] = rec
        return " /%s Do " % name

    return _INLINE_IMG_RE.sub(_sub, stream), infos


def _page_xobject_names(data: bytes) -> tuple[dict[int, dict[str, int]], dict[str, int]]:
    """(content_objnum -> {name: xobject objnum}, global name map).

    Each /Type /Page dict carries its own /Resources /XObject name
    space; the global union is the fallback for content streams whose
    page dict we fail to associate (shared /Resources via indirect
    reference is out of scope for the blob shapes tested here)."""
    per_content: dict[int, dict[str, int]] = {}
    global_map: dict[str, int] = {}
    for pm in re.finditer(rb"/Type\s*/Page\b(?!s)", data):
        start = data.rfind(b"obj", 0, pm.start())
        end = data.find(b"endobj", pm.start())
        page_dict = data[start:end if end != -1 else len(data)]
        names: dict[str, int] = {}
        for xm in _XOBJ_MAP_RE.finditer(page_dict):
            for nm in _NAME_REF_RE.finditer(xm.group(1)):
                names[nm.group(1).decode("latin-1")] = int(nm.group(2))
        if not names:
            continue
        global_map.update(names)
        cm = re.search(rb"/Contents\s+(\d+)\s+0\s+R", page_dict)
        if cm:
            per_content[int(cm.group(1))] = names
    return per_content, global_map


def _page_content_order(data: bytes) -> list[Optional[int]]:
    """Ordered /Contents object numbers, one slot per /Type /Page dict.

    Page order follows the /Pages tree's /Kids arrays when every found
    page dict is covered by them (the reader order anchor.py sees);
    otherwise byte order of the page dicts.  A page whose /Contents is
    missing or an unsupported shape (array of refs) gets None — its
    report slot stays an empty list rather than shifting later pages."""
    by_objnum: dict[int, Optional[int]] = {}
    byte_order: list[int] = []
    for pm in re.finditer(rb"/Type\s*/Page\b(?!s)", data):
        start = data.rfind(b"obj", 0, pm.start())
        end = data.find(b"endobj", pm.start())
        page_dict = data[max(0, start - 16):end if end != -1 else len(data)]
        objm = None
        for objm in _OBJ_RE.finditer(data[max(0, start - 16):pm.start()]):
            pass  # last "N 0 obj" before the /Type /Page marker owns it
        if objm is None:
            continue
        objnum = int(objm.group(1))
        cm = re.search(rb"/Contents\s+(\d+)\s+0\s+R", page_dict)
        by_objnum[objnum] = int(cm.group(1)) if cm else None
        byte_order.append(objnum)
    kid_order: list[int] = []
    for tm in re.finditer(rb"/Type\s*/Pages\b", data):
        end = data.find(b"endobj", tm.start())
        tree_dict = data[data.rfind(b"obj", 0, tm.start()):
                         end if end != -1 else len(data)]
        km = re.search(rb"/Kids\s*\[(.*?)\]", tree_dict, re.DOTALL)
        if km:
            kid_order.extend(int(r.group(1)) for r in
                             re.finditer(rb"(\d+)\s+0\s+R", km.group(1)))
    order = byte_order
    if kid_order and all(o in kid_order for o in byte_order):
        order = [k for k in kid_order if k in by_objnum]
    return [by_objnum[o] for o in order]


def _content_objnum(data: bytes, m: "re.Match[bytes]") -> Optional[int]:
    head = data[max(0, m.start() - 512):m.start()]
    objm = None
    for objm in _OBJ_RE.finditer(head):
        pass
    return int(objm.group(1)) if objm else None


def _placements_in_stream(stream: str, names: dict[str, int]) -> list[tuple[str, tuple]]:
    """[(xobject name, bbox)] for each ``/Name Do`` whose name resolves
    to an image XObject — bbox is the CTM image of the unit square,
    corner-pair min/max exactly as anchor.py:147-151."""
    ctm = _IDENTITY
    stack: list[tuple] = []
    out: list[tuple[str, tuple]] = []
    for m in _CM_TOKEN_RE.finditer(stream):
        if m.group(1) is not None:
            new = tuple(float(m.group(i)) for i in range(1, 7))
            ctm = _mat_mult(new, ctm)
        elif m.group(0) == "q":
            stack.append(ctm)
        elif m.group(0) == "Q":
            ctm = stack.pop() if stack else _IDENTITY
        elif m.group(7) is not None and m.group(7) in names:
            x0, y0 = _transform(0.0, 0.0, ctm)
            x1, y1 = _transform(1.0, 1.0, ctm)
            out.append((m.group(7),
                        (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1))))
    return out


def _bboxes_overlap(a: tuple, b: tuple, tol: float) -> bool:
    return (a[0] <= b[2] + tol and b[0] <= a[2] + tol
            and a[1] <= b[3] + tol and b[1] <= a[3] + tol)


def _merge_placements(placed: list[dict], tol: float = 0.5) -> list[dict]:
    """Union-find merge of overlapping image boxes (anchor.py:162-225):
    merged bbox is the union, merged name joins members with '+'."""
    n = len(placed)
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            bi = (placed[i]["x0"], placed[i]["y0"], placed[i]["x1"], placed[i]["y1"])
            bj = (placed[j]["x0"], placed[j]["y0"], placed[j]["x1"], placed[j]["y1"])
            if _bboxes_overlap(bi, bj, tol):
                parent[find(j)] = find(i)
    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    merged = []
    for idxs in groups.values():
        first = placed[idxs[0]]
        rec = dict(first)
        for k in idxs[1:]:
            p = placed[k]
            rec["name"] += "+" + p["name"]
            rec["x0"] = min(rec["x0"], p["x0"])
            rec["y0"] = min(rec["y0"], p["y0"])
            rec["x1"] = max(rec["x1"], p["x1"])
            rec["y1"] = max(rec["y1"], p["y1"])
        merged.append(rec)
    merged.sort(key=lambda r: (-r["y1"], r["x0"], r["name"]))
    return merged


def pdf_image_report(data: Optional[bytes], merge: bool = True) -> Optional[list[list[dict]]]:
    """PDF bytes -> per page, one dict per (merged) image placement:
    ``{page, name, fmt, filter, width, height, width_true, height_true,
    dims_match, x0, y0, x1, y1}``.

    ``width``/``height`` are the stream dict's claims; ``*_true`` come
    from header-sniffing the payload (DCTDecode -> JPEG SOFn, plus
    PNG/GIF/BMP/WebP), and ``dims_match`` flags agreement — NULL when
    the payload isn't sniffable (synthetic/raw samples)."""
    if data is None:
        return None
    if not data.startswith(b"%PDF"):
        return []
    xobjs = _image_xobjects(data)
    # no early exit on empty xobjs: inline images (BI/ID/EI) live inside
    # content streams and need no XObject dictionary at all
    per_content, global_map = _page_xobject_names(data)

    def _place(m: "Optional[re.Match[bytes]]", objnum: Optional[int],
               page_no: int) -> list[dict]:
        if m is None:
            return []
        raw = _stream_payload(data, m)
        if raw is None:
            return []
        stream = raw.decode("latin-1")
        names = per_content.get(objnum) if objnum is not None else None
        if names is None:
            names = global_map
        stream, inline = _rewrite_inline_images(stream)
        lookup = {k: xobjs[v] for k, v in names.items() if v in xobjs}
        lookup.update(inline)
        placed = []
        for name, bbox in _placements_in_stream(stream, lookup):
            info = lookup[name]
            dims_match = None
            if info["width_true"] is not None and info["width"] is not None:
                dims_match = (info["width"] == info["width_true"]
                              and info["height"] == info["height_true"])
            placed.append({
                "page": page_no, "name": name, "fmt": info["fmt"],
                "filter": info["filter"],
                "width": info["width"], "height": info["height"],
                "width_true": info["width_true"],
                "height_true": info["height_true"],
                "dims_match": dims_match,
                "x0": bbox[0], "y0": bbox[1], "x1": bbox[2], "y1": bbox[3],
            })
        return placed

    pages: list[list[dict]] = []
    content_order = _page_content_order(data)
    if content_order:
        # one report slot per /Type /Page dict, in reader (Kids) order —
        # font/metadata streams can't become phantom pages, and a content
        # stream that fails to decode leaves an empty slot instead of
        # shifting every later page index (matches anchor.py's
        # reader.pages indexing)
        streams_by_obj: dict[int, "re.Match[bytes]"] = {}
        for m in _STREAM_RE.finditer(data):
            objnum = _content_objnum(data, m)
            if objnum is not None and objnum not in streams_by_obj:
                streams_by_obj[objnum] = m
        for page_no, cobj in enumerate(content_order):
            placed = _place(streams_by_obj.get(cobj) if cobj is not None
                            else None, cobj, page_no)
            pages.append(_merge_placements(placed) if merge else placed)
        return pages
    # no /Type /Page dicts at all (truncated/fuzzed blobs): fall back to
    # encounter order over decodable non-image streams
    page_no = 0
    for m in _STREAM_RE.finditer(data):
        objnum = _content_objnum(data, m)
        if objnum in xobjs:
            continue  # image payload streams are not content streams
        if _stream_payload(data, m) is None:
            continue
        placed = _place(m, objnum, page_no)
        pages.append(_merge_placements(placed) if merge else placed)
        page_no += 1
    return pages
