"""PDF image-XObject placements: CTM math, union-find merge, DCT
dimension sniffing (anchor.py:142-151,162-225 semantics, from scratch)."""

import random

from deepseek_ocr_omnidocbench_spark.operators.pdf_extract import (
    _mat_mult,
    _merge_placements,
    _transform,
    extract_pdf_markdown,
    pdf_image_report,
)
from deepseek_ocr_omnidocbench_spark.sources.pages import _mini_jpeg, _mini_pdf


def _pdf_with_image(w=200, h=100, x=50, y=300, *, dict_w=None, dict_h=None,
                    extra_ops="", compress=False):
    """Single-page PDF with one /DCTDecode image placed via q/cm/Do."""
    import zlib

    jpeg = _mini_jpeg(w, h)
    content = ("BT /F1 12 Tf 72 700 Td (hello image) Tj ET\n"
               "q\n%s%d 0 0 %d %d %d cm\n/Im0 Do\nQ" % (extra_ops, w, h, x, y))
    payload = zlib.compress(content.encode()) if compress else content.encode()
    filt = " /Filter /FlateDecode" if compress else ""
    objs = [
        ("<< /Length %d%s >>\nstream\n" % (len(payload), filt)).encode()
        + payload + b"\nendstream",
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode "
        b"/Length %d >>\nstream\n%s\nendstream"
        % (dict_w if dict_w is not None else w,
           dict_h if dict_h is not None else h, len(jpeg), jpeg),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Page /Parent 5 0 R /MediaBox [0 0 612 792] "
        b"/Contents 1 0 R /Resources << /Font << /F1 3 0 R >> "
        b"/XObject << /Im0 2 0 R >> >> >>",
        b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 5 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 7 /Root 6 0 R >>\n%%EOF\n"
    return bytes(out)


def test_matrix_math():
    # translate then scale: point (1,1) -> (1+10, 1+20) -> scaled
    translate = (1.0, 0.0, 0.0, 1.0, 10.0, 20.0)
    scale = (2.0, 0.0, 0.0, 3.0, 0.0, 0.0)
    m = _mat_mult(translate, scale)
    assert _transform(1.0, 1.0, m) == (22.0, 63.0)


def test_single_placement_bbox_and_dims():
    blob = _pdf_with_image(w=200, h=100, x=50, y=300)
    report = pdf_image_report(blob)
    (page,) = [p for p in report if p]
    (rec,) = page
    assert (rec["x0"], rec["y0"], rec["x1"], rec["y1"]) == (50, 300, 250, 400)
    assert rec["fmt"] == "jpeg" and rec["filter"] == "DCTDecode"
    assert rec["width"] == rec["width_true"] == 200
    assert rec["height"] == rec["height_true"] == 100
    assert rec["dims_match"] is True
    # image XObjects must not disturb text extraction
    assert "hello image" in extract_pdf_markdown(blob)


def test_lying_dict_dims_flagged():
    blob = _pdf_with_image(w=200, h=100, dict_w=999, dict_h=1)
    (rec,) = [r for p in pdf_image_report(blob) for r in p]
    assert rec["width"] == 999 and rec["width_true"] == 200
    assert rec["dims_match"] is False


def test_nested_q_cm_stack():
    # outer translate inside q...Q plus inner scale compose; Q pops back
    blob = _pdf_with_image(w=10, h=10, x=0, y=0,
                           extra_ops="1 0 0 1 100 200 cm\nq\n")
    (rec,) = [r for p in pdf_image_report(blob) for r in p]
    # cm order in content: translate(100,200) then scale-place(10,10,0,0):
    # unit square -> scale cm maps to (0..10), then translate -> 100..110
    assert (rec["x0"], rec["y0"], rec["x1"], rec["y1"]) == (100, 200, 110, 210)


def test_overlapping_placements_merge():
    jpeg = _mini_jpeg(64, 64)
    content = ("q 100 0 0 100 50 50 cm /Im0 Do Q\n"
               "q 100 0 0 100 120 120 cm /Im1 Do Q\n"   # overlaps Im0
               "q 50 0 0 50 500 600 cm /Im2 Do Q")      # separate
    objs = [
        ("<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content)).encode(),
        b"<< /Subtype /Image /Width 64 /Height 64 /Filter /DCTDecode >>\nstream\n" + jpeg + b"\nendstream",
        b"<< /Subtype /Image /Width 64 /Height 64 /Filter /DCTDecode >>\nstream\n" + jpeg + b"\nendstream",
        b"<< /Subtype /Image /Width 64 /Height 64 /Filter /DCTDecode >>\nstream\n" + jpeg + b"\nendstream",
        b"<< /Type /Page /Contents 1 0 R /Resources << /XObject "
        b"<< /Im0 2 0 R /Im1 3 0 R /Im2 4 0 R >> >> >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    report = pdf_image_report(bytes(out))
    (page,) = [p for p in report if p]
    assert len(page) == 2
    merged = [r for r in page if "+" in r["name"]][0]
    assert (merged["x0"], merged["y0"], merged["x1"], merged["y1"]) == (50, 50, 220, 220)
    lone = [r for r in page if "+" not in r["name"]][0]
    assert (lone["x0"], lone["y0"]) == (500, 600)


def test_merge_placements_transitive_chain():
    def box(x):  # unit-width chain: 0-1.2, 1-2.2, 2-3.2 all link up
        return {"name": "i%d" % x, "x0": float(x), "y0": 0.0,
                "x1": x + 1.2, "y1": 1.0}
    merged = _merge_placements([box(0), box(1), box(2)])
    assert len(merged) == 1
    assert merged[0]["x1"] == 3.2


def test_compressed_content_stream_placements():
    blob = _pdf_with_image(w=80, h=40, x=10, y=20, compress=True)
    (rec,) = [r for p in pdf_image_report(blob) for r in p]
    assert (rec["x0"], rec["y0"], rec["x1"], rec["y1"]) == (10, 20, 90, 60)


def test_no_images_and_non_pdf():
    rng = random.Random("img:1")
    # page-slot contract: one (empty) slot per /Type /Page dict, so
    # imageless pages keep later page indices aligned with reader pages
    report = pdf_image_report(_mini_pdf(rng))
    assert report and all(p == [] for p in report)
    assert pdf_image_report(b"<html></html>") == []
    assert pdf_image_report(None) is None


def test_mini_pdf_with_images_text_unchanged():
    md_plain = extract_pdf_markdown(_mini_pdf(random.Random("s:9")))
    md_img = extract_pdf_markdown(_mini_pdf(random.Random("s:9"), with_images=True))
    assert md_plain == md_img  # images never leak into extracted text
    blob = _mini_pdf(random.Random("s:9"), with_images=True)
    report = pdf_image_report(blob)
    assert sum(len(p) for p in report) >= 1
    for rec in (r for p in report for r in p):
        assert rec["dims_match"] is True


def test_spark_pdf_image_placements(spark):
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        pdf_image_placements,
    )

    rows = []
    for i in range(6):
        rng = random.Random("spark-img:%d" % i)
        blob = _mini_pdf(rng, compress=(i % 2 == 0), with_images=(i % 3 != 0))
        rows.append(("https://x.org/%d.pdf" % i, bytearray(blob)))
    rows.append(("https://x.org/html", bytearray(b"<html><p>n</p></html>")))
    rows.append(("https://x.org/null", None))
    df = spark.createDataFrame(rows, "url string, html binary")
    out = pdf_image_placements(df).collect()
    assert len(out) >= 2
    urls = {r.url for r in out}
    assert "https://x.org/html" not in urls and "https://x.org/null" not in urls
    for r in out:
        assert r.dims_match is True
        assert r.width == r.width_true and r.height == r.height_true
        assert r.x1 > r.x0 and r.y1 > r.y0
        assert r.fmt == "jpeg" and r.filter == "DCTDecode"


def _raw_pdf(objs, root=None):
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"trailer\n<< /Size %d /Root %d 0 R >>\n%%EOF\n" % (
        len(objs) + 1, root or len(objs))
    return bytes(out)


def test_phantom_streams_do_not_shift_page_indices():
    """A font-file stream and an undecodable stream must not become
    pages, and a two-page doc places page-2 images at page index 1
    (ADVICE r4: page slots come from /Type /Page dicts, not from
    encounter order of decodable streams)."""
    jpeg = _mini_jpeg(64, 64)
    content1 = b"BT /F1 12 Tf 72 700 Td (page one) Tj ET"
    content2 = (b"BT /F1 12 Tf 72 700 Td (page two) Tj ET\n"
                b"q\n64 0 0 64 100 200 cm\n/Im0 Do\nQ")
    fontfile = b"\x80\x01binaryfontbytes" * 8  # decodable non-content stream
    objs = [
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(fontfile), fontfile),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content1), content1),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content2), content2),
        b"<< /Type /XObject /Subtype /Image /Width 64 /Height 64 "
        b"/Filter /DCTDecode /Length %d >>\nstream\n%s\nendstream"
        % (len(jpeg), jpeg),
        b"<< /Type /Page /Parent 7 0 R /Contents 2 0 R >>",
        b"<< /Type /Page /Parent 7 0 R /Contents 3 0 R "
        b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
        b"<< /Type /Pages /Kids [5 0 R 6 0 R] /Count 2 >>",
        b"<< /Type /Catalog /Pages 7 0 R >>",
    ]
    report = pdf_image_report(_raw_pdf(objs))
    assert len(report) == 2           # exactly the two /Type /Page dicts
    assert report[0] == []
    (rec,) = report[1]
    assert rec["page"] == 1 and rec["name"] == "Im0"
    assert (rec["x0"], rec["y0"], rec["x1"], rec["y1"]) == (100, 200, 164, 264)


def test_kids_order_overrides_byte_order():
    """Pages appear in /Kids order even when the page dicts are stored
    in reversed byte order in the file."""
    jpeg = _mini_jpeg(32, 32)
    c_first = (b"q\n32 0 0 32 10 20 cm\n/Im0 Do\nQ")  # reader page 0
    c_second = b"BT (later page, no image) Tj ET"
    objs = [
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c_second), c_second),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c_first), c_first),
        b"<< /Type /XObject /Subtype /Image /Width 32 /Height 32 "
        b"/Filter /DCTDecode /Length %d >>\nstream\n%s\nendstream"
        % (len(jpeg), jpeg),
        # byte order: the /Contents 1 page first — but /Kids lists 5 before 4
        b"<< /Type /Page /Parent 6 0 R /Contents 1 0 R >>",
        b"<< /Type /Page /Parent 6 0 R /Contents 2 0 R "
        b"/Resources << /XObject << /Im0 3 0 R >> >> >>",
        b"<< /Type /Pages /Kids [5 0 R 4 0 R] /Count 2 >>",
        b"<< /Type /Catalog /Pages 6 0 R >>",
    ]
    report = pdf_image_report(_raw_pdf(objs))
    assert len(report) == 2
    (rec,) = report[0]                # image page is reader page 0 via Kids
    assert rec["page"] == 0 and report[1] == []


def test_inline_image_placement():
    """BI/ID/EI inline images place under the current CTM like XObjects
    and sniff inline-DCT true dimensions."""
    jpeg = _mini_jpeg(48, 24)
    content = (b"BT (x) Tj ET\nq\n48 0 0 24 60 80 cm\n"
               b"BI /W 48 /H 24 /F /DCTDecode ID " + jpeg + b" EI\nQ")
    objs = [
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        b"<< /Type /Page /Parent 3 0 R /Contents 1 0 R >>",
        b"<< /Type /Pages /Kids [2 0 R] /Count 1 >>",
        b"<< /Type /Catalog /Pages 3 0 R >>",
    ]
    report = pdf_image_report(_raw_pdf(objs))
    (rec,) = report[0]
    assert (rec["x0"], rec["y0"], rec["x1"], rec["y1"]) == (60, 80, 108, 104)
    assert rec["width"] == 48 and rec["height"] == 24
    assert rec["fmt"] == "jpeg"       # payload sniff beats the 'inline' tag
    assert rec["width_true"] == 48 and rec["height_true"] == 24
    assert rec["dims_match"] is True


def test_ccitt_and_jbig2_dimension_probes():
    from deepseek_ocr_omnidocbench_spark.operators.pdf_extract import (
        _image_xobjects,
        _jbig2_dims,
    )

    ccitt_payload = b"\x00\x01" * 40  # G4 coded data carries no header
    # embedded-JBIG2 page-information segment (type 48): header then
    # width=640 height=480 as big-endian u32s
    seg = (b"\x00\x00\x00\x01"      # segment number 1
           b"\x30"                   # flags: type 48, 1-byte page assoc
           b"\x00"                   # no referred-to segments
           b"\x01"                   # page association 1
           b"\x00\x00\x00\x13"      # data length 19
           + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
           + b"\x00" * 11)
    assert _jbig2_dims(seg) == (640, 480)
    objs = [
        b"<< /Type /XObject /Subtype /Image /Width 1728 /Height 1100 "
        b"/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns 1728 "
        b"/Rows 1100 >> /Length %d >>\nstream\n%s\nendstream"
        % (len(ccitt_payload), ccitt_payload),
        b"<< /Type /XObject /Subtype /Image /Width 640 /Height 480 "
        b"/Filter /JBIG2Decode /Length %d >>\nstream\n%s\nendstream"
        % (len(seg), seg),
    ]
    xobjs = _image_xobjects(_raw_pdf(objs))
    ccitt = xobjs[1]
    assert ccitt["fmt"] == "ccitt"
    assert (ccitt["width_true"], ccitt["height_true"]) == (1728, 1100)
    jb = xobjs[2]
    assert jb["fmt"] == "jbig2"
    assert (jb["width_true"], jb["height_true"]) == (640, 480)
