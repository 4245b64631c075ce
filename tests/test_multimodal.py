"""Tiling math (P14) + multimodal plumbing stubs."""

import pytest

from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
    MAX_CROPS,
    MIN_CROPS,
    count_tiles,
    decode_image,
    fake_decode_image,
    tile_boxes,
    tile_media,
)


def test_square_image_grid():
    cols, rows = count_tiles(1280, 1280)
    assert cols == rows
    assert MIN_CROPS <= cols * rows <= MAX_CROPS


def test_wide_image_prefers_wide_grid():
    cols, rows = count_tiles(2560, 640)
    assert cols > rows


def test_tall_image_prefers_tall_grid():
    cols, rows = count_tiles(640, 2560)
    assert rows > cols


def test_grid_within_crop_budget():
    for w, h in [(500, 500), (4000, 500), (500, 4000), (1920, 1080), (793, 1122)]:
        cols, rows = count_tiles(w, h)
        assert MIN_CROPS <= cols * rows <= MAX_CROPS, (w, h)


def test_tile_boxes_tile_the_canvas():
    boxes = tile_boxes(1280, 1280)
    cols, rows = count_tiles(1280, 1280)
    assert len(boxes) == cols * rows
    assert boxes[0] == (0, 0, 640, 640)
    xs = {b[0] for b in boxes}
    assert xs == {640 * i for i in range(cols)}
    for x0, y0, x1, y1 in boxes:
        assert x1 - x0 == 640 and y1 - y0 == 640


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_fake_decode_deterministic():
    a = fake_decode_image(b"some image bytes")
    assert a == fake_decode_image(b"some image bytes")
    assert 512 <= a[0] <= 2048 and 512 <= a[1] <= 2048


def test_tile_media_spark(spark):
    df = spark.createDataFrame(
        [("m1", b"imagebytes-one"), ("m2", b"imagebytes-two"), ("m3", None)],
        ["media_id", "data"])
    rows = tile_media(df).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == {"m1", "m2"}  # null media dropped
    for mid, tiles in by_media.items():
        globals_ = [t for t in tiles if t["is_global_view"]]
        assert len(globals_) == 1
        n_crops = len(tiles) - 1
        assert MIN_CROPS <= n_crops <= MAX_CROPS
        idx = sorted(t["tile_idx"] for t in tiles)
        assert idx == list(range(len(tiles)))


def test_sample_frames_plumbing(spark):
    """Frame sampling: deterministic fan-out, meta overrides the probe,
    native frame indices track the container fps."""
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        fake_probe_media,
        sample_frames,
    )

    rows = [("v1", bytearray(b"videoblob-one"), {"duration_sec": "5.0", "fps": "30"}),
            ("v2", bytearray(b"videoblob-two"), None),
            ("v3", None, None)]
    df = spark.createDataFrame(
        rows, "media_id string, data binary, meta map<string,string>")
    out = sample_frames(df, sample_fps=2.0, max_frames=6).collect()
    v1 = [r for r in out if r["media_id"] == "v1"]
    # duration 5s at 2 fps -> 10 frames capped at 6
    assert len(v1) == 6
    assert [r["t_sec"] for r in v1] == [0.0, 0.5, 1.0, 1.5, 2.0, 2.5]
    assert [r["native_frame"] for r in v1] == [0, 15, 30, 45, 60, 75]
    dur2, _ = fake_probe_media(b"videoblob-two")
    v2 = [r for r in out if r["media_id"] == "v2"]
    assert len(v2) == min(int(dur2 * 2.0), 6)
    assert not [r for r in out if r["media_id"] == "v3"]
    assert v1[0]["frame"].startswith(b"frame:0:")


def test_chunk_audio_boundaries(spark):
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import chunk_audio

    df = spark.createDataFrame(
        [("a1", bytearray(b"audio"), {"duration_sec": "70"})],
        "media_id string, data binary, meta map<string,string>")
    out = sorted(chunk_audio(df, chunk_sec=30.0).collect(),
                 key=lambda r: r["chunk_idx"])
    assert [(r["t0_sec"], r["t1_sec"]) for r in out] == [
        (0.0, 30.0), (30.0, 60.0), (60.0, 70.0)]
    # overlap windows
    out2 = sorted(chunk_audio(df, chunk_sec=30.0, overlap_sec=10.0).collect(),
                  key=lambda r: r["chunk_idx"])
    assert out2[0]["t1_sec"] == 30.0 and out2[1]["t0_sec"] == 20.0


def test_probe_stub_is_loud():
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import probe_media

    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        probe_media(b"x")


def _png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))


def _webp_vp8x(w, h):
    return (b"RIFF" + b"\x00\x00\x00\x00" + b"WEBP" + b"VP8X"
            + b"\x0a\x00\x00\x00" + b"\x00\x00\x00\x00"
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"))


def test_sniff_image_header_webp():
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        sniff_image_header,
    )

    assert sniff_image_header(_webp_vp8x(1024, 768)) == ("webp", 1024, 768)


def test_sniff_image_header_never_raises():
    import random

    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        sniff_image_header,
    )

    rng = random.Random(3)
    magics = [b"\x89PNG\r\n\x1a\n", b"GIF89a", b"BM", b"RIFF", b"\xff\xd8"]
    for trial in range(300):
        m = magics[trial % len(magics)]
        blob = m + bytes(rng.randrange(256)
                         for _ in range(rng.randrange(0, 40)))
        out = sniff_image_header(blob)
        assert out is None or (len(out) == 3 and isinstance(out[0], str))


# ---- perceptual hashing -------------------------------------------------

def _img_rows(spark, specs):
    """specs: list of (media_id, width, height, pixel_fn(r, c))."""
    from pyspark.sql import types as T
    rows = []
    for mid, w, h, fn in specs:
        px = [fn(i // w, i % w) for i in range(w * h)]
        rows.append((mid, w, h, px))
    schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixels", T.ArrayType(T.IntegerType())),
    ])
    return spark.createDataFrame(rows, schema)


def test_image_hashes_gradient_and_flat(spark):
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        image_hashes)

    # left-to-right brightness ramp: every dHash bit on (each cell
    # strictly darker than its right neighbor); flat image: all off.
    imgs = _img_rows(spark, [
        ("ramp", 18, 14, lambda r, c: c * 10),
        ("flat", 18, 14, lambda r, c: 77),
    ])
    out = {r.media_id: r for r in image_hashes(imgs).collect()}
    assert out["ramp"].dhash == (1 << 56) - 1
    assert out["flat"].dhash == 0
    assert out["flat"].ahash == 0  # no cell strictly brighter than mean


def test_image_hashes_resolution_invariant(spark):
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        image_hashes)

    # Same cell-structured content at different resolutions hashes
    # identically: pixel value depends only on the target cell.
    def fn(w, h):
        return lambda r, c: ((r * 7 // h) * 13 + (c * 9 // w) * 29) % 256

    imgs = _img_rows(spark, [
        ("small", 18, 14, fn(18, 14)),
        ("large", 36, 21, fn(36, 21)),
    ])
    out = {r.media_id: r for r in image_hashes(imgs).collect()}
    assert out["small"].dhash == out["large"].dhash
    assert out["small"].ahash == out["large"].ahash


def test_hash_near_dups_banding(spark):
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        hash_near_dups)

    # a/b differ in 2 bits (< n_bands=4 -> pigeonhole-guaranteed);
    # c is far from both; d == a exactly.
    rows = [("a", 0b1111000011110000111100001111000011110000),
            ("b", 0b1111000011110000111100001111000011110011),
            ("c", 0b0000111100001111000011110000111100001111),
            ("d", 0b1111000011110000111100001111000011110000)]
    h = spark.createDataFrame(rows, ["media_id", "dhash"])
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in hash_near_dups(h, max_hamming=3).collect()}
    assert pairs[("a", "b")] == 2
    assert pairs[("a", "d")] == 0
    assert pairs[("b", "d")] == 2
    assert not any("c" in p for p in pairs)


def test_hash_near_dups_exact_verify_rejects(spark):
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        hash_near_dups)

    # share the low 16-bit band (candidates) but hamming 24 -> rejected
    rows = [("x", (0xFFFFFF << 16) | 0x1234), ("y", 0x1234)]
    h = spark.createDataFrame(rows, ["media_id", "dhash"])
    assert hash_near_dups(h, max_hamming=6).count() == 0


def test_image_hashes_plan_shape(spark):
    """Exactly 2 hash exchanges, no join: one for the pixel->cell
    groupBy + neighbor window, one for the media_id window that the
    final groupBy then reuses."""
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        image_hashes)

    imgs = _img_rows(spark, [("a", 18, 14, lambda r, c: c)])
    plan = image_hashes(imgs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


def test_image_hashes_min_grid_and_undersized(spark):
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        image_hashes)

    # exactly grid-sized (9x7) hashes fine; 8x7 is filtered out
    imgs = _img_rows(spark, [
        ("ok", 9, 7, lambda r, c: (r * 9 + c) % 256),
        ("toosmall", 8, 7, lambda r, c: 1),
    ])
    out = image_hashes(imgs).collect()
    assert {r.media_id for r in out} == {"ok"}
    assert all(0 <= r.dhash < (1 << 56) and 0 <= r.ahash < (1 << 63)
               for r in out)
