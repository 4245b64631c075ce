"""Multimodal column plumbing: opaque binary media + typed metadata,
tiling math, and decode/rasterize stubs (SURVEY §2.3 P14, §2.1 S5).

The reference tiles page images into <=MAX_CROPS 640px crops chosen by
an aspect-ratio-closest grid plus a padded 1024px global view
(DeepSeek-OCR-vllm/process/image_process.py:11-83,330-499, config.py:
8-16).  The grid/box arithmetic is pure math and fully implemented +
tested here; the pixel work (PIL decode/resize, pdf rasterize) has no
library in this container, so it is stubbed behind
``NotImplementedError`` with a deterministic fake used by tests — the
Spark-side plumbing (schema, batch shape, mapInPandas signature,
partitioning) is real.  The media jobs (``tile_media``,
``sample_frames``, ``chunk_audio``) wait for those libraries; no query
calls them yet.

Live paths: ``sniff_image_header`` (width/height from container headers,
no pixel decode) feeds ``pdf_extract.pdf_image_report`` and
``pdf_image_placements``; the perceptual hashes back the image dedup
queries and ``streaming.ingest.stream_image_dedup``.

Image rows: (media_id string, kind string, data binary,
meta map<string,string> with width/height as strings).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MIN_CROPS = 2
MAX_CROPS = 6     # config.py:11-12 (max 9; 6 is the memory-safe setting)
TILE_SIZE = 640
GLOBAL_VIEW_SIZE = 1024


def find_closest_aspect_ratio(aspect_ratio: float, target_ratios, width: int,
                              height: int, image_size: int) -> tuple[int, int]:
    """Grid (cols, rows) whose aspect ratio best matches the image
    (image_process.py:11-25; area tie-break at :21-22)."""
    best_diff = float("inf")
    best = (1, 1)
    area = width * height
    for ratio in target_ratios:
        target = ratio[0] / ratio[1]
        diff = abs(aspect_ratio - target)
        if diff < best_diff:
            best_diff = diff
            best = ratio
        elif diff == best_diff:
            if area > 0.5 * image_size * image_size * ratio[0] * ratio[1]:
                best = ratio
    return best


def count_tiles(width: int, height: int, min_num: int = MIN_CROPS,
                max_num: int = MAX_CROPS,
                image_size: int = TILE_SIZE) -> tuple[int, int]:
    """(cols, rows) tile grid for an image (image_process.py:28-42)."""
    aspect = width / height
    ratios = sorted(
        {(i, j) for n in range(min_num, max_num + 1)
         for i in range(1, n + 1) for j in range(1, n + 1)
         if min_num <= i * j <= max_num},
        key=lambda x: x[0] * x[1])
    return find_closest_aspect_ratio(aspect, ratios, width, height, image_size)


def tile_boxes(width: int, height: int, min_num: int = MIN_CROPS,
               max_num: int = MAX_CROPS,
               image_size: int = TILE_SIZE) -> list[tuple[int, int, int, int]]:
    """Crop boxes in the resized (cols*640 x rows*640) canvas
    (image_process.py:62-76): row-major 640px squares."""
    cols, rows = count_tiles(width, height, min_num, max_num, image_size)
    blocks = cols * rows
    boxes = []
    for i in range(blocks):
        x = (i % cols) * image_size
        y = (i // cols) * image_size
        boxes.append((x, y, x + image_size, y + image_size))
    return boxes


def decode_image(data: bytes) -> tuple[int, int, bytes]:
    """STUB: real deployment decodes with PIL and returns RGB pixels.
    No imaging library exists in this container."""
    raise NotImplementedError(
        "image decode requires PIL/pillow; use fake_decode_image in tests")


def fake_decode_image(data: bytes) -> tuple[int, int, bytes]:
    """Deterministic stand-in: width/height derived from the blob hash,
    'pixels' are the blob itself.  Keeps the tiling plumbing testable."""
    h = int.from_bytes(data[:8].ljust(8, b"\0"), "little") if data else 0
    width = 512 + (h % 1537)        # 512..2048
    height = 512 + ((h >> 11) % 1537)
    return width, height, data or b""


TILES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("tile_idx", T.IntegerType()),
    T.StructField("x0", T.IntegerType()),
    T.StructField("y0", T.IntegerType()),
    T.StructField("x1", T.IntegerType()),
    T.StructField("y1", T.IntegerType()),
    T.StructField("is_global_view", T.BooleanType()),
    T.StructField("tile", T.BinaryType()),
])


def tile_media(media: DataFrame, decode=fake_decode_image,
               min_num: int = MIN_CROPS, max_num: int = MAX_CROPS) -> DataFrame:
    """media(media_id, data) -> one row per tile + one global view.

    mapInPandas (not a scalar UDF) because the fan-out is per-row
    variable; Arrow batches bound worker memory."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, data in zip(pdf["media_id"], pdf["data"]):
                if data is None:
                    continue
                try:
                    width, height, px = decode(bytes(data))
                except NotImplementedError:
                    continue
                boxes = tile_boxes(width, height, min_num, max_num)
                for i, (x0, y0, x1, y1) in enumerate(boxes):
                    # stub "crop": tag bytes with the tile index; real
                    # deployment slices the pixel buffer
                    out.append((media_id, i, x0, y0, x1, y1, False,
                                b"tile:%d:" % i + px[:64]))
                out.append((media_id, len(boxes), 0, 0, GLOBAL_VIEW_SIZE,
                            GLOBAL_VIEW_SIZE, True, b"global:" + px[:64]))
            yield pd.DataFrame(
                out, columns=[f.name for f in TILES_SCHEMA.fields])

    return media.select("media_id", "data").mapInPandas(_gen, TILES_SCHEMA)


# ---------------------------------------------------------------------------
# audio / video columns (task brief §extras): opaque binary + typed
# metadata; probe/decode is container-stubbed, the sampling arithmetic,
# schemas and mapInPandas batch shapes are real.

def probe_media(data: bytes) -> tuple[float, float]:
    """STUB: real deployment probes container metadata (duration_sec,
    native_fps) with pyav/ffprobe; no media library exists here."""
    raise NotImplementedError(
        "media probe requires pyav/ffmpeg; use fake_probe_media in tests")


def fake_probe_media(data: bytes) -> tuple[float, float]:
    """Deterministic stand-in: duration 1..120 s, fps 10..40, derived
    from the blob hash so tests are stable."""
    h = int.from_bytes(data[:8].ljust(8, b"\0"), "little") if data else 0
    duration = 1.0 + (h % 11900) / 100.0
    fps = 10.0 + ((h >> 17) % 300) / 10.0
    return duration, fps


FRAMES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("t_sec", T.DoubleType()),
    T.StructField("native_frame", T.LongType()),
    T.StructField("frame", T.BinaryType()),
])


def sample_frames(media: DataFrame, sample_fps: float = 1.0,
                  max_frames: int = 64,
                  probe=fake_probe_media) -> DataFrame:
    """video rows (media_id, data[, meta]) -> one row per sampled frame.

    Frames are sampled at t = k / sample_fps for k < min(duration *
    sample_fps, max_frames); ``native_frame`` is the container frame
    index round(t * native_fps) a real decoder would seek to.  Metadata
    in ``meta['duration_sec']`` / ``meta['fps']`` overrides the probe
    (the 100 TB path: probe once at ingest, carry typed metadata so
    sampling never touches the bytes).  mapInPandas for the per-row
    variable fan-out, like tile_media."""

    has_meta = "meta" in media.columns

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            metas = pdf["meta"] if has_meta else [None] * len(pdf)
            for media_id, data, meta in zip(pdf["media_id"], pdf["data"], metas):
                if data is None:
                    continue
                meta = meta or {}
                try:
                    if "duration_sec" in meta and "fps" in meta:
                        duration, fps = float(meta["duration_sec"]), float(meta["fps"])
                    else:
                        duration, fps = probe(bytes(data))
                except NotImplementedError:
                    continue
                n = min(int(duration * sample_fps), max_frames)
                for k in range(n):
                    t = k / sample_fps
                    out.append((media_id, k, t, round(t * fps),
                                b"frame:%d:" % k + bytes(data)[:32]))
            yield pd.DataFrame(
                out, columns=[f.name for f in FRAMES_SCHEMA.fields])

    cols = ["media_id", "data"] + (["meta"] if has_meta else [])
    return media.select(*cols).mapInPandas(_gen, FRAMES_SCHEMA)


CHUNKS_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("chunk_idx", T.IntegerType()),
    T.StructField("t0_sec", T.DoubleType()),
    T.StructField("t1_sec", T.DoubleType()),
    T.StructField("chunk", T.BinaryType()),
])


def chunk_audio(media: DataFrame, chunk_sec: float = 30.0,
                overlap_sec: float = 0.0,
                probe=fake_probe_media) -> DataFrame:
    """audio rows -> fixed-length chunk boundaries (the Whisper-style
    windowing): chunk k covers [k*(chunk_sec-overlap), ... + chunk_sec),
    last chunk clipped to the duration.  Same stub/meta contract as
    sample_frames."""
    has_meta = "meta" in media.columns
    stride = chunk_sec - overlap_sec
    assert stride > 0

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            metas = pdf["meta"] if has_meta else [None] * len(pdf)
            for media_id, data, meta in zip(pdf["media_id"], pdf["data"], metas):
                if data is None:
                    continue
                meta = meta or {}
                try:
                    if "duration_sec" in meta:
                        duration = float(meta["duration_sec"])
                    else:
                        duration, _ = probe(bytes(data))
                except NotImplementedError:
                    continue
                k = 0
                while k * stride < duration:
                    t0 = k * stride
                    t1 = min(t0 + chunk_sec, duration)
                    out.append((media_id, k, t0, t1,
                                b"chunk:%d:" % k + bytes(data)[:32]))
                    k += 1
            yield pd.DataFrame(
                out, columns=[f.name for f in CHUNKS_SCHEMA.fields])

    cols = ["media_id", "data"] + (["meta"] if has_meta else [])
    return media.select(*cols).mapInPandas(_gen, CHUNKS_SCHEMA)


# ---- image header sniffing (pure byte parsing — NO imaging libs) --------

def sniff_image_header(data: bytes | None) -> tuple[str, int, int] | None:
    """(format, width, height) parsed from the container header alone:
    PNG (IHDR), GIF87a/89a (logical screen), JPEG (first SOFn frame),
    BMP (BITMAPINFOHEADER) and WebP (VP8/VP8L/VP8X chunks).  Unlike the
    pixel decode (container-blocked behind ``decode_image``), header
    geometry needs only struct math, so dimension-dependent pipeline
    stages — tiling grids, aspect filters, size gates — run for real at
    scale.  Returns None for unrecognized/truncated bytes."""
    import struct

    if not data:
        return None
    b = bytes(data)
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            w, h = struct.unpack(">II", b[16:24])
            return ("png", w, h)
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return ("gif", w, h)
        if b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            return ("bmp", w, abs(h))  # negative h = top-down DIB
        if b[:4] == b"RIFF" and b[8:12] == b"WEBP" and len(b) >= 30:
            chunk = b[12:16]
            if chunk == b"VP8X":
                w = int.from_bytes(b[24:27], "little") + 1
                h = int.from_bytes(b[27:30], "little") + 1
                return ("webp", w, h)
            if chunk == b"VP8L" and b[20] == 0x2F:
                bits = int.from_bytes(b[21:25], "little")
                return ("webp", (bits & 0x3FFF) + 1,
                        ((bits >> 14) & 0x3FFF) + 1)
            if chunk == b"VP8 ":
                # lossy: frame tag at chunk payload +6
                w = int.from_bytes(b[26:28], "little") & 0x3FFF
                h = int.from_bytes(b[28:30], "little") & 0x3FFF
                return ("webp", w, h)
            return None
        if b[:2] == b"\xff\xd8":  # JPEG: scan markers for SOFn
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", b[i + 5:i + 9])
                    return ("jpeg", w, h)
                i += 2 + seglen
    except (struct.error, IndexError):
        return None
    return None


# ---- PDF image placements over a pages table -----------------------------

PDF_IMAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("name", T.StringType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("filter", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("width_true", T.IntegerType()),
    T.StructField("height_true", T.IntegerType()),
    T.StructField("dims_match", T.BooleanType()),
    T.StructField("x0", T.DoubleType()),
    T.StructField("y0", T.DoubleType()),
    T.StructField("x1", T.DoubleType()),
    T.StructField("y1", T.DoubleType()),
])


def pdf_image_placements(pages: DataFrame, blob_col: str = "html",
                         url_col: str = "url") -> DataFrame:
    """(url, page, name, fmt, filter, dict dims, sniffed true dims,
    dims_match, CTM bbox) — one row per merged image placement across
    every %PDF blob in ``pages`` (anchor.py:142-151 page-report
    semantics, pdf_extract.pdf_image_report kernel).

    One Arrow-batched mapInPandas pass, no shuffle: each input partition
    emits its own placement rows, so the operator inherits the scan's
    partitioning and a 10^12-row table never concentrates parse work.
    Non-PDF and NULL blobs emit nothing."""
    from .pdf_extract import pdf_image_report

    src = pages.select(url_col, blob_col)

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PDF_IMAGE_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for url, blob in zip(pdf[url_col], pdf[blob_col]):
                if blob is None:
                    continue
                report = pdf_image_report(bytes(blob))
                if not report:
                    continue
                for page in report:
                    for rec in page:
                        rows.append({"url": url, **rec})
            out = pd.DataFrame(rows, columns=cols)
            out["page"] = out["page"].astype("Int32")
            for c in ("width", "height", "width_true", "height_true"):
                out[c] = out[c].astype("Int32")
            out["dims_match"] = out["dims_match"].astype("boolean")
            yield out

    return src.mapInPandas(_gen, PDF_IMAGE_SCHEMA)


# ---- Perceptual image hashing (aHash / dHash) + Hamming near-dup -------
#
# The image twin of the text near-dedup layer: re-encoded, resized or
# lightly-recompressed copies of the same figure/page scan survive exact
# byte dedup, but their coarse luminance structure is identical.  aHash
# (mean hash) and dHash (gradient hash, Krawetz 2013 "Kind of Like
# That") reduce each image to a 63-bit signature over a fixed
# HASH_ROWS x HASH_COLS cell grid; near-duplicates are pairs within a
# small Hamming distance, found with the same banding trick the SimHash
# operator uses (no all-pairs term).
#
# Everything after decode is relational and exact:
#   * cell means never materialize as floats — cell A is darker than
#     cell B iff sum_a * cnt_b < sum_b * cnt_a (exact bigint cross
#     multiply), so the bits are engine-portable with no rounding
#     surface;
#   * the grid is HASH_ROWS=7 x HASH_COLS=9: dHash compares the 8
#     horizontally-adjacent cell pairs per row (7*8 = 56 bits) and
#     aHash thresholds all 63 cells against the global mean (63 bits)
#     — both fit a non-negative signed bigint, so XOR + bit_count
#     stay in native 64-bit integer ops in Spark AND DuckDB.
#
# Scale shape: pixels explode to (media_id, cell, value) rows — one
# map-side-combinable groupBy per image regardless of resolution; the
# per-image state after the combine is <= 63 rows.  The near-dup join
# is banded: 4 x 16-bit bands, pairs sharing any band verify exact
# Hamming — candidates are bounded by band-bucket sizes, never |N|^2.

HASH_ROWS = 7
HASH_COLS = 9


def gray_cell_stats(imgs: DataFrame, id_col: str = "media_id",
                    pixels_col: str = "pixels",
                    width_col: str = "width", height_col: str = "height",
                    rows: int = HASH_ROWS,
                    cols: int = HASH_COLS) -> DataFrame:
    """(id, cell_r, cell_c, s bigint, n bigint) — box-mean pooling of a
    row-major grayscale array<int> onto a rows x cols grid.  Pixel
    (r, c) lands in cell (floor(r*rows/h), floor(c*cols/w)); means are
    kept as exact (sum, count) pairs.  ONE shuffle (the groupBy), with
    map-side combine bounding the shuffled rows at rows*cols per
    image."""
    from pyspark.sql import functions as F

    px = imgs.select(
        F.col(id_col).alias("media_id"),
        F.col(width_col).cast("long").alias("w"),
        F.col(height_col).cast("long").alias("h"),
        F.posexplode(F.col(pixels_col)).alias("i", "v"))
    r = (F.col("i") / F.col("w")).cast("long")
    c = F.col("i") % F.col("w")
    return (px
            .select("media_id",
                    ((r * rows) / F.col("h")).cast("long").alias("cell_r"),
                    ((c * cols) / F.col("w")).cast("long").alias("cell_c"),
                    F.col("v").cast("long").alias("v"))
            .groupBy("media_id", "cell_r", "cell_c")
            .agg(F.sum("v").alias("s"),
                 F.count(F.lit(1)).alias("n")))


def image_hashes(imgs: DataFrame, id_col: str = "media_id",
                 pixels_col: str = "pixels",
                 width_col: str = "width", height_col: str = "height",
                 rows: int = HASH_ROWS,
                 cols: int = HASH_COLS) -> DataFrame:
    """(media_id, ahash bigint, dhash bigint) from decoded grayscale
    pixels.  dHash bit (r, c) = cell (r, c) darker than its right
    neighbor (bit index r*(cols-1)+c); aHash bit k = cell k brighter
    than the global image mean.  Bit counts (rows*(cols-1) = 56 and
    rows*cols = 63 by default) must stay <= 63 so signatures are
    non-negative bigints."""
    from pyspark.sql import functions as F

    from pyspark.sql import Window

    if rows * cols > 63:
        raise ValueError("aHash grid must be <= 63 cells for bigint packing")
    # Scale shape: ONE pixel-level shuffle (gray_cell_stats, map-side
    # combined to <= rows*cols rows per image), then two cell-level
    # exchanges over that already-tiny frame: the neighbor window on
    # (media_id, cell_r) for lead(), and media_id for the global-mean
    # window — whose partitioning the final groupBy reuses.  Per-row
    # expressions stay tiny: no join, no branch recompute, no giant
    # literal-unrolled projection.
    # Images narrower or shorter than the grid would leave empty cells
    # (undefined neighbors), so they are filtered out — a perceptual
    # hash of a < 9x7 thumbnail is meaningless anyway.
    cells = gray_cell_stats(
        imgs.where((F.col(width_col) >= cols) & (F.col(height_col) >= rows)),
        id_col, pixels_col, width_col, height_col, rows, cols)
    w_all = Window.partitionBy("media_id")
    w_row = Window.partitionBy("media_id", "cell_r").orderBy("cell_c")
    enriched = cells.select(
        "media_id", "cell_r", "cell_c", "s", "n",
        F.sum("s").over(w_all).alias("ts"),
        F.sum("n").over(w_all).alias("tn"),
        F.lead("s").over(w_row).alias("s2"),
        F.lead("n").over(w_row).alias("n2"))
    a_term = F.expr(
        "case when s * tn > ts * n then shiftleft(cast(1 as bigint), "
        f"cast(cell_r * {cols} + cell_c as int)) else cast(0 as bigint) end")
    d_term = F.expr(
        "case when s2 is not null and s * n2 < s2 * n then "
        "shiftleft(cast(1 as bigint), "
        f"cast(cell_r * {cols - 1} + cell_c as int)) "
        "else cast(0 as bigint) end")
    return (enriched.groupBy("media_id")
            .agg(F.sum(a_term).alias("ahash"),
                 F.sum(d_term).alias("dhash")))


def band_key(hv, band: int, band_bits: int = 16):
    """The Hamming-band bucket key: bits [band*band_bits,
    (band+1)*band_bits) of a signature.  ONE definition shared by the
    batch near-dup join below and the streaming signature store
    (streaming/ingest.stream_image_dedup) — a band_bits change in one
    place cannot silently desync the other."""
    from pyspark.sql import functions as F

    return F.shiftright(hv, band * band_bits) \
        .bitwiseAND(F.lit((1 << band_bits) - 1))


def hash_near_dups(hashes: DataFrame, hash_col: str = "dhash",
                   id_col: str = "media_id", max_hamming: int = 6,
                   n_bands: int = 4, band_bits: int = 16) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(hash_a, hash_b) <=
    ``max_hamming``, id_a < id_b.  Banded candidate generation: two
    signatures within Hamming d < n_bands share at least one exact
    16-bit band (pigeonhole), so only band-bucket collisions are
    verified — the SimHash trick applied to perceptual hashes.  With
    max_hamming >= n_bands the guarantee is probabilistic-complete
    (documented); the gated fixture plants dups within n_bands-1 bits.
    Exact verify = bit_count(a XOR b), native 64-bit in Spark and
    DuckDB."""
    from pyspark.sql import functions as F

    h = hashes.select(F.col(id_col).alias("id"),
                      F.col(hash_col).alias("hv"))
    bands = h.select(
        "id", "hv",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key(F.col("hv"), b, band_bits).alias("bv"))
            for b in range(n_bands)])).alias("bk")) \
        .select("id", "hv", F.col("bk.band").alias("band"),
                F.col("bk.bv").alias("bv"))
    left = bands.select(F.col("band"), F.col("bv"),
                        F.col("id").alias("id_a"), F.col("hv").alias("ha"))
    right = bands.select(F.col("band"), F.col("bv"),
                         F.col("id").alias("id_b"), F.col("hv").alias("hb"))
    pairs = (left.join(right, ["band", "bv"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "ha", "hb").distinct())
    return (pairs
            .select("id_a", "id_b",
                    F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                    .cast("long").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))
