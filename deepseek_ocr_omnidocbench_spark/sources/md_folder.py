"""Markdown prediction-folder source (SURVEY §2.1 S2/S3).

The reference resolves each page image to its prediction file through 4
filename conventions, tried in order (end2end_dataset.py:162-174):

  1. <img stem>.md
  2. <img stem minus ".pdf">.mmd     (nougat)
  3. <img stem minus ".pdf">.md      (marker)
  4. <full img name>.md              (mineru)

Spark-first: one ``binaryFile`` scan of the folder, a derived join-stem
per file, and a priority-ranked join against the image-id table — the
per-page ``os.path.exists`` probes become a single broadcast join.
Missing predictions surface as a left-anti count, not silent drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def scan_md_folder(spark: SparkSession, folder: str) -> DataFrame:
    """-> (file_name, ext, md).  Reads .md/.mmd as UTF-8 strings."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.m*d")
        .load(folder)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
            F.decode(F.col("content"), "UTF-8").alias("md"),
        )
    )
    return df.withColumn(
        "ext", F.regexp_extract("file_name", r"\.(m?md|md)$", 1))


def resolve_predictions(images: DataFrame, md_files: DataFrame,
                        img_col: str = "img_id") -> DataFrame:
    """images(img_id) x md_files(file_name, ext, md) -> (img_id, md).

    Builds the 4 candidate prediction names per image and keeps the
    best-priority hit.  ``md_files`` is broadcast (a prediction folder is
    tiny next to a page table)."""
    img = images.select(F.col(img_col).alias("img_id"))
    # img stem = name minus 4-char extension (reference slices [:-4])
    stem = F.expr("substring(img_id, 1, length(img_id) - 4)")
    nopdf = F.regexp_replace(stem, r"\.pdf$", "")
    cands = img.select(
        "img_id",
        F.explode(F.array(
            F.struct(F.lit(1).alias("prio"), F.concat(stem, F.lit(".md")).alias("cand")),
            F.struct(F.lit(2).alias("prio"), F.concat(nopdf, F.lit(".mmd")).alias("cand")),
            F.struct(F.lit(3).alias("prio"), F.concat(nopdf, F.lit(".md")).alias("cand")),
            F.struct(F.lit(4).alias("prio"), F.concat(F.col("img_id"), F.lit(".md")).alias("cand")),
        )).alias("c"),
    ).select("img_id", F.col("c.prio").alias("prio"), F.col("c.cand").alias("cand"))
    hits = cands.join(F.broadcast(md_files), cands["cand"] == md_files["file_name"])
    w = Window.partitionBy("img_id").orderBy("prio")
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("img_id", "md")
    )


def missing_predictions(images: DataFrame, resolved: DataFrame,
                        img_col: str = "img_id") -> DataFrame:
    """The reference's '!!!WARNING: No prediction' cases, as a DataFrame."""
    return images.select(F.col(img_col).alias("img_id")).join(
        resolved.select("img_id"), "img_id", "left_anti")
