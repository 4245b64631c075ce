"""YAML front-matter parsing into a typed page-response struct (P13).

Re-expresses olmocr's FrontMatterParser + PageResponse
(olmocr/olmocr/train/dataloader.py:191-260, prompts/prompts.py:66-92):
markdown starting with ``---\\n...\\n---`` carries the page metadata; the
rest is natural text.  The dataclass validation (rotation in {0,90,180,
270}, strict bool/int/str types, every field required) becomes a
``valid`` boolean column plus typed struct fields — bad rows surface as
``valid=false`` instead of raising, so one malformed response can't kill
a 10^12-row job.

The subset YAML understood here is the flat ``key: value`` map the
model emits (the only form the reference produces); no external yaml lib
is needed.  The reference's per-page retry ladder (R5,
pipeline.py:251-375: re-ask with a hotter temperature and the corrected
rotation) is not here: no pipeline calls a model, so nothing retries.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGE_RESPONSE_SCHEMA = T.StructType([
    T.StructField("primary_language", T.StringType()),
    T.StructField("is_rotation_valid", T.BooleanType()),
    T.StructField("rotation_correction", T.IntegerType()),
    T.StructField("is_table", T.BooleanType()),
    T.StructField("is_diagram", T.BooleanType()),
    T.StructField("natural_text", T.StringType()),
    T.StructField("valid", T.BooleanType()),
])

_FIELDS = ("primary_language", "is_rotation_valid", "rotation_correction",
           "is_table", "is_diagram")


def split_front_matter(md: str) -> tuple[dict, str]:
    """dataloader.py:202-218 semantics: ---\\n ... \\n--- prefix block."""
    if md.startswith("---\n"):
        end = md.find("\n---", 4)
        if end != -1:
            block = md[4:end]
            text = md[end + 4:].strip()
            fm = {}
            for line in block.split("\n"):
                if ":" in line:
                    k, _, v = line.partition(":")
                    fm[k.strip()] = v.strip()
            return fm, text
    return {}, md.strip()


def _to_bool(v: str) -> Optional[bool]:
    low = v.strip().lower()
    if low in ("true", "yes"):
        return True
    if low in ("false", "no"):
        return False
    return None


def parse_page_response(md: Optional[str]) -> Optional[tuple]:
    if md is None:
        return None
    fm, text = split_front_matter(md)
    if any(f not in fm for f in _FIELDS):
        return (None, None, None, None, None, text or None, False)
    try:
        rot = int(fm["rotation_correction"])
    except ValueError:
        return (None, None, None, None, None, text or None, False)
    lang = fm["primary_language"] or None
    if lang is not None and _to_bool(lang) is not None:
        lang = None  # yaml 'no'/'yes' as language -> None (dataloader.py:248-252)
    rv, tb, dg = (_to_bool(fm["is_rotation_valid"]), _to_bool(fm["is_table"]),
                  _to_bool(fm["is_diagram"]))
    valid = rot in (0, 90, 180, 270) and None not in (rv, tb, dg)
    if not valid:
        return (None, None, None, None, None, text or None, False)
    return (lang, rv, rot, tb, dg, text or None, True)


def page_response_udf():
    cols = [f.name for f in PAGE_RESPONSE_SCHEMA.fields]

    def _batch(md: pd.Series) -> pd.DataFrame:
        # struct-returning pandas UDFs must yield a DataFrame, one column
        # per struct field
        rows = [parse_page_response(m) or (None,) * len(cols) for m in md]
        return pd.DataFrame(rows, columns=cols)

    return F.pandas_udf(_batch, PAGE_RESPONSE_SCHEMA)


def parse_responses(df, md_col: str = "md"):
    """df + parsed struct columns; retry-eligible rows = ~is_rotation_valid
    (the reference's rotation feedback loop, pipeline.py:317-325)."""
    out = df.withColumn("resp", page_response_udf()(F.col(md_col)))
    return out.select(
        "*",
        F.col("resp.primary_language").alias("primary_language"),
        F.col("resp.is_rotation_valid").alias("is_rotation_valid"),
        F.col("resp.rotation_correction").alias("rotation_correction"),
        F.col("resp.is_table").alias("is_table"),
        F.col("resp.is_diagram").alias("is_diagram"),
        F.col("resp.natural_text").alias("natural_text"),
        F.col("resp.valid").alias("response_valid"),
    ).drop("resp")
