"""Encoding health: mojibake / encoding-damage detection and repair
(ftfy-style signals), pure Columns.

The CC-scale reality: upstream WARC payloads decoded with the wrong
charset, double-transcoded feeds, and binary junk surviving boilerplate
strip.  Every production web-text pipeline runs a fix_text-shaped pass
before tokenization; this module provides the *detection* report (which
sources are damaged, how badly) and the literal-substring repair for
the dominant double-encoding class.

Three signals, all row-local integer math:

- **U+FFFD replacement characters** — a decoder already gave up.
- **Double-encoded UTF-8 markers** — the visible byte-sequence
  signatures of common non-ASCII characters whose UTF-8 encoding was
  mis-decoded as cp1252 (``Ã©`` for ``é``, ``â€™`` for a right quote,
  ``Â`` + NBSP).  Counted as LITERAL substrings via replace-length
  math, so the computation is byte-exact in both engines with no
  regex-dialect surface at all.
- **C0 control characters** (tab/newline/CR excluded) — binary junk.

Scale shape: every signal is row-local Column math; the per-source
report is a single map-side-combined groupBy — the same plan at 10^12
docs.  No Python workers.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import substr_count, substr_count_oracle_sql

# (mojibake marker, repaired character).  cp1252 mis-decode signatures;
# written with \u escapes because several repairs are themselves
# non-ASCII.  Order matters for repair: longer markers first so
# "Ã©" is fixed before a bare "Â" rule could bite.
MOJIBAKE_REPAIRS: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),   # 'â€™' -> right single quote
    ("â€œ", "“"),   # 'â€œ' -> left double quote
    ("â€", "”"),   # 'â€\x9d' -> right double quote
    ("Ã©", "é"),         # 'Ã©' -> é
    ("Ã¨", "è"),         # 'Ã¨' -> è
    ("Ã¼", "ü"),         # 'Ã¼' -> ü
    ("Â ", " "),         # 'Â ' -> NBSP
)

MOJIBAKE_MARKERS: tuple[str, ...] = tuple(m for m, _ in MOJIBAKE_REPAIRS)

# C0 controls that never belong in extracted text.  \x escapes parse
# identically in Java regex (Spark) and RE2 (DuckDB).
CONTROL_RE = r"[\x01-\x08\x0B\x0C\x0E-\x1F]"


def encoding_health_cols(text: Column) -> dict[str, Column]:
    """Per-document encoding-damage signals; ``is_damaged`` is their
    disjunction."""
    n_repl = substr_count(text, "\ufffd")
    n_moji = reduce(add, (substr_count(text, m) for m in MOJIBAKE_MARKERS))
    n_ctl = F.regexp_count(text, F.lit(CONTROL_RE)).cast("bigint")
    return {
        "n_replacement": n_repl,
        "n_mojibake": n_moji,
        "n_control": n_ctl,
        "is_damaged": (n_repl + n_moji + n_ctl) > 0,
    }


def encoding_health_oracle_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of ``encoding_health_cols``."""
    out = {
        "n_replacement": substr_count_oracle_sql(text_expr, "\ufffd"),
        "n_mojibake": "(%s)" % " + ".join(
            substr_count_oracle_sql(text_expr, m) for m in MOJIBAKE_MARKERS),
        "n_control": "len(regexp_extract_all(%s, '%s'))" % (text_expr,
                                                           CONTROL_RE),
    }
    out["is_damaged"] = "(%s) > 0" % " + ".join(out.values())
    return out


def fix_mojibake(text: Column) -> Column:
    """Repair the double-encoding class by literal substitution (the
    deterministic core of ftfy's fix_text for the cp1252 mis-decode
    family).  Chained replace() calls — row-local, codegen-friendly."""
    out = text
    for marker, fixed in MOJIBAKE_REPAIRS:
        out = F.replace(out, F.lit(marker), F.lit(fixed))
    return out


def fix_mojibake_oracle_sql(text_expr: str = "text") -> str:
    """DuckDB mirror of ``fix_mojibake``."""
    for marker, fixed in MOJIBAKE_REPAIRS:
        text_expr = "replace(%s, '%s', '%s')" % (text_expr, marker, fixed)
    return text_expr


def encoding_report(docs: DataFrame, text_col: str = "text",
                    part_col: str = "source") -> DataFrame:
    """Per-partition encoding-health report: doc counts, damaged-doc
    share, total signal counts, and how many damaged docs the literal
    repair fully cleans (repairable = mojibake-only damage)."""
    h = encoding_health_cols(F.col(text_col))
    fixed = encoding_health_cols(fix_mojibake(F.col(text_col)))
    return (docs
            .select(part_col,
                    h["n_replacement"].alias("_nr"),
                    h["n_mojibake"].alias("_nm"),
                    h["n_control"].alias("_nc"),
                    h["is_damaged"].cast("int").alias("_dmg"),
                    (h["is_damaged"] & ~fixed["is_damaged"])
                    .cast("int").alias("_fix"))
            .groupBy(part_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_dmg").cast("bigint").alias("n_damaged"),
                 F.sum("_fix").cast("bigint").alias("n_repairable"),
                 F.sum("_nr").cast("bigint").alias("n_replacement"),
                 F.sum("_nm").cast("bigint").alias("n_mojibake"),
                 F.sum("_nc").cast("bigint").alias("n_control"),
                 F.round(F.avg("_dmg"), 6).alias("damaged_share")))
