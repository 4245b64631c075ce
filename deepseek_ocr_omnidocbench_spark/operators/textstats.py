"""Text-analysis operators for training-data pipelines (task brief §extras).

Most operators are Column expressions (JVM-side, codegen'd, each with a
hand-written DuckDB mirror for the oracle): token counts, Gopher rules,
readability, repetition and corpus statistics.  The language, quality
and SEO-spam gates count in Python instead: ``text_counts`` counts every
integer they read (the ``TEXT_COUNTS`` layout) in one pass over the
text, and ``text_counts_col`` runs it as an Arrow UDF.  Their decisions
are Columns over those counts, written once in ``lang_from_counts``,
``quality_from_counts`` and ``seo_spam_from_counts`` (composed by
``decisions_from_counts``).  The Column gates feed them
``text_counts_col`` of their text; the extraction pipeline feeds them
the counts its kernel took on each page as it emitted it, as the
reference filters the text it has just extracted (olmocr
filter/filter.py:35-105).  Spark evaluates identical calls of one
deterministic Python UDF in a projection once, so gates mixed in one
select count each text once.  The other Python is the winnowing
fingerprint and trailing-repeat detector (ported heuristics from the
reference: olmocr/olmocr/filter/filter.py:35-62, 91-110 and
olmocr/olmocr/repeatdetect.py:8-46).
"""

from __future__ import annotations

import inspect
import re
from collections import Counter
from functools import reduce
from operator import add

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# token pattern shared with the DuckDB oracle: letter runs, digit runs,
# single other-non-space (a BPE-ish pre-tokenization).
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

EN_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as", "on"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den"]
# distinctive-only lists (no overlap with each other or en/de) so the
# argmax cascade stays deterministic
ES_STOPWORDS = ["el", "los", "las", "una", "es", "por", "con", "para", "del", "como", "su"]
FR_STOPWORDS = ["le", "les", "des", "et", "est", "pour", "avec", "dans", "du", "sur", "au"]

# Latin-script stopword profiles in CASCADE ORDER: language i is chosen
# iff its hit count strictly exceeds every later profile's; 'en' (last)
# needs only >0 hits.  ASCII-only words (the word splitter drops
# accents), pairwise-disjoint across profiles (tested) so ties can't
# flip with list order.  From-scratch extension toward the reference's
# ~75-language lingua detector (olmocr/filter/filter.py:101-105).
LATIN_PROFILES: list[tuple[str, list[str]]] = [
    # round-5 second pass (+5: ga/mt/zu/ha/so), same rules as below.
    ("ga", ["agus", "ach", "seo", "chun", "freisin", "bheith", "raibh",
            "anseo", "gach", "arsa"]),
    ("mt", ["huwa", "hija", "iktar", "ukoll", "jista", "dwar", "biex",
            "qabel", "kienet", "lill"]),
    ("zu", ["ukuthi", "futhi", "ngoba", "kodwa", "lokhu", "kanye", "noma",
            "ngesikhathi", "njengoba", "abantu"]),
    ("ha", ["amma", "wannan", "domin", "wata", "suka", "kuma", "wani",
            "daga", "cikin", "yana"]),
    ("so", ["waxaa", "inuu", "iyo", "laakiin", "markii", "sidoo", "kale",
            "ayaa", "dhan", "isaga"]),
    # round-5 widening (31 -> 48 langs): distinctive ASCII-only words,
    # pairwise-disjoint with every other profile (tested).  Closely
    # related pairs (ms/id, hr/sr, no/da) rely on words the sibling
    # does NOT use; ms sits before id so the strictly-greater rule can
    # ever pick it.
    ("vi", ["khong", "nguoi", "trong", "duoc", "nhung", "cung", "ngay",
            "viec", "truoc", "hoac"]),
    ("no", ["noen", "bare", "vaere", "hvordan", "mye", "denne", "selv",
            "etter", "blir", "noe"]),
    ("sk", ["alebo", "bolo", "ktore", "potom", "teda", "vsetko", "mozno",
            "tiez", "preto", "ked"]),
    ("hr", ["nije", "koji", "koja", "ili", "samo", "vrlo", "jos", "moze",
            "biti", "sve"]),
    ("sr", ["takodje", "gde", "posle", "ovde", "uvek", "nesto", "veoma",
            "zbog", "sada", "bez"]),
    ("lt", ["kad", "yra", "buvo", "kaip", "taip", "labai", "dar", "jau",
            "tik", "bet"]),
    ("lv", ["nav", "tikai", "ari", "gan", "tapec", "kur", "vel", "pec",
            "lidz", "vini"]),
    ("et", ["ning", "kui", "aga", "seda", "voi", "koik", "ainult",
            "samuti", "juba", "siis"]),
    ("sl", ["tudi", "lahko", "vendar", "zelo", "kjer", "nekaj", "veliko",
            "torej", "zdaj", "brez"]),
    ("ms", ["anda", "boleh", "kerana", "sahaja", "tetapi", "iaitu",
            "hendak", "amat", "pula", "sebab"]),
    ("af", ["ons", "hierdie", "baie", "want", "hulle", "geword", "sodat",
            "daardie", "asook", "vir"]),
    ("sw", ["kwamba", "lakini", "wakati", "sana", "pia", "hivyo", "kama",
            "yake", "katika", "mwaka"]),
    ("tl", ["ang", "mga", "ito", "hindi", "naman", "lang", "kung", "ako",
            "siya", "ngayon"]),
    ("eu", ["eta", "dira", "izan", "ere", "baina", "egin", "duela",
            "horrek", "gabe", "oso"]),
    ("sq", ["dhe", "sepse", "nuk", "jane", "kjo", "nga", "edhe", "sipas",
            "ketu", "shume"]),
    ("cy", ["bod", "wedi", "ond", "mae", "hyn", "iawn", "eto", "rhai",
            "dim", "hefyd"]),
    ("is", ["sem", "hann", "eru", "vera", "einnig", "fyrir", "milli",
            "sidan", "verid", "honum"]),
    ("it", ["che", "il", "di", "sono", "della", "gli", "anche", "questo",
            "nella", "ma"]),
    ("pt", ["uma", "mais", "foi", "pelo", "isso", "os", "da", "em", "ele",
            "mas"]),
    ("nl", ["het", "een", "van", "niet", "zijn", "voor", "maar", "ook",
            "naar", "heeft"]),
    ("sv", ["och", "att", "det", "som", "av", "till", "har", "inte", "vid",
            "ett"]),
    ("pl", ["nie", "jest", "jak", "ale", "czy", "tak", "przez", "tego",
            "jego", "juz"]),
    ("tr", ["bir", "ve", "bu", "olarak", "daha", "gibi", "sonra", "kadar",
            "ancak", "yok"]),
    ("id", ["yang", "dan", "dengan", "untuk", "dari", "ini", "itu", "tidak",
            "pada", "adalah"]),
    ("ro", ["si", "cu", "este", "din", "care", "pentru", "sau", "dupa",
            "acest", "fost"]),
    ("da", ["og", "ikke", "jeg", "hvad", "hvor", "skal", "kan", "ogsaa",
            "hvis", "efter"]),
    ("fi", ["ei", "mutta", "kun", "oli", "joka", "etta", "ovat", "kuin",
            "niin", "mita"]),
    ("cs", ["se", "je", "jsou", "jsem", "byl", "bylo", "ktery", "vsak",
            "muze", "pouze"]),
    ("hu", ["hogy", "nem", "egy", "az", "meg", "mar", "csak", "volt",
            "vagy", "mint"]),
    ("ca", ["amb", "els", "dels", "aquest", "tambe", "aquesta", "seva",
            "fins", "aixo", "com"]),
    ("fr", FR_STOPWORDS),
    ("es", ES_STOPWORDS),
    ("de", DE_STOPWORDS),
    ("en", EN_STOPWORDS),
]

# Non-Latin scripts by codepoint-range density, in CASCADE ORDER —
# kana before the CJK-ideograph range because Japanese text mixes kanji
# with kana while Chinese has (near) none.
SCRIPT_PROFILES: list[tuple[str, int, int, float]] = [
    ("ja", 0x3040, 0x30FF, 0.05),   # hiragana + katakana
    ("ko", 0xAC00, 0xD7AF, 0.05),   # hangul syllables
    ("ru", 0x0400, 0x04FF, 0.05),   # cyrillic
    ("ar", 0x0600, 0x06FF, 0.05),   # arabic
    ("hi", 0x0900, 0x097F, 0.05),   # devanagari
    ("zh", 0x4E00, 0x9FFF, 0.05),   # CJK unified ideographs
    ("th", 0x0E00, 0x0E7F, 0.05),   # thai
    ("he", 0x0590, 0x05FF, 0.05),   # hebrew
    ("el", 0x0370, 0x03FF, 0.05),   # greek + coptic
    ("bn", 0x0980, 0x09FF, 0.05),   # bengali
    ("ta", 0x0B80, 0x0BFF, 0.05),   # tamil
    ("te", 0x0C00, 0x0C7F, 0.05),   # telugu
    ("ka", 0x10A0, 0x10FF, 0.05),   # georgian
    ("hy", 0x0530, 0x058F, 0.05),   # armenian
    # round-5 second pass: +10 single-language script blocks (each range
    # is disjoint from every other profiled range, so cascade order
    # among them is irrelevant).
    ("kn", 0x0C80, 0x0CFF, 0.05),   # kannada
    ("ml", 0x0D00, 0x0D7F, 0.05),   # malayalam
    ("gu", 0x0A80, 0x0AFF, 0.05),   # gujarati
    ("pa", 0x0A00, 0x0A7F, 0.05),   # gurmukhi (punjabi)
    ("or", 0x0B00, 0x0B7F, 0.05),   # oriya (odia)
    ("si", 0x0D80, 0x0DFF, 0.05),   # sinhala
    ("my", 0x1000, 0x109F, 0.05),   # myanmar (burmese)
    ("km", 0x1780, 0x17FF, 0.05),   # khmer
    ("lo", 0x0E80, 0x0EFF, 0.05),   # lao
    ("am", 0x1200, 0x137F, 0.05),   # ethiopic (amharic)
    ("bo", 0x0F00, 0x0FFF, 0.05),   # tibetan
]

# Sub-script differentiation for scripts shared by several languages
# (Cyrillic, Arabic): (lang, base_lo, base_hi, base_thr, marker_chars).
# Rule: base-script density > thr AND at least one marker character
# present.  Checked BEFORE the base script's density entry, so e.g. a
# Cyrillic document containing Ukrainian-only letters classifies 'uk'
# while plain Cyrillic falls through to 'ru'.  Every marker letter is
# unique to its language *within this table* (disjointness tested);
# order matters only where one language's alphabet contains another's
# markers (Urdu/Pashto letters پچژگ would false-fire 'fa', Kazakh ө/ү
# would false-fire 'mn' — hence ur/ps before fa, kk before mn).
MARKER_PROFILES: list[tuple[str, int, int, float, str]] = [
    ("ur", 0x0600, 0x06FF, 0.05, "ٹڈڑے"),  # ٹ ڈ ڑ ے
    ("ps", 0x0600, 0x06FF, 0.05, "ښږړ"),        # ښ ږ ړ
    ("fa", 0x0600, 0x06FF, 0.05, "پچژگ"),  # پ چ ژ گ
    ("kk", 0x0400, 0x04FF, 0.05, "қғңұ"),  # қ ғ ң ұ
    ("mn", 0x0400, 0x04FF, 0.05, "өү"),              # ө ү
    ("uk", 0x0400, 0x04FF, 0.05, "їєґ"),        # ї є ґ
    ("be", 0x0400, 0x04FF, 0.05, "ў"),                    # ў
    ("mk", 0x0400, 0x04FF, 0.05, "ѓќѕ"),        # ѓ ќ ѕ
    ("sr", 0x0400, 0x04FF, 0.05, "ђћџљњ"),  # ђћџљњ
]
SEO_WORDS = ["download", "pdf", "epub", "mobi", "free", "ebook", "file", "save",
             "casino", "viagra", "cialis", "ciprofloxacin"]  # filter.py:36-50
SPAM_THRESHOLD = 0.004  # filter.py:20

# TEXT_COUNTS layout: slot -> what ``text_counts`` counts.  Every slot is
# additive over texts joined by "\n" (a separator that is whitespace, in
# no profiled range, and ends any letter run), so a document's counts
# are the sum of its pages'.
ALPHA = 0        # ASCII letters
PUNCT = 1        # chars outside [A-Za-z0-9] and Java's \s ([ \t\n\x0B\f\r])
WORDS = 2        # [a-z]+ runs of lower(text)
STOP_HITS = 3    # runs in EN_STOPWORDS
SEO_HITS = 4     # runs in SEO_WORDS
LATIN0 = 5                                       # + i: runs in LATIN_PROFILES[i]
SCRIPT0 = LATIN0 + len(LATIN_PROFILES)           # + i: chars in SCRIPT_PROFILES[i]
MARKER_RANGE0 = SCRIPT0 + len(SCRIPT_PROFILES)   # + i: chars in MARKER_PROFILES[i]'s range
MARKER0 = MARKER_RANGE0 + len(MARKER_PROFILES)   # + i: MARKER_PROFILES[i]'s marker chars
TEXT_COUNTS = MARKER0 + len(MARKER_PROFILES)

_ASCII_LETTERS = b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_NOT_PUNCT = _ASCII_LETTERS + b"0123456789 \t\n\x0b\x0c\r"
_WORD_RUN = re.compile("[a-z]+")
_ASCII_RUN = re.compile("[\x00-\x7f]+")
_WORD_LISTS = ([(STOP_HITS, EN_STOPWORDS), (SEO_HITS, SEO_WORDS)]
               + [(LATIN0 + i, ws) for i, (_, ws) in enumerate(LATIN_PROFILES)])
_WORD_SLOTS = {w: [s for s, ws in _WORD_LISTS if w in ws]
               for _, ws in _WORD_LISTS for w in ws}
_RANGE_SLOTS = ([(SCRIPT0 + i, lo, hi)
                 for i, (_, lo, hi, _) in enumerate(SCRIPT_PROFILES)]
                + [(MARKER_RANGE0 + i, lo, hi)
                   for i, (_, lo, hi, _, _) in enumerate(MARKER_PROFILES)])
_MARKER_SLOTS = [(MARKER0 + i, frozenset(marks))
                 for i, (*_, marks) in enumerate(MARKER_PROFILES)]


def text_counts(text: str) -> list[int]:
    """The TEXT_COUNTS layout of ``text``, in one Python pass.  Words
    are the ``[a-z]+`` runs of ``text.lower()``, which lowers as Spark's
    ``lower()`` does; lengths are in code points, as Spark's ``length``
    (both tested over every code point, ``tests/test_text_counts.py``).
    ASCII bytes of the UTF-8 encoding are exactly the ASCII chars, so
    the ASCII classes are counted on bytes."""
    out = [0] * TEXT_COUNTS
    b = text.encode("utf-8")
    out[ALPHA] = len(b) - len(b.translate(None, _ASCII_LETTERS))
    out[PUNCT] = len(text) - (len(b) - len(b.translate(None, _NOT_PUNCT)))
    words = _WORD_RUN.findall(text.lower())
    out[WORDS] = len(words)
    get = Counter(words).get
    for w, slots in _WORD_SLOTS.items():
        k = get(w)
        if k:
            for s in slots:
                out[s] += k
    if not text.isascii():
        chars = Counter(_ASCII_RUN.sub("", text))
        for ch, k in chars.items():
            cp = ord(ch)
            for s, lo, hi in _RANGE_SLOTS:
                if lo <= cp <= hi:
                    out[s] += k
        for s, marks in _MARKER_SLOTS:
            out[s] = sum(chars.get(ch, 0) for ch in marks)
    return out


def _word_array(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), r"[^a-zA-Z]+"), lambda w: F.length(w) > 0)


TEXT_COUNTS_TYPE = T.ArrayType(T.IntegerType())


def _text_counts_batch(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: None if t is None else text_counts(t))


# ``text_counts`` of a string Column (NULL for NULL text).  One object
# for every caller: Spark folds the calls of one deterministic Python
# UDF on the same text in a projection into one evaluation.
text_counts_col = F.pandas_udf(_text_counts_batch, TEXT_COUNTS_TYPE)


def substr_count(text: Column, marker: str) -> Column:
    """Occurrences of a literal marker, as (len - len(removed)) / len(marker)
    — exact integer math, byte-identical across engines."""
    return ((F.length(text) - F.length(F.replace(text, F.lit(marker))))
            / F.lit(len(marker))).cast("bigint")


# ---- DuckDB mirrors -------------------------------------------------------
# Each gate's ``*_oracle_sql(text_expr)`` sits next to its ``*_cols`` and
# returns the same keys as DuckDB expressions over ``text_expr``, written
# from the same constants; the oracles compose these, never Column trees.

def _sql_str(s: str) -> str:
    return "'%s'" % s.replace("'", "''")


def _sql_list(words) -> str:
    return "[%s]" % ",".join(map(_sql_str, words))


def substr_count_oracle_sql(text_expr: str, marker: str) -> str:
    """DuckDB twin of ``substr_count`` (a bigint)."""
    return "((length(%s) - length(replace(%s, %s, ''))) // %d)" % (
        text_expr, text_expr, _sql_str(marker), len(marker))


def words_oracle_sql(text_expr: str = "text") -> str:
    """DuckDB ``_word_array``: the ``[a-z]+`` runs of lower(text)."""
    return ("list_filter(string_split_regex(lower(%s), '[^a-z]+'), "
            "x -> len(x) > 0)" % text_expr)


def token_count_cols(text: Column) -> dict[str, Column]:
    """Whitespace tokens + regex (BPE-ish) tokens."""
    ws = F.size(F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0))
    bpe = F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))
    return {"ws_tokens": ws, "bpe_tokens": bpe}


def lang_from_counts(n: Column, counts: Column) -> Column:
    """The language of a text of ``n`` chars from its TEXT_COUNTS
    ``counts``.

    Markers are checked first, then script densities, then the Latin
    cascade ("language i wins iff its hit count strictly beats every
    LATER profile's; en, last, needs only > 0").  The cascade is exactly
    the LAST argmax of the LATIN_PROFILES hits when the max is > 0,
    built as array_position(reverse(hits), max): nested
    when(h > greatest(rest)) levels would embed each count O(k) times in
    codegen, the blow-up the round-3 ivf_assign fix removed.  The oracle
    SQL keeps the explicit cascade; the two are tested equal."""
    k = len(LATIN_PROFILES)
    hits = F.slice(counts, LATIN0 + 1, k)
    mx = F.array_max(hits)
    last_idx = (F.lit(k + 1) - F.array_position(F.reverse(hits), mx)).cast("int")
    e = F.when(mx > 0, F.element_at(
        F.array(*[F.lit(lang) for lang, _ in LATIN_PROFILES]), last_idx)) \
        .otherwise(F.lit("unknown"))
    for i, (lang, _, _, thr) in reversed(list(enumerate(SCRIPT_PROFILES))):
        e = F.when(counts[SCRIPT0 + i] / n > thr, F.lit(lang)).otherwise(e)
    # sub-script markers wrap LAST so they are checked FIRST (before the
    # shared base script falls through to ru/ar)
    for i, (lang, _, _, thr, _) in reversed(list(enumerate(MARKER_PROFILES))):
        e = F.when((counts[MARKER_RANGE0 + i] / n > thr)
                   & (counts[MARKER0 + i] >= 1), F.lit(lang)).otherwise(e)
    return F.when(n == 0, F.lit("unknown")).otherwise(e)


def lang_id_col(text: Column) -> Column:
    """Stopword-profile heuristic language ID, 72 languages in three
    tiers: (1) sub-script marker letters for languages sharing Cyrillic
    or Arabic (MARKER_PROFILES — uk/be/mk/sr/kk/mn, ur/ps/fa), (2)
    non-Latin scripts by codepoint-range density (25 SCRIPT_PROFILES —
    ja/ko/ru/ar/hi/zh/th/he/el/bn/ta/te/ka/hy/kn/ml/gu/pa/or/si/my/km/
    lo/am/bo), (3) a deterministic strictly-greater hit-count cascade
    over the 39 LATIN_PROFILES stopword tables (ga/mt/zu/ha/so/vi/no/
    sk/hr/sr/lt/lv/et/sl/ms/af/sw/tl/eu/sq/cy/is/it/pt/nl/sv/pl/tr/id/
    ro/da/fi/cs/hu/ca/fr/es/de/en) — the from-scratch stand-in for
    the reference's lingua detector
    (olmocr/filter/filter.py:101-105).  'unknown' over a wrong guess for
    unprofiled languages.  ``lang_from_counts`` over ``text_counts_col``
    of the text.  The oracle SQL is generated from the SAME profile
    tables (lang_id_oracle_sql), so Spark and DuckDB cannot drift."""
    return lang_from_counts(F.length(text), text_counts_col(text))


def lang_id_oracle_sql(text_expr: str = "text") -> str:
    """DuckDB CASE expression equivalent to ``lang_id_col``, generated
    from the same SCRIPT_PROFILES / LATIN_PROFILES tables."""
    words = words_oracle_sql(text_expr)
    parts = ["case when length(%s) = 0 then 'unknown'" % text_expr]
    for lang, lo, hi, thr, marks in MARKER_PROFILES:
        parts.append(
            "when length(regexp_replace(%s, '[^%s-%s]', '', 'g'))"
            " / length(%s) > %s and"
            " length(regexp_replace(%s, '[^%s]', '', 'g')) >= 1 then '%s'"
            % (text_expr, chr(lo), chr(hi), text_expr, thr,
               text_expr, marks, lang))
    for lang, lo, hi, thr in SCRIPT_PROFILES:
        parts.append(
            "when length(regexp_replace(%s, '[^%s-%s]', '', 'g'))"
            " / length(%s) > %s then '%s'"
            % (text_expr, chr(lo), chr(hi), text_expr, thr, lang))
    # Same LAST-argmax form as the Spark side (the strictly-greater
    # cascade is exactly the last argmax when the max is > 0 — see
    # lang_from_counts).  The old explicit-cascade SQL re-evaluated every
    # later profile's hit count per branch (O(k^2) list_filters, each
    # re-splitting the words) — quadratic death at 34 profiles.  The
    # two nested single-element list_transform lambdas factor ``words``
    # and the hits list so each is computed ONCE per row.
    hits = ", ".join(
        "len(list_filter(w, x -> list_contains(%s, x)))" % _sql_list(ws)
        for _, ws in LATIN_PROFILES)
    langs = ", ".join("'%s'" % lang for lang, _ in LATIN_PROFILES)
    k = len(LATIN_PROFILES)
    parts.append(
        "else list_transform([%s], w -> "
        "list_transform([[%s]], H -> case when list_max(H) > 0 "
        "then ([%s])[%d + 1 - list_position(list_reverse(H), list_max(H))] "
        "else 'unknown' end)[1])[1] end"
        % (words, hits, langs, k))
    return "\n".join(parts)


def quality_from_counts(n: Column, counts: Column) -> dict[str, Column]:
    """The ratios and composite score of ``quality_cols`` for a text of
    ``n`` chars from its TEXT_COUNTS ``counts`` (alpha-ratio guard
    semantics from filter.py:91-99; the composite is a simple monotone
    blend used for corpus filtering)."""
    alpha, n_words = counts[ALPHA], counts[WORDS]
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_ratio = F.when(n > 0, counts[PUNCT] / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, counts[STOP_HITS] / n_words) \
        .otherwise(F.lit(0.0))
    mean_word_len = F.when(n_words > 0, alpha / n_words).otherwise(F.lit(0.0))
    score = (
        F.least(n / F.lit(1000.0), F.lit(1.0)) * 0.2
        + alpha_ratio * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.3
        + (1 - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * 0.1
    )
    return {"alpha_ratio": alpha_ratio, "punct_ratio": punct_ratio,
            "stopword_ratio": stop_ratio, "mean_word_len": mean_word_len,
            "quality_score": score}


def quality_cols(text: Column) -> dict[str, Column]:
    """Length/alpha/stopword/punct ratios + composite score:
    ``quality_from_counts`` over ``text_counts_col`` of the text."""
    n = F.length(text)
    q = quality_from_counts(n, text_counts_col(text))
    return {
        "n_chars_calc": n, "alpha_ratio": q["alpha_ratio"],
        "digit_chars": F.length(F.regexp_replace(text, r"[^0-9]+", "")),
        "punct_ratio": q["punct_ratio"], "stopword_ratio": q["stopword_ratio"],
        "mean_word_len": q["mean_word_len"], "quality_score": q["quality_score"],
    }


def quality_oracle_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of ``quality_cols``."""
    t, words = text_expr, words_oracle_sql(text_expr)
    n = "length(%s)" % t
    alpha = "length(regexp_replace(%s, '[^A-Za-z]', '', 'g'))" % t
    punct = r"length(regexp_replace(%s, '[A-Za-z0-9\s]', '', 'g'))" % t
    stop_hits = "len(list_filter(%s, w -> list_contains(%s, w)))" % (
        words, _sql_list(EN_STOPWORDS))
    alpha_ratio = "case when %s > 0 then %s / %s else 0.0 end" % (n, alpha, n)
    punct_ratio = "case when %s > 0 then %s / %s else 0.0 end" % (n, punct, n)
    stop_ratio = "case when len(%s) > 0 then %s / len(%s) else 0.0 end" % (
        words, stop_hits, words)
    return {
        "n_chars_calc": n, "alpha_ratio": alpha_ratio,
        "digit_chars": "length(regexp_replace(%s, '[^0-9]', '', 'g'))" % t,
        "punct_ratio": punct_ratio, "stopword_ratio": stop_ratio,
        "mean_word_len": "case when len(%s) > 0 then %s / len(%s) else 0.0 end"
        % (words, alpha, words),
        "quality_score": "least(%s / 1000.0, 1.0) * 0.2 + (%s) * 0.4"
        " + least((%s) * 5.0, 1.0) * 0.3 + (1 - least((%s) * 4.0, 1.0)) * 0.1"
        % (n, alpha_ratio, stop_ratio, punct_ratio),
    }


def gopher_rules_cols(text: Column,
                      min_words: int = 50, max_words: int = 100_000,
                      min_mean_word_len: float = 3.0,
                      max_mean_word_len: float = 10.0,
                      max_symbol_word_ratio: float = 0.1,
                      max_bullet_line_ratio: float = 0.9,
                      min_alpha_word_ratio: float = 0.8,
                      min_stop_hits: int = 2) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1) as
    pure Columns — the standard repetition-free webtext gate applied by
    most public corpus pipelines.  Each rule is its own boolean column
    so a corpus report can explain WHY a document failed;
    ``gopher_pass`` is the conjunction.

    Words are WHITESPACE tokens (numerals and symbols count as words),
    as in the paper — a letters-only tokenizer would make the
    alpha-word rule vacuous.  Mean word length is sum(len(word))/n via
    length(concat_ws('', words)) — flat expressions, no per-word lambda
    arithmetic."""
    words = F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)
    n_words = F.size(words)
    sum_word_len = F.length(F.concat_ws("", words))
    mean_wl = F.when(n_words > 0, sum_word_len / n_words).otherwise(F.lit(0.0))
    symbols = substr_count(text, "#") + substr_count(text, "...")
    symbol_ratio = F.when(n_words > 0,
                          symbols / n_words).otherwise(F.lit(0.0))
    lines = F.filter(F.split(text, r"\n"),
                     lambda ln: F.length(F.trim(ln)) > 0)
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
    bullet_ratio = F.when(n_lines > 0,
                          bullet_lines / n_lines).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_word_ratio = F.when(n_words > 0,
                              alpha_words / n_words).otherwise(F.lit(0.0))
    stop_hits = F.size(F.filter(words,
                                lambda w: F.lower(w).isin(EN_STOPWORDS)))

    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= max_words),
        "r_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "r_symbol_ratio": symbol_ratio <= max_symbol_word_ratio,
        "r_bullet_ratio": bullet_ratio <= max_bullet_line_ratio,
        "r_alpha_words": alpha_word_ratio >= min_alpha_word_ratio,
        "r_stopwords": stop_hits >= min_stop_hits,
    }
    gopher_pass = None
    for c in rules.values():
        gopher_pass = c if gopher_pass is None else (gopher_pass & c)
    return {"n_words": n_words, "mean_word_len": mean_wl,
            "symbol_word_ratio": symbol_ratio,
            "bullet_line_ratio": bullet_ratio,
            "alpha_word_ratio": alpha_word_ratio,
            "stop_hits": stop_hits, **rules, "gopher_pass": gopher_pass}


def gopher_rules_oracle_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of ``gopher_rules_cols`` at its default thresholds."""
    th = {k: p.default for k, p in
          inspect.signature(gopher_rules_cols).parameters.items()
          if p.default is not p.empty}
    t = text_expr
    words = r"list_filter(string_split_regex(%s, '\s+'), x -> len(x) > 0)" % t
    lines = (r"list_filter(string_split_regex(%s, '\n'),"
             " l -> len(trim(l)) > 0)" % t)
    n = "len(%s)" % words

    def ratio(num: str, den: str) -> str:
        return "case when %s > 0 then %s / %s else 0.0 end" % (den, num, den)

    mean_wl = ratio("len(array_to_string(%s, ''))::double" % words, n)
    symbol_ratio = ratio("(%s + %s)" % (substr_count_oracle_sql(t, "#"),
                                        substr_count_oracle_sql(t, "...")), n)
    bullet_ratio = ratio(
        "len(list_filter(%s, l -> regexp_matches(trim(l), '^[-*•]')))"
        "::double" % lines, "len(%s)" % lines)
    alpha_ratio = ratio(
        "len(list_filter(%s, w -> regexp_matches(w, '[A-Za-z]')))::double"
        % words, n)
    stop_hits = "len(list_filter(%s, w -> list_contains(%s, lower(w))))" % (
        words, _sql_list(EN_STOPWORDS))
    rules = {
        "r_word_count": "%s >= %r and %s <= %r" % (
            n, th["min_words"], n, th["max_words"]),
        "r_mean_word_len": "%s >= %r and %s <= %r" % (
            mean_wl, th["min_mean_word_len"], mean_wl,
            th["max_mean_word_len"]),
        "r_symbol_ratio": "%s <= %r" % (symbol_ratio,
                                        th["max_symbol_word_ratio"]),
        "r_bullet_ratio": "%s <= %r" % (bullet_ratio,
                                        th["max_bullet_line_ratio"]),
        "r_alpha_words": "%s >= %r" % (alpha_ratio,
                                       th["min_alpha_word_ratio"]),
        "r_stopwords": "%s >= %r" % (stop_hits, th["min_stop_hits"]),
    }
    return {"n_words": n, "mean_word_len": mean_wl,
            "symbol_word_ratio": symbol_ratio,
            "bullet_line_ratio": bullet_ratio,
            "alpha_word_ratio": alpha_ratio, "stop_hits": stop_hits,
            **{k: "(%s)" % v for k, v in rules.items()},
            "gopher_pass": " and ".join("(%s)" % v for v in rules.values())}


def seo_spam_from_counts(n: Column, counts: Column) -> dict[str, Column]:
    """SEO-spam hits, word total, ratio and verdict from TEXT_COUNTS
    ``counts`` (filter.py:35-62).  The ratio is over words, so ``n``,
    the text's length, is not read."""
    hits, total = counts[SEO_HITS], counts[WORDS]
    ratio = F.when(total > 0, hits / total).otherwise(F.lit(0.0))
    return {"seo_hits": hits, "word_total": total, "seo_ratio": ratio,
            "is_spam": ratio > SPAM_THRESHOLD}


def seo_spam_cols(text: Column) -> dict[str, Column]:
    """SEO/download-spam ratio (filter.py:35-62): seo-word hits over
    words, ``seo_spam_from_counts`` over ``text_counts_col`` of the
    text."""
    return seo_spam_from_counts(F.length(text), text_counts_col(text))


def decisions_from_counts(n: Column, counts: Column) -> dict[str, Column]:
    """``lang_pred``, ``quality_score`` (unrounded) and ``is_spam`` of a
    text of ``n`` chars from its TEXT_COUNTS ``counts`` (``text_counts``,
    or a document's sum of its pages' arrays): what ``lang_id_col``,
    ``quality_cols`` and ``seo_spam_cols`` give on the text itself."""
    return {"lang_pred": lang_from_counts(n, counts),
            "quality_score": quality_from_counts(n, counts)["quality_score"],
            "is_spam": seo_spam_from_counts(n, counts)["is_spam"]}


def seo_spam_oracle_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of ``seo_spam_cols``."""
    words = words_oracle_sql(text_expr)
    hits = "len(list_filter(%s, w -> list_contains(%s, w)))" % (
        words, _sql_list(SEO_WORDS))
    ratio = ("case when len(%s) > 0 then %s::double / len(%s) else 0.0 end"
             % (words, hits, words))
    return {"seo_hits": hits, "word_total": "len(%s)" % words,
            "seo_ratio": ratio,
            "is_spam": "(%s) > %r" % (ratio, SPAM_THRESHOLD)}


# ---- winnowing fingerprint (pandas UDF; standard published algorithm) ----

FP_K = 8      # k-gram length (chars)
FP_WINDOW = 4


def winnow_fingerprint(text: str) -> list[int]:
    """Winnowing document fingerprint: min rolling hash per window."""
    if not text or len(text) < FP_K:
        return []
    B, M = 257, (1 << 61) - 1
    h = 0
    power = pow(B, FP_K - 1, M)
    hashes = []
    for i, ch in enumerate(text):
        h = (h * B + ord(ch)) % M
        if i >= FP_K:
            h = (h - ord(text[i - FP_K]) * power * B) % M
        if i >= FP_K - 1:
            hashes.append(h)
    fp = []
    last = -1
    for i in range(len(hashes) - FP_WINDOW + 1):
        w = hashes[i:i + FP_WINDOW]
        j = i + min(range(FP_WINDOW), key=lambda k: (w[k], k))
        if j != last:
            fp.append(hashes[j - i + i])
            last = j
    return fp


def fingerprint_udf():
    def _batch(s: pd.Series) -> pd.Series:
        return s.map(lambda t: winnow_fingerprint(t or ""))

    return F.pandas_udf(_batch, "array<long>")


def fingerprint_pairs(docs: DataFrame, text_col: str = "text",
                      min_shared: int = 3,
                      df_cap: int | None = 5) -> DataFrame:
    """MOSS-style near-copy candidate pairs from winnowing fingerprints
    (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
    -> (doc_a, doc_b, n_shared): documents sharing >= ``min_shared``
    distinct selected fingerprints — the character-level complement to
    the word-shingle generators (MinHash/SimHash/n-gram): winnowing
    guarantees any shared substring of length k+w-1 yields a shared
    fingerprint, so it catches verbatim copying that tokenization
    normalizes away.

    ``df_cap`` drops fingerprints present in more than that many docs
    BEFORE the pair join (boilerplate/template substrings — on the
    synthetic corpus one hot template fingerprint would otherwise emit
    ~n^2/2 pairs; same bounded-postings discipline as
    dedup.ngram_jaccard_pairs).  Shape: explode -> df filter (one
    groupBy on fp) -> self-join on fp (co-partitioned) -> pair count.
    The rolling hash is base-257 mod 2^61-1 — engine-portable
    integers, replayed exactly by the fingerprints oracle kernel."""
    fp = docs.select("doc_id",
                     F.explode(F.array_distinct(
                         fingerprint_udf()(F.col(text_col)))).alias("fp"))
    if df_cap is not None:
        rare = (fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= df_cap).select("fp"))
        fp = fp.join(rare, "fp")
    a = fp.withColumnRenamed("doc_id", "doc_a")
    b = fp.withColumnRenamed("doc_id", "doc_b")
    return (a.join(b, "fp")
            .where(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= min_shared))


def trailing_repeats(text: str, max_ngram: int = 10) -> int:
    """Max count of a trailing n-gram repeating at the end of text
    (repeatdetect.py:8-46 semantics, gram sizes 1..max_ngram)."""
    best = 0
    n = len(text)
    for g in range(1, max_ngram + 1):
        if g > n:
            break
        gram = text[n - g:]
        count = 0
        pos = n
        while pos >= g and text[pos - g:pos] == gram:
            count += 1
            pos -= g
        best = max(best, count)
    return best


def trailing_repeats_udf(max_ngram: int = 10):
    def _batch(s: pd.Series) -> pd.Series:
        return s.map(lambda t: trailing_repeats(t or "", max_ngram))

    return F.pandas_udf(_batch, "int")


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     ngrams: tuple = (2, 3, 4)) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 §A1.1, the MassiveText
    repetition gate) as distributed aggregations:

    - ``dup_line_frac``      = 1 - distinct_lines / n_lines
    - ``dup_line_char_frac`` = chars on lines whose text occurs more
      than once (counting every occurrence) / chars on all lines
    - ``top{n}gram_char_frac`` = chars covered by the heaviest word
      n-gram (count * word-chars, max over grams) / total word chars —
      tie-insensitive because only the coverage number is reported

    Lines explode once and aggregate by (doc, line); n-grams reuse the
    posexplode + window-lead pipeline (one shuffle on ``id_col``, shared
    with every per-doc aggregate).  Returns one row per input doc; docs
    with no lines/words report 0.0 everywhere.
    """
    text = F.col(text_col)
    words_arr = F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)

    lines = docs.select(
        id_col,
        F.explode(F.filter(F.split(text, r"\n"),
                           lambda ln: F.length(F.trim(ln)) > 0)).alias("line"))
    per_line = (lines.groupBy(id_col, "line")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.length("line").alias("chars")))
    line_stats = (
        per_line.groupBy(id_col)
        .agg(
            (F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt")).alias("dup_line_frac"),
            (F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.col("chars"))
                   .otherwise(F.lit(0)))
             / F.sum(F.col("cnt") * F.col("chars"))).alias("dup_line_char_frac"),
        )
    )

    from pyspark.sql import Window

    win = Window.partitionBy(id_col).orderBy("pos")
    base = docs.select(id_col, F.posexplode(words_arr).alias("pos", "w1"))
    total_chars = (docs.select(id_col,
                               F.length(F.concat_ws("", words_arr)).alias("tc")))
    gram_stats = None
    for n in ngrams:
        g = base
        for j in range(1, n):
            g = g.withColumn("w%d" % (j + 1), F.lead("w1", j).over(win))
        g = (g.where(F.col("w%d" % n).isNotNull())
             .select(id_col, F.concat_ws(" ", *["w%d" % (j + 1)
                                                for j in range(n)]).alias("gram")))
        top = (
            g.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("gchars",
                        (F.length("gram") - (n - 1)) * F.col("cnt"))
            .groupBy(id_col)
            .agg(F.max("gchars").alias("top%d" % n))
        )
        gram_stats = top if gram_stats is None else gram_stats.join(top, id_col, "outer")

    out = docs.select(id_col).join(line_stats, id_col, "left") \
        .join(total_chars, id_col, "left")
    if gram_stats is not None:
        out = out.join(gram_stats, id_col, "left")
    sel = [F.col(id_col),
           F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
           F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac")]
    for n in ngrams:
        sel.append(
            F.when((F.col("tc") > 0) & F.col("top%d" % n).isNotNull(),
                   F.col("top%d" % n) / F.col("tc"))
            .otherwise(F.lit(0.0)).alias("top%dgram_char_frac" % n))
    return out.select(*sel)


def pack_documents(docs: DataFrame, budget: int = 512,
                   text_col: str = "text", id_col: str = "doc_id",
                   group_col: str = "lang") -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget bins for
    training-batch assembly.  Documents are laid out in a deterministic
    stream (ordered by ``id_col`` within ``group_col``) and each doc
    lands in the bin where its first token falls::

        bin = floor(start_offset / budget),
        start_offset = cumsum(tokens) - tokens

    A doc longer than the remaining bin space straddles into the next
    bin — truncation/padding is the trainer's concern; this operator
    only fixes the deterministic layout.  One window shuffle on the
    group key; everything else is per-row arithmetic.
    """
    from pyspark.sql import Window

    tokens = token_count_cols(F.col(text_col))["bpe_tokens"]
    w = Window.partitionBy("grp").orderBy(id_col) \
        .rowsBetween(Window.unboundedPreceding, 0)
    d = docs.select(id_col, F.col(group_col).alias("grp"),
                    tokens.alias("n_tokens"))
    d = d.withColumn("start_offset",
                     F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return d.select(
        id_col, F.col("grp").alias(group_col), "n_tokens", "start_offset",
        F.floor(F.col("start_offset") / budget).cast("int").alias("bin"),
    )


def tfidf_top_terms(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document (smooth idf:
    ln((N+1)/(df+1)) + 1), ties broken by term so the result is fully
    deterministic.  Returns (doc_id, term, tf, df, score).

    Scale shape: ONE shuffle builds the (doc, term, tf) table; document
    frequency is a count-distinct-free window over the SAME partitioning
    key (term rows are already unique per doc, so df = count(*) over
    term) — no join against a df dimension table and no second
    aggregation over the corpus.  N rides in as a broadcast scalar via
    a literal-free cross join of a 1-row aggregate.  The final top-k
    window partitions by doc — the natural key, no skew.
    """
    from pyspark.sql import Window

    tf = (docs
          .select(id_col, F.explode(_word_array(F.col(text_col)))
                  .alias("term"))
          .groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df_w = Window.partitionBy("term")
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n"))
    scored = (tf
              .withColumn("df", F.count(F.lit(1)).over(df_w))
              .join(F.broadcast(n_docs))
              .withColumn("score",
                          F.col("tf") * (F.log((F.col("_n") + 1)
                                               / (F.col("df") + 1)) + 1)))
    top_w = (Window.partitionBy(id_col)
             .orderBy(F.col("score").desc(), F.col("term").asc()))
    return (scored
            .withColumn("rk", F.row_number().over(top_w))
            .where(F.col("rk") <= k)
            .select(id_col, "term", "tf", "df",
                    F.round("score", 6).alias("score")))


def pmi_collocations(docs: DataFrame, text_col: str = "text",
                     min_count: int = 5, top_k: int = 50) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information — the
    classic corpus-analysis pass for tokenizer vocabulary curation and
    multi-word-expression mining (Church & Hanks 1990).

        PMI(w1, w2) = log2( p(w1 w2) / (p(w1) p(w2)) )
                    = log2( (c12/B) / ((c1/T) (c2/T)) )

    with T total tokens, B total bigram slots, and a ``min_count``
    support floor (raw PMI over-ranks hapax pairs; the floor is the
    standard fix).  Returns (w1, w2, c12, c1, c2, pmi, rank).

    Scale shape: bigrams are built ROW-LOCALLY (zip the word array with
    its own tail — no window, no per-doc shuffle); one groupBy exchange
    each for unigram and bigram counts (map-side partial aggs); the two
    unigram attachments join on word keys AFTER the min_count filter
    has shrunk the bigram side; corpus totals ride in as a 1-row
    broadcast.  The final top-k is orderBy+limit — Spark plans it as
    TakeOrdered (per-partition heaps), never a vocab-wide single
    partition window."""
    toks = docs.select(_word_array(F.col(text_col)).alias("w"))
    totals = toks.agg(
        F.sum(F.size("w")).cast("double").alias("t_tok"),
        F.sum(F.greatest(F.size("w") - 1, F.lit(0)))
        .cast("double").alias("t_big"))
    uni = (toks.select(F.explode("w").alias("term"))
           .groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    bigrams = F.when(
        F.size("w") >= 2,
        F.zip_with(F.expr("slice(w, 1, size(w) - 1)"),
                   F.expr("slice(w, 2, size(w) - 1)"),
                   lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))
    bi = (toks.select(F.explode(bigrams).alias("bg"))
          .groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
          .where(F.col("c12") >= min_count))
    scored = (bi
              .withColumn("w1", F.split("bg", " ").getItem(0))
              .withColumn("w2", F.split("bg", " ").getItem(1))
              .join(uni.select(F.col("term").alias("w1"),
                               F.col("c").alias("c1")), "w1")
              .join(uni.select(F.col("term").alias("w2"),
                               F.col("c").alias("c2")), "w2")
              .crossJoin(F.broadcast(totals))
              .withColumn(
                  "pmi",
                  F.round(F.log2(
                      (F.col("c12").cast("double") / F.col("t_big"))
                      / ((F.col("c1").cast("double") / F.col("t_tok"))
                         * (F.col("c2").cast("double") / F.col("t_tok")))),
                      6)))
    top = (scored.select("w1", "w2", "c12", "c1", "c2", "pmi")
           .orderBy(F.desc("pmi"), "w1", "w2").limit(top_k))
    # rank window runs on the already-limited top_k-row frame only
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("pmi"), "w1", "w2")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def readability_cols(text: Column) -> dict[str, Column]:
    """Flesch reading-ease + Flesch-Kincaid grade from pure-Column
    regex counts (whole-stage codegen, no UDF) — the readability gate
    web-curation pipelines run next to Gopher/C4 rules to bucket
    training text by audience level.

    Deterministic engine-portable heuristic (documented, not
    dictionary-exact): words = letter runs, sentences = [.!?]+ runs,
    syllables = vowel-group runs ([aeiouy]+, lowercased) floored at one
    per word.  All three are integers, so the two scores are identical
    float expressions on identical operands in any engine."""
    words = F.regexp_count(text, F.lit(r"[A-Za-z]+"))
    sents = F.regexp_count(text, F.lit(r"[.!?]+"))
    syll = F.greatest(
        F.regexp_count(F.lower(text), F.lit(r"[aeiouy]+")), words)
    w = F.greatest(words, F.lit(1)).cast("double")
    s = F.greatest(sents, F.lit(1)).cast("double")
    wps = w / s
    spw = syll.cast("double") / w
    return {
        "n_words": words.cast("long"),
        "n_sentences": sents.cast("long"),
        "n_syllables": syll.cast("long"),
        "flesch_ease": F.lit(206.835) - F.lit(1.015) * wps
        - F.lit(84.6) * spw,
        "fk_grade": F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
    }


# ---- C4-style line-level cleaning (Raffel et al. 2020, §2.2) -----------

C4_BAD_PHRASES = ["lorem ipsum", "javascript", "{", "cookie policy",
                  "terms of use", "privacy policy", "use of cookies"]


def c4_clean(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", min_line_words: int = 5,
             min_kept_lines: int = 3) -> DataFrame:
    """The C4 cleaning recipe as one pure-Column pass: keep only lines
    that end in terminal punctuation (.!?" or ') AND have at least
    ``min_line_words`` words AND contain none of the bad phrases; then
    keep only docs retaining at least ``min_kept_lines`` lines.

    Returns (doc_id, clean_text, n_lines, n_kept_lines, keep_doc) for
    EVERY input doc (keep_doc marks the C4 doc-level gate — callers
    filter, this operator only annotates).

    Scale: zero shuffles — the whole recipe is higher-order array
    functions over a per-row line split, so it pipelines inside
    whatever scan/codegen stage already reads the text.
    """
    lines = F.filter(
        F.transform(F.split(F.coalesce(F.col(text_col), F.lit("")),
                            r"\n"),
                    lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0)
    lc = lambda ln: F.lower(ln)  # noqa: E731
    good = lambda ln: (  # noqa: E731
        ln.rlike("[.!?\"']$")
        & (F.size(F.filter(F.split(ln, r"\s+"),
                           lambda w: F.length(w) > 0)) >= min_line_words)
        & ~F.exists(F.array(*[F.lit(p) for p in C4_BAD_PHRASES]),
                    lambda p: lc(ln).contains(p)))
    kept = F.filter(lines, good)
    return docs.select(
        id_col,
        F.concat_ws("\n", kept).alias("clean_text"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        (F.size(kept) >= min_kept_lines).cast("int").alias("keep_doc"))


def domain_stats(docs: DataFrame, url_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """Per-domain corpus health (FineWeb-style curation unit): doc
    count, mean quality score, spam share — the aggregate a domain-level
    keep/drop decision reads.  One shuffle on the registrable host; a
    broadcast-join of the resulting (small) domain verdict table back
    onto docs is the intended composition at 100 TB.
    """
    host = F.lower(F.regexp_extract(F.col(url_col),
                                    r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)",
                                    1))
    q = quality_cols(F.col(text_col))
    spam = seo_spam_cols(F.col(text_col))["is_spam"]
    return (docs
            .select(host.alias("domain"),
                    q["quality_score"].alias("q"),
                    spam.cast("int").alias("is_spam"))
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("q"), 6).alias("avg_quality"),
                 F.round(F.avg("is_spam"), 6).alias("spam_share")))


def zipf_stats(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", top_r: int = 100) -> DataFrame:
    """One-row corpus term-distribution report: total tokens, vocabulary
    size, hapax fraction, top-10 coverage, the Zipf rank-frequency
    slope (OLS of ln freq on ln rank over the ``top_r`` most frequent
    terms), and Heaps'-law parameters (beta/K from the vocabulary
    growth between the first-half subcorpus and the full corpus).

    The canonical "does this corpus look like natural language" probe:
    scraped boilerplate flattens the slope toward 0, template spam
    drives hapax share down and top-10 coverage up.

    Scale shape: ONE shuffle builds the term-frequency table; the
    slope/coverage inputs come from orderBy().limit(top_r) — a
    distributed TakeOrdered, never a global rank window over the
    vocabulary; everything else is flat aggregates.  The half-corpus
    flag joins in from a 1-row broadcast of the id-range midpoint
    (floor((min+max)/2) — integer math, identical split in both
    engines, no percentile-interpolation semantics).  (The two
    count-distincts are exact for the value gate; production at 10^12
    docs swaps approx_count_distinct, the anchor_text precedent.)
    """
    words = (docs
             .select(id_col, F.explode(_word_array(F.col(text_col)))
                     .alias("term")))
    med = docs.agg(
        F.floor((F.min(id_col) + F.max(id_col)) / 2).alias("_mid"))
    tf = (words.join(F.broadcast(med))
          .groupBy("term")
          .agg(F.count(F.lit(1)).alias("freq"),
               F.sum((F.col(id_col) <= F.col("_mid")).cast("bigint"))
               .alias("freq_h")))
    from pyspark.sql import Window

    top = (tf.orderBy(F.col("freq").desc(), F.col("term").asc())
           .limit(top_r)
           .select("term", "freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("term").asc())
    top = top.withColumn("rk", F.row_number().over(w))
    x = F.log(F.col("rk").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    slope_agg = top.agg(
        F.count(F.lit(1)).cast("double").alias("r_n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx"),
        F.sum(F.when(F.col("rk") <= 10, F.col("freq"))
              .otherwise(F.lit(0))).alias("top10"))
    flat = tf.agg(
        F.sum("freq").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("freq") == 1).cast("bigint")).alias("hapax"),
        F.sum("freq_h").alias("n_tokens_h"),
        F.sum((F.col("freq_h") > 0).cast("bigint")).alias("vocab_h"))
    beta = (F.log(F.col("vocab").cast("double")
                  / F.col("vocab_h").cast("double"))
            / F.log(F.col("n_tokens").cast("double")
                    / F.col("n_tokens_h").cast("double")))
    return (flat.join(F.broadcast(slope_agg))
            .select(
                "n_tokens", "vocab",
                F.round(F.col("hapax").cast("double")
                        / F.col("vocab").cast("double"), 6)
                .alias("hapax_frac"),
                F.round(F.col("top10").cast("double")
                        / F.col("n_tokens").cast("double"), 6)
                .alias("top10_coverage"),
                F.round(
                    (F.col("r_n") * F.col("sxy")
                     - F.col("sx") * F.col("sy"))
                    / (F.col("r_n") * F.col("sxx")
                       - F.col("sx") * F.col("sx")), 6)
                .alias("zipf_slope"),
                F.round(beta, 6).alias("heaps_beta"),
                F.round(F.col("vocab").cast("double")
                        / F.pow(F.col("n_tokens").cast("double"), beta),
                        6).alias("heaps_k")))


def source_entropy(docs: DataFrame, part_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Per-partition unigram-distribution health -> (part, n_tokens,
    n_types, ttr, entropy_bits, eff_vocab).

    Shannon entropy of the word-unigram distribution per source plus
    type-token ratio: the per-domain complement to the corpus-wide
    :func:`zipf_stats` probe.  Template/spam domains collapse entropy
    (a few boilerplate tokens dominate); natural prose sits near the
    language's ~9-11 bits.  ``eff_vocab = 2^H`` is the
    perplexity-of-unigrams reading ("behaves like a uniform vocab of
    N words") used to compare domains of very different sizes.

    Scale shape: one (part, word) groupBy builds the frequency table,
    one part-level agg folds it — both shuffles on uniform keys;
    no windows, no driver collection."""
    from .dedup import normalized_words

    words = normalized_words(F.col(text_col))
    tf = (docs.select(F.col(part_col).alias("part"),
                      F.explode(words).alias("w"))
          .groupBy("part", "w")
          .agg(F.count(F.lit(1)).alias("c")))
    tot = tf.groupBy("part").agg(F.sum("c").alias("n_tokens"),
                                 F.count(F.lit(1)).alias("n_types"))
    p = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    return (tf.join(tot, "part")
            .groupBy("part")
            .agg(F.max("n_tokens").cast("long").alias("n_tokens"),
                 F.max("n_types").cast("long").alias("n_types"),
                 F.sum(-(p * F.log2(p))).alias("_h"))
            .select(F.col("part").alias(part_col),
                    "n_tokens", "n_types",
                    F.round(F.col("n_types").cast("double")
                            / F.col("n_tokens").cast("double"), 6)
                    .alias("ttr"),
                    F.round("_h", 6).alias("entropy_bits"),
                    F.round(F.pow(F.lit(2.0), F.col("_h")), 6)
                    .alias("eff_vocab")))


def dup_ngram_stats(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    ngrams: tuple = (5, 6, 7, 8, 9, 10)) -> DataFrame:
    """The second half of the Gopher repetition gate (Rae et al. 2021
    §A1.1): per document, the fraction of word characters covered by
    DUPLICATED word n-grams for n in 5..10 ->
    (doc_id, dup{n}gram_char_frac ...).

    Where :func:`repetition_stats` reports the single heaviest n-gram
    (top-n coverage, n = 2..4), this reports the mass of ALL n-grams
    occurring more than once: ``sum over grams with count > 1 of
    count * word-chars(gram) / total word chars`` — the standard
    non-overlap-corrected estimate used by public reimplementations
    (overlapping occurrences count their characters each time, so the
    value can exceed 1 for pathologically loopy text; the filter
    thresholds are calibrated to that same estimate).

    Scale shape: one posexplode + ONE partitionBy(doc) window shared
    by every lead() (the repetition_stats plan), then per-n (doc,
    gram) groupBys — all shuffles on ``id_col``; no arrays carried
    through aggregation, no driver collection.
    """
    from pyspark.sql import Window

    text = F.col(text_col)
    words_arr = F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)

    win = Window.partitionBy(id_col).orderBy("pos")
    base = docs.select(id_col, F.posexplode(words_arr).alias("pos", "w1"))
    for j in range(1, max(ngrams)):
        base = base.withColumn("w%d" % (j + 1), F.lead("w1", j).over(win))
    total_chars = docs.select(
        id_col, F.length(F.concat_ws("", words_arr)).alias("tc"))

    out = docs.select(id_col).join(total_chars, id_col, "left")
    for n in ngrams:
        g = (base.where(F.col("w%d" % n).isNotNull())
             .select(id_col,
                     F.concat_ws(" ", *["w%d" % (j + 1)
                                        for j in range(n)]).alias("gram")))
        dup = (g.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
               .groupBy(id_col)
               .agg(F.sum(F.when(F.col("cnt") > 1,
                                 (F.length("gram") - (n - 1)) * F.col("cnt"))
                          .otherwise(F.lit(0))).alias("dup%d" % n)))
        out = out.join(dup, id_col, "left")
    sel = [F.col(id_col)]
    for n in ngrams:
        sel.append(
            F.round(F.when((F.col("tc") > 0) & F.col("dup%d" % n).isNotNull(),
                           F.col("dup%d" % n).cast("double")
                           / F.col("tc").cast("double"))
                    .otherwise(F.lit(0.0)), 6)
            .alias("dup%dgram_char_frac" % n))
    return out.select(*sel)


def source_js_divergence(docs: DataFrame, part_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """Per-source Jensen-Shannon divergence from the corpus unigram
    distribution -> (source, n_tokens, n_types, jsd_bits).

    The drift probe next to :func:`source_entropy`: JSD(P, Q_s) where
    P is the whole-corpus word distribution and Q_s the source's.
    Template/spam sources and off-language domains drift high; a
    source matching corpus-typical prose sits near 0.  Bounded [0, 1]
    in bits, symmetric, always finite (unlike raw KL).

    The absent-word mass needs no full-vocab expand: for words the
    source never emits, q = 0 and the KL(P||M) term is exactly p
    (since m = p/2), so

        JSD_s = 0.5 * [(1 - sum_{w in s} p_w)
                        + sum_{w in s} p_w * log2(2 p_w / (p_w + q_w))]
              + 0.5 *    sum_{w in s} q_w * log2(2 q_w / (p_w + q_w))

    — every term lives on the source's OWN vocabulary, so the plan is
    one (source, word) groupBy, one word-level corpus rollup derived
    from it (map-side combinable), a join on word, and a source-level
    fold.  Zero windows, no per-source vocab materialization; the
    1-row corpus total is a broadcast join.  Same plan at 10^12 docs.
    """
    from .dedup import normalized_words

    words = normalized_words(F.col(text_col))
    tf = (docs.select(F.col(part_col).alias("part"),
                      F.explode(words).alias("w"))
          .groupBy("part", "w")
          .agg(F.count(F.lit(1)).alias("c")))
    gf = tf.groupBy("w").agg(F.sum("c").alias("gc"))
    gtot = gf.agg(F.sum("gc").alias("gt"))
    stot = tf.groupBy("part").agg(F.sum("c").alias("n_tokens"),
                                  F.count(F.lit(1)).alias("n_types"))
    j = (tf.join(gf, "w")
         .join(stot, "part")
         .crossJoin(F.broadcast(gtot)))
    p = F.col("gc").cast("double") / F.col("gt").cast("double")
    q = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    t_p = p * F.log2(F.lit(2.0) * p / (p + q))
    t_q = q * F.log2(F.lit(2.0) * q / (p + q))
    return (j.groupBy("part")
            .agg(F.max("n_tokens").cast("long").alias("n_tokens"),
                 F.max("n_types").cast("long").alias("n_types"),
                 F.sum(p).alias("_pmass"),
                 F.sum(t_p).alias("_tp"),
                 F.sum(t_q).alias("_tq"))
            .select(F.col("part").alias(part_col),
                    "n_tokens", "n_types",
                    F.round(F.lit(0.5) * ((F.lit(1.0) - F.col("_pmass"))
                                          + F.col("_tp"))
                            + F.lit(0.5) * F.col("_tq"), 6)
                    .alias("jsd_bits")))


def ks_by_group(rows: DataFrame, value_col: str, group_col: str = "source",
                terms: int = 5) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test of every group's value
    distribution against the REST of the corpus -> (group, n_a, n_b,
    d_stat, p_approx): the distribution-level drift alarm next to the
    unigram JS divergence (source_js_divergence) — "did this source's
    doc-length / quality-score distribution shift?" is the standard
    per-snapshot corpus health check.

    Exact-integer core: with cum_a(v) = #{group values <= v} and
    cum_t(v) the corpus cumulative, the KS statistic is

        D = max_v |cum_a*n_b - (cum_t-cum_a)*n_a| / (n_a*n_b)

    — the numerator stays bigint (ECDF steps only occur at observed
    values, so scanning distinct values is exhaustive), and the single
    final division makes D bit-identical across engines.  The p-value
    is the asymptotic Kolmogorov series 2*sum_j (-1)^(j-1)
    exp(-2 j^2 lam^2) with lam = D*sqrt(n_a*n_b/(n_a+n_b)), folded in
    fixed term order (j = 1..terms) and clamped to [0, 1].

    Exact-integer bound: d_num = cum_a*n_b - cum_rest*n_a needs
    n_a*n_b < 2^63, i.e. both sides under ~3e9 rows; beyond that,
    pre-bucket values or swap the products to decimal(38,0).

    Scale: one groupBy on (group, value), one on value, a groups x
    distinct-values grid (bounded: value domains like doc length or
    score deciles are small; 10^5 values x 10^3 sources is trivial
    next to the corpus scan), and one cumulative window per group."""
    from pyspark.sql import Window

    v = rows.select(F.col(group_col).alias("grp"),
                    F.col(value_col).cast("long").alias("val"))
    per = v.groupBy("grp", "val").agg(F.count(F.lit(1)).alias("c"))
    tot = v.groupBy("val").agg(F.count(F.lit(1)).alias("ct"))
    groups = v.groupBy("grp").agg(F.count(F.lit(1)).alias("n_a"))
    n_t = v.count()  # one driver scalar, fixed for the whole job
    grid = (groups.crossJoin(tot)
            .join(per, ["grp", "val"], "left")
            .select("grp", "val", "n_a", "ct",
                    F.coalesce("c", F.lit(0)).alias("c")))
    w = Window.partitionBy("grp").orderBy("val")
    cum_a = F.sum("c").over(w)
    cum_t = F.sum("ct").over(w)
    n_b = (F.lit(n_t) - F.col("n_a")).cast("long")
    d_num = F.abs(cum_a * n_b - (cum_t - cum_a) * F.col("n_a"))
    stepped = grid.select("grp", "n_a", n_b.alias("n_b"),
                          d_num.cast("long").alias("dn"))
    agg = (stepped.groupBy("grp")
           .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                F.max("dn").alias("d_num")))
    # a group owning the whole corpus has no "rest" to test against:
    # NULL d_stat/p rather than an ANSI divide-by-zero job abort
    d = F.when(F.col("n_b") > 0,
               F.col("d_num").cast("double")
               / (F.col("n_a") * F.col("n_b")).cast("double"))
    lam2 = (d * d) * (F.col("n_a") * F.col("n_b")).cast("double") \
        / (F.col("n_a") + F.col("n_b")).cast("double")
    p = None
    for j in range(1, terms + 1):
        term = F.lit(float((-1) ** (j - 1))) \
            * F.exp(F.lit(-2.0 * j * j) * lam2)
        p = term if p is None else p + term
    p = F.least(F.greatest(F.lit(2.0) * p, F.lit(0.0)), F.lit(1.0))
    return agg.select(F.col("grp").alias(group_col), "n_a", "n_b",
                      F.round(d, 6).alias("d_stat"),
                      F.round(p, 6).alias("p_approx"))


def host_concentration(docs: DataFrame, part_col: str = "source",
                       host_col: str = "host") -> DataFrame:
    """Domain-concentration report per corpus partition: the
    Herfindahl-Hirschman index over host shares, the top host's share,
    and the effective host count (1/HHI) — the diversity dashboard a
    curation run reads before setting domain quotas (a corpus where
    one host owns 40% of documents trains a model on that host's
    idiolect).

    Exactness: with per-host bigint counts c_i and total T,
    HHI = sum(c_i^2) / T^2 and effective_hosts = T^2 / sum(c_i^2) —
    single divisions of exact bigints.  Scale shape: one (part, host)
    groupBy with map-side combine, then one part-level re-aggregate;
    no window, no collect."""
    per_host = (docs.groupBy(F.col(part_col).alias("part"),
                             F.col(host_col).alias("host"))
                .agg(F.count(F.lit(1)).alias("c")))
    agg = per_host.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
        F.max("c").alias("max_c"))
    return agg.select(
        F.col("part").alias(part_col),
        F.col("n_hosts").cast("long").alias("n_hosts"),
        F.col("total").cast("long").alias("total"),
        (F.col("ssq").cast("double")
         / (F.col("total") * F.col("total"))).alias("hhi"),
        (F.col("max_c").cast("double") / F.col("total"))
        .alias("top_share"),
        ((F.col("total") * F.col("total")).cast("double") / F.col("ssq"))
        .alias("effective_hosts"))


# ---- code-vs-prose detection -------------------------------------------

CODE_KEYWORDS = ["def ", "function ", "return ", "import ", "#include",
                 "public ", "void ", "const ", "var ", "class ",
                 "fn ", "println", "printf", "elif ", "lambda "]


def code_detect_cols(text: Column) -> dict[str, Column]:
    """Per-doc code-likeness signals, all flat string expressions
    (SQL-mirrorable, zero UDF) — the gate web-curation pipelines run to
    route code-looking pages away from (or into) the code mix:

      n_sym         {}();=<>[] symbol characters
      n_kw          literal code-keyword hits (fixed list, substring
                    counts via replace-length math — no regex dialect)
      n_lines       newline-separated lines
      n_code_lines  lines that END in ; { } or ) after rstrip
      n_indent      lines starting with a tab or >= 4 spaces
      is_code       symbol density >= 3% AND (>= 2 keyword hits OR
                    >= 30% code-line endings) — integer cross-multiply
                    compares, no float thresholds

    Exactness: every signal is an integer count; is_code compares
    integer products only.  Scale: free rider on the text scan."""
    n_chars = F.greatest(F.length(text), F.lit(1))
    n_sym = F.length(text) - F.length(
        F.translate(text, "{}();=<>[]", ""))
    n_kw = reduce(add, (substr_count(text, kw) for kw in CODE_KEYWORDS))
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    stripped = F.transform(lines, lambda ln: F.rtrim(ln))
    ender = F.size(F.filter(
        stripped, lambda ln: ln.endswith(";") | ln.endswith("{")
        | ln.endswith("}") | ln.endswith(")")))
    indent = F.size(F.filter(
        lines, lambda ln: ln.startswith("\t") | ln.startswith("    ")))
    is_code = (n_sym * 100 >= n_chars * 3) & (
        (n_kw >= 2) | (ender.cast("long") * 100
                       >= F.greatest(n_lines, F.lit(1)).cast("long") * 30))
    return {
        "n_sym": n_sym.cast("long"),
        "n_kw": n_kw,
        "n_lines": n_lines.cast("long"),
        "n_code_lines": ender.cast("long"),
        "n_indent": indent.cast("long"),
        "is_code": is_code,
    }


def code_detect_oracle_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of ``code_detect_cols``."""
    t = text_expr
    lines = "string_split(%s, chr(10))" % t
    out = {
        "n_sym": "(length(%s) - length(translate(%s, '{}();=<>[]', '')))"
        "::bigint" % (t, t),
        "n_kw": "(%s)" % " + ".join(substr_count_oracle_sql(t, kw)
                                    for kw in CODE_KEYWORDS),
        "n_lines": "len(%s)::bigint" % lines,
        "n_code_lines": "len(list_filter(%s, x -> right(rtrim(x), 1)"
        " in (';', '{', '}', ')')))::bigint" % lines,
        "n_indent": "len(list_filter(%s, x -> left(x, 1) = chr(9)"
        " or left(x, 4) = '    '))::bigint" % lines,
    }
    out["is_code"] = (
        "(%s * 100 >= greatest(length(%s), 1)::bigint * 3) and (%s >= 2"
        " or %s * 100 >= greatest(%s, 1) * 30)"
        % (out["n_sym"], t, out["n_kw"], out["n_code_lines"], out["n_lines"]))
    return out


def code_detect(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    cols = code_detect_cols(F.col(text_col))
    return docs.select(id_col, *[v.alias(k) for k, v in cols.items()])


def host_boilerplate_lines(docs: DataFrame, host_col: str = "host",
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           min_share: float = 0.5,
                           min_docs: int = 3) -> DataFrame:
    """Host-level templated-LINE removal: a line appearing in >=
    ``min_share`` of a host's documents is navigation/footer template,
    not content — the line-granularity sibling of host_prefix/suffix
    (which only catch shared AFFIXES) and of paragraph_dedup (which is
    corpus-global, not host-conditional).

    Returns one row per doc: (doc_id, host, n_lines, n_removed,
    clean_text) with clean_text = the surviving lines re-joined in
    ORIGINAL order.  Hosts with < ``min_docs`` documents are left
    untouched (a 2-doc host makes every coincidence a 'template').

    Exactness: shares compare as integer cross-products
    (line_docs * D >= host_docs * S with min_share = S/D at 4
    decimals); reconstruction sorts on the original line index.
    Scale shape: one (host, line-hash) aggregate with map-side
    combine, one host-level doc count, one join back on (host, line)
    — the boilerplate side is the distinct-line table, never the
    corpus."""
    lines = (docs.select(F.col(id_col).alias("doc_id"),
                         F.col(host_col).alias("host"),
                         F.posexplode(F.split(F.col(text_col), "\n"))
                         .alias("pos", "line")))
    host_docs = docs.groupBy(F.col(host_col).alias("host")) \
        .agg(F.count(F.lit(1)).alias("hd"))
    line_docs = (lines.select("host", "line", "doc_id").distinct()
                 .groupBy("host", "line")
                 .agg(F.count(F.lit(1)).alias("ld")))
    sd = round(min_share * 10000)
    bp = (line_docs.join(host_docs, "host")
          .where((F.col("ld") * 10000 >= F.col("hd") * sd)
                 & (F.col("hd") >= min_docs)
                 & (F.length(F.trim(F.col("line"))) > 0))
          .select("host", "line", F.lit(True).alias("_bp")))
    marked = lines.join(bp, ["host", "line"], "left")
    return (marked
            .groupBy("doc_id", "host")
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.when(F.col("_bp"), 1).otherwise(0))
                 .cast("long").alias("n_removed"),
                 F.concat_ws("\n", F.transform(
                     F.array_sort(F.collect_list(F.when(
                         F.col("_bp").isNull(),
                         F.struct(F.col("pos").alias("pos"),
                                  F.col("line").alias("line"))))),
                     lambda s: s["line"])).alias("clean_text"))
            .select("doc_id", "host",
                    F.col("n_lines").cast("long").alias("n_lines"),
                    "n_removed", "clean_text"))


# ---- login/signup page detection ----------------------------------------

LOGIN_MARKERS = ["password", "sign in", "log in", "forgot password",
                 "remember me", "create account", "sign up",
                 "<form", "two-factor"]


def login_page_cols(text: Column) -> dict[str, Column]:
    """Login/signup-page signals: auth walls are near-zero-value
    training text that passes length/quality gates.  Literal marker
    counts via replace-length math on the lowered text;

      is_login = n_password >= 1 AND (has_form OR n_markers >= 3)
    """
    low = F.lower(text)
    n_markers = reduce(add, (substr_count(low, ph) for ph in LOGIN_MARKERS))
    n_password = substr_count(low, "password")
    has_form = substr_count(low, "<form") >= 1
    return {
        "n_markers": n_markers,
        "n_password": n_password,
        "has_form": has_form,
        "is_login": (n_password >= 1) & (has_form | (n_markers >= 3)),
    }


def login_page_oracle_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of ``login_page_cols``."""
    low = "lower(%s)" % text_expr
    n_markers = "(%s)" % " + ".join(substr_count_oracle_sql(low, ph)
                                    for ph in LOGIN_MARKERS)
    n_password = substr_count_oracle_sql(low, "password")
    has_form = "%s >= 1" % substr_count_oracle_sql(low, "<form")
    return {"n_markers": n_markers, "n_password": n_password,
            "has_form": has_form,
            "is_login": "%s >= 1 and (%s or %s >= 3)" % (
                n_password, has_form, n_markers)}


def login_page_scan(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    cols = login_page_cols(F.col(text_col))
    return docs.select(id_col, *[v.alias(k) for k, v in cols.items()])


def truncation_loss(docs: DataFrame, part_col: str = "source",
                    text_col: str = "text",
                    budgets: tuple[int, ...] = (128, 512, 2048)
                    ) -> DataFrame:
    """Context-budget truncation report: for each candidate training
    context length, what share of the corpus's tokens fall PAST the
    cap and get truncated away — the number that decides sequence
    length (and whether long docs should be split rather than
    truncated) before a training run.

    Per partition: total docs/tokens, and for each budget k the count
    of docs exceeding it plus lost_k = sum(max(0, n_tokens - k)) and
    its share.  Exact bigints, one division per budget; ONE map-side-
    combinable aggregate."""
    toks = token_count_cols(F.col(text_col))["bpe_tokens"].cast("long")
    base = docs.select(F.col(part_col).alias("part"),
                       toks.alias("t"))
    aggs = [F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("n_tokens")]
    for k in budgets:
        aggs.append(F.sum(F.when(F.col("t") > k, 1).otherwise(0))
                    .cast("long").alias(f"n_over_{k}"))
        aggs.append(F.sum(F.greatest(F.col("t") - k, F.lit(0)))
                    .cast("long").alias(f"lost_{k}"))
    out = base.groupBy("part").agg(*aggs)
    for k in budgets:
        out = out.withColumn(
            f"lost_share_{k}",
            F.col(f"lost_{k}").cast("double") / F.col("n_tokens"))
    return out.withColumnRenamed("part", part_col)


def md_structure(docs: DataFrame, part_col: str = "source",
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Markdown-structure profile of extractor output — the extraction
    QA report that catches a regression which keeps byte counts stable
    but flattens structure (headings lost, tables collapsed to text):

      n_headings   lines starting with '#'
      n_bullets    lines starting with '- ' or '* '
      n_table_rows lines starting with '|'
      n_code_fence lines starting with three backticks
      n_lines      total lines

    Per doc, pure line-array math; aggregate per source for the
    corpus profile (one explode-free pass)."""
    lines = F.split(F.col(text_col), "\n")

    def _starts(pfx):
        return F.size(F.filter(lines, lambda ln: ln.startswith(pfx)))

    heads = _starts("#")
    bullets = (F.size(F.filter(lines, lambda ln: ln.startswith("- ")))
               + F.size(F.filter(lines, lambda ln: ln.startswith("* "))))
    return docs.select(
        id_col, part_col,
        F.size(lines).cast("long").alias("n_lines"),
        heads.cast("long").alias("n_headings"),
        bullets.cast("long").alias("n_bullets"),
        _starts("|").cast("long").alias("n_table_rows"),
        _starts("```").cast("long").alias("n_code_fence"))


def sample_audit(sample: DataFrame, population: DataFrame,
                 strata_col: str = "lang") -> DataFrame:
    """Chi-square goodness-of-fit audit of a drawn sample against the
    population's strata proportions — the statistical QA check run on
    every corpus-mixing output (a biased sampler silently shifts the
    training mix).

    chi2 = sum over strata (obs*N - exp_scaled)^2 / (exp_scaled * N)
    with exp_scaled = n_sample * pop_count kept in exact bigints; the
    per-stratum terms and their sum are single divisions folded in
    stratum order (deterministic in any engine).  Output: one row per
    stratum (obs, pop, expected, term) plus the per-stratum share
    columns; the caller sums `term` for the statistic (df = k - 1)."""
    pop = population.groupBy(F.col(strata_col).alias("s")) \
        .agg(F.count(F.lit(1)).alias("pop"))
    obs = sample.groupBy(F.col(strata_col).alias("s")) \
        .agg(F.count(F.lit(1)).alias("obs"))
    tot = (pop.agg(F.sum("pop").alias("n_pop"))
           .crossJoin(obs.agg(F.sum("obs").alias("n_samp"))))
    j = (pop.join(obs, "s", "left")
         .withColumn("obs", F.coalesce("obs", F.lit(0).cast("long")))
         .join(F.broadcast(tot)))
    # expected count = n_samp * pop / n_pop (exact rational; term uses
    # the scaled form to stay bigint until one division)
    num = (F.col("obs") * F.col("n_pop")
           - F.col("n_samp") * F.col("pop"))
    term = F.when(
        F.col("pop") > 0,
        (num * num).cast("double")
        / (F.col("n_samp") * F.col("pop") * F.col("n_pop"))
        .cast("double"))
    return j.select(
        F.col("s").alias(strata_col),
        F.col("obs").cast("long").alias("obs"),
        F.col("pop").cast("long").alias("pop"),
        ((F.col("n_samp") * F.col("pop")).cast("double")
         / F.col("n_pop")).alias("expected"),
        term.alias("chi2_term"))
