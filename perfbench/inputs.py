"""Seeded benchmark inputs, cached on disk by (workload, seed, size).

Every input is a pure function of its seed.  Files go under the
benchmark's own data directory and are published by rename, so a run
killed mid-write leaves no half-written input behind.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

# Offset that turns a workload seed into the "second seed" the curate
# corpus is extracted from, so it never shares pages with `extract`.
CURATE_SEED_OFFSET = 1_000_003


def _publish(tmp: str, final: str) -> None:
    if os.path.exists(final):  # another run won the race
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.rename(tmp, final)


def _fresh_tmp(final: str) -> str:
    tmp = final + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def extract_pages(data_dir: str, seed: int, n_pages: int) -> str:
    """Pages table (sources.pages mix: 40/20/15/10/5/5/3/2, incl. PDFs and
    giant blobs) -> parquet path."""
    from deepseek_ocr_omnidocbench_spark.sources.pages import write_pages

    final = os.path.join(data_dir, "extract-s%d-n%d" % (seed, n_pages))
    if not os.path.exists(final):
        tmp = _fresh_tmp(final)
        write_pages(os.path.join(tmp, "pages.parquet"), n_pages, seed=seed)
        _publish(tmp, final)
    return os.path.join(final, "pages.parquet")


def eval_fixtures(data_dir: str, seed: int, n_pages: int) -> dict[str, str]:
    """GT elements, page attributes and predictions
    (sources.annotations.generate_eval_fixtures) -> parquet paths, in the
    schemas plans.evaluate reads them with."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from deepseek_ocr_omnidocbench_spark.plans.evaluate import (
        GT_SCHEMA, PAGE_ATTR_SCHEMA, PRED_SCHEMA)
    from deepseek_ocr_omnidocbench_spark.sources.annotations import (
        generate_eval_fixtures)

    final = os.path.join(data_dir, "eval-s%d-n%d" % (seed, n_pages))
    names = ("gt", "attrs", "preds")
    if not os.path.exists(final):
        tmp = _fresh_tmp(final)
        frames = generate_eval_fixtures(n_pages, seed=seed)
        for name, rows, schema in zip(names, frames,
                                      (GT_SCHEMA, PAGE_ATTR_SCHEMA, PRED_SCHEMA)):
            table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
            pq.write_table(table, os.path.join(tmp, name + ".parquet"))
        _publish(tmp, final)
    return {name: os.path.join(final, name + ".parquet") for name in names}


# ---- curate corpus -----------------------------------------------------
#
# The pages generator's vocabulary has no English stopwords, so every
# document extracted from it fails the Gopher and language gates and the
# curate plan would dedup an empty frame.  The curate corpus is English
# prose instead, built in near-duplicate families, with URL refetches
# and a share of documents each gate should drop.

_DET = ["the", "the", "a", "this", "that", "each", "every", "one"]
_NOUN = (
    "river city garden market harbor bridge forest valley mountain school "
    "library museum kitchen village station island castle tower meadow "
    "farmer teacher doctor sailor painter writer builder miner baker "
    "engineer merchant pilot nurse hunter weaver potter singer dancer "
    "window lantern basket ladder compass blanket candle mirror wagon "
    "engine clock letter story journey season winter summer autumn spring "
    "morning evening harvest festival council report budget project plan "
    "method result record network signal camera battery machine device"
).split()
_VERB = (
    "builds carries finds keeps opens shows moves holds brings takes "
    "gives makes leaves meets reads writes paints visits follows crosses "
    "repairs describes protects measures collects prepares explains "
    "records changes reaches shares studies watches remembers"
).split()
_ADJ = (
    "old new small large quiet busy early late bright dark warm cold "
    "green golden narrow wide simple careful modern ancient local distant "
    "hidden open famous ordinary strange gentle heavy light"
).split()
_PREP = ["in", "on", "with", "for", "to", "of", "near", "after", "before"]
_DE = ("der die das und ist nicht mit ein eine zu den haus stadt wasser "
       "garten morgen abend arbeit schule freund zeit").split()


def _sentence(rng: random.Random) -> str:
    s = "%s %s %s %s %s %s %s %s and %s %s %s." % (
        rng.choice(_DET), rng.choice(_ADJ), rng.choice(_NOUN),
        rng.choice(_VERB), rng.choice(_DET), rng.choice(_NOUN),
        rng.choice(_PREP), rng.choice(_NOUN), rng.choice(_VERB),
        rng.choice(_DET), rng.choice(_NOUN))
    return s[0].upper() + s[1:]


def _article(rng: random.Random, n_par: int) -> list[str]:
    return [" ".join(_sentence(rng) for _ in range(rng.randint(4, 7)))
            for _ in range(n_par)]


def _near_copy(rng: random.Random, paras: list[str]) -> list[str]:
    """Edit ~3% of the words and maybe drop one paragraph."""
    out = []
    for p in paras:
        words = p.split(" ")
        for _ in range(max(1, len(words) // 33)):
            words[rng.randrange(len(words))] = rng.choice(_NOUN)
        out.append(" ".join(words))
    if len(out) > 3 and rng.random() < 0.5:
        del out[rng.randrange(len(out))]
    return out


def _html(title: str, paras: list[str]) -> str:
    body = "\n".join("<p>%s</p>" % p for p in paras)
    return ("<html><head><title>%s</title></head><body>"
            "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a></nav>"
            "<article>\n<h1>%s</h1>\n%s\n</article>"
            "<footer><p>contact terms privacy</p></footer></body></html>"
            % (title, title, body))


def curate_pages(n_docs: int, seed: int) -> list[dict]:
    """Rows in the pages schema.  Per 100 docs, roughly: 62 in
    near-duplicate families of 2-4, 20 singletons, 8 URL refetches
    (tracking params, ``www.``, trailing slash), and 10 that the gates
    drop (too short, German, SEO spam)."""
    from deepseek_ocr_omnidocbench_spark.operators.html_extract import extract_markdown

    rng = random.Random("curate:%d" % seed)
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    docs: list[tuple[str, str, list[str]]] = []  # (url, title, paragraphs)
    fam = 0
    while len(docs) < n_docs:
        fam += 1
        url = "https://site%d.example.com/post/%06d" % (fam % 37, fam)
        title = " ".join(rng.choice(_NOUN) for _ in range(3)).title()
        r = rng.random()
        if r < 0.05:
            paras = [" ".join(_sentence(rng) for _ in range(2))]  # short
        elif r < 0.08:
            paras = [" ".join(rng.choice(_DE) for _ in range(60)) + "."]
        elif r < 0.10:
            spam = "download free ebook pdf casino file save"
            paras = [p + " " + spam for p in _article(rng, 3)]
        else:
            paras = _article(rng, rng.randint(3, 6))
        docs.append((url, title, paras))
        if r >= 0.10 and rng.random() < 0.45:  # near-duplicate family
            for k in range(rng.randint(1, 3)):
                docs.append(("https://mirror%d.example.net/copy/%06d-%d"
                             % (fam % 11, fam, k), title,
                             _near_copy(rng, paras)))
        if r >= 0.10 and rng.random() < 0.12:  # refetch of the same page
            # same canonical URL, content re-rendered with a fetch date so
            # the document id (a digest of the markdown) differs
            variant = rng.choice([url + "?utm_source=feed",
                                  url.replace("https://", "https://www."),
                                  url + "/"])
            docs.append((variant, title,
                         paras + ["Fetched on day %d." % rng.randint(1, 365)]))
    rows = []
    for seq, (url, title, paras) in enumerate(docs[:n_docs]):
        html = _html(title, paras)
        rows.append({"url": url, "warc_ts": epoch + dt.timedelta(seconds=seq),
                     "html": html.encode("utf-8"),
                     "text": extract_markdown(html) or "",
                     "lang": "en", "category": "curate"})
    return rows


def curate_docs(spark, data_dir: str, seed: int, n_docs: int) -> str:
    """Extracted documents for the curate workload: the curate pages of the
    second seed run through the extract pipeline -> parquet path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import run_pipeline_inline
    from deepseek_ocr_omnidocbench_spark.sources.pages import PAGES_ARROW_SCHEMA

    final = os.path.join(data_dir, "curate-s%d-n%d" % (seed, n_docs))
    if not os.path.exists(final):
        tmp = _fresh_tmp(final)
        rows = curate_pages(n_docs, seed + CURATE_SEED_OFFSET)
        pages_path = os.path.join(tmp, "pages.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA),
                       pages_path, row_group_size=100)
        docs = run_pipeline_inline(spark.read.parquet(pages_path))
        docs.coalesce(4).write.parquet(os.path.join(tmp, "docs"))
        _publish(tmp, final)
    return os.path.join(final, "docs")
