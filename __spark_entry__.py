"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is the flagship: wrap the sf0.001 documents table into
boilerplate-laden HTML, run the real main-content extractor over it, and
score the round trip with the reference-style edit-distance aggregates
(page-weighted / whole / sample-mean, metrics 2/cal_metric.py:159-184
semantics re-expressed as native groupBy).

``queries()`` / ``oracle_sql()`` cover the relational surface of
SURVEY.md §2 plus the training-data operators (dedup, similarity, text
analysis, rule checks).  Every float column is rounded to a fixed
precision on BOTH sides so the driver's value-hash compare is stable;
booleans are cast to int for the same reason.  Kernels whose production
hash is xxhash64 (minhash/simhash LSH) additionally run as *_oracle
variants with an md5-derived hash both engines compute identically, so
the full banded dataflows sit under the value gate; only queries whose
kernels genuinely cannot be expressed in DuckDB SQL (the matching/eval
harness, the extractor itself, IVF k-means) stay rows-only.

Each query is one function ``q_<name>`` decorated with
``@query(oracle=<DuckDB SQL or None>)``; ``queries()`` and
``oracle_sql()`` are derived from that registry.
"""

from __future__ import annotations

import html as _html
import json
import re
from collections.abc import Callable
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.operators import dedup as D
from deepseek_ocr_omnidocbench_spark.operators.filters import (
    PII_PATTERNS as _PII,
    soft404_oracle_sql,
)
from deepseek_ocr_omnidocbench_spark.operators import classifier as CL
from deepseek_ocr_omnidocbench_spark.operators import graph as GR
from deepseek_ocr_omnidocbench_spark.operators import lm as LM
from deepseek_ocr_omnidocbench_spark.operators import ranking as RK
from deepseek_ocr_omnidocbench_spark.operators import similarity as S
from deepseek_ocr_omnidocbench_spark.operators import sketches as SK
from deepseek_ocr_omnidocbench_spark.operators import textstats as TS
from deepseek_ocr_omnidocbench_spark.operators.html_extract import extract_pages

R = 6  # float rounding for oracle parity


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

_NOISE_PRE = (
    '<html><head><title>t</title><script>var x=1;</script></head><body>'
    '<nav><a href="/a">home</a> <a href="/b">about</a> <a href="/c">more</a>'
    ' <a href="/d">links</a> <a href="/e">nav</a> <a href="/f">bar</a></nav>'
    '<div class="ads banner"><p>buy now limited offer</p></div><article>'
)
_NOISE_POST = (
    '</article><div id="sidebar"><ul><li><a href="/s1">one</a></li>'
    '<li><a href="/s2">two</a></li><li><a href="/s3">three</a></li></ul></div>'
    "<footer><p>contact us terms privacy</p></footer></body></html>"
)


def _wrap_batch(text: pd.Series) -> pd.Series:
    def _one(t):
        if t is None:
            return None
        body = "<p>%s</p>" % _html.escape(t)
        return (_NOISE_PRE + body + _NOISE_POST).encode("utf-8")

    return text.map(_one)


def entry(spark: SparkSession) -> DataFrame:
    """documents.text -> boilerplate HTML -> extractor -> edit report."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir)
    wrap_udf = F.pandas_udf(_wrap_batch, "binary")
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        wrap_udf(F.col("text")).alias("html"),
        "text", "source",
    )
    extracted = extract_pages(pages)
    scored = (
        extracted.join(pages.select("url", "text", "source"), "url")
        .withColumn("edit_num", F.levenshtein(F.coalesce("md", F.lit("")), "text"))
        .withColumn("upper_len", F.greatest(
            F.length(F.coalesce("md", F.lit(""))), F.length("text")))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("edit_num") == 0).cast("int")).alias("n_exact"),
            F.round(F.sum("edit_num") / F.sum("upper_len"), R).alias("edit_whole"),
            F.round(F.avg(F.col("edit_num") / F.col("upper_len")), R).alias("edit_sample_avg"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# query registry: one decorated function per gated query
# ---------------------------------------------------------------------------

# (name, build, oracle SQL or None for a rows-only query), definition order
_QUERIES: list[tuple[str, Callable[[SparkSession, str], DataFrame], str | None]] = []


def query(*, oracle: str | None):
    """Register ``q_<name>`` as the gated query ``<name>``.  ``oracle`` is
    the DuckDB SQL its output must equal; None marks a rows-only query."""
    def register(fn):
        _QUERIES.append((fn.__name__.removeprefix("q_"), fn, oracle))
        return fn

    return register


# ---------------------------------------------------------------------------
# DuckDB oracle helpers shared by several queries
# ---------------------------------------------------------------------------

_AZ09_WORDS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"
# the per-document gate mirrors over `text`, composed by the oracles below
_QUALITY = TS.quality_oracle_sql("text")
_SPAM = TS.seo_spam_oracle_sql("text")
_GOPHER = TS.gopher_rules_oracle_sql("text")


def _as_cols(cols: dict[str, str]) -> str:
    """``expr as name, ...`` over every column of a gate mirror."""
    return ",\n      ".join(f"{v} as {k}" for k, v in cols.items())


_SHINGLES = (
    "list_distinct([array_to_string(w[i:i+2], ' ') "
    "for i in range(1, greatest(len(w) - 1, case when len(w) > 0 then 2 else 1 end))])"
)

# Shared by minhash_lsh_oracle, dedup_clusters and curate_pipeline: the
# md5-derived MinHash-LSH pair generation (k=8, bands=4) as a CTE chain
# ending at `j` (doc_a, doc_b, jaccard).  Spliced after "with recursive"
# so the clusters oracle can append a recursive reachability CTE.
# ``src`` parameterizes the input relation (must expose doc_id, text) so
# the curation composition can run LSH over its gated subset.


def _minhash_ctes(src: str = "documents") -> str:
    return f"""
            base as (
              select doc_id, {_SHINGLES} as sh
              from (select doc_id, {_AZ09_WORDS} as w, text from {src})
            ),
            sig as (
              select doc_id, sh,
                [coalesce(
                   list_min([('0x' || substr(md5(cast(7 + i as varchar)
                                                 || ',' || s), 1, 15))::bigint
                             for s in sh]),
                   4611686018427387904) for i in range(8)] as sig
              from base
            ),
            banded as (
              select doc_id, b.band,
                ('0x' || substr(md5(cast(sig[2*b.band + 1] as varchar) || ','
                                   || cast(sig[2*b.band + 2] as varchar)),
                                1, 15))::bigint as bucket
              from sig cross join (select unnest(range(4)) as band) b
            ),
            cand as (
              select distinct a.doc_id as doc_a, b2.doc_id as doc_b
              from banded a
              join banded b2 on a.band = b2.band and a.bucket = b2.bucket
              where a.doc_id < b2.doc_id
            ),
            j as (
              select doc_a, doc_b,
                round(len(list_intersect(sa.sh, sb.sh))::double /
                      (len(sa.sh) + len(sb.sh)
                       - len(list_intersect(sa.sh, sb.sh))), 6) as jaccard
              from cand
              join base sa on sa.doc_id = cand.doc_a
              join base sb on sb.doc_id = cand.doc_b
            )"""


_MINHASH_CTES = _minhash_ctes("documents")


def _gate_ctes(src: str = "documents") -> str:
    """curation_pipeline's composite-gate computation as a CTE ``g``
    (doc_id + four gate booleans) over ``src`` (must expose doc_id,
    text) — shared by the curation_pipeline oracle and the
    curate_pipeline composition oracle."""
    runaway = " or ".join(
        "(length(text) >= %d and substr(text, -%d, %d)"
        " = substr(text, -%d, %d))"
        % (30 * g + g, 30 * g, 30 * g, 30 * g + g, 30 * g)
        for g in (1, 2, 3))
    return f"""g as (
              select doc_id,
                {_GOPHER["gopher_pass"]} as g_gopher,
                not ({_SPAM["is_spam"]}) as g_spam,
                not ({runaway}) as g_runaway,
                (({TS.lang_id_oracle_sql("text")}) = 'en') as g_lang
              from {src})"""


def _classifier_feat_ctes(dim: int) -> str:
    """Shared featurization CTEs (-> ``feat``: doc_id, bucket, value)
    mirroring classifier.hashed_features with md5 hashing."""
    return f"""tcl as materialized (
          select doc_id, {_AZ09_WORDS} as ws
          from (select doc_id, text from documents)),
        trm as (
          select doc_id, unnest(ws || [ws[i] || ' ' || ws[i+1]
                                       for i in range(1, len(ws))]) as term
          from tcl),
        fc as materialized (
          select doc_id,
            ('0x' || substr(md5(term), 1, 15))::bigint % {dim} as bucket,
            count(*)::double as c
          from trm group by doc_id, bucket),
        ntm as (select doc_id, sum(c) as n from fc group by doc_id),
        feat as materialized (
          select fc.doc_id, fc.bucket, fc.c / ntm.n as value
          from fc join ntm using (doc_id))"""


def _pagerank_oracle_sql(iters: int = 10, d: float = 0.85,
                         tail: str | None = None) -> str:
    """DuckDB mirror of q_pagerank with every iteration unrolled as a
    CTE step (recursive CTEs can't aggregate in the recursive term, so
    a fixed-iteration power method unrolls instead).  ``tail`` swaps
    the final select so compositions (crawl_priority) reuse the same
    unrolled iterations."""
    steps = []
    prev = "pr0"
    for i in range(iters):
        cur = f"pr{i + 1}"
        steps.append(f"""
            {cur} as materialized (
              select n.node,
                (1 - {d}) / (select nn from ncount)
                + {d} * (coalesce(c.contrib, 0)
                         + dang.dm / (select nn from ncount)) as rank
              from nodes n
              left join (
                select e.dst as node,
                       sum(p.rank * e.weight / o.outw) as contrib
                from edges e
                join {prev} p on p.node = e.src
                join outdeg o on o.node = e.src
                group by e.dst) c on c.node = n.node
              cross join (
                select coalesce(sum(p.rank), 0) as dm
                from {prev} p left join outdeg o on o.node = p.node
                where o.node is null) dang
            )""")
        prev = cur
    return f"""
        with links as materialized (
          select source as src,
                 'src' || ((doc_id * 7 + t.j) % 20) as dst
          from documents, unnest(range(1, (2 + doc_id % 3)::int)) as t(j)),
        edges as materialized (
          select src, dst, count(*)::double as weight
          from links group by src, dst),
        nodes as materialized (select src as node from edges
                  union select dst from edges),
        ncount as materialized (select count(*)::double as nn from nodes),
        outdeg as materialized (select src as node, sum(weight) as outw
                   from edges group by src),
        pr0 as materialized (select node, 1.0 / (select nn from ncount) as rank
                from nodes),
        {','.join(steps)}
        {tail or f'''select node, round(rank, 6) as rank from pr{iters}
        order by node'''}
    """


def _label_prop_oracle_sql(iters: int = 5, tail: str | None = None) -> str:
    """DuckDB mirror of q_label_prop: every synchronous iteration
    unrolled (neighbor vote counts, per-node argmax with the
    (count desc, label asc) tie-break, keep-own-label fallback) —
    exactly operators/graph.py:label_propagation.  Integer vote counts
    and string labels make the parity exact, no float anywhere.
    ``tail`` swaps the final select so compositions (community_quota)
    reuse the same unrolled iterations."""
    steps = []
    prev = "l0"
    for i in range(1, iters + 1):
        steps.append(f"""
            v{i} as materialized (
              select u.b as node, l.label, count(*) as c
              from und u join {prev} l on l.node = u.a
              group by u.b, l.label),
            w{i} as materialized (
              select node, label from (
                select node, label,
                       row_number() over (
                         partition by node
                         order by c desc, label asc) as rn
                from v{i}) where rn = 1),
            l{i} as materialized (
              select p.node, coalesce(w.label, p.label) as label
              from {prev} p left join w{i} w on w.node = p.node)""")
        prev = f"l{i}"
    return f"""
        with links as materialized (
          select source as src,
                 'src' || ((doc_id % 20) - (doc_id % 20) % 4
                           + (doc_id // 20 * 7 + t.j) % 4) as dst
          from documents, unnest(range(1, (2 + doc_id % 3)::int)) as t(j)),
        und as materialized (
          select distinct a, b from (
            select src as a, dst as b from links
            union all
            select dst as a, src as b from links)
          where a <> b),
        nodes as materialized (select distinct a as node from und),
        l0 as materialized (select node, node as label from nodes),
        {','.join(steps)}
        {tail or f'select node, label from l{iters} order by node'}
    """


_KMV_SCALE = float(64 - 1) * float(2 ** 60)


# ---------------------------------------------------------------------------
# oracle-checked queries
# ---------------------------------------------------------------------------


@query(oracle="""
            select md5(text) as content_hash, count(*) as group_size,
                   min(doc_id) as canonical_doc
            from documents group by 1 order by 1
        """)
def q_exact_dedup_groups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("group_size"),
             F.min("doc_id").alias("canonical_doc"))
        .orderBy("content_hash")
    )


@query(oracle="""
            select doc_id,
              len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) as ws_tokens,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as bpe_tokens
            from documents
        """)
def q_token_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    cols = TS.token_count_cols(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in cols.items()])


@query(oracle=f"""
            select doc_id, {TS.lang_id_oracle_sql("text")} as lang_pred
            from documents
        """)
def q_lang_id(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", TS.lang_id_col(F.col("text")).alias("lang_pred"))


@query(oracle=f"""
            with t as (
              select doc_id, text,
                len(regexp_extract_all(text, '[A-Za-z]+')) as n_words,
                len(regexp_extract_all(text, '[.!?]+')) as n_sentences,
                greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')),
                         len(regexp_extract_all(text, '[A-Za-z]+')))
                  as n_syllables
              from documents),
            u as (
              select *,
                greatest(n_words, 1)::double
                  / greatest(n_sentences, 1)::double as wps,
                n_syllables::double / greatest(n_words, 1)::double as spw
              from t)
            select doc_id,
              round({_QUALITY["alpha_ratio"]}, 6) as alpha_ratio,
              round({_QUALITY["punct_ratio"]}, 6) as punct_ratio,
              round({_QUALITY["stopword_ratio"]}, 6) as stopword_ratio,
              round({_QUALITY["quality_score"]}, 6) as quality_score,
              n_words, n_sentences, n_syllables,
              round(206.835 - 1.015 * wps - 84.6 * spw, 6) as flesch_ease,
              round(0.39 * wps + 11.8 * spw - 15.59, 6) as fk_grade
            from u
        """)
def q_quality_scores(spark, sf_dir):
    """Composite quality ratios + Flesch/FK readability (round-5
    addition: readability_cols — integer regex counts feeding two fixed
    float formulas, so the scores mirror exactly in SQL)."""
    docs = _docs(spark, sf_dir)
    cols = TS.quality_cols(F.col("text"))
    rd = TS.readability_cols(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(cols["alpha_ratio"], R).alias("alpha_ratio"),
        F.round(cols["punct_ratio"], R).alias("punct_ratio"),
        F.round(cols["stopword_ratio"], R).alias("stopword_ratio"),
        F.round(cols["quality_score"], R).alias("quality_score"),
        rd["n_words"].alias("n_words"),
        rd["n_sentences"].alias("n_sentences"),
        rd["n_syllables"].alias("n_syllables"),
        F.round(rd["flesch_ease"], R).alias("flesch_ease"),
        F.round(rd["fk_grade"], R).alias("fk_grade"),
    )


@query(oracle=f"""
            select doc_id, {_SPAM["seo_hits"]} as seo_hits,
              {_SPAM["word_total"]} as word_total,
              ({_SPAM["is_spam"]})::int as is_spam
            from documents
        """)
def q_seo_spam(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    cols = TS.seo_spam_cols(F.col("text"))
    return docs.select(
        "doc_id", cols["seo_hits"].alias("seo_hits"),
        cols["word_total"].alias("word_total"),
        cols["is_spam"].cast("int").alias("is_spam"),
    )


_GOPHER_RULES = ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
                 "r_bullet_ratio", "r_alpha_words", "r_stopwords",
                 "gopher_pass")


@query(oracle=f"""
            select doc_id, {_GOPHER["n_words"]} as n_words,
              round({_GOPHER["mean_word_len"]}, 6) as mean_word_len,
              round({_GOPHER["alpha_word_ratio"]}, 6) as alpha_word_ratio,
              {", ".join(f"({_GOPHER[r]})::int as {r}" for r in _GOPHER_RULES)}
            from documents order by doc_id
        """)
def q_gopher_rules(spark, sf_dir):
    """Gopher-style webtext quality gate (Rae et al. 2021 §A1.1): each
    rule as its own int column + the conjunction, value-parity oracled."""
    docs = _docs(spark, sf_dir)
    cols = TS.gopher_rules_cols(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_words"].alias("n_words"),
        F.round(cols["mean_word_len"], R).alias("mean_word_len"),
        F.round(cols["alpha_word_ratio"], R).alias("alpha_word_ratio"),
        *[cols[r].cast("int").alias(r) for r in _GOPHER_RULES],
    ).orderBy("doc_id")


@query(oracle="""
            with p as (
              select case when doc_id % 2 = 0
                then 'https://www.Example.com/doc/' || (doc_id // 2)
                     || '/?utm_source=x&b=2&a=1'
                else 'HTTPS://Example.com/doc/' || (doc_id // 2) || '?a=1&b=2'
              end as url
              from documents),
            c as (
              select url,
                regexp_replace(trim(url), '#.*$', '') as frag
              from p),
            c2 as (
              select url,
                lower(regexp_extract(frag,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) as scheme,
                regexp_replace(frag,
                               '^[A-Za-z][A-Za-z0-9+.-]*://', '') as rest
              from c),
            c3 as (
              select url, scheme, rest,
                regexp_replace(regexp_replace(regexp_replace(
                  lower(regexp_extract(rest, '^([^/?]*)', 1)),
                  ':(80|443)$', ''), '^www\\.', ''), '\\.$', '') as host,
                regexp_replace(rest, '^[^/?]*', '') as pathq
              from c2),
            c4 as (
              select url, scheme, host,
                case when regexp_extract(pathq, '^([^?]*)', 1) = '' then '/'
                  else regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                                      '(.)/$', '\\1') end as path,
                array_to_string(list_sort(list_filter(
                  string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
                  q -> len(q) > 0 and not regexp_matches(q,
                       '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&')
                  as qnorm
              from c3),
            canon as (
              select url,
                (case when scheme = '' then 'http' else scheme end)
                || '://' || host || path
                || (case when len(qnorm) > 0 then '?' || qnorm else '' end)
                  as canonical_url
              from c4)
            select url, canonical_url,
              count(*) over (partition by canonical_url) as group_size,
              (url = min(url) over (partition by canonical_url))::int
                as is_canonical
            from canon order by url
        """)
def q_url_dedup(spark, sf_dir):
    """URL-level dedup on canonical crawl URLs (scheme/host folding,
    tracking-param strip, param sort) — two url variants per doc pair
    collapse to one canonical group; exact value parity with DuckDB."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import url_dedup

    docs = _docs(spark, sf_dir)
    base = F.concat(F.lit("Example.com/doc/"),
                    F.floor(F.col("doc_id") / 2).cast("long").cast("string"))
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("https://www."), base, F.lit("/?utm_source=x&b=2&a=1")),
    ).otherwise(F.concat(F.lit("HTTPS://"), base, F.lit("?a=1&b=2")))
    pages = docs.select(url.alias("url"))
    out = url_dedup(pages)
    return out.select("url", "canonical_url", "group_size",
                      F.col("is_canonical").cast("int").alias("is_canonical")) \
        .orderBy("url")


@query(oracle="""
            with t as (
              select doc_id, lang,
                len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as n_tokens
              from documents),
            c as (
              select doc_id, lang, n_tokens,
                sum(n_tokens) over (partition by lang order by doc_id
                                    rows unbounded preceding) - n_tokens
                  as start_offset
              from t)
            select doc_id, lang, n_tokens::int as n_tokens,
                   start_offset::bigint as start_offset,
                   (start_offset // 512)::int as bin
            from c order by doc_id
        """)
def q_pack_documents(spark, sf_dir):
    """Sequence packing: deterministic fixed-token-budget bin layout per
    lang group (training-batch assembly), value-parity oracled."""
    docs = _docs(spark, sf_dir)
    return TS.pack_documents(docs, budget=512).orderBy("doc_id")


@query(oracle="""
            with t as (
              select doc_id,
                list_filter(string_split_regex(text, '\\s+'),
                            x -> len(x) > 0) as words,
                list_filter(string_split_regex(text, '\\n'),
                            l -> len(trim(l)) > 0) as lines
              from documents),
            pl as (
              select doc_id, line, count(*) as cnt, length(line) as chars
              from (select doc_id, unnest(lines) as line from t)
              group by doc_id, line),
            ls as (
              select doc_id,
                1.0 - count(*)::double / sum(cnt) as dup_line_frac,
                sum(case when cnt > 1 then cnt * chars else 0 end)::double
                  / sum(cnt * chars) as dup_line_char_frac
              from pl group by doc_id),
            tc as (select doc_id,
                          length(array_to_string(words, '')) as tcv from t),
            g2 as (select doc_id, max((length(gram) - 1) * cnt) as topc from (
                     select doc_id, gram, count(*) as cnt from (
                       select doc_id, unnest([array_to_string(words[i:i+1], ' ')
                         for i in range(1, greatest(len(words) - 1, 0) + 1)]) as gram
                       from t) group by doc_id, gram) group by doc_id),
            g3 as (select doc_id, max((length(gram) - 2) * cnt) as topc from (
                     select doc_id, gram, count(*) as cnt from (
                       select doc_id, unnest([array_to_string(words[i:i+2], ' ')
                         for i in range(1, greatest(len(words) - 2, 0) + 1)]) as gram
                       from t) group by doc_id, gram) group by doc_id),
            g4 as (select doc_id, max((length(gram) - 3) * cnt) as topc from (
                     select doc_id, gram, count(*) as cnt from (
                       select doc_id, unnest([array_to_string(words[i:i+3], ' ')
                         for i in range(1, greatest(len(words) - 3, 0) + 1)]) as gram
                       from t) group by doc_id, gram) group by doc_id)
            select t.doc_id,
              round(coalesce(ls.dup_line_frac, 0.0), 6) as dup_line_frac,
              round(coalesce(ls.dup_line_char_frac, 0.0), 6) as dup_line_char_frac,
              round(case when tc.tcv > 0 and g2.topc is not null
                    then g2.topc::double / tc.tcv else 0.0 end, 6) as top2gram_char_frac,
              round(case when tc.tcv > 0 and g3.topc is not null
                    then g3.topc::double / tc.tcv else 0.0 end, 6) as top3gram_char_frac,
              round(case when tc.tcv > 0 and g4.topc is not null
                    then g4.topc::double / tc.tcv else 0.0 end, 6) as top4gram_char_frac
            from t
            left join ls on ls.doc_id = t.doc_id
            left join tc on tc.doc_id = t.doc_id
            left join g2 on g2.doc_id = t.doc_id
            left join g3 on g3.doc_id = t.doc_id
            left join g4 on g4.doc_id = t.doc_id
            order by t.doc_id
        """)
def q_repetition_stats(spark, sf_dir):
    """Gopher repetition gate (dup-line fractions + top n-gram coverage)
    as distributed aggregations, value-parity oracled."""
    docs = _docs(spark, sf_dir)
    out = TS.repetition_stats(docs)
    return out.select(
        "doc_id",
        F.round("dup_line_frac", R).alias("dup_line_frac"),
        F.round("dup_line_char_frac", R).alias("dup_line_char_frac"),
        F.round("top2gram_char_frac", R).alias("top2gram_char_frac"),
        F.round("top3gram_char_frac", R).alias("top3gram_char_frac"),
        F.round("top4gram_char_frac", R).alias("top4gram_char_frac"),
    ).orderBy("doc_id")


@query(oracle=f"""
            with d as (
              select doc_id, lang, {_SHINGLES} as sh
              from (select doc_id, lang, {_AZ09_WORDS} as w, text from documents))
            select a.doc_id as doc_a, b.doc_id as doc_b,
              round(len(list_intersect(a.sh, b.sh))::double
                    / len(list_distinct(a.sh || b.sh)), 6) as jaccard
            from d a join d b on a.lang = b.lang and a.doc_id < b.doc_id
            where len(list_intersect(a.sh, b.sh))::double
                  / len(list_distinct(a.sh || b.sh)) > 0.2
        """)
def q_ngram_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = D.ngram_jaccard_pairs(docs, threshold=0.2)
    return out.select("doc_a", "doc_b", F.round("jaccard", R).alias("jaccard"))


@query(oracle=f"""
            with base as (
              select doc_id, lang, text from documents
              union all
              select doc_id + 100000 as doc_id, lang,
                array_to_string(list_slice({_AZ09_WORDS}, 1, 33), ' ')
                  as text
              from documents where doc_id % 5 = 0),
            d as (
              select doc_id, lang, {_SHINGLES} as sh
              from (select doc_id, lang, {_AZ09_WORDS} as w, text
                    from base)),
            p as (
              select a.doc_id as doc_a, b.doc_id as doc_b,
                len(list_intersect(a.sh, b.sh))::double as inter,
                len(a.sh) as na, len(b.sh) as nb
              from d a join d b
                on a.lang = b.lang and a.doc_id < b.doc_id),
            c as (
              select doc_a, doc_b,
                round(case when na > 0 then inter / na else 0.0 end, 6)
                  as containment_a,
                round(case when nb > 0 then inter / nb else 0.0 end, 6)
                  as containment_b
              from p)
            select * from c
            where greatest(containment_a, containment_b) >= 0.9
            order by doc_a, doc_b
        """)
def q_containment(spark, sf_dir):
    """Asymmetric containment dedup: every 5th doc spawns a 33-word
    excerpt twin (doc_id + 100000) whose shingles are a strict subset
    of its source — containment on the excerpt side is ~1.0 where
    symmetric Jaccard would stay far below threshold.  Candidate
    generation, exact verify and both containment directions replay in
    SQL."""
    d = _docs(spark, sf_dir)
    words = D.normalized_words(F.col("text"))
    excerpts = (d.where(F.pmod("doc_id", F.lit(5)) == 0)
                .select((F.col("doc_id") + 100000).alias("doc_id"),
                        "lang",
                        F.array_join(F.slice(words, 1, 33), " ")
                        .alias("text")))
    corpus = d.select("doc_id", "lang", "text").unionByName(excerpts)
    # df_cap=None: exhaustive candidate generation so Spark enumerates
    # exactly the pairs the oracle's within-block quadratic scan does
    # (the production default caps posting lists and requires 2 shared
    # shingles — both can drop pairs the exhaustive oracle reports)
    return (D.containment_pairs(corpus, threshold=0.9, df_cap=None)
            .orderBy("doc_a", "doc_b"))


_BOILER = ("all rights reserved contact us for more information "
           "about our terms of service")


@query(oracle=f"""
            with aug as (
              select doc_id,
                case when doc_id % 3 = 0
                  then text || ' {_BOILER}' else text end as text
              from documents),
            wd as (select doc_id, {_AZ09_WORDS} as w from aug),
            g as (
              select doc_id, i - 1 as pos,
                md5(array_to_string(w[i:i+7], ' ')) as k
              from wd, unnest(generate_series(1, len(w) - 7)) as t(i)),
            f as (
              select doc_id, pos,
                count(*) over (partition by k) as cnt
              from g),
            d as (select doc_id, pos from f where cnt > 1),
            isl0 as (
              select doc_id, pos,
                case when pos - lag(pos) over
                    (partition by doc_id order by pos) > 8
                  then 1 else 0 end as newi
              from d),
            isl as (
              select doc_id, pos,
                sum(newi) over (partition by doc_id order by pos) as grp
              from isl0)
            select doc_id, min(pos) as span_start,
              max(pos) + 8 as span_end, count(*) as n_grams
            from isl group by doc_id, grp
            order by doc_id, span_start
        """)
def q_substring_spans(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2022): duplicated n-gram windows
    merged into maximal per-doc spans.  Every third doc gets a shared
    boilerplate tail so the corpus has real duplicated substrings;
    md5 gram keys so DuckDB computes the identical grouping."""
    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat_ws(" ", F.col("text"), F.lit(_BOILER)))
        .otherwise(F.col("text")).alias("text"))
    return (D.substring_dedup_spans(aug, n=8, key_fn=F.md5)
            .orderBy("doc_id", "span_start"))


@query(oracle=f"""
            with aug as (
              select doc_id,
                case when doc_id % 3 = 0
                  then text || e'\\n\\n' || '{_BOILER}' else text end as t
              from documents),
            pl as (
              select doc_id,
                list_filter(
                  list_transform(string_split_regex(t, '\\n\\s*\\n'),
                                 p -> trim(p)),
                  p -> len(p) > 0) as ps
              from aug),
            pe as (
              select doc_id, i - 1 as pos, ps[i] as para
              from pl, unnest(generate_series(1, len(ps))) as u(i)),
            kd as (
              select doc_id, pos, para,
                row_number() over (partition by md5(
                  regexp_replace(regexp_replace(lower(para),
                    '[0-9]+', '', 'g'), '\\s+', ' ', 'g'))
                  order by doc_id, pos) as rk
              from pe)
            select doc_id,
              coalesce(string_agg(para, e'\\n\\n' order by pos)
                       filter (where rk = 1), '') as clean_text,
              count(*) as n_paras,
              cast(sum((rk > 1)::int) as bigint) as n_removed_paras
            from kd group by doc_id order by doc_id
        """)
def q_paragraph_dedup(spark, sf_dir):
    """CCNet-style paragraph dedup: every third doc gets a shared
    boilerplate paragraph appended; only the first occurrence
    (lowest doc_id) survives."""
    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit("\n\n"), F.lit(_BOILER)))
        .otherwise(F.col("text")).alias("text"))
    return (D.paragraph_dedup(aug, key_fn=F.md5)
            .orderBy("doc_id"))


@query(oracle=f"""
            with aug as (
              select doc_id,
                text || ' contact user' || doc_id
                  || '@example.com or 10.0.' || (doc_id % 256)
                  || '.1 call 555-123-4567' as t
              from documents)
            select doc_id,
              len(regexp_extract_all(t, '{_PII["email"]}')) as n_email,
              len(regexp_extract_all(t, '{_PII["ipv4"]}')) as n_ipv4,
              len(regexp_extract_all(t, '{_PII["phone"]}')) as n_phone,
              regexp_replace(regexp_replace(regexp_replace(t,
                '{_PII["email"]}', '<EMAIL>', 'g'),
                '{_PII["ipv4"]}', '<IPV4>', 'g'),
                '{_PII["phone"]}', '<PHONE>', 'g') as scrubbed_text
            from aug order by doc_id
        """)
def q_pii_scrub(spark, sf_dir):
    """PII scrub counts + redaction on deterministically-injected PII
    (email, ipv4, phone seeded from doc_id)."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import pii_scrub

    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 call 555-123-4567")).alias("text"))
    return pii_scrub(aug).orderBy("doc_id")


@query(oracle="""
            with w as (
              select doc_id, unnest(list_filter(
                string_split_regex(lower(text), '[^a-z]+'),
                x -> len(x) > 0)) as term
              from documents),
            tf as (
              select doc_id, term, count(*) as tf
              from w group by doc_id, term),
            sc as (
              select doc_id, term, tf,
                count(*) over (partition by term) as df,
                tf * (ln(((select count(*) from documents) + 1)::double
                         / (df + 1)) + 1) as score
              from tf),
            rk as (
              select *, row_number() over (partition by doc_id
                order by score desc, term asc) as r
              from sc)
            select doc_id, term, tf, df, round(score, 6) as score
            from rk where r <= 3 order by doc_id, term
        """)
def q_tfidf_top_terms(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (TS.tfidf_top_terms(docs, k=3)
            .orderBy("doc_id", "term"))


@query(oracle="""
    with u as (
      select doc_id,
        'https://host' || (doc_id % 97)::varchar
          || '.example.com/p/' || doc_id::varchar as url
      from documents),
    h as (
      select doc_id,
        lower(regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as host
      from u),
    b as (
      select doc_id, host,
        (('0x' || substr(md5(host), 1, 8))::bigint % 100)::int as bucket
      from h)
    select doc_id, host, bucket,
      case when bucket < 10 then 'val'
           when bucket < 20 then 'test'
           else 'train' end as split
    from b order by doc_id
""")
def q_host_split(spark, sf_dir):
    """Leakage-safe train/val/test assignment grouped by host (97
    synthetic hosts seeded from doc_id): same-site near-duplicates can
    never straddle train and eval."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        host_split)

    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(F.lit("https://host"),
                 (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    return (host_split(aug)
            .select("doc_id", "host", "bucket", "split")
            .orderBy("doc_id"))


@query(oracle="""
    with w as (
      select doc_id, unnest(list_filter(
        string_split_regex(lower(text), '[^a-zA-Z]+'),
        x -> len(x) > 0)) as term
      from documents),
    med as (select floor((min(doc_id) + max(doc_id)) / 2) as mid
            from documents),
    tf as (
      select term, count(*)::bigint as freq,
             sum((doc_id <= mid)::int)::bigint as freq_h
      from w, med group by term),
    top as (
      select term, freq,
        row_number() over (order by freq desc, term) as rk
      from tf
      qualify rk <= 100),
    slope as (
      select count(*)::double as r_n,
        sum(ln(rk::double)) as sx, sum(ln(freq::double)) as sy,
        sum(ln(rk::double) * ln(freq::double)) as sxy,
        sum(ln(rk::double) * ln(rk::double)) as sxx,
        sum(case when rk <= 10 then freq else 0 end)::bigint as top10
      from top),
    flat as (
      select sum(freq)::bigint as n_tokens, count(*)::bigint as vocab,
        sum((freq = 1)::int)::bigint as hapax,
        sum(freq_h)::bigint as n_tokens_h,
        sum((freq_h > 0)::int)::bigint as vocab_h
      from tf)
    select n_tokens, vocab,
      round(hapax::double / vocab::double, 6) as hapax_frac,
      round(top10::double / n_tokens::double, 6) as top10_coverage,
      round((r_n * sxy - sx * sy) / (r_n * sxx - sx * sx), 6)
        as zipf_slope,
      round(ln(vocab::double / vocab_h::double)
            / ln(n_tokens::double / n_tokens_h::double), 6)
        as heaps_beta,
      round(vocab::double / pow(n_tokens::double,
            ln(vocab::double / vocab_h::double)
            / ln(n_tokens::double / n_tokens_h::double)), 6) as heaps_k
    from flat, slope
""")
def q_zipf_stats(spark, sf_dir):
    """Corpus term-distribution health probe: Zipf slope over the top
    100 terms, Heaps' vocabulary-growth parameters, hapax fraction and
    top-10 coverage — one row, fully value-gated."""
    docs = _docs(spark, sf_dir)
    return TS.zipf_stats(docs, top_r=100)


# fixed query-term set for the BM25 / hybrid-retrieval gates: common
# words of the synthetic corpus, pure [a-z]+ so the regex term counter
# and the oracle's split-token counter are provably equivalent.
BM25_TERMS = ["table", "hash", "merge", "window"]


def _bm25_oracle_sql(terms: list[str]) -> str:
    tf_names = ", ".join("tf_%s" % t for t in terms)
    return ("with %s select doc_id, dl, %s, score from bm order by doc_id"
            % (_bm25_body_sql(terms), tf_names))


def _bm25_body_sql(terms: list[str], k1: float = 1.2,
                   b: float = 0.75) -> str:
    """CTE body replaying ranking.bm25_scores: per-doc word lengths and
    term frequencies, a 1-row stats aggregate, and the Lucene BM25
    formula written in the SAME operation order as the Spark column
    expression (all inputs exact integers, so the doubles match
    bit-for-bit before the round)."""
    tf_cols = ", ".join(
        "len(list_filter(words, x -> x = '%s')) as tf_%s" % (t, t)
        for t in terms)
    df_cols = ", ".join(
        "sum((tf_%s > 0)::int)::bigint as df_%s" % (t, t) for t in terms)
    parts = " + ".join(
        "ln((n - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)"
        " * ((tf_{t} * {k1p1}) / (tf_{t} + {k1} *"
        " ({omb} + {b} * (dl * n / sd))))".format(
            t=t, k1=k1, k1p1=k1 + 1.0, omb=1.0 - b, b=b)
        for t in terms)
    tf_names = ", ".join("tf_%s" % t for t in terms)
    return """
            w as (
              select doc_id, list_filter(
                string_split_regex(lower(text), '[^a-zA-Z]+'),
                x -> len(x) > 0) as words
              from documents),
            perdoc as (
              select doc_id, len(words)::bigint as dl, {tf_cols}
              from w),
            stats as (
              select count(*)::bigint as n, sum(dl)::bigint as sd,
                     {df_cols}
              from perdoc),
            bm as (
              select doc_id, dl, {tf_names},
                     round({parts}, 6) as score
              from perdoc, stats)
    """.format(tf_cols=tf_cols, df_cols=df_cols, tf_names=tf_names,
               parts=parts)


@query(oracle=_bm25_oracle_sql(BM25_TERMS))
def q_bm25(spark, sf_dir):
    """BM25 relevance of every document against a fixed query — the
    lexical half of query-driven corpus slicing.  Zero shuffles per doc:
    one 1-row stats aggregate broadcast back."""
    docs = _docs(spark, sf_dir)
    return RK.bm25_scores(docs, BM25_TERMS).orderBy("doc_id")


def _hybrid_rrf_oracle_sql(terms: list[str]) -> str:
    """RRF fusion of the BM25 ranking with the vec_id-0 cosine ranking;
    cosine rounded to 3 before ranking (both engines), fused score a
    fixed function of integer ranks."""
    return """
        with {bm_body},
        lex as (
          select doc_id,
            row_number() over (order by score desc, doc_id) as rank_lex
          from bm),
        e as (select vec_id, embedding::DOUBLE[] as embedding
              from embeddings),
        q0 as (select embedding as qvec from e where vec_id = 0),
        sem0 as (
          select vec_id as doc_id,
            round(list_cosine_similarity(embedding, qvec), 3) as cosine
          from e, q0),
        sem as (
          select doc_id,
            row_number() over (order by cosine desc, doc_id) as rank_sem
          from sem0),
        fused as (
          select doc_id, rank_lex, rank_sem,
            round(coalesce(1.0 / (60 + rank_lex), 0.0)
                  + coalesce(1.0 / (60 + rank_sem), 0.0), 6) as rrf
          from lex full outer join sem using (doc_id))
        select doc_id, rank_lex, rank_sem, rrf,
          row_number() over (order by rrf desc, doc_id) as rank
        from fused
        qualify rank <= 20
        order by rank
    """.format(bm_body=_bm25_body_sql(terms))


@query(oracle=_hybrid_rrf_oracle_sql(BM25_TERMS))
def q_hybrid_rrf(spark, sf_dir):
    """Reciprocal-rank fusion of BM25 and embedding-cosine rankings for
    one query (terms + the vec_id-0 vector): the standard hybrid
    retrieval composition.  Cosines ranked at round(3) with id
    tie-breaks on BOTH engines (the quantized_recall precedent) so a
    1e-7 summation-order divergence cannot flip a rank."""
    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    bm = RK.bm25_scores(docs, BM25_TERMS).select("doc_id", "score")
    q0 = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"))
    sem = emb.join(F.broadcast(q0)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(S.cosine_sim(F.col("embedding"), F.col("qvec")), 3)
        .alias("cosine"))
    return RK.rrf_fuse(bm, sem, "doc_id", top=20).orderBy("rank")


@query(oracle="""
            with aug as (
              select doc_id,
                replace(regexp_replace(text,
                  '((?:\\w+ ){5}\\w+) ', '\\1.<NL>', 'g'),
                  '<NL>', chr(10))
                || '.' || chr(10)
                || 'lorem ipsum dolor sit amet consectetur filler line.'
                || chr(10) || 'tiny line.' as text
              from documents),
            l as (
              select doc_id,
                list_filter(list_transform(
                  string_split_regex(coalesce(text, ''), '\\n'),
                  x -> trim(x)), x -> len(x) > 0) as lines
              from aug),
            k as (
              select doc_id, lines,
                list_filter(lines, ln ->
                  regexp_matches(ln, '[.!?"'']$')
                  and len(list_filter(string_split_regex(ln, '\\s+'),
                          w -> len(w) > 0)) >= 5
                  and len(list_filter(
                    ['lorem ipsum','javascript','{','cookie policy',
                     'terms of use','privacy policy','use of cookies'],
                    p -> contains(lower(ln), p))) = 0) as kept
              from l)
            select doc_id,
              coalesce(array_to_string(kept, chr(10)), '') as clean_text,
              len(lines) as n_lines, len(kept) as n_kept_lines,
              (len(kept) >= 3)::int as keep_doc
            from k order by doc_id
        """)
def q_c4_clean(spark, sf_dir):
    """C4 line filters over documents re-lined every 6 words (the
    synthetic text has no punctuation, so sentence structure is
    manufactured identically in both engines), plus an injected
    bad-phrase line and a too-short line so every rule fires."""
    docs = _docs(spark, sf_dir)
    lined = F.regexp_replace("text", r"((?:\w+ ){5}\w+) ", "$1.\n")
    aug = docs.select(
        "doc_id",
        F.concat(lined, F.lit(
            ".\nlorem ipsum dolor sit amet consectetur filler line."
            "\ntiny line.")).alias("text"))
    return TS.c4_clean(aug).orderBy("doc_id")


@query(oracle=f"""
            with aug as (
              select 'https://host' || (doc_id % 7) || '.example.com/p/'
                     || doc_id as url, text
              from documents),
            t as (
              select lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as domain, text
              from aug)
            select domain, count(*) as n_docs,
              round(avg({_QUALITY["quality_score"]}), 6) as avg_quality,
              round(avg(({_SPAM["is_spam"]})::int), 6) as spam_share
            from t group by domain order by domain
        """)
def q_domain_stats(spark, sf_dir):
    """Per-domain curation aggregates on deterministic synthetic hosts
    (7 domains seeded from doc_id)."""
    docs = _docs(spark, sf_dir)
    aug = docs.select(
        F.concat(F.lit("https://host"),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "text")
    return TS.domain_stats(aug).orderBy("domain")


@query(oracle="""
            select lang, count(*) as n_docs, round(avg(n_chars), 6) as avg_chars,
              sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::bigint as total_bpe_tokens
            from documents group by lang order by lang
        """)
def q_doc_stats_by_lang(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bpe = TS.token_count_cols(F.col("text"))["bpe_tokens"]
    return (
        docs.select("lang", "n_chars", bpe.alias("bpe"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.avg("n_chars"), R).alias("avg_chars"),
             F.sum("bpe").alias("total_bpe_tokens"))
        .orderBy("lang")
    )


@query(oracle="""
            with t as (
              select source, levenshtein(text, upper(text)) as edit_num,
                greatest(length(text), length(upper(text))) as upper_len
              from documents)
            select source, count(*) as n_docs,
              round(sum(edit_num)::double / sum(upper_len), 6) as edit_whole,
              round(avg(edit_num::double / upper_len), 6) as edit_sample_avg
            from t group by source order by source
        """)
def q_edit_metric_by_source(spark, sf_dir):
    """A1/A2 aggregate shape on a deterministic pred (uppercased text):
    per-source page-weighted + whole + sample-average edit distance."""
    docs = _docs(spark, sf_dir)
    d = (
        docs.withColumn("pred", F.upper(F.col("text")))
        .withColumn("edit_num", F.levenshtein("text", "pred"))
        .withColumn("upper_len", F.greatest(F.length("text"), F.length("pred")))
    )
    return (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.round(F.sum("edit_num") / F.sum("upper_len"), R).alias("edit_whole"),
             F.round(F.avg(F.col("edit_num") / F.col("upper_len")), R).alias("edit_sample_avg"))
        .orderBy("source")
    )


@query(oracle="""
            with e as (select vec_id, embedding::DOUBLE[] as embedding from embeddings),
            q as (select vec_id as query_id, embedding as qvec from e where vec_id < 5),
            s as (select query_id, e.vec_id as neighbor_id,
                    list_cosine_similarity(qvec, e.embedding) as c
                  from q join e on e.vec_id != query_id),
            r as (select query_id, neighbor_id, c,
                    row_number() over (partition by query_id order by c desc, neighbor_id) as rank
                  from s)
            select query_id, neighbor_id, rank, round(c, 6) as cosine
            from r where rank <= 5
        """)
def q_knn_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    out = S.knn_bruteforce(emb, queries, k=5)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", R).alias("cosine"))


@query(oracle="""
            with x as (
              select label, generate_subscripts(embedding, 1) - 1 as pos,
                     unnest(embedding) as v
              from embeddings)
            select label, pos, round(avg(v), 6) as mean_v
            from x group by label, pos order by label, pos
        """)
def q_label_centroids(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), R).alias("mean_v"))
        .orderBy("label", "pos")
    )


@query(oracle="""
    with e as (select vec_id, label, embedding::DOUBLE[] as emb
               from embeddings),
    x as (select label, generate_subscripts(emb, 1) - 1 as pos,
                 unnest(emb) as v
          from e),
    c as (select label, pos, avg(v) as mean_v from x group by label, pos),
    cent as (select label, list(mean_v order by pos) as centroid
             from c group by label),
    d as (select e.vec_id, e.label,
                 sqrt(list_sum(list_transform(
                   range(1, len(e.emb) + 1),
                   i -> (e.emb[i] - cent.centroid[i])
                        * (e.emb[i] - cent.centroid[i])))) as dist
          from e join cent using (label)),
    s as (select label, avg(dist) as mu,
                 coalesce(stddev(dist), 0.0) as sigma
          from d group by label),
    zt as (select d.vec_id, d.label, d.dist,
                  round(case when s.sigma = 0 then 0.0
                             else (d.dist - s.mu) / s.sigma end, 6) as z
           from d join s using (label))
    select vec_id, label, round(dist, 6) as dist, z,
           (z > 2.0)::int as is_outlier
    from zt order by vec_id
""")
def q_embedding_outliers(spark, sf_dir):
    """Embedding-space hygiene: per-label centroid distances z-scored
    against the label's own spread, outliers flagged at z > 2 on the
    6-dp-rounded z (so both engines decide the threshold on the same
    quantity).  Centroid build, L2 fold, moment stats and the flag all
    replay in SQL."""
    emb = _emb(spark, sf_dir)
    out = S.embedding_outliers(emb, z_threshold=2.0)
    return (out.select("vec_id", "label",
                       F.round("dist", R).alias("dist"), "z",
                       F.col("is_outlier").cast("int").alias("is_outlier"))
            .orderBy("vec_id"))


@query(oracle="""
            with e as (select vec_id, label, embedding::DOUBLE[] as embedding
                       from embeddings)
            select a.vec_id as vec_a, b.vec_id as vec_b,
              round(list_cosine_similarity(a.embedding, b.embedding), 6) as cosine
            from e a join e b
              on a.label = b.label and a.vec_id < b.vec_id
            where list_cosine_similarity(a.embedding, b.embedding) >= 0.3
        """)
def q_embedding_near_dups(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = S.embedding_near_dups(emb, threshold=0.3)
    return out.select("vec_a", "vec_b", F.round("cosine", R).alias("cosine"))


@query(oracle="""
            select event_id, user_id,
              round(sum(value) over (partition by user_id order by ts, event_id
                    rows between unbounded preceding and current row), 6) as running_value
            from events
        """)
def q_events_running_sum(spark, sf_dir):
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), R).alias("running_value"),
    )


@query(oracle="""
            with o as (
              select user_id, event_id, value, ts,
                lag(ts) over (partition by user_id
                              order by ts, event_id) as prev
              from events),
            m as (
              select *, case when prev is null
                or extract(epoch from ts) - extract(epoch from prev)
                   > 10800
                then 1 else 0 end as new_s
              from o),
            s as (
              select *, sum(new_s) over (partition by user_id
                order by ts, event_id
                rows between unbounded preceding and current row
                )::bigint as session_id
              from m)
            select user_id, session_id,
              count(*)::bigint as n_events,
              round(min(extract(epoch from ts)), 3) as start_s,
              round(max(extract(epoch from ts))
                    - min(extract(epoch from ts)), 3) as duration_s,
              round(sum(value), 6) as total_value
            from s group by user_id, session_id
            order by user_id, session_id
        """)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (3-hour gap) + per-session stats —
    lag/running-sum session assignment and the aggregate all mirrored
    in SQL; event_id breaks exact-ts ties deterministically."""
    from deepseek_ocr_omnidocbench_spark.operators.sessions import (
        session_stats,
    )

    return (session_stats(_events(spark, sf_dir), gap_minutes=180.0)
            .orderBy("user_id", "session_id"))


@query(oracle="""
            select event_type, count(*) as n_events,
              round(avg(value), 6) as avg_value, round(sum(value), 6) as total_value
            from events group by event_type order by event_type
        """)
def q_events_rollup(spark, sf_dir):
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.avg("value"), R).alias("avg_value"),
             F.round(F.sum("value"), R).alias("total_value"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# rows-only queries (kernels not expressible in DuckDB SQL)
# ---------------------------------------------------------------------------


# value-gated twin: q_minhash_lsh_oracle (err "no_oracle" here is no coverage gap)
@query(oracle=None)
def q_minhash_lsh_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = D.lsh_candidate_pairs(docs)
    return out.select("doc_a", "doc_b", F.round("jaccard", R).alias("jaccard"))


# value-gated twin: q_simhash_oracle (err "no_oracle" here is no coverage gap)
@query(oracle=None)
def q_simhash_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return D.simhash_near_pairs(docs, max_hamming=16)


@query(oracle="""
            with t as (select doc_id, text, length(text) as n from documents),
            hs as (
              select doc_id,
                [list_reduce(
                   [ord(substring(text, i + p + 1, 1))::hugeint
                    for p in range(0, 8)],
                   (a, c) -> (a * 257 + c) % 2305843009213693951)
                 for i in range(0, greatest(n - 7, 0))] as hl
              from t
            ),
            sel as (
              select doc_id,
                case when len(hl) >= 4 then
                  list_distinct(
                    [i + list_position(hl[i+1 : i+4], list_min(hl[i+1 : i+4]))
                     for i in range(0, len(hl) - 3)])
                else [] end as js
              from hs
            )
            select doc_id, len(js)::int as n_fingerprints
            from sel order by doc_id
        """)
def q_fingerprints(spark, sf_dir):
    """Winnowing fingerprint cardinality per doc — oracle-checked: the
    rolling polynomial hash + window-argmin selection is replicated in
    DuckDB list comprehensions (consecutive-dedupe == distinct because
    the selected argmin index is non-decreasing as the window slides)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(TS.fingerprint_udf()(F.col("text"))).alias("n_fingerprints")
    ).orderBy("doc_id")


@query(oracle="""
    with t as (select doc_id, text, length(text) as n from documents),
    hs as (
      select doc_id,
        [list_reduce(
           [ord(substring(text, i + p + 1, 1))::hugeint
            for p in range(0, 8)],
           (a, c) -> (a * 257 + c) % 2305843009213693951)
         for i in range(0, greatest(n - 7, 0))] as hl
      from t),
    sel as (
      select doc_id, hl,
        case when len(hl) >= 4 then
          list_distinct(
            [i + list_position(hl[i+1 : i+4], list_min(hl[i+1 : i+4]))
             for i in range(0, len(hl) - 3)])
        else [] end as js
      from hs),
    fv as (select doc_id,
                  unnest(list_distinct(list_transform(js, j -> hl[j])))
                    as fp
           from sel),
    rare as (select fp from fv group by fp having count(*) <= 5),
    fr as (select fv.doc_id, fv.fp from fv join rare using (fp)),
    pairs as (
      select a.doc_id as doc_a, b.doc_id as doc_b,
             count(*)::bigint as n_shared
      from fr a join fr b on a.fp = b.fp and a.doc_id < b.doc_id
      group by 1, 2)
    select doc_a, doc_b, n_shared from pairs
    where n_shared >= 3
    order by doc_a, doc_b
""")
def q_fingerprint_pairs(spark, sf_dir):
    """MOSS-style near-copy pairs: docs sharing >= 3 rare winnowing
    fingerprints (df_cap 5 drops template substrings before the pair
    join).  The oracle reuses the fingerprints rolling-hash kernel,
    extracts the selected VALUES (hl[j]), and replays the df filter,
    self-join and pair count."""
    docs = _docs(spark, sf_dir)
    return (TS.fingerprint_pairs(docs, min_shared=3, df_cap=5)
            .orderBy("doc_a", "doc_b"))


@query(oracle="""
    with t as (select doc_id, source, text, length(text) as n
               from documents),
    hs as (
      select doc_id, source, text, n,
        [list_reduce(
           [ord(substring(text, i + p + 1, 1))::hugeint
            for p in range(0, 8)],
           (a, c) -> (a * 257 + c) % 2305843009213693951)
         for i in range(0, greatest(n - 7, 0))] as hl
      from t),
    cu as (
      select doc_id, source, text, n,
        list_sort(list_distinct(
          [j + 7 for j in range(1, len(hl) + 1) if hl[j] % 16 = 0]
              || [n])) as c
      from hs where n > 0),
    ch as (
      select source,
        unnest([md5(substring(text, (([0] || c)[k]) + 1,
                              c[k] - ([0] || c)[k]))
                for k in range(1, len(c) + 1)]) as h
      from cu)
    select source, count(*)::bigint as n_chunks,
           count(distinct h)::bigint as n_distinct_chunks,
           round(1.0 - count(distinct h) / count(*), 6) as dup_ratio
    from ch group by source order by source
""")
def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking dedup report per source: rolling-hash
    chunk boundaries (k=8, mask 16), md5 chunk digests, per-source
    distinct-vs-total chunk counts.  The oracle reuses the winnowing
    rolling-hash kernel to derive the identical cut positions and
    replays the digesting and rollup."""
    docs = _docs(spark, sf_dir)
    return (D.cdc_chunk_stats(docs, mask=16)
            .orderBy("source"))


@query(oracle=f"""
            with recursive {_MINHASH_CTES}
            select doc_a, doc_b, jaccard from j order by doc_a, doc_b
        """)
def q_minhash_lsh_oracle(spark, sf_dir):
    """Full MinHash-LSH pipeline (signatures -> band buckets -> candidate
    join -> exact-jaccard verify) with the md5-derived hash DuckDB
    replicates — the whole banded dedup dataflow under the value-parity
    gate (k=8, bands=4; production keeps xxhash64/k=16)."""
    docs = _docs(spark, sf_dir)
    out = D.lsh_candidate_pairs(docs, k=8, bands=4, hash_fn=D.md5_hash64)
    return out.select("doc_a", "doc_b",
                      F.round("jaccard", R).alias("jaccard")) \
        .orderBy("doc_a", "doc_b")


@query(oracle=f"""
            with {_classifier_feat_ctes(65536)},
            w as (
              select bucket,
                ((('0x' || substr(md5('w,' || bucket), 1, 15))::bigint
                  % 1000001) / 1000000.0 - 0.5) as weight
              from (select distinct bucket from feat)),
            z as (
              select feat.doc_id, sum(feat.value * w.weight) as z
              from feat join w using (bucket) group by feat.doc_id)
            select d.doc_id,
              round(1.0 / (1.0 + exp(-coalesce(z.z, 0))), 6) as score
            from documents d left join z using (doc_id)
            order by d.doc_id
        """)
def q_classifier_scores(spark, sf_dir):
    """DCLM/FineWeb-style quality-classifier APPLY path: hashed
    bag-of-ngram features x a fixed md5-derived weight table ->
    sigmoid score per doc.  Featurization, hashing trick, sparse dot
    product, and sigmoid are all mirrored in SQL."""
    docs = _docs(spark, sf_dir)
    f = CL.hashed_features(docs, dim=65536, hash_fn=D.md5_hash64)
    w = CL.deterministic_weights(65536, spark)
    scores = CL.apply_linear(f, w)
    return (docs.select("doc_id").join(scores, "doc_id", "left")
            .select("doc_id",
                    F.round(F.coalesce("score", F.lit(0.5)), 6)
                    .alias("score"))
            .orderBy("doc_id"))


def _classifier_train_oracle_sql(dim: int = 4096, iters: int = 3,
                                 lr: float = 1.0) -> str:
    """DuckDB mirror of q_classifier_train: every GD epoch unrolled —
    margin join, sigmoid error, bucket-grouped gradient, update."""
    steps = []
    prev = "w0"
    for k in range(iters):
        cur = f"w{k + 1}"
        steps.append(f"""
            {cur} as materialized (
              select w.bucket,
                     w.weight - {lr} * coalesce(g.g, 0) as weight
              from {prev} w
              left join (
                select f3.bucket,
                       sum(f3.value * e.e) / (select nd from ndocs) as g
                from feat f3
                join (
                  select y.doc_id,
                    1.0 / (1.0 + exp(-coalesce(z.z, 0))) - y.y as e
                  from y left join (
                    select f2.doc_id, sum(f2.value * ww.weight) as z
                    from feat f2 join {prev} ww using (bucket)
                    group by f2.doc_id) z using (doc_id)) e
                on e.doc_id = f3.doc_id
                group by f3.bucket) g on g.bucket = w.bucket
            )""")
        prev = cur
    return f"""
        with {_classifier_feat_ctes(dim)},
        y as (select doc_id, ((n_chars > 300)::int)::double as y
              from documents),
        ndocs as (select count(*)::double as nd from y),
        w0 as materialized (
          select bucket, 0.0 as weight
          from (select distinct bucket from feat)),
        {','.join(steps)}
        select bucket, round(weight, 6) as weight from w{iters}
        order by bucket
    """


@query(oracle=_classifier_train_oracle_sql())
def q_classifier_train(spark, sf_dir):
    """Distributed full-batch logistic regression (3 epochs, lr=1.0,
    dim=4096) on deterministic labels (n_chars > 300) -> the trained
    weight table.  The oracle unrolls every epoch — margin join,
    sigmoid error, bucket-grouped gradient, weight update — so the
    iterative training loop itself sits under the value-parity gate."""
    docs = _docs(spark, sf_dir)
    f = CL.hashed_features(docs, dim=4096, hash_fn=D.md5_hash64)
    labels = docs.select("doc_id",
                         (F.col("n_chars") > 300).cast("int")
                         .alias("label"))
    w = CL.train_logreg(f, labels, iters=3, lr=1.0)
    return w.select("bucket", F.round("weight", 6).alias("weight")) \
        .orderBy("bucket")


@query(oracle=_pagerank_oracle_sql())
def q_pagerank(spark, sf_dir):
    """Host-graph PageRank (10 iterations, damping 0.85) over a
    deterministic synthetic link graph: each doc's source-host links to
    3 derived hosts.  The oracle unrolls all 10 iterations as CTE
    steps with the identical update formula (incl. dangling-mass
    redistribution), so the iterative loop is value-checked end to
    end."""
    docs = _docs(spark, sf_dir)
    # 1-3 outlinks per doc (varies with doc_id so host in/out-degrees —
    # and therefore the stationary ranks — are non-uniform)
    edges = (_synthetic_links(docs).groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("double").alias("weight")))
    return (GR.pagerank(edges, iters=10)
            .select("node", F.round("rank", 6).alias("rank"))
            .orderBy("node"))


def _hits_oracle_sql(iters: int = 10) -> str:
    """DuckDB mirror of q_hits_scores with every half-step unrolled as
    materialized CTEs (raw in-sums from the previous hub table, L1
    normalizer as a scalar subquery over the raw table, then the same
    for hubs from the fresh authority table) — exactly the arithmetic
    of operators/graph.py:hits."""
    steps = []
    prev_h = "h0"
    for i in range(1, iters + 1):
        steps.append(f"""
            ar{i} as materialized (
              select n.node, coalesce(x.s, 0.0) as v
              from nodes n left join (
                select e.dst as node, sum(h.hub) as s
                from edges e join {prev_h} h on h.node = e.src
                group by e.dst) x on x.node = n.node),
            a{i} as materialized (
              select node, v / (select sum(v) from ar{i}) as auth
              from ar{i}),
            hr{i} as materialized (
              select n.node, coalesce(x.s, 0.0) as v
              from nodes n left join (
                select e.src as node, sum(a.auth) as s
                from edges e join a{i} a on a.node = e.dst
                group by e.src) x on x.node = n.node),
            h{i} as materialized (
              select node, v / (select sum(v) from hr{i}) as hub
              from hr{i})""")
        prev_h = f"h{i}"
    return f"""
        with links as materialized (
          select source as src,
                 'src' || ((doc_id * 7 + t.j) % 20) as dst
          from documents, unnest(range(1, (2 + doc_id % 3)::int)) as t(j)),
        edges as materialized (
          select distinct src, dst from links),
        nodes as materialized (select src as node from edges
                  union select dst from edges),
        ncount as materialized (select count(*)::double as nn from nodes),
        h0 as materialized (select node, 1.0 / (select nn from ncount) as hub
                from nodes),
        {','.join(steps)}
        select a.node, round(a.auth, 6) as auth, round(h.hub, 6) as hub
        from a{iters} a join h{iters} h on h.node = a.node
        order by a.node
    """


@query(oracle=_hits_oracle_sql())
def q_hits_scores(spark, sf_dir):
    """Kleinberg HITS (10 iterations, L1-normalized half-steps) over
    the same deterministic synthetic host graph q_pagerank uses — hub
    scores surface link directories for frontier bootstrapping,
    authority scores rank content hosts.  The oracle unrolls all 10
    double half-steps (raw sums + in-plan normalizers) as materialized
    CTEs, so the full mutual-reinforcement loop sits under the value
    gate."""
    docs = _docs(spark, sf_dir)
    return (GR.hits(_synthetic_links(docs), iters=10)
            .select("node", F.round("auth", R).alias("auth"),
                    F.round("hub", R).alias("hub"))
            .orderBy("node"))


def _synthetic_links(docs):
    """The deterministic synthetic host graph shared by q_pagerank /
    q_hits_scores / q_crawl_priority and the round-5 graph queries:
    each doc's source-host links to 1-3 derived hosts (both sides draw
    from the same src0..src19 vocabulary, so degrees are non-uniform)."""
    return (docs
            .select("source", "doc_id",
                    F.explode(F.sequence(
                        F.lit(1),
                        (F.lit(1) + F.col("doc_id") % 3).cast("int")))
                    .alias("j"))
            .select(F.col("source").alias("src"),
                    F.concat(F.lit("src"),
                             ((F.col("doc_id") * 7 + F.col("j")) % 20)
                             .cast("string")).alias("dst")))


_TRUST_SEEDS = ["src0", "src5", "src10", "src15"]


def _trustrank_oracle_sql(iters: int = 10, d: float = 0.85) -> str:
    """DuckDB mirror of q_trustrank: the personalized power method
    unrolled one materialized CTE per iteration.  The teleport vector
    is seed-concentrated (1/|S| on the 4 trusted hosts, 0 elsewhere)
    and dangling mass teleports to the seeds — exactly the arithmetic
    of operators/graph.py:personalized_pagerank.  ``{d}::double``
    forces double (not DECIMAL) literals so ``1 - d`` folds to the
    identical IEEE value Spark's Python-side ``1.0 - damping``
    produces."""
    seeds = ", ".join(f"('{s}')" for s in _TRUST_SEEDS)
    steps = []
    prev = "pr0"
    for i in range(iters):
        cur = f"pr{i + 1}"
        steps.append(f"""
            {cur} as materialized (
              select n.node,
                (1 - {d}::double) * n.t
                + {d}::double * (coalesce(c.contrib, 0) + dang.dm * n.t)
                  as rank
              from tvec n
              left join (
                select e.dst as node,
                       sum(p.rank * e.weight / o.outw) as contrib
                from edges e
                join {prev} p on p.node = e.src
                join outdeg o on o.node = e.src
                group by e.dst) c on c.node = n.node
              cross join (
                select coalesce(sum(p.rank), 0) as dm
                from {prev} p left join outdeg o on o.node = p.node
                where o.node is null) dang
            )""")
        prev = cur
    return f"""
        with links as materialized (
          select source as src,
                 'src' || ((doc_id * 7 + t.j) % 20) as dst
          from documents, unnest(range(1, (2 + doc_id % 3)::int)) as t(j)),
        edges as materialized (
          select src, dst, count(*)::double as weight
          from links group by src, dst),
        nodes as materialized (select src as node from edges
                  union select dst from edges),
        seeds as materialized (
          select n.node from nodes n
          where n.node in (select s.node from (values {seeds}) s(node))),
        scount as materialized (select count(*)::double as ns from seeds),
        tvec as materialized (
          select n.node,
                 case when s.node is not null
                      then 1.0 / (select ns from scount)
                      else 0.0 end as t
          from nodes n left join seeds s on s.node = n.node),
        outdeg as materialized (select src as node, sum(weight) as outw
                   from edges group by src),
        pr0 as materialized (select node, t as rank from tvec),
        {','.join(steps)}
        select node, round(rank, 6) as rank from pr{iters}
        order by node
    """


@query(oracle=_trustrank_oracle_sql())
def q_trustrank(spark, sf_dir):
    """TrustRank (personalized PageRank, 10 iterations, damping 0.85,
    teleport concentrated on 4 trusted seed hosts) over the synthetic
    host graph — the link-farm-demotion complement to plain PageRank
    (high PR + near-zero trust = spam neighborhood).  The oracle
    unrolls all 10 iterations with the seeded teleport vector and
    seed-directed dangling redistribution, so the full personalized
    power method sits under the value gate."""
    docs = _docs(spark, sf_dir)
    edges = (_synthetic_links(docs).groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("double").alias("weight")))
    seeds = spark.createDataFrame([(s,) for s in _TRUST_SEEDS],
                                  "node string")
    return (GR.personalized_pagerank(edges, seeds, iters=10)
            .select("node", F.round("rank", R).alias("rank"))
            .orderBy("node"))


@query(oracle=_label_prop_oracle_sql())
def q_label_prop(spark, sf_dir):
    """Majority-vote label propagation (5 synchronous iterations,
    deterministic (count desc, label asc) tie-break) over a BLOCK-
    structured sparse host graph (links stay within blocks of 4 hosts,
    so the ground truth is 5 communities — a non-degenerate fixture,
    unlike the dense q_pagerank graph where LPA collapses to one
    label).  The oracle unrolls every iteration (vote counts, per-node
    argmax window, keep-own-label fallback) so the whole propagation
    schedule is value-checked."""
    docs = _docs(spark, sf_dir)
    s = F.col("doc_id") % 20
    links = (docs
             .select("source", "doc_id",
                     F.explode(F.sequence(
                         F.lit(1),
                         (F.lit(1) + F.col("doc_id") % 3).cast("int")))
                     .alias("j"))
             .select(F.col("source").alias("src"),
                     F.concat(F.lit("src"),
                              (s - s % 4
                               + (F.expr("doc_id div 20") * 7
                                  + F.col("j")) % 4).cast("string"))
                     .alias("dst")))
    return (GR.label_propagation(links, iters=5)
            .orderBy("node"))


@query(oracle=_label_prop_oracle_sql(tail="""
        , dq as (
          select d.doc_id, d.source as host,
                 coalesce(l.label, d.source) as community,
                 ('0x' || substr(md5(d.doc_id::varchar || ':7'),
                                 1, 15))::bigint as rk
          from documents d left join l5 l on l.node = d.source)
        select doc_id, host, community, comm_rank,
               (comm_rank <= 15)::int as keep
        from (
          select doc_id, host, community,
                 row_number() over (partition by community
                                    order by rk asc, doc_id asc)::bigint
                   as comm_rank
          from dq)
        order by doc_id"""))
def q_community_quota(spark, sf_dir):
    """Per-community doc caps over label-propagation communities (the
    link-farm-resistant quota: 50 colluding domains share ONE budget).
    Composition of two gated kernels — the LPA labels from the block
    fixture attach to docs by source host, then the md5-rank window
    caps each community at 15.  The oracle splices the unrolled LPA
    iterations with the quota rank window."""
    docs = _docs(spark, sf_dir)
    s = F.col("doc_id") % 20
    links = (docs
             .select("source", "doc_id",
                     F.explode(F.sequence(
                         F.lit(1),
                         (F.lit(1) + F.col("doc_id") % 3).cast("int")))
                     .alias("j"))
             .select(F.col("source").alias("src"),
                     F.concat(F.lit("src"),
                              (s - s % 4
                               + (F.expr("doc_id div 20") * 7
                                  + F.col("j")) % 4).cast("string"))
                     .alias("dst")))
    comms = GR.label_propagation(links, iters=5)
    d = docs.select("doc_id", F.col("source").alias("host"))
    return (GR.community_quota(d, comms, max_per_community=15, seed=7)
            .select("doc_id", "host", "community", "comm_rank",
                    F.col("keep").cast("int").alias("keep"))
            .orderBy("doc_id"))


@query(oracle="""
    with links as materialized (
      select source as src,
             'src' || ((doc_id * 7 + t.j) % 20) as dst
      from documents, unnest(range(1, (2 + doc_id % 3)::int)) as t(j)),
    e as materialized (
      select distinct src, dst from links where src <> dst)
    select e.src as node,
           count(*)::bigint as n_out,
           count(r.src)::bigint as n_recip,
           round(count(r.src) / count(*), 6) as reciprocity
    from e left join e r on r.src = e.dst and r.dst = e.src
    group by e.src
    order by node
""")
def q_reciprocity(spark, sf_dir):
    """Per-host link reciprocity (distinct out-links that are linked
    back) over the synthetic host graph — the classic link-exchange
    spam feature.  One distinct pass, one reversed self-join, one
    groupBy; integer counts make the parity exact."""
    docs = _docs(spark, sf_dir)
    return (GR.reciprocity_stats(_synthetic_links(docs))
            .orderBy("node"))


@query(oracle="""
    with links as materialized (
      select source as src,
             'src' || ((doc_id % 20 + 1
                        + (doc_id // 20 + t.j) % (doc_id % 20 % 5 + 2))
                       % 20) as dst
      from documents, unnest(range(1, (2 + doc_id % 3)::int)) as t(j)),
    e as materialized (select distinct src, dst from links),
    nodes as materialized (select src as node from e
              union select dst from e),
    indeg as (select n.node, coalesce(d.degree, 0)::bigint as degree
              from nodes n left join (
                select dst as node, count(*)::bigint as degree
                from e group by dst) d on d.node = n.node),
    outdeg as (select n.node, coalesce(d.degree, 0)::bigint as degree
               from nodes n left join (
                 select src as node, count(*)::bigint as degree
                 from e group by src) d on d.node = n.node)
    select * from (
      select 'in' as direction, degree, count(*)::bigint as n_nodes
      from indeg group by degree
      union all
      select 'out' as direction, degree, count(*)::bigint as n_nodes
      from outdeg group by degree)
    order by direction, degree
""")
def q_degree_dist(spark, sf_dir):
    """In/out degree histogram over a host graph whose per-host fanout
    varies with the host suffix (out-degrees 2-6; the dense q_pagerank
    graph gives every host identical degree — a degenerate histogram).
    The graph-health report (power-law check, template-link-farm bulge
    detection) run before trusting any centrality score."""
    docs = _docs(spark, sf_dir)
    s = F.col("doc_id") % 20
    links = (docs
             .select("source", "doc_id",
                     F.explode(F.sequence(
                         F.lit(1),
                         (F.lit(1) + F.col("doc_id") % 3).cast("int")))
                     .alias("j"))
             .select(F.col("source").alias("src"),
                     F.concat(F.lit("src"),
                              ((s + 1
                                + (F.expr("doc_id div 20") + F.col("j"))
                                % (s % 5 + 2)) % 20).cast("string"))
                     .alias("dst")))
    return (GR.degree_distribution(links)
            .orderBy("direction", "degree"))


def _kcore_oracle_sql(k: int = 6, iters: int = 8) -> str:
    """DuckDB mirror of q_kcore: the symmetric distinct edge set, then
    ``iters`` unrolled peel rounds (degree count -> keep nodes with
    deg >= k -> restrict edges to kept endpoints) — exactly the loop
    body of operators/graph.py:k_core.  Peels past the fixpoint are
    no-ops, so the fixed unroll equals Spark's early-stopped loop."""
    steps = []
    prev = "e0"
    for i in range(1, iters + 1):
        steps.append(f"""
            k{i} as (select a as node from {prev}
                     group by a having count(*) >= {k}),
            e{i} as materialized (
              select e.a, e.b from {prev} e
              join k{i} x on x.node = e.a
              join k{i} y on y.node = e.b)""")
        prev = f"e{i}"
    return f"""
    with links as materialized (
      select 'n' || (doc_id % 150) as s,
             'n' || ((doc_id * 7 + (doc_id // 150) * 11 + 3) % 150) as t
      from documents
      union all
      select 'n' || (doc_id % 12) as s,
             'n' || ((doc_id % 12 + t.j) % 12) as t
      from documents, unnest(range(1, 4)) as t(j)
      where doc_id < 60),
    e0 as materialized (
      select a, b from (
        select s as a, t as b from links union select t, s from links)
      where a <> b),{','.join(steps)}
    select a as node, count(*)::bigint as core_degree
    from {prev} group by a
    order by node
"""


@query(oracle=_kcore_oracle_sql())
def q_kcore(spark, sf_dir):
    """k-core decomposition (k=5) of a sparse 150-node pseudo-random
    host graph — the link-ring density feature: dense-core membership
    is the classic mutual-promotion-spam shape, shallow shells are the
    legitimate long tail.  Iterative peeling early-stops at the
    fixpoint; the oracle unrolls the same 8 peel rounds (extra rounds
    past the fixpoint are no-ops, so the two are value-identical).
    The degree_dist graph is near-regular (everything or nothing
    survives a cut); this one plants a degree-6 circulant ring on 12
    hub nodes inside a sparse 150-node periphery, so the k=6 cut
    peels the periphery in genuine cascades and keeps exactly the
    planted dense core (12 nodes at sf0.01, fixpoint within 8
    peels — verified against a 12-peel replay)."""
    links = _kcore_fixture_links(_docs(spark, sf_dir))
    return GR.k_core(links, k=6, max_iters=8).orderBy("node")


@query(oracle=f"""
            with {_MINHASH_CTES},
            m as (
              select c.doc_a, c.doc_b,
                     len(list_filter(range(1, 9),
                                     i -> sa.sig[i] = sb.sig[i]))::bigint
                       as n_match
              from cand c
              join sig sa on sa.doc_id = c.doc_a
              join sig sb on sb.doc_id = c.doc_b)
            select m.doc_a, m.doc_b, m.n_match,
                   round(m.n_match::double / 8, 6) as est_jaccard,
                   j.jaccard as exact_jaccard,
                   round(abs(m.n_match::double / 8 - j.jaccard), 6)
                     as abs_err
            from m join j on j.doc_a = m.doc_a and j.doc_b = m.doc_b
            order by m.doc_a, m.doc_b
        """)
def q_minhash_accuracy(spark, sf_dir):
    """MinHash estimator audit (n_match/k vs exact shingle Jaccard per
    LSH candidate pair) — completes the sketch-accuracy family next to
    quantized_recall / pq_recall / bloom_probe.  Integer match counts
    keep the estimate engine-exact; k=8/bands=4 md5 twin of the
    production xxhash64 path."""
    return (D.minhash_accuracy(_docs(spark, sf_dir), k=8, bands=4,
                               hash_fn=D.md5_hash64)
            .orderBy("doc_a", "doc_b"))


@query(oracle=f"""
    with t as (select source, unnest({{words}}) as w from documents),
    d as materialized (select distinct source, w from t),
    h as (select source,
                 ('0x' || substr(md5(w), 1, 15))::bigint as h from d),
    r as (select source, h,
                 row_number() over (partition by source order by h) as rn
          from h),
    agg as (select source as key, count(*)::bigint as n_kept,
                   max(case when rn = 64 then h end) as kth
            from r where rn <= 64 group by source),
    ex as (select source as key, count(*)::bigint as exact_distinct
           from d group by source)
    select a.key, a.n_kept,
           case when a.kth is not null
                then round({_KMV_SCALE!r} / a.kth::double, 6)
                else a.n_kept::double end as est_distinct,
           ex.exact_distinct
    from agg a join ex using (key)
    order by key
""".format(words=_AZ09_WORDS))
def q_kmv_vocab(spark, sf_dir):
    """Per-source vocabulary-size estimation with a KMV bottom-64
    sketch — the fixed-memory replacement for exact per-host distinct
    counting at corpus scale.  The md5-derived hash makes the whole
    estimator (not just the audit column) replay exactly in SQL; the
    exact_distinct column is the at-gate-scale audit the sketch
    replaces in production."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "source",
        F.explode(D.normalized_words(F.col("text"))).alias("w"))
    return SK.kmv_distinct(words, "source", "w", k=64).orderBy("key")


@query(oracle="""
    with t as (select unnest({words}) as term from documents),
    cells as (
      select i.r as row,
             (('0x' || substr(md5(term || '#cms' || i.r), 1, 15))::bigint
              % 1024)::int as bucket
      from t, unnest([0, 1, 2, 3]) as i(r)),
    cms as materialized (
      select row, bucket, count(*)::bigint as c
      from cells group by row, bucket),
    exact as (select term, count(*)::bigint as exact_c
              from t group by term),
    probes as materialized (
      select term, exact_c from exact
      order by exact_c desc, term limit 50),
    pc as (select p.term, i.r as row,
                  (('0x' || substr(md5(p.term || '#cms' || i.r), 1, 15))
                   ::bigint % 1024)::int as bucket
           from probes p, unnest([0, 1, 2, 3]) as i(r)),
    est as (select pc.term, min(coalesce(cms.c, 0))::bigint as cms_est
            from pc left join cms using (row, bucket)
            group by pc.term)
    select p.term, p.exact_c, e.cms_est,
           (e.cms_est - p.exact_c)::bigint as overestimate
    from probes p join est e using (term)
    order by term
""".format(words=_AZ09_WORDS))
def q_cms_heavy(spark, sf_dir):
    """Count-Min heavy-hitter probe: build a 4x1024 sketch of the
    corpus term stream, probe the exact top-50 terms, and report the
    estimate + collision over-estimate per term.  The sketch is
    depth*width cells regardless of vocabulary (ONE map-side-combined
    groupBy); integer counters make the parity exact."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.explode(D.normalized_words(F.col("text"))).alias("term"))
    cms = SK.cms_build(words, depth=4, width=1024)
    exact = words.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("exact_c"))
    probes = exact.orderBy(F.desc("exact_c"), F.asc("term")).limit(50)
    return (SK.cms_probe(cms, probes, depth=4, width=1024)
            .select("term", "exact_c", "cms_est",
                    (F.col("cms_est") - F.col("exact_c"))
                    .cast("long").alias("overestimate"))
            .orderBy("term"))


def _kcore_fixture_links(docs):
    """The shared sparse-periphery + planted-circulant-core host graph
    (see q_kcore); reused by q_triangles / q_assortativity so the
    graph-health reports describe ONE graph."""
    periphery = docs.select(
        F.concat(F.lit("n"), (F.col("doc_id") % 150).cast("string"))
        .alias("src"),
        F.concat(F.lit("n"),
                 ((F.col("doc_id") * 7 + F.expr("doc_id div 150") * 11
                   + 3) % 150).cast("string")).alias("dst"))
    core = (docs.where(F.col("doc_id") < 60)
            .select((F.col("doc_id") % 12).alias("a"),
                    F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j"))
            .select(F.concat(F.lit("n"), F.col("a").cast("string"))
                    .alias("src"),
                    F.concat(F.lit("n"), ((F.col("a") + F.col("j")) % 12)
                             .cast("string")).alias("dst")))
    return periphery.unionByName(core)


@query(oracle="""
    with links as materialized (
      select 'n' || (doc_id % 150) as s,
             'n' || ((doc_id * 7 + (doc_id // 150) * 11 + 3) % 150) as t
      from documents
      union all
      select 'n' || (doc_id % 12) as s,
             'n' || ((doc_id % 12 + t.j) % 12) as t
      from documents, unnest(range(1, 4)) as t(j)
      where doc_id < 60),
    und as materialized (
      select a, b from (
        select s as a, t as b from links union select t, s from links)
      where a <> b),
    deg as materialized (
      select a as node, count(*)::bigint as deg from und group by a),
    m as (
      select count(*)::bigint as n,
             sum(x)::bigint as sx, sum(y)::bigint as sy,
             sum(x * y)::bigint as sxy,
             sum(x * x)::bigint as sxx, sum(y * y)::bigint as syy
      from (select dx.deg as x, dy.deg as y
            from und e
            join deg dx on dx.node = e.a
            join deg dy on dy.node = e.b))
    select n as n_edges,
           case when sqrt(n::double * sxx - sx * sx)
                     * sqrt(n::double * syy - sy * sy) > 0
                then round((n::double * sxy - sx * sy)
                           / (sqrt(n::double * sxx - sx * sx)
                              * sqrt(n::double * syy - sy * sy)), 6)
           end as assortativity
    from m
""")
def q_assortativity(spark, sf_dir):
    """Degree assortativity over the kcore fixture graph — web graphs
    are disassortative (hubs -> leaves, r < 0); near-zero/positive r
    is the link-ring signature.  Five exact bigint co-moments folded
    through one closed-form double expression, so the single output
    value is bit-identical across engines before the 6dp round."""
    return GR.assortativity(_kcore_fixture_links(_docs(spark, sf_dir)))


@query(oracle="""
    with t as (
      select doc_id,
             string_split_regex(trim(text), '\\s+') as ws
      from documents),
    c as (
      select doc_id, len(ws) as n, ws,
             unnest(range(0,
               ((greatest(len(ws) - 32, 0) + 23) // 24) + 1))
               as chunk_id
      from t)
    select doc_id, chunk_id::bigint as chunk_id,
           (chunk_id * 24 + 1)::bigint as start_word,
           least(32, n - chunk_id * 24)::bigint as n_words,
           array_to_string(ws[(chunk_id * 24 + 1):
                              (chunk_id * 24 + 32)], ' ') as chunk
    from c
    order by doc_id, chunk_id
""")
def q_passages(spark, sf_dir):
    """Retrieval-index passage chunking (size 32, stride 24): the
    row-local, shuffle-free prep every BM25/dense index runs before
    scoring — overlapping windows keep boundary-straddling answers
    findable.  Chunk count is closed-form integer math; slices and
    joins replay exactly in SQL."""
    return (RK.passage_chunks(_docs(spark, sf_dir), size=32, stride=24)
            .select("doc_id", F.col("chunk_id").cast("long")
                    .alias("chunk_id"),
                    F.col("start_word").cast("long").alias("start_word"),
                    "n_words", "chunk")
            .orderBy("doc_id", "chunk_id"))


@query(oracle=f"""
            with t as (select source, unnest({_AZ09_WORDS}) as w
                       from documents),
            tf as materialized (
              select source, w, count(*)::bigint as c
              from t group by source, w),
            tot as (select source, sum(c)::bigint as n_tokens,
                           count(*)::bigint as n_types
                    from tf group by source),
            agg as (
              select j.source,
                     max(j.n_tokens)::bigint as n_tokens,
                     max(j.n_types)::bigint as n_types,
                     sum(-((j.c::double / j.n_tokens::double)
                           * log2(j.c::double / j.n_tokens::double)))
                       as h
              from (select tf.source, tf.c, tot.n_tokens, tot.n_types
                    from tf join tot using (source)) j
              group by j.source)
            select source, n_tokens, n_types,
                   round(n_types::double / n_tokens::double, 6) as ttr,
                   round(h, 6) as entropy_bits,
                   round(pow(2.0::double, h), 6) as eff_vocab
            from agg order by source
        """)
def q_source_entropy(spark, sf_dir):
    """Per-source unigram entropy / type-token ratio / effective
    vocabulary — the per-domain term-distribution health probe
    (template domains collapse entropy; zipf_stats is the corpus-wide
    sibling).  Two uniform-key groupBys; the entropy fold and the
    2^H perplexity reading replay exactly in SQL."""
    return TS.source_entropy(_docs(spark, sf_dir)).orderBy("source")


@query(oracle="""
    with links as materialized (
      select 'n' || (doc_id % 150) as s,
             'n' || ((doc_id * 7 + (doc_id // 150) * 11 + 3) % 150) as t
      from documents
      union all
      select 'n' || (doc_id % 12) as s,
             'n' || ((doc_id % 12 + t.j) % 12) as t
      from documents, unnest(range(1, 4)) as t(j)
      where doc_id < 60),
    und as materialized (
      select a, b from (
        select s as a, t as b from links union select t, s from links)
      where a <> b),
    deg as materialized (
      select a as node, count(*)::bigint as deg from und group by a),
    o as materialized (
      select case when x.deg < y.deg or (x.deg = y.deg and c.a < c.b)
                  then c.a else c.b end as lo,
             case when x.deg < y.deg or (x.deg = y.deg and c.a < c.b)
                  then c.b else c.a end as hi
      from (select a, b from und where a < b) c
      join deg x on x.node = c.a
      join deg y on y.node = c.b),
    tri as (
      select w.x, w.y, w.z
      from (select e1.lo as x, e1.hi as y, e2.hi as z
            from o e1 join o e2 on e2.lo = e1.hi) w
      join o e3 on e3.lo = w.x and e3.hi = w.z),
    per as (
      select node, count(*)::bigint as n_triangles
      from (select unnest([x, y, z]) as node from tri)
      group by node)
    select d.node, d.deg as degree,
           coalesce(p.n_triangles, 0)::bigint as n_triangles,
           case when d.deg > 1 then
             round(2.0 * coalesce(p.n_triangles, 0)
                   / (d.deg * (d.deg - 1)), 6) end as clustering
    from deg d left join per p using (node)
    order by d.node
""")
def q_triangles(spark, sf_dir):
    """Per-node triangle counts + clustering coefficient over the
    kcore fixture graph (planted circulant ring = triangle-dense core,
    sparse periphery = near-zero clustering) — the link-ring density
    report.  Degree-ordered orientation counts each triangle once at
    its lowest-rank corner; integer counts and one 6dp-rounded ratio
    keep the parity exact."""
    links = _kcore_fixture_links(_docs(spark, sf_dir))
    return GR.triangle_counts(links).orderBy("node")


@query(oracle=f"""
            with t as (select {TS.words_oracle_sql("text")} as w from documents),
            tot as (select sum(len(w))::double as t_tok,
                           sum(greatest(len(w) - 1, 0))::double as t_big
                    from t),
            uni as (select term, count(*)::bigint as c
                    from (select unnest(w) as term from t) group by term),
            bi as (select bg, count(*)::bigint as c12
                   from (select unnest(list_transform(range(1, len(w)),
                                i -> w[i] || ' ' || w[i + 1])) as bg from t)
                   group by bg having count(*) >= 5),
            sc as (select string_split(bg, ' ')[1] as w1,
                          string_split(bg, ' ')[2] as w2,
                          c12, u1.c as c1, u2.c as c2,
                          round(log2((c12::double / t.t_big)
                                / ((u1.c::double / t.t_tok)
                                   * (u2.c::double / t.t_tok))), 6) as pmi
                   from bi
                   join uni u1 on u1.term = string_split(bg, ' ')[1]
                   join uni u2 on u2.term = string_split(bg, ' ')[2]
                   cross join tot t)
            select w1, w2, c12, c1, c2, pmi,
                   row_number() over (order by pmi desc, w1, w2) as rank
            from sc order by pmi desc, w1, w2 limit 50
        """)
def q_pmi_collocations(spark, sf_dir):
    """Bigram collocation mining by PMI (min_count=5, top 50) — the
    corpus-analysis pass behind tokenizer-vocabulary and multi-word-
    expression curation.  Row-local bigram construction, two count
    aggregations and the totals broadcast all replay exactly in SQL."""
    return TS.pmi_collocations(_docs(spark, sf_dir),
                               min_count=5, top_k=50)


@query(oracle=_pagerank_oracle_sql(tail=f"""
            , qstats as (
              select source, avg({_QUALITY["quality_score"]}) as aq,
                avg(({_SPAM["is_spam"]})::int) as asp
              from documents group by source)
            select p.node, round(p.rank, 6) as rank,
              round(q.aq, 6) as avg_quality,
              round(p.rank * q.aq * (1 - q.asp), 6) as priority
            from pr10 p join qstats q on q.source = p.node
            order by priority desc, p.node
        """))
def q_crawl_priority(spark, sf_dir):
    """Crawl-frontier prioritization: PageRank of the host graph joined
    with per-host content quality (mean composite score, spam share) —
    priority = rank * quality * (1 - spam).  The composition every
    curation-driven crawler runs to decide what to fetch next; both
    inputs reuse value-gated kernels and the join itself sits under the
    gate (the oracle splices a quality CTE onto the same unrolled
    PageRank iterations)."""
    docs = _docs(spark, sf_dir)
    edges = (_synthetic_links(docs).groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("double").alias("weight")))
    ranks = GR.pagerank(edges, iters=10)
    q = TS.quality_cols(F.col("text"))
    s = TS.seo_spam_cols(F.col("text"))
    stats = (docs.select("source", q["quality_score"].alias("qs"),
                         s["is_spam"].cast("int").alias("sp"))
             .groupBy("source")
             .agg(F.avg("qs").alias("aq"), F.avg("sp").alias("asp")))
    return (ranks.join(stats.withColumnRenamed("source", "node"), "node")
            .select("node",
                    F.round("rank", R).alias("rank"),
                    F.round("aq", R).alias("avg_quality"),
                    F.round(F.col("rank") * F.col("aq")
                            * (1 - F.col("asp")), R).alias("priority"))
            .orderBy(F.desc("priority"), "node"))


@query(oracle=f"""
            with tok as (
              select doc_id, {_AZ09_WORDS} as ws
              from (select doc_id, text from documents)),
            bge as (
              select doc_id, b['w1'] as w1, b['w2'] as w2
              from (select doc_id,
                      unnest([{{'w1': ws[i], 'w2': ws[i+1]}}
                              for i in range(1, len(ws))]) as b
                    from tok)),
            uni as (
              select w, count(*) as c
              from (select unnest(ws) as w from tok) group by w),
            tot as (select sum(c) as total from uni),
            bim as (
              select b.w1, b.w2, log10(b.c12 / u.c) as logp
              from (select w1, w2, count(*) as c12
                    from bge group by w1, w2) b
              join uni u on u.w = b.w1),
            unim as (
              select w, log10(0.4 * c / (select total from tot))
                as logp_bo from uni),
            lp as (
              select g.doc_id,
                coalesce(bm.logp, um.logp_bo, -12.0) as lp
              from bge g
              left join bim bm on bm.w1 = g.w1 and bm.w2 = g.w2
              left join unim um on um.w = g.w2),
            per as (select doc_id, sum(lp) as s, count(*) as n
                    from lp group by doc_id),
            sc as (
              select d.doc_id, d.lang, coalesce(per.n, 0) as n_bigrams,
                case when per.n > 0 then pow(10, -per.s / per.n) end as ppl
              from documents d left join per using (doc_id)),
            nt as (
              select *, case when ppl is not null then
                ntile(3) over (partition by lang, (ppl is null)
                               order by round(ppl, 6), doc_id) end as t
              from sc)
            select doc_id, lang, n_bigrams, round(ppl, 6) as ppl,
              case when ppl is null then 'na'
                   when t = 1 then 'head'
                   when t = 2 then 'middle'
                   else 'tail' end as bucket
            from nt order by doc_id
        """)
def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality bucketing: train a bigram Stupid-Backoff
    model ON the corpus (two groupBys), score every doc's perplexity,
    assign head/middle/tail thirds per language.  Full value parity —
    the model, the scoring joins, and the ntile split are all mirrored
    in SQL."""
    docs = _docs(spark, sf_dir)
    bi, uni = LM.train_bigram_lm(docs)
    scored = (LM.lm_score(docs, bi, uni)
              .join(docs.select("doc_id", "lang"), "doc_id"))
    return (LM.ppl_buckets(scored)
            .select("doc_id", "lang", "n_bigrams",
                    F.round("ppl", 6).alias("ppl"), "bucket")
            .orderBy("doc_id"))


@query(oracle=f"""
            with tok as (
              select doc_id, {_AZ09_WORDS} as ws
              from (select doc_id, text from documents)),
            bge as (
              select doc_id, b['w1'] as w1, b['w2'] as w2
              from (select doc_id,
                      unnest([{{'w1': ws[i], 'w2': ws[i+1]}}
                              for i in range(1, len(ws))]) as b
                    from tok)),
            c12 as materialized (
              select w1, w2, count(*)::bigint as c12
              from bge group by w1, w2),
            ctx as materialized (
              select w1, sum(c12)::bigint as c1,
                     count(*)::bigint as n_fwd
              from c12 group by w1),
            cont as materialized (
              select w2, n_rev::double /
                     (select count(*) from c12)::double as pcont
              from (select w2, count(*)::bigint as n_rev
                    from c12 group by w2)),
            lam as materialized (
              select w1, (0.75::double * n_fwd::double) / c1::double
                     as lam from ctx),
            bim as (
              select c.w1, c.w2,
                greatest(c.c12 - 0.75::double, 0.0::double) / x.c1::double
                + ((0.75::double * x.n_fwd::double) / x.c1::double)
                  * k.pcont as p
              from c12 c
              join ctx x on x.w1 = c.w1
              join cont k on k.w2 = c.w2),
            lp as (
              select g.doc_id,
                log10(coalesce(b.p, l.lam * k.pcont, k.pcont,
                               1e-12)) as lp
              from bge g
              left join bim b on b.w1 = g.w1 and b.w2 = g.w2
              left join lam l on l.w1 = g.w1
              left join cont k on k.w2 = g.w2),
            per as (select doc_id, sum(lp) as s, count(*)::bigint as n
                    from lp group by doc_id)
            select d.doc_id, coalesce(per.n, 0)::bigint as n_bigrams,
              round(case when per.n > 0 then pow(10, -per.s / per.n)
                    end, 6) as kn_ppl
            from documents d left join per using (doc_id)
            order by d.doc_id
        """)
def q_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity per document — the
    reference n-gram smoothing (vs lm_perplexity's Stupid Backoff):
    continuation probabilities are distinct counts over the bigram
    TYPE table, so the entire model (discounting, reserved mass,
    continuation fallback) trains as groupBys and replays exactly in
    SQL.  The backoff ladder (seen bigram -> lam*pcont -> pcont ->
    floor) is a coalesce over three left joins."""
    docs = _docs(spark, sf_dir)
    bi, lam, cont = LM.train_kn_bigram(docs)
    return (LM.kn_score(docs, bi, lam, cont)
            .select("doc_id", "n_bigrams",
                    F.round("kn_ppl", 6).alias("kn_ppl"))
            .orderBy("doc_id"))


def _synth_url(doc_id, source):
    """Deterministic synthetic crawl url (documents.parquet has no url
    column); mirrored 1:1 in SQL by _SYNTH_URL_SQL.  Mix of blocked
    domains, spam keywords and non-text extensions so the URL gates see
    every branch."""
    host = (F.when(doc_id % 13 == 0, F.lit("badsite.example"))
            .when(doc_id % 13 == 1, F.lit("sub.spam.example"))
            .otherwise(F.concat(source, (doc_id % 5).cast("string"),
                                F.lit(".example.com"))))
    tail = (F.when(doc_id % 7 == 0, F.lit(".jpg"))
            .when(doc_id % 11 == 0, F.lit("?q=casino"))
            .otherwise(F.lit("")))
    return F.concat(F.lit("https://"), host, F.lit("/p/"),
                    doc_id.cast("string"), tail)


_SYNTH_URL_SQL = """
    'https://' ||
    (case when doc_id % 13 = 0 then 'badsite.example'
          when doc_id % 13 = 1 then 'sub.spam.example'
          else source || (doc_id % 5)::varchar || '.example.com' end)
    || '/p/' || doc_id::varchar ||
    (case when doc_id % 7 = 0 then '.jpg'
          when doc_id % 11 = 0 then '?q=casino'
          else '' end)
"""


@query(oracle=f"""
            with u as (
              select doc_id, {_SYNTH_URL_SQL} as url from documents),
            h as (
              select doc_id, url,
                lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as host
              from u),
            g as (
              select doc_id, url, host,
                (host = 'badsite.example'
                 or suffix(host, '.badsite.example')
                 or host = 'spam.example' or suffix(host, '.spam.example')
                 or host = 'malware.example'
                 or suffix(host, '.malware.example')) as blocked_domain,
                regexp_matches(lower(url),
                               '(casino|viagra|xxx|porn|escort)')
                  as blocked_keyword,
                regexp_matches(lower(url),
                  '\\.(jpe?g|png|gif|webp|bmp|tiff?|mp[34]|avi|mkv|mov|wav|flac|zip|rar|7z|tar|gz|bz2|exe|dmg|iso|css|js|ico|svg|woff2?|ttf|pdf)([?#].*)?$')
                  as nontext_ext
              from h)
            select doc_id, url, host, blocked_domain::int as blocked_domain,
              blocked_keyword::int as blocked_keyword,
              nontext_ext::int as nontext_ext,
              (not blocked_domain and not blocked_keyword
               and not nontext_ext)::int as url_pass
            from g order by doc_id
        """)
def q_url_filters(spark, sf_dir):
    """Crawl-frontier URL hygiene gates (blocklisted domains incl.
    subdomains, spam keywords, non-text extensions) under the value
    gate on deterministic synthetic urls."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        url_filter_cols,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", _synth_url(F.col("doc_id"), F.col("source")).alias("url"))
    c = url_filter_cols(F.col("url"))
    return docs.select(
        "doc_id", "url", c["host"].alias("host"),
        c["blocked_domain"].cast("int").alias("blocked_domain"),
        c["blocked_keyword"].cast("int").alias("blocked_keyword"),
        c["nontext_ext"].cast("int").alias("nontext_ext"),
        c["url_pass"].cast("int").alias("url_pass")).orderBy("doc_id")


@query(oracle="""
    with urls as materialized (
      select 'https://' || source || (doc_id % 5)::varchar || '.example.com'
        || (case when doc_id % 5 = 0
                 then '/id/' || md5(doc_id::varchar) || '.html'
                 else '/cat' || (doc_id % 4)::varchar
                      || '/item-' || doc_id::varchar
                      || '-' || ((doc_id * 17) % 1000)::varchar
                      || (case when doc_id % 3 = 0
                               then '.html?page=' || (doc_id % 7)::varchar
                                    || '&ref=track'
                               else '.html' end)
            end) as url
      from documents),
    t as materialized (
      select lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as host,
             regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', ''),
               '[0-9a-f]{8,}', '{h}', 'g'),
               '[0-9]+', '{n}', 'g'),
               '=[^&]*', '={v}', 'g') as pattern
      from urls),
    agg as (select host, pattern, count(*)::bigint as n_urls
            from t group by host, pattern)
    select host, pattern, n_urls, rank from (
      select host, pattern, n_urls,
             row_number() over (partition by host
                                order by n_urls desc, pattern asc)::bigint
               as rank
      from agg)
    where rank <= 5
    order by host, rank
""")
def q_url_templates(spark, sf_dir):
    """URL template mining (crawler-trap / auto-generated-page-family
    detection): hex ids, digit runs and query values masked to
    patterns, counted per host, per-host top-5.  The synthetic urls
    exercise every mask branch (md5 hex ids, multi-digit item paths,
    query strings); masking, aggregation and the rank window replay
    exactly in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        url_template_stats,
    )

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://"), F.col("source"), (did % 5).cast("string"),
        F.lit(".example.com"),
        F.when(did % 5 == 0,
               F.concat(F.lit("/id/"), F.md5(did.cast("string")),
                        F.lit(".html")))
        .otherwise(F.concat(
            F.lit("/cat"), (did % 4).cast("string"),
            F.lit("/item-"), did.cast("string"),
            F.lit("-"), ((did * 17) % 1000).cast("string"),
            F.when(did % 3 == 0,
                   F.concat(F.lit(".html?page="), (did % 7).cast("string"),
                            F.lit("&ref=track")))
            .otherwise(F.lit(".html")))))
    return (url_template_stats(docs.select("doc_id", url.alias("url")),
                               top_k=5)
            .orderBy("host", "rank"))


@query(oracle="""
    with a as (
      select 'https://' || source || '.example/p/' || doc_id::varchar
               as url,
             md5(text) as ha
      from documents where doc_id % 10 <> 0),
    b as (
      select 'https://' || source || '.example/p/' || doc_id::varchar
               as url,
             md5(case when doc_id % 3 = 0 then text || ' [rev2]'
                      else text end) as hb
      from documents where doc_id % 7 <> 0),
    j as (select coalesce(a.url, b.url) as url, a.ha, b.hb
          from a full outer join b on a.url = b.url)
    select lower(regexp_extract(url,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as host,
           sum((ha is null)::int)::bigint as n_added,
           sum((hb is null)::int)::bigint as n_removed,
           sum((ha is not null and hb is not null and ha <> hb)::int)
             ::bigint as n_changed,
           sum((ha is not null and hb is not null and ha = hb)::int)
             ::bigint as n_unchanged
    from j group by host order by host
""")
def q_snapshot_delta(spark, sf_dir):
    """Cross-snapshot crawl delta: two synthetic snapshots derived
    from the documents table (modular membership + deterministic
    content edits) compared per host — added / removed / changed /
    unchanged url counts, the CDX-style churn report a recrawl
    scheduler consumes.  Digest comparison, full-outer join and host
    rollup replay exactly in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        snapshot_delta,
    )

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example/p/"), did.cast("string"))
    a = (docs.where(did % 10 != 0)
         .select(url.alias("url"), F.col("text")))
    b = (docs.where(did % 7 != 0)
         .select(url.alias("url"),
                 F.when(did % 3 == 0,
                        F.concat(F.col("text"), F.lit(" [rev2]")))
                 .otherwise(F.col("text")).alias("text")))
    return snapshot_delta(a, b).orderBy("host")


@query(oracle=f"""
            with u as (
              select doc_id, {_SYNTH_URL_SQL} as url from documents),
            d as (
              select doc_id,
                lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as domain,
                ('0x' || substr(md5(doc_id::varchar || ':11'),
                                1, 15))::bigint as rk
              from u),
            r as (
              select doc_id, domain,
                row_number() over (partition by domain
                                   order by rk asc, doc_id asc)
                  as domain_rank
              from d)
            select doc_id, domain, domain_rank,
              (domain_rank <= 20)::int as keep
            from r order by doc_id
        """)
def q_domain_quota(spark, sf_dir):
    """Per-domain quota sampling (diversity cap): deterministic
    md5-hash rank per registrable host, keep <= 20 — rank order and
    verdicts replayed in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        domain_quota_sample,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", _synth_url(F.col("doc_id"), F.col("source")).alias("url"))
    out = domain_quota_sample(docs, max_per_domain=20)
    return out.select("doc_id", "domain", "domain_rank",
                      F.col("keep").cast("int").alias("keep")) \
        .orderBy("doc_id")


@query(oracle="""
            with h as (
              select
                'https://h' || (doc_id % 9)::varchar || '.example/d/'
                  || doc_id::varchar as src_url,
                '<html><body><p>' || substr(text, 1, 40) || '</p>'
                || '<a href="https://h' || ((doc_id * 7) % 9)::varchar
                  || '.example/p/' || doc_id::varchar || '">anchor 0</a>'
                || '<a href="https://h' || ((doc_id * 7 + 3) % 9)::varchar
                  || '.example/p/' || doc_id::varchar || '">anchor 1</a>'
                || '<a href="https://h' || ((doc_id * 7 + 6) % 9)::varchar
                  || '.example/p/' || doc_id::varchar || '">anchor 2</a>'
                || '</body></html>' as html_text
              from documents),
            l as (
              select src_url,
                unnest(regexp_extract_all(html_text,
                  '<a[^>]*href="([^"]*)"', 1)) as dst_url
              from h),
            e as (
              select
                lower(regexp_extract(src_url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as src,
                lower(regexp_extract(dst_url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as dst
              from l)
            select src, dst, count(*) as weight
            from e
            where src != dst and len(src) > 0 and len(dst) > 0
            group by src, dst order by src, dst
        """)
def q_link_graph(spark, sf_dir):
    """Out-link extraction -> weighted host-graph edges (the input
    PageRank consumes), value-gated: pages are synthesized as a pure
    concat expression (3 deterministic <a href> links per doc), so
    DuckDB replays the regex link pull, host fold and edge aggregation
    exactly."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import (
        extract_links,
        host_edges,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")

    def link(k):
        return F.concat(F.lit('<a href="https://h'),
                        ((did * 7 + k * 3) % 9).cast("string"),
                        F.lit(".example/p/"), did.cast("string"),
                        F.lit('">anchor %d</a>' % k))

    pages = d.select(
        F.concat(F.lit("https://h"), (did % 9).cast("string"),
                 F.lit(".example/d/"), did.cast("string")).alias("url"),
        F.concat(F.lit("<html><body><p>"), F.substring("text", 1, 40),
                 F.lit("</p>"), link(0), link(1), link(2),
                 F.lit("</body></html>")).alias("html_text"))
    return (host_edges(extract_links(pages))
            .orderBy("src", "dst"))


def _anchor_links(spark, sf_dir):
    """Deterministic anchor-link corpus shared by q_anchor_text and the
    approx-path tests: 3 links per doc, anchor words sliced from the
    linking doc's own text, targets colliding via doc_id % 50."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import (
        extract_links,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    words = F.split(F.lower(F.col("text")), "[^a-z0-9]+")

    def link(k):
        anchor = F.array_join(F.slice(words, k * 3 + 1, 2), " ")
        return F.concat(F.lit('<a href="https://h'),
                        ((did * 7 + k * 3) % 9).cast("string"),
                        F.lit(".example/p/"), (did % 50).cast("string"),
                        F.lit('">'), anchor, F.lit("</a>"))

    pages = d.select(
        F.concat(F.lit("https://h"), (did % 9).cast("string"),
                 F.lit(".example/d/"), did.cast("string")).alias("url"),
        F.concat(F.lit("<html><body><p>x</p>"), link(0), link(1), link(2),
                 F.lit("</body></html>")).alias("html_text"))
    return extract_links(pages)


@query(oracle="""
            with h as (
              select
                'https://h' || (doc_id % 9)::varchar || '.example/d/'
                  || doc_id::varchar as src_url,
                '<html><body><p>x</p>'
                || '<a href="https://h' || ((doc_id * 7) % 9)::varchar
                  || '.example/p/' || (doc_id % 50)::varchar || '">'
                  || coalesce(array_to_string(list_slice(
                       string_split_regex(lower(text), '[^a-z0-9]+'), 1, 2),
                       ' '), '') || '</a>'
                || '<a href="https://h' || ((doc_id * 7 + 3) % 9)::varchar
                  || '.example/p/' || (doc_id % 50)::varchar || '">'
                  || coalesce(array_to_string(list_slice(
                       string_split_regex(lower(text), '[^a-z0-9]+'), 4, 5),
                       ' '), '') || '</a>'
                || '<a href="https://h' || ((doc_id * 7 + 6) % 9)::varchar
                  || '.example/p/' || (doc_id % 50)::varchar || '">'
                  || coalesce(array_to_string(list_slice(
                       string_split_regex(lower(text), '[^a-z0-9]+'), 7, 8),
                       ' '), '') || '</a>'
                || '</body></html>' as html_text
              from documents),
            l as (
              select src_url,
                regexp_extract_all(html_text,
                  '<a[^>]*href="([^"]*)"[^>]*>(.*?)</a>', 1) as hs,
                regexp_extract_all(html_text,
                  '<a[^>]*href="([^"]*)"[^>]*>(.*?)</a>', 2) as ts
              from h),
            lz as (
              select src_url, unnest(hs) as dst_url, unnest(ts) as anchor
              from l),
            t as (
              select dst_url, src_url,
                unnest(string_split_regex(lower(anchor), '[^a-z0-9]+'))
                  as term
              from lz where len(dst_url) > 0),
            a as (
              select dst_url, term,
                count(*)::bigint as n_mentions,
                count(distinct src_url)::bigint as n_sources
              from t where len(term) > 1
              group by dst_url, term),
            r as (
              select *, row_number() over (partition by dst_url
                order by n_mentions desc, n_sources desc, term) as rank
              from a)
            select dst_url, term, n_mentions, n_sources, rank
            from r where rank <= 3
            order by dst_url, rank
        """)
def q_anchor_text(spark, sf_dir):
    """Anchor-text profile per link target, value-gated: pages carry 3
    deterministic links whose anchor words come from the linking doc's
    own text (slices of the lowercase word array), targets collide via
    doc_id % 50 so each target accumulates anchors from many sources —
    DuckDB replays the page synthesis, regex zip, term explode,
    aggregation and top-k window exactly.  n_sources stays EXACT here
    for the value gate; anchor_text_profile(n_sources_rsd=...) is the
    single-pass HLL production path (plan- and error-tested in
    tests/test_graph.py)."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import (
        anchor_text_profile,
    )

    return (anchor_text_profile(_anchor_links(spark, sf_dir), top_k=3)
            .orderBy("dst_url", "rank"))


@query(oracle="""
            with p as (
              select source, count(*)::bigint as n_docs,
                sum(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> len(x) > 0)))::bigint as n_tokens
              from documents group by source),
            s as (select *, pow(n_tokens::double, 0.3) as sc from p),
            z as (select sum(sc) as z from s)
            select source, n_docs, n_tokens,
              round(sc / z, 8) as weight,
              round(sc / z * 1000000)::bigint as budget_tokens
            from s, z order by source
        """)
def q_mixture_weights(spark, sf_dir):
    """mT5/Pile temperature mixing rule (alpha=0.3) over per-source
    whitespace-token mass, with a 1M-token budget allocation — the
    aggregation, power scaling, normalizer and budget split all mirror
    exactly in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        mixture_weights,
    )

    return (mixture_weights(_docs(spark, sf_dir), alpha=0.3,
                            token_budget=1_000_000)
            .orderBy("source"))


@query(oracle="""
            with r as (
              select doc_id,
                unnest(range(0, (doc_id % 3) + 1)) as rev
              from documents),
            p as (
              select 'https://r.example/' || doc_id::varchar as url,
                (doc_id * 1000 + rev * 7)::bigint as warc_ts,
                rev::bigint as rev
              from r),
            n as (
              select url, count(*)::bigint as n_revisions,
                max(warc_ts) as mts
              from p group by url)
            select p.url, p.warc_ts, p.rev, n.n_revisions
            from p join n on p.url = n.url and p.warc_ts = n.mts
            order by p.url
        """)
def q_latest_revision(spark, sf_dir):
    """Cross-snapshot revisit dedup: each doc explodes into 1-3
    deterministic fetch revisions (url, warc_ts); keep the newest per
    url with the revision count — the Common-Crawl 'latest revision
    wins' pass that runs before any content-level dedup."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        latest_revision,
    )

    d = _docs(spark, sf_dir)
    revs = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.pmod("doc_id", F.lit(3))))
        .alias("rev"))
    pages = revs.select(
        F.concat(F.lit("https://r.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") * 1000 + F.col("rev") * 7).cast("long")
        .alias("warc_ts"),
        F.col("rev").cast("long").alias("rev"))
    return latest_revision(pages, ts_col="warc_ts").orderBy("url")


@query(oracle="""
            with d as (
              select doc_id,
                'h' || (doc_id % 9)::varchar || '.example' as host,
                '<?xml version="1.0"?><urlset>'
                || '<url><loc> https://h' || (doc_id % 9)::varchar
                  || '.example/d/' || doc_id::varchar || ' </loc>'
                || case when doc_id % 3 = 0
                   then '<lastmod>2024-01-0'
                     || (doc_id % 9 + 1)::varchar || '</lastmod>'
                   else '' end
                || case when doc_id % 2 = 0
                   then '<priority>0.' || (doc_id % 10)::varchar
                     || '</priority>'
                   else '' end
                || '</url>'
                || '<url><loc>https://h' || (doc_id % 9)::varchar
                  || '.example/p/' || doc_id::varchar
                  || '</loc><changefreq>daily</changefreq></url>'
                || '</urlset>' as xml
              from documents),
            e as (
              select host,
                unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1))
                  as entry
              from d),
            p as (
              select host,
                regexp_extract(entry, '<loc>\\s*(.*?)\\s*</loc>', 1) as loc,
                nullif(regexp_extract(entry,
                  '<lastmod>\\s*(.*?)\\s*</lastmod>', 1), '') as lastmod,
                nullif(regexp_extract(entry,
                  '<changefreq>\\s*(.*?)\\s*</changefreq>', 1), '')
                  as changefreq,
                try_cast(nullif(regexp_extract(entry,
                  '<priority>\\s*(.*?)\\s*</priority>', 1), '')
                  as double) as priority
              from e)
            select * from p where len(loc) > 0 order by loc
        """)
def q_sitemaps(spark, sf_dir):
    """Sitemap parsing under the value gate: deterministic sitemap XML
    per doc (two <url> entries; lastmod/priority/changefreq present on
    modular subsets so optional-field alignment is actually exercised)
    -> one parsed row per entry, replayed in DuckDB."""
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        parse_sitemaps,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 9).cast("string"), F.lit(".example"))
    loc1 = F.concat(F.lit("https://"), host, F.lit("/d/"),
                    did.cast("string"))
    loc2 = F.concat(F.lit("https://"), host, F.lit("/p/"),
                    did.cast("string"))
    lastmod = F.when(did % 3 == 0, F.concat(
        F.lit("<lastmod>2024-01-0"), (did % 9 + 1).cast("string"),
        F.lit("</lastmod>"))).otherwise(F.lit(""))
    priority = F.when(did % 2 == 0, F.concat(
        F.lit("<priority>0."), (did % 10).cast("string"),
        F.lit("</priority>"))).otherwise(F.lit(""))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url><loc> "), loc1, F.lit(" </loc>"), lastmod, priority,
        F.lit("</url>"),
        F.lit("<url><loc>"), loc2,
        F.lit("</loc><changefreq>daily</changefreq></url>"),
        F.lit("</urlset>"))
    sm = d.select(host.alias("host"), xml.alias("xml"))
    return parse_sitemaps(sm).orderBy("loc")


@query(oracle="""
            with f as (
              select
                'h' || (doc_id % 9)::varchar || '.example' as host,
                'https://h' || (doc_id % 9)::varchar || '.example/p/'
                  || doc_id::varchar as url,
                ((doc_id * 37) % 100)::double / 100.0 as priority
              from documents),
            s as (
              select *, (row_number() over (partition by host
                order by priority desc, url asc) - 1)::bigint
                as fetch_slot
              from f)
            select host, url, priority, fetch_slot,
              round(fetch_slot * 2.0, 3) as fetch_at_s
            from s order by host, fetch_slot
        """)
def q_politeness(spark, sf_dir):
    """Per-host politeness scheduling: deterministic frontier (host,
    url, priority from doc_id arithmetic) -> priority-ordered fetch
    slots with a 2-second per-host delay — window assignment mirrored
    in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        politeness_schedule,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    frontier = d.select(
        F.concat(F.lit("h"), (did % 9).cast("string"),
                 F.lit(".example")).alias("host"),
        F.concat(F.lit("https://h"), (did % 9).cast("string"),
                 F.lit(".example/p/"), did.cast("string")).alias("url"),
        (((did * 37) % 100).cast("double") / 100.0).alias("priority"))
    return (politeness_schedule(frontier, delay_s=2.0)
            .orderBy("host", "fetch_slot"))


@query(oracle="""
    with hosts as materialized (
      select 'h' || (doc_id % 9)::varchar || '.example' as host,
             avg(((doc_id * 37) % 100)::double / 100.0) as priority,
             1.0 + (min(doc_id % 9) % 3)::double as delay_s
      from documents group by host),
    z as (select sum(priority) as z from hosts)
    select h.host, round(h.priority, 6) as priority,
           floor(600.0 / h.delay_s)::bigint as cap,
           round(1000.0 * h.priority / z.z, 6) as share,
           least(floor(600.0 / h.delay_s)::bigint,
                 floor(1000.0 * h.priority / z.z)::bigint) as quota
    from hosts h cross join z
    order by h.host
""")
def q_crawl_budget(spark, sf_dir):
    """Per-host fetch-quota allocation for one crawl cycle: host
    priorities (mean of the politeness fixture's per-url priorities)
    and per-host politeness delays feed the cap/share/quota math —
    the step between frontier prioritization and the fetch schedule.
    Aggregation, 1-row total broadcast, floor/min quota arithmetic
    all replay in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        crawl_budget,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    hosts = (d.select(
        F.concat(F.lit("h"), (did % 9).cast("string"),
                 F.lit(".example")).alias("host"),
        (did % 9).alias("hidx"),
        (((did * 37) % 100).cast("double") / 100.0).alias("p"))
        .groupBy("host")
        .agg(F.avg("p").alias("priority"),
             (F.lit(1.0) + (F.first("hidx") % 3).cast("double"))
             .alias("delay_s")))
    return (crawl_budget(hosts, cycle_s=600.0, total_budget=1000)
            .orderBy("host"))


@query(oracle="""
            with recursive k as (
              select distinct (doc_id % 100) as k from documents
              where (doc_id % 100) % 10 != 0),
            e0 as (
              select 'n' || k::varchar as a,
                'n' || (k - (k % 10))::varchar as b
              from k),
            edges as (
              select a, b from e0 union select b, a from e0),
            reach(node, lbl) as (
              select a, a from edges
              union
              select e.a, r.lbl from edges e join reach r on r.node = e.b
            )
            select node, min(lbl) as cluster_id
            from reach group by node order by node
        """)
def q_host_components(spark, sf_dir):
    """Site clustering: connected components over a deterministic
    host graph (10-node stars: node k links to its decade head), the
    same pointer-jumping kernel dedup uses but value-gated on STRING
    node ids — mirrored in DuckDB as a recursive-CTE closure."""
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        connected_components,
    )

    d = _docs(spark, sf_dir)
    k = F.pmod("doc_id", F.lit(100))
    edges = (d.select(k.alias("k"))
             .where(F.pmod("k", F.lit(10)) != 0)
             .select(F.concat(F.lit("n"), F.col("k").cast("string"))
                     .alias("a"),
                     F.concat(F.lit("n"),
                              (F.col("k") - F.pmod("k", F.lit(10)))
                              .cast("string")).alias("b"))
             .distinct())
    return (connected_components(edges, a_col="a", b_col="b")
            .orderBy("node"))


@query(oracle="""
            with r as (
              select doc_id, text,
                unnest(range(0, (doc_id % 3) + 1)) as rev
              from documents),
            p as (
              select
                'https://r.example/' || doc_id::varchar as url,
                (doc_id * 1000 + rev * 7)::bigint as warc_ts,
                substr(text, 1, 150) || ' v' || rev::varchar as text
              from r),
            o as (
              select url, warc_ts, text,
                lag(warc_ts) over (partition by url order by warc_ts)
                  as prev_ts,
                lag(text) over (partition by url order by warc_ts)
                  as prev
              from p)
            select url, warc_ts, prev_ts,
              case when prev is null then null
                   else levenshtein(text, prev) end as churn,
              case when prev is null then null
                   when greatest(len(text), len(prev)) = 0 then 0.0
                   else round(levenshtein(text, prev)::double
                              / greatest(len(text), len(prev)), 6)
              end as churn_ratio
            from o order by url, warc_ts
        """)
def q_revision_churn(spark, sf_dir):
    """Refetch change detection: per URL in fetch order, Levenshtein
    distance (and length-normalized ratio) between consecutive
    revisions — native levenshtein in BOTH engines, so the whole
    window + edit-distance chain sits under the value gate."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        revision_churn,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    revs = d.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.pmod("doc_id", F.lit(3))))
        .alias("rev"))
    pages = revs.select(
        F.concat(F.lit("https://r.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") * 1000 + F.col("rev") * 7).cast("long")
        .alias("warc_ts"),
        F.concat(F.substring("text", 1, 150), F.lit(" v"),
                 F.col("rev").cast("string")).alias("text"))
    return (revision_churn(pages)
            .select("url", "warc_ts", "prev_ts", "churn", "churn_ratio")
            .orderBy("url", "warc_ts"))


@query(oracle="""
            with r as (
              select doc_id, text,
                unnest(range(0, (doc_id % 4) + 1)) as rev
              from documents),
            p as (
              select
                'https://r.example/' || doc_id::varchar as url,
                (doc_id * 1000 + rev * 3600)::bigint as warc_ts,
                substr(text, 1, 120) || ' v' || (rev // 2)::varchar
                  as text
              from r),
            o as (
              select url, warc_ts, text,
                lag(text) over (partition by url order by warc_ts)
                  as prev
              from p),
            c as (
              select url,
                case when prev is null then null
                     else levenshtein(text, prev) end as churn,
                warc_ts
              from o),
            g as (
              select url,
                count(churn)::bigint as n_checks,
                sum((churn > 0)::int)::bigint as n_changed,
                (max(warc_ts) - min(warc_ts))::double as span_s
              from c group by url),
            l as (
              select *,
                case when n_checks > 0 and span_s > 0
                  then -ln((n_checks - n_changed + 0.5)
                           / (n_checks + 0.5)) / (span_s / n_checks)
                end as lam
              from g)
            select url, n_checks, n_changed,
              round(span_s, 3) as span_s,
              round(lam * 1e6, 6) + 0.0 as lambda_per_mega_s,
              round(case when lam is null or lam <= 0 then 86400.0
                    else least(greatest(-ln(0.8) / lam, 600.0), 86400.0)
                    end, 3) as recrawl_interval_s
            from l order by url
        """)
def q_recrawl(spark, sf_dir):
    """Adaptive recrawl scheduling (Cho & Garcia-Molina change-rate
    estimator) over the synthesized refetch history: revision text
    changes only every second revision so the per-URL history mixes
    changed and unchanged checks; single-fetch URLs exercise the
    no-evidence branch (max interval)."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        revision_churn,
    )
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        recrawl_intervals,
    )

    d = _docs(spark, sf_dir)
    revs = d.select(
        "doc_id", "text",
        F.explode(F.sequence(F.lit(0), F.pmod("doc_id", F.lit(4))))
        .alias("rev"))
    pages = revs.select(
        F.concat(F.lit("https://r.example/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") * 1000 + F.col("rev") * 3600).cast("long")
        .alias("warc_ts"),
        F.concat(F.substring("text", 1, 120), F.lit(" v"),
                 F.floor(F.col("rev") / 2).cast("string")).alias("text"))
    return (recrawl_intervals(revision_churn(pages),
                              target_freshness=0.8,
                              min_interval_s=600.0,
                              max_interval_s=86400.0)
            .orderBy("url"))


@query(oracle="""
            with d as (
              select doc_id,
                '<urlset><url><loc>https://h' || (doc_id % 9)::varchar
                  || '.example/d/' || doc_id::varchar || '</loc></url>'
                || '<url><loc>https://'
                || case when doc_id % 20 = 0 then 'spam.example'
                   else 'h' || ((doc_id * 3) % 9)::varchar || '.example'
                   end
                || '/p/' || (doc_id % 50)::varchar
                || case when doc_id % 15 = 0 then '.jpg' else '' end
                || '</loc></url></urlset>' as xml
              from documents),
            e as (
              select unnest(regexp_extract_all(xml,
                '(?s)<url>(.*?)</url>', 1)) as entry
              from d),
            locs as (
              select regexp_extract(entry,
                '<loc>\\s*(.*?)\\s*</loc>', 1) as url
              from e),
            h as (
              select url,
                lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as host
              from locs where len(url) > 0),
            kept as (
              select distinct url, host from h
              where not (host = 'badsite.example'
                         or suffix(host, '.badsite.example')
                         or host = 'spam.example'
                         or suffix(host, '.spam.example')
                         or host = 'malware.example'
                         or suffix(host, '.malware.example'))
                and not regexp_matches(lower(url),
                  '(casino|viagra|xxx|porn|escort)')
                and not regexp_matches(lower(url),
                  '\\.(jpe?g|png|gif|webp|bmp|tiff?|mp[34]|avi|mkv|mov|wav|flac|zip|rar|7z|tar|gz|bz2|exe|dmg|iso|css|js|ico|svg|woff2?|ttf|pdf)([?#].*)?$')),
            f as (
              select url, host,
                (length(url) % 10)::double / 10.0 as priority
              from kept),
            s as (
              select *, (row_number() over (partition by host
                order by priority desc, url asc) - 1)::bigint
                as fetch_slot
              from f)
            select host, url, priority, fetch_slot,
              round(fetch_slot * 1.5, 3) as fetch_at_s
            from s order by host, fetch_slot
        """)
def q_frontier(spark, sf_dir):
    """Frontier-bootstrap composition: sitemap XML -> parse -> URL
    hygiene gates (blocked domains, non-text extensions) -> exact URL
    dedup -> deterministic priority -> per-host politeness slots.
    Every stage holds its own oracle elsewhere; this splices them into
    one gated dataflow (the crawl-side analog of curate_pipeline).
    Synthesis plants spam.example hosts (doc_id%20==0) and .jpg locs
    (doc_id%15==0) so the gates actually cut, and /p/ locs collide
    across docs so dedup matters."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        url_filter_cols,
    )
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        parse_sitemaps,
        politeness_schedule,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    host1 = F.concat(F.lit("h"), (did % 9).cast("string"),
                     F.lit(".example"))
    host2 = F.when(did % 20 == 0, F.lit("spam.example")).otherwise(
        F.concat(F.lit("h"), ((did * 3) % 9).cast("string"),
                 F.lit(".example")))
    ext = F.when(did % 15 == 0, F.lit(".jpg")).otherwise(F.lit(""))
    xml = F.concat(
        F.lit("<urlset><url><loc>https://"), host1, F.lit("/d/"),
        did.cast("string"), F.lit("</loc></url>"),
        F.lit("<url><loc>https://"), host2, F.lit("/p/"),
        (did % 50).cast("string"), ext,
        F.lit("</loc></url></urlset>"))
    sm = d.select(host1.alias("host"), xml.alias("xml"))
    locs = parse_sitemaps(sm).select(F.col("loc").alias("url"))
    g = url_filter_cols(F.col("url"))
    kept = (locs
            .where(g["url_pass"])
            .select("url", g["host"].alias("host"))
            .distinct())
    frontier = kept.withColumn(
        "priority", (F.length("url") % 10).cast("double") / 10.0)
    return (politeness_schedule(frontier, delay_s=1.5)
            .orderBy("host", "fetch_slot"))


@query(oracle="""
            with e as (
              select vec_id, embedding::DOUBLE[] as v from embeddings),
            s as (
              select vec_id, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 as scale
              from e),
            q as (
              select vec_id, v, scale,
                case when scale > 0 then list_transform(v,
                  x -> least(greatest(round(x / scale), -127.0), 127.0))
                else list_transform(v, x -> 0.0) end as qv
              from s),
            d as (
              select vec_id, scale, v, qv,
                list_transform(qv, x -> x * scale) as dv
              from q)
            select vec_id, round(scale, 6) as scale,
              list_sum(qv)::bigint as q_sum,
              list_sum(list_transform(qv, x -> abs(x)))::bigint as q_l1,
              len(list_filter(qv, x -> x != 0))::bigint as q_nonzero,
              round(list_cosine_similarity(v, dv), 3) as cos_q
            from d order by vec_id
        """)
def q_quantization(spark, sf_dir):
    """int8 embedding quantization audit under the value gate.  The
    quantized codes are INTEGER-exact across engines (float->double
    widening, max/abs, one IEEE division and a half-away round are all
    bit-deterministic), so the gate compares exact integer aggregates
    of the code vector (sum / L1 / nonzero count) plus the scale; the
    orig-vs-dequantized cosine is reported at 3 decimals only — the
    two engines legitimately differ ~1e-7 in summation order, which at
    6 decimals flips rounding boundaries."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        cosine_sim,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = quantize_embeddings(emb)
    dv = F.transform(F.col("qvec"),
                     lambda x: x.cast("double") * F.col("scale"))
    return (q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.aggregate("qvec", F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("q_sum"),
        F.aggregate("qvec", F.lit(0).cast("long"),
                    lambda acc, x: acc + F.abs(x)).alias("q_l1"),
        F.size(F.filter("qvec", lambda x: x != 0)).cast("long")
        .alias("q_nonzero"),
        F.round(cosine_sim(F.col("embedding"), dv), 3).alias("cos_q"))
        .orderBy("vec_id"))


@query(oracle="""
            with e as (
              select vec_id, embedding::DOUBLE[] as v from embeddings),
            s as (
              select vec_id, v,
                list_max(list_transform(v, x -> abs(x))) / 127.0 as scale
              from e),
            dq as (
              select vec_id,
                case when scale > 0 then list_transform(
                  list_transform(v, x -> least(greatest(
                    round(x / scale), -127.0), 127.0)),
                  x -> x * scale)
                else list_transform(v, x -> 0.0) end as v
              from s),
            q as (select vec_id as query_id, v as qvec from e
                  where vec_id < 5),
            ex as (
              select query_id, neighbor_id from (
                select query_id, e.vec_id as neighbor_id,
                  row_number() over (partition by query_id
                    order by round(list_cosine_similarity(qvec, e.v), 3)
                             desc, e.vec_id) as rank
                from q join e on e.vec_id != query_id)
              where rank <= 5),
            ap as (
              select query_id, neighbor_id from (
                select query_id, d.vec_id as neighbor_id,
                  row_number() over (partition by query_id
                    order by round(list_cosine_similarity(qvec, d.v), 3)
                             desc, d.vec_id) as rank
                from q join dq d on d.vec_id != query_id)
              where rank <= 5),
            o as (
              select ex.query_id, count(*)::bigint as n_common
              from ex join ap using (query_id, neighbor_id)
              group by ex.query_id)
            select q.query_id,
              coalesce(o.n_common, 0)::bigint as n_common,
              coalesce(o.n_common, 0) / 5.0 as recall_at_5
            from q left join o using (query_id)
            order by q.query_id
        """)
def q_quantized_recall(spark, sf_dir):
    """The question int8 quantization must answer before an ANN index
    swaps storage: does top-k survive?  Exact cosine top-5 vs top-5
    over dequantized int8 vectors, overlap per query — both retrieval
    paths and the dequantization replayed in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        knn_bruteforce,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select("vec_id", "embedding")
    # rank on round(cosine, 3): a ~1e-7 summation-order divergence
    # between engines can flip a near-tied rank-5 boundary (ADVICE r4);
    # coarse-rounded ranking with the vec_id tiebreak is stable on both
    exact = knn_bruteforce(emb, queries, k=5, rank_precision=3)
    deq = quantize_embeddings(emb).select(
        "vec_id",
        F.transform("qvec", lambda x: x.cast("double") * F.col("scale"))
        .alias("embedding"))
    approx = knn_bruteforce(deq, queries, k=5, rank_precision=3)
    overlap = (exact.select("query_id", "neighbor_id")
               .join(approx.select("query_id", "neighbor_id"),
                     ["query_id", "neighbor_id"])
               .groupBy("query_id")
               .agg(F.count(F.lit(1)).alias("n_common")))
    return (queries.select(F.col("vec_id").alias("query_id"))
            .join(overlap, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_common", F.lit(0)).cast("long")
                    .alias("n_common"),
                    (F.coalesce("n_common", F.lit(0)) / 5.0)
                    .alias("recall_at_5"))
            .orderBy("query_id"))


@query(oracle=f"""
            with v as (
              select lang, md5(text) as h,
                {_GOPHER["n_words"]} as ws_tokens,
                {_QUALITY["quality_score"]} as qs,
                ({_GOPHER["gopher_pass"]})::int as gp,
                ({_SPAM["is_spam"]})::int as sp
              from documents)
            select lang, count(*) as n_docs,
              sum(ws_tokens)::bigint as total_tokens,
              round(avg(qs), 6) as avg_quality,
              round(avg(gp), 6) as gopher_pass_rate,
              round(avg(sp), 6) as spam_rate,
              round(1 - count(distinct h)::double / count(*), 6)
                as exact_dup_rate
            from v group by lang order by lang
        """)
def q_corpus_report(spark, sf_dir):
    """Per-language corpus health report — the one-screen summary a
    curation run ends with: volume (docs, whitespace tokens), quality
    (mean composite score, Gopher pass rate, spam rate) and exact-dup
    rate (distinct text hashes vs rows), fully value-gated."""
    docs = _docs(spark, sf_dir)
    q = TS.quality_cols(F.col("text"))
    g = TS.gopher_rules_cols(F.col("text"))
    s = TS.seo_spam_cols(F.col("text"))
    t = TS.token_count_cols(F.col("text"))
    base = docs.select(
        "lang", F.md5("text").alias("h"),
        t["ws_tokens"].alias("ws_tokens"),
        q["quality_score"].alias("qs"),
        g["gopher_pass"].cast("int").alias("gp"),
        s["is_spam"].cast("int").alias("sp"))
    return (base.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ws_tokens").alias("total_tokens"),
                 F.round(F.avg("qs"), R).alias("avg_quality"),
                 F.round(F.avg("gp"), R).alias("gopher_pass_rate"),
                 F.round(F.avg("sp"), R).alias("spam_rate"),
                 F.round(1 - F.countDistinct("h")
                         / F.count(F.lit(1)), R).alias("exact_dup_rate"))
            .orderBy("lang"))


@query(oracle="""
            with h as (
              select doc_id,
                '<html lang="' || lang || '"><head><title>T'
                || doc_id::varchar || '</title>'
                || (case when doc_id % 4 = 0 then '' else
                    '<meta name="description" content="desc '
                    || doc_id::varchar || '">'
                    || '<link rel="canonical" href="https://c.example/'
                    || doc_id::varchar || '">'
                    || '<meta property="og:title" content="og '
                    || doc_id::varchar || '">' end)
                || '</head><body><p>' || substr(text, 1, 30)
                || '</p></body></html>' as html
              from documents)
            select doc_id,
              nullif(regexp_extract(html,
                '<title[^>]*>([^<]*)</title>', 1), '') as title,
              nullif(regexp_extract(html,
                '<meta[^>]*name="description"[^>]*content="([^"]*)"', 1),
                '') as meta_description,
              nullif(regexp_extract(html,
                '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1), '')
                as canonical_href,
              nullif(regexp_extract(html,
                '<meta[^>]*property="og:title"[^>]*content="([^"]*)"', 1),
                '') as og_title,
              nullif(regexp_extract(html,
                '<html[^>]*lang="([^"]*)"', 1), '') as html_lang
            from h order by doc_id
        """)
def q_page_metadata(spark, sf_dir):
    """Head-metadata extraction (title / meta description / canonical /
    og:title / lang attr) under the value gate on synthesized page
    HTML; every doc_id%4==0 page omits the optional tags so the NULL
    paths are exercised."""
    from deepseek_ocr_omnidocbench_spark.operators.html_extract import (
        page_metadata_cols,
    )

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    head_opt = F.when(did % 4 == 0, F.lit("")).otherwise(F.concat(
        F.lit('<meta name="description" content="desc '),
        did.cast("string"), F.lit('">'),
        F.lit('<link rel="canonical" href="https://c.example/'),
        did.cast("string"), F.lit('">'),
        F.lit('<meta property="og:title" content="og '),
        did.cast("string"), F.lit('">')))
    html = F.concat(
        F.lit('<html lang="'), F.col("lang"), F.lit('"><head><title>T'),
        did.cast("string"), F.lit("</title>"), head_opt,
        F.lit("</head><body><p>"), F.substring("text", 1, 30),
        F.lit("</p></body></html>"))
    m = page_metadata_cols(html)
    return d.select(
        "doc_id", m["title"].alias("title"),
        m["meta_description"].alias("meta_description"),
        m["canonical_href"].alias("canonical_href"),
        m["og_title"].alias("og_title"),
        m["html_lang"].alias("html_lang")).orderBy("doc_id")


# The four-stage curation composition: gates -> canonical-url
# dedup -> MinHash-LSH + recursive-CTE connected components ->
# packing.  Each stage's oracle is green standalone; this
# splices them so the COMPOSITION (plans/curate.py dataflow)
# sits under the value gate too.
@query(oracle=f"""
            with recursive
            {_gate_ctes("documents")},
            kept as (
              select d.doc_id, d.text, d.lang,
                'https://ex.org/' || d.source || '/' || d.doc_id as url
              from documents d join g using (doc_id)
              where g.g_gopher and g.g_spam and g.g_runaway and g.g_lang),
            c1 as (
              select doc_id, url,
                regexp_replace(trim(url), '#.*$', '') as frag
              from kept),
            c2 as (
              select doc_id, url,
                lower(regexp_extract(frag,
                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) as scheme,
                regexp_replace(frag,
                               '^[A-Za-z][A-Za-z0-9+.-]*://', '') as rest
              from c1),
            c3 as (
              select doc_id, url, scheme,
                regexp_replace(regexp_replace(regexp_replace(
                  lower(regexp_extract(rest, '^([^/?]*)', 1)),
                  ':(80|443)$', ''), '^www\\.', ''), '\\.$', '') as host,
                regexp_replace(rest, '^[^/?]*', '') as pathq
              from c2),
            c4 as (
              select doc_id, url, scheme, host,
                case when regexp_extract(pathq, '^([^?]*)', 1) = '' then '/'
                  else regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                                      '(.)/$', '\\1') end as path,
                array_to_string(list_sort(list_filter(
                  string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'),
                  q -> len(q) > 0 and not regexp_matches(q,
                       '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&')
                  as qnorm
              from c3),
            canon as (
              select doc_id, url,
                (case when scheme = '' then 'http' else scheme end)
                || '://' || host || path
                || (case when len(qnorm) > 0 then '?' || qnorm else '' end)
                  as canonical_url
              from c4),
            uniq as (
              select k.doc_id, k.text, k.lang
              from kept k join (
                select doc_id,
                  (url = min(url) over (partition by canonical_url))
                    as is_min
                from canon) m on m.doc_id = k.doc_id
              where m.is_min),
            {_minhash_ctes("uniq")},
            edges as (
              select doc_a as a, doc_b as b from j where jaccard >= 0.5
              union
              select doc_b, doc_a from j where jaccard >= 0.5
            ),
            reach(node, lbl) as (
              select a, a from edges
              union
              select e.a, r.lbl from edges e join reach r on r.node = e.b
            ),
            cc as (select node, min(lbl) as cluster_id
                   from reach group by node),
            surv as (
              select u.doc_id, u.text, u.lang
              from uniq u left join cc on cc.node = u.doc_id
              where coalesce(cc.cluster_id, u.doc_id) = u.doc_id),
            tok as (
              select doc_id, coalesce(lang, 'unknown') as grp,
                len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) as n_tokens
              from surv),
            off as (
              select doc_id, grp, n_tokens,
                sum(n_tokens) over (partition by grp order by doc_id
                                    rows unbounded preceding) - n_tokens
                  as start_offset
              from tok)
            select doc_id, grp, n_tokens::int as n_tokens,
                   start_offset::bigint as start_offset,
                   (start_offset // 2048)::int as bin
            from off order by grp, doc_id
        """)
def q_curate_pipeline(spark, sf_dir):
    """End-to-end curation plan (gate -> url dedup -> minhash survivors
    -> packing) over the documents table with deterministic synthetic
    urls.  Value-gated as one composition oracle: the four stage
    oracles (curation_pipeline gates, canonical-url window, MinHash-LSH
    + recursive-CTE connected components, packing window) spliced into
    a single DuckDB statement."""
    from deepseek_ocr_omnidocbench_spark.plans.curate import (
        run_curation_inline,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("https://ex.org/"), F.col("source"), F.lit("/"),
                 F.col("doc_id")).alias("url"),
        F.col("text").alias("markdown"),
        F.col("lang").alias("lang_pred"))
    return (run_curation_inline(docs, budget=2048)
            .orderBy("grp", "doc_id"))


@query(oracle=f"""
            with {_gate_ctes("documents")}
            select doc_id, g_gopher::int as g_gopher, g_spam::int as g_spam,
              g_runaway::int as g_runaway, g_lang::int as g_lang,
              (g_gopher and g_spam and g_runaway and g_lang)::int as keep,
              coalesce(array_to_string(list_filter(
                [case when not g_gopher then 'gopher' end,
                 case when not g_spam then 'spam' end,
                 case when not g_runaway then 'runaway' end,
                 case when not g_lang then 'lang' end],
                x -> x is not null), ','), '') as reasons
            from g order by doc_id
        """)
def q_curation_pipeline(spark, sf_dir):
    """FineWeb-style composite keep/drop decision (gopher + spam +
    runaway + predicted-lang gates in one scan-stage pass) with per-gate
    verdicts and a comma-joined failed-gate reasons string — every gate
    mirrored in SQL, so the composite sits under the value gate too."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        curation_pipeline,
    )

    return curation_pipeline(_docs(spark, sf_dir)).orderBy("doc_id")


_DSIR_LW_CTES = """
    tok as (select doc_id, {words} as ws from documents),
    feats as (
      select doc_id, unnest(list_concat(ws,
        [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])) as f
      from tok),
    fb as (select doc_id,
                  (('0x' || substr(md5(f), 1, 15))::bigint % 4096) as bucket
           from feats),
    dc as (select doc_id, bucket, count(*) as cnt from fb group by 1, 2),
    rawm as (select bucket, count(*) as c from fb group by bucket),
    rtot as (select sum(c)::double as t from rawm),
    tfb as (select fb.bucket from fb join documents d using (doc_id)
            where d.lang = 'en'),
    tgtm as (select bucket, count(*) as c from tfb group by bucket),
    ttot as (select sum(c)::double as t from tgtm),
    lw as (
      select dc.doc_id, sum(dc.cnt)::bigint as n_feats,
             sum(dc.cnt * (
               log10((coalesce(tm.c, 0) + 1)
                     / ((select t from ttot) + 4096.0))
               - log10((rm.c + 1) / ((select t from rtot) + 4096.0))))
               as logw
      from dc
      left join tgtm tm using (bucket)
      join rawm rm using (bucket)
      group by dc.doc_id),
    lwfull as (
      select d.doc_id, coalesce(lw.n_feats, 0) as n_feats,
             coalesce(lw.logw, 0.0) as logw
      from documents d left join lw using (doc_id))
"""


@query(oracle=f"""
            with {_DSIR_LW_CTES.format(words=_AZ09_WORDS)}
            select doc_id, n_feats, round(logw, 6) as logw
            from lwfull order by doc_id
        """)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (hashed unigram+bigram bucket models,
    target = the corpus's English slice, raw = full corpus) under the
    value gate: the md5 bucket hash, both smoothed models, the floor for
    target-unseen buckets and the per-doc weight sum are all mirrored in
    SQL."""
    from deepseek_ocr_omnidocbench_spark.operators import dsir as DS

    docs = _docs(spark, sf_dir)
    out = DS.dsir_log_weights(docs, docs.where(F.col("lang") == "en"),
                              n_buckets=4096, bucket_fn=DS.md5_bucket)
    return out.select("doc_id", "n_feats",
                      F.round("logw", R).alias("logw")).orderBy("doc_id")


@query(oracle=f"""
            with {_DSIR_LW_CTES.format(words=_AZ09_WORDS)},
            keyed as (
              select doc_id, n_feats, logw,
                     logw + (-ln(-ln(
                       ((('0x' || substr(md5(doc_id::varchar || ':7'),
                                         1, 15))::bigint)::double + 0.5)
                       / 1152921504606846976.0))) as gkey
              from lwfull)
            select doc_id, n_feats, round(logw, 6) as logw,
                   round(gkey, 6) as gkey
            from keyed order by gkey desc, doc_id asc limit 50
        """)
def q_dsir_sample(spark, sf_dir):
    """Gumbel-top-k importance resampling over the DSIR weights: the
    deterministic md5-derived Gumbel keys replay in SQL, so the sampled
    set itself is value-checked."""
    from deepseek_ocr_omnidocbench_spark.operators import dsir as DS

    docs = _docs(spark, sf_dir)
    w = DS.dsir_log_weights(docs, docs.where(F.col("lang") == "en"),
                            n_buckets=4096, bucket_fn=DS.md5_bucket)
    out = DS.gumbel_topk_sample(w, k=50)
    return out.select("doc_id", "n_feats",
                      F.round("logw", R).alias("logw"),
                      F.round("gkey", R).alias("gkey"))


@query(oracle="""
            with recursive links as (
              select 'h' || (doc_id % 20)::varchar as src,
                     'h' || ((doc_id * 7 + j) % 20)::varchar as dst
              from documents,
                   unnest(range(1, 2 + (doc_id % 3)::int)) as t(j)),
            e as (select distinct src, dst from links where src != dst),
            reach(s, n, dist) as (
              select src, dst, 1 from e
              union all
              select r.s, e.dst, r.dist + 1
              from reach r join e on e.src = r.n
              where r.dist < 4 and r.s != e.dst),
            md as (select s, n, min(dist) as dist from reach group by s, n)
            select n as node, round(sum(1.0 / dist), 6) as harmonic
            from md group by n order by node
        """)
def q_harmonic(spark, sf_dir):
    """Hop-truncated harmonic centrality (Common Crawl's companion
    signal to PageRank) over a deterministic self-linking host graph;
    the oracle closes shortest distances <= 4 with a recursive CTE and
    sums the same 1/d contributions."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import (
        harmonic_centrality,
    )

    return (harmonic_centrality(_harmonic_links(spark, sf_dir), max_hops=4)
            .orderBy("node"))


def _harmonic_links(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    links = (docs
             .select(F.concat(F.lit("h"), (did % 20).cast("string"))
                     .alias("src"),
                     F.explode(F.sequence(
                         F.lit(1), (F.lit(1) + did % 3).cast("int")))
                     .alias("j"), "doc_id")
             .select("src",
                     F.concat(F.lit("h"),
                              ((did * 7 + F.col("j")) % 20).cast("string"))
                     .alias("dst")))
    return links.distinct()


def _harmonic_sketch_oracle_sql(max_hops: int = 4, p: int = 8) -> str:
    incs = " + ".join(
        f"greatest(e{h}.e - e{h - 1}.e, 0) / {h}"
        for h in range(1, max_hops + 1))
    inc_joins = "".join(
        f"\n            join e{h} using (node)"
        for h in range(1, max_hops + 1))
    return _hyperball_oracle_prefix(max_hops, p) + f"""
        select e0.node, round({incs}, 6) as harmonic
        from e0{inc_joins}
        order by e0.node
    """


def _hyperball_oracle_prefix(max_hops: int = 4, p: int = 8) -> str:
    """Common DuckDB replay of the HyperBall core on q_harmonic's
    synthetic host graph (register-max hop updates unrolled s0..s{H},
    HLL estimator with identical double literals, md5 hash +
    bin()-length rho integer-exact): yields CTEs e0..e{H} with the
    per-node per-hop ball estimates.  Shared by the harmonic_sketch
    and neighborhood oracles (mirroring graph._hyperball_estimates)."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import _hll_alpha

    m = 1 << p
    amm = repr(_hll_alpha(m) * m * m)  # same double literal both sides
    wp = 60 - p
    hops = []
    ests = []
    est_body = f"""
              select node, count(*) as np,
                     sum(pow(2.0, -r)) as sp
              from {{src}} group by node"""
    est_sel = f"""
              select node,
                case when ({amm} / (sp + ({m} - np))) <= {2.5 * m}
                      and ({m} - np) > 0
                  then {float(m)!r} * ln({float(m)!r} / ({m} - np))
                  else {amm} / (sp + ({m} - np)) end as e
              from {{agg}}"""
    for h in range(1, max_hops + 1):
        hops.append(f"""
            s{h} as (
              select node, j, max(r) as r from (
                select node, j, r from s{h - 1}
                union all
                select e.dst as node, s.j, s.r
                from s{h - 1} s join e on e.src = s.node
              ) group by node, j)""")
    for h in range(0, max_hops + 1):
        ests.append(f"""
            a{h} as ({est_body.format(src=f's{h}')}),
            e{h} as ({est_sel.format(agg=f'a{h}')})""")
    return f"""
        with links as (
          select 'h' || (doc_id % 20)::varchar as src,
                 'h' || ((doc_id * 7 + j) % 20)::varchar as dst
          from documents,
               unnest(range(1, 2 + (doc_id % 3)::int)) as t(j)),
        e as (select distinct src, dst from links where src != dst),
        nodes as (select src as node from e
                  union select dst from e),
        h0 as (
          select node,
            ('0x' || substr(md5(node), 1, 15))::bigint as h
          from nodes),
        s0 as (
          select node, (h % {m})::int as j,
            (case when h // {m} = 0 then {wp + 1}
             else {wp} - (length(bin(h // {m})) - 1) end)::int as r
          from h0),
        {",".join(hops)},
        {",".join(ests)}"""


@query(oracle=_harmonic_sketch_oracle_sql())
def q_harmonic_sketch(spark, sf_dir):
    """HyperBall-sketched harmonic centrality (the 10^11-node page-graph
    variant of q_harmonic) on the same deterministic host graph.  The
    md5-derived register hash and bit-length rho make even this
    APPROXIMATE operator value-gated: the oracle unrolls the four
    register-max hops and replays the HLL estimator bit-for-bit;
    accuracy vs the exact operator is bound separately in
    tests/test_graph.py."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import (
        harmonic_sketch,
    )

    return (harmonic_sketch(_harmonic_links(spark, sf_dir),
                            max_hops=4, p=8)
            .orderBy("node"))


def _neighborhood_oracle_sql(max_hops: int = 4, p: int = 8,
                             frac_target: float = 0.9) -> str:
    per_hop = "\n          union all\n".join(
        f"          select {h}::bigint as hop,"
        f" sum(cast(floor(e * 1000000.0) as bigint))::bigint as n_micro"
        f" from e{h}"
        for h in range(0, max_hops + 1))
    return _hyperball_oracle_prefix(max_hops, p) + f""",
        mh as (
{per_hop}),
        mx as (select max(n_micro) as mm from mh),
        fr as (
          select hop, n_micro,
            n_micro::double / 1000000.0 as n_pairs,
            n_micro::double / mx.mm as frac
          from mh, mx)
        select hop, n_micro, n_pairs, frac,
          frac >= {frac_target!r} and coalesce(
            lag(frac) over (order by hop) < {frac_target!r}, true)
            as is_effective_diameter
        from fr order by hop
    """


@query(oracle=_neighborhood_oracle_sql())
def q_neighborhood(spark, sf_dir):
    """Neighborhood function + effective diameter via the shared
    HyperBall core (graph.neighborhood_function) on q_harmonic's host
    graph: per-hop reachable-pair totals folded as floor(e*1e6)
    integer micro-units (order-independent bigint sums), frac and
    n_pairs as single divisions, the 90% crossing flagged.  The
    oracle reuses the harmonic_sketch register replay with the
    neighborhood tail."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import (
        neighborhood_function,
    )

    return neighborhood_function(_harmonic_links(spark, sf_dir),
                                 max_hops=4, p=8, frac_target=0.9)


@query(oracle=f"""
            with recursive {_MINHASH_CTES},
            edges as (
              select doc_a as a, doc_b as b from j where jaccard >= 0.5
              union
              select doc_b, doc_a from j where jaccard >= 0.5
            ),
            reach(node, lbl) as (
              select a, a from edges
              union
              select e.a, r.lbl from edges e join reach r on r.node = e.b
            ),
            cc as (select node, min(lbl) as cluster_id
                   from reach group by node)
            select d.doc_id,
              coalesce(cc.cluster_id, d.doc_id) as cluster_id,
              (coalesce(cc.cluster_id, d.doc_id) = d.doc_id)::int
                as is_survivor
            from documents d left join cc on cc.node = d.doc_id
            order by d.doc_id
        """)
def q_dedup_clusters(spark, sf_dir):
    """Transitive dup-cluster resolution: md5 MinHash-LSH pairs
    (jaccard >= 0.5) -> distributed connected components -> min-id
    survivor per cluster, annotated over the FULL corpus.  The oracle
    replays the pair generation and closes the transitive closure with
    a recursive CTE, so the iterative Spark algorithm sits under the
    value-parity gate end to end."""
    docs = _docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(docs, k=8, bands=4,
                                  hash_fn=D.md5_hash64) \
        .where(F.col("jaccard") >= 0.5)
    return D.dedup_clusters(docs, pairs).orderBy("doc_id")


def _srp_oracle_sql(dim: int = 64, n_planes: int = 8, n_bands: int = 4,
                    threshold: float = 0.3) -> str:
    """DuckDB mirror of embedding_near_dups_srp: every dot product is an
    explicit left-associated 64-term sum, the same fold order Spark's
    aggregate() uses, so signs and cosines match bit-for-bit."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        deterministic_planes,
    )

    def dot_lit(vec_expr: str, plane: list) -> str:
        return " + ".join("%s[%d] * %s" % (vec_expr, i + 1, repr(x))
                          for i, x in enumerate(plane))

    band_exprs = []
    for b in range(n_bands):
        planes = deterministic_planes(dim, n_planes, seed=13 + b)
        bits = ["(case when (%s) >= 0 then 1 else 0 end)" % dot_lit("e", p)
                for p in planes]
        bucket = " + ".join("%s * %d" % (bit, 1 << (n_planes - 1 - i))
                            for i, bit in enumerate(bits))
        band_exprs.append(
            "select vec_id, %d as band, (%s)::bigint as bucket from v" % (b, bucket))

    dot_vv = " + ".join("va[%d] * vb[%d]" % (i, i) for i in range(1, dim + 1))
    norm = lambda e: "sqrt(%s)" % " + ".join(  # noqa: E731
        "%s[%d] * %s[%d]" % (e, i, e, i) for i in range(1, dim + 1))
    return f"""
        with v as (select vec_id, embedding::DOUBLE[] as e from embeddings),
        banded as ({" union all ".join(band_exprs)}),
        cand as (
          select distinct a.vec_id as vec_a, b.vec_id as vec_b
          from banded a join banded b on a.band = b.band and a.bucket = b.bucket
          where a.vec_id < b.vec_id
        ),
        p as (
          select vec_a, vec_b, va.e as va, vb.e as vb
          from cand join v va on va.vec_id = cand.vec_a
                    join v vb on vb.vec_id = cand.vec_b
        ),
        c as (select vec_a, vec_b,
                     ({dot_vv}) / ({norm("va")} * {norm("vb")}) as cosine
              from p)
        select vec_a, vec_b, round(cosine, 6) as cosine
        from c where cosine >= {threshold} order by vec_a, vec_b
    """


@query(oracle=_srp_oracle_sql())
def q_embedding_srp_oracle(spark, sf_dir):
    """SRP-banded embedding near-dups (the unlabeled 100 TB path) under
    the value-parity gate: hyperplanes are deterministic literals, so
    DuckDB reproduces bucket bits and cosines bit-exactly (left-fold
    sums on both sides)."""
    emb = _emb(spark, sf_dir)
    out = S.embedding_near_dups_srp(emb, dim=64, threshold=0.3,
                                    n_planes=8, n_bands=4)
    return out.select("vec_a", "vec_b",
                      F.round("cosine", R).alias("cosine")) \
        .orderBy("vec_a", "vec_b")


def _ivf_oracle_sql(dim: int = 64) -> str:
    def dot(a: str, b: str) -> str:
        return " + ".join("%s[%d] * %s[%d]" % (a, i, b, i)
                          for i in range(1, dim + 1))

    def norm(a: str) -> str:
        return "sqrt(%s)" % dot(a, a)

    return f"""
        with v as (select vec_id, embedding::DOUBLE[] as e from embeddings),
        c as (select vec_id as cell, e as ce from v where vec_id < 8),
        sims as (
          select v.vec_id, c.cell,
                 ({dot("v.e", "c.ce")}) / ({norm("v.e")} * {norm("c.ce")}) as sim
          from v cross join c),
        assign as (
          select vec_id, cell from (
            select vec_id, cell,
                   row_number() over (partition by vec_id
                                      order by sim desc, cell asc) as rn
            from sims) where rn = 1),
        probes as (
          select vec_id as query_id, cell from (
            select vec_id, cell,
                   row_number() over (partition by vec_id
                                      order by sim desc, cell desc) as rn
            from sims where vec_id < 5) where rn <= 2),
        scored as (
          select p.query_id, a.vec_id as neighbor_id,
                 ({dot("qv.e", "nv.e")}) / ({norm("qv.e")} * {norm("nv.e")})
                   as cosine
          from probes p
          join assign a on a.cell = p.cell and a.vec_id != p.query_id
          join v nv on nv.vec_id = a.vec_id
          join v qv on qv.vec_id = p.query_id),
        r as (
          select query_id, neighbor_id, cosine,
                 row_number() over (partition by query_id
                                    order by cosine desc, neighbor_id asc)
                   as rank
          from scored)
        select query_id, neighbor_id, rank, round(cosine, 6) as cosine
        from r where rank <= 5 order by query_id, rank
    """


@query(oracle=_ivf_oracle_sql())
def q_knn_ivf_oracle(spark, sf_dir):
    """IVF ANN dataflow (assign -> probe 2 cells -> exact rerank) under
    the value gate: coarse centroids are the first 8 corpus vectors
    (fixed, no k-means iteration — that part stays rows-only in
    knn_ivf), so DuckDB replays assignment, probing and rerank with
    left-fold dot products bit-for-bit."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import knn_ivf

    emb = _emb(spark, sf_dir)
    cents = [list(r["embedding"]) for r in
             emb.where(F.col("vec_id") < 8).orderBy("vec_id")
             .select("embedding").collect()]
    queries = emb.where(F.col("vec_id") < 5)
    out = knn_ivf(emb, queries, cents, k=5, n_probe=2)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", R).alias("cosine")) \
        .orderBy("query_id", "rank")


def _semdedup_oracle_sql(dim: int = 64, threshold: float = 0.32) -> str:
    def dot(a: str, b: str) -> str:
        return " + ".join("%s[%d] * %s[%d]" % (a, i, b, i)
                          for i in range(1, dim + 1))

    def norm(a: str) -> str:
        return "sqrt(%s)" % dot(a, a)

    return f"""
        with v as (select vec_id, embedding::DOUBLE[] as e from embeddings),
        c as (select vec_id as cell, e as ce from v where vec_id < 8),
        sims as (
          select v.vec_id, c.cell,
                 ({dot("v.e", "c.ce")}) / ({norm("v.e")} * {norm("c.ce")}) as sim
          from v cross join c),
        assign as (
          select vec_id, cell, round(sim, 6) as cell_sim from (
            select vec_id, cell, sim,
                   row_number() over (partition by vec_id
                                      order by sim desc, cell asc) as rn
            from sims) where rn = 1),
        dom as (
          select distinct a.vec_id as vid
          from assign a
          join assign b on a.cell = b.cell
          join v va on va.vec_id = a.vec_id
          join v vb on vb.vec_id = b.vec_id
          where (b.cell_sim < a.cell_sim
                 or (b.cell_sim = a.cell_sim and b.vec_id < a.vec_id))
            and ({dot("va.e", "vb.e")}) / ({norm("va.e")} * {norm("vb.e")})
                >= {threshold})
        select a.vec_id, a.cell, a.cell_sim,
               case when d.vid is null then 1 else 0 end as keep
        from assign a left join dom d on d.vid = a.vec_id
        order by a.vec_id
    """


@query(oracle=_semdedup_oracle_sql())
def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup under the value gate: fixed centroids
    (first 8 corpus vectors) make cluster assignment, the
    keep-low-centroid-similarity ordering and the within-cluster
    domination test all replayable in DuckDB bit-for-bit."""
    emb = _emb(spark, sf_dir)
    cents = [list(r["embedding"]) for r in
             emb.where(F.col("vec_id") < 8).orderBy("vec_id")
             .select("embedding").collect()]
    # synthetic embeddings are near-random (max intra-cell cosine
    # ~0.49), so like embedding_srp_oracle the gate threshold sits
    # below it to exercise the domination branch
    out = S.semdedup(emb, cents, threshold=0.32, kernel="column")
    return out.select("vec_id", "cell",
                      F.round("cell_sim", R).alias("cell_sim"),
                      F.col("keep").cast("int").alias("keep")) \
        .orderBy("vec_id")


@query(oracle=f"""
            with w as (
              select doc_id, unnest({_AZ09_WORDS}) as word from documents
            ),
            h as (select doc_id,
                         ('0x' || substr(md5(word), 1, 15))::bigint as hv
                  from w),
            v as (
              select doc_id, bit,
                     sum(case when (hv >> bit) & 1 = 1 then 1 else -1 end) as vote
              from h cross join (select unnest(range(16)) as bit) b
              group by doc_id, bit
            ),
            s as (select doc_id,
                         sum(case when vote > 0 then (1::bigint << bit)
                             else 0 end)::bigint as simhash16
                  from v group by doc_id)
            select d.doc_id, coalesce(s.simhash16, 0)::bigint as simhash16
            from documents d left join s using (doc_id) order by d.doc_id
        """)
def q_simhash_oracle(spark, sf_dir):
    """SimHash kernel with the md5-derived word hash DuckDB replicates
    exactly (16 bits keeps the oracle SQL readable; production
    simhash_near_pairs keeps xxhash64/64-bit)."""
    docs = _docs(spark, sf_dir)
    sim = D.simhash_col(F.col("text"), bits=16, hash_fn=D.md5_hash64)
    return docs.select("doc_id", sim.alias("simhash16")).orderBy("doc_id")


@query(oracle="""
            select source, count(*)::bigint as n_docs,
              count(*)::bigint as n_byte_identical
            from documents group by source order by source
        """)
def q_extraction_roundtrip(spark, sf_dir):
    """The north-rule invariant surfaced as a query: wrap text in noise
    HTML, extract, count byte-exact matches per source.  Oracle-backed:
    the ground truth is EXACTLY "every document extracts byte-identical
    and none is lost", so the oracle states per-source doc counts with
    n_byte_identical = n_docs — any extraction regression
    (dropped row, mutated byte) reds the value-hash gate."""
    docs = _docs(spark, sf_dir)
    wrap_udf = F.pandas_udf(_wrap_batch, "binary")
    pages = docs.select(F.col("doc_id").cast("string").alias("url"),
                        wrap_udf(F.col("text")).alias("html"), "text", "source")
    out = extract_pages(pages)
    joined = out.join(pages.select("url", "text", "source"), "url")
    return (
        joined.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum((F.coalesce("md", F.lit("")) == F.col("text")).cast("int")
                   ).alias("n_byte_identical"))
        .orderBy("source")
    )


@query(oracle="""
            with base as (
              select event_id, event_type,
                (user_id % 20)::int as img_id,
                value as x0, (event_id % 100)::double as y0,
                value + 30.0 as x1, (event_id % 100)::double + 30.0 as y1
              from events),
            s as (select img_id, event_id as span_id, x0, y0, x1, y1
                  from base where event_type = 'view'),
            b as (select img_id, event_id as block_id, x0, y0, x1, y1
                  from base where event_type = 'click'),
            pairs as (
              select s.img_id, s.span_id, b.block_id,
                greatest(least(s.x1, b.x1) - greatest(s.x0, b.x0), 0)
                  * greatest(least(s.y1, b.y1) - greatest(s.y0, b.y0), 0)
                  / (greatest(s.x1 - s.x0, 0) * greatest(s.y1 - s.y0, 0)) as ov
              from s join b on s.img_id = b.img_id
              where greatest(s.x1 - s.x0, 0) * greatest(s.y1 - s.y0, 0) > 0),
            ranked as (
              select img_id, span_id, block_id, ov,
                row_number() over (partition by img_id, span_id
                                   order by ov desc, block_id) as rk
              from pairs where ov >= 0.5)
            select img_id, span_id, block_id, round(ov, 6) as overlap
            from ranked where rk = 1
        """)
def q_span_block_assign(spark, sf_dir):
    """J8 spatial assignment, driven by deterministic bboxes derived from
    the events table: spans = view events, blocks = click events; each
    span keeps its best-overlap block within the same img."""
    from deepseek_ocr_omnidocbench_spark.operators.spatial import (
        assign_spans_to_blocks,
    )

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "event_type",
        F.pmod(F.col("user_id"), F.lit(20)).cast("int").alias("img_id"),
        F.array(
            F.col("value"), F.pmod(F.col("event_id"), F.lit(100)).cast("double"),
            F.col("value") + 30.0,
            F.pmod(F.col("event_id"), F.lit(100)).cast("double") + 30.0,
        ).alias("bbox"),
    )
    spans = base.where(F.col("event_type") == "view").select(
        F.col("img_id"), F.col("event_id").alias("span_id"), "bbox")
    blocks = base.where(F.col("event_type") == "click").select(
        F.col("img_id"), F.col("event_id").alias("block_id"), "bbox")
    return assign_spans_to_blocks(spans, blocks, min_overlap=0.5)


@query(oracle="""
            select doc_id,
              case when lang in ('true','false','yes','no') then null
                   else lang end as primary_language,
              ((doc_id % 4) * 90)::int as rotation_correction,
              1 as response_valid,
              length(text) as text_len
            from documents
        """)
def q_frontmatter_parse(spark, sf_dir):
    """P13 parse on synthesized front-matter blocks — identity oracle:
    the parsed fields must round-trip the constructed values."""
    from deepseek_ocr_omnidocbench_spark.operators.frontmatter import (
        parse_responses,
    )

    docs = _docs(spark, sf_dir)
    md = F.concat(
        F.lit("---\nprimary_language: "), F.col("lang"),
        F.lit("\nis_rotation_valid: true\nrotation_correction: "),
        (F.pmod(F.col("doc_id"), F.lit(4)) * 90).cast("string"),
        F.lit("\nis_table: false\nis_diagram: false\n---\n"), F.col("text"))
    df = docs.select("doc_id", md.alias("md"))
    parsed = parse_responses(df)
    return parsed.select(
        "doc_id", "primary_language", "rotation_correction",
        F.col("response_valid").cast("int").alias("response_valid"),
        F.length("natural_text").alias("text_len"),
    )


def _bleu_oracle_sql(max_n: int = 4) -> str:
    """DuckDB mirror of corpus BLEU per source for q_bleu_by_source.

    Precondition (asserted by the corpus): text is pure ``[a-z0-9 ]``,
    so mteval-13a tokenization degenerates to whitespace split and the
    oracle checks the BLEU computation itself — modified n-gram
    clipping, geometric mean, brevity penalty — value for value."""
    per_n = []
    joins = []
    for n in range(1, max_n + 1):
        gram = (f"[array_to_string(tk[i:i+{n - 1}], ' ') "
                f"for i in range(1, greatest(len(tk) - {n - 1}, 0) + 1)]")
        per_n.append(f"""
            p{n} as (select doc_id, gram, count(*) as c from (
                       select doc_id, unnest({gram.replace('tk', 'pt')}) as gram
                       from d2) group by doc_id, gram),
            r{n} as (select doc_id, gram, count(*) as c from (
                       select doc_id, unnest({gram.replace('tk', 'rt')}) as gram
                       from d2) group by doc_id, gram),
            s{n} as (select d2.source,
                       sum(greatest(len(pt) - {n - 1}, 0)) as total
                     from d2 group by d2.source),
            c{n} as (select d2.source,
                       sum(least(p{n}.c, coalesce(r{n}.c, 0))) as clipped
                     from p{n}
                     left join r{n} on r{n}.doc_id = p{n}.doc_id
                                   and r{n}.gram = p{n}.gram
                     join d2 on d2.doc_id = p{n}.doc_id
                     group by d2.source)""")
        joins.append(f"""
            left join s{n} on s{n}.source = lens.source
            left join c{n} on c{n}.source = lens.source""")
    log_terms = " + ".join(
        f"ln(c{n}.clipped::double / s{n}.total)" for n in range(1, max_n + 1))
    zero_guard = " or ".join(
        f"coalesce(s{n}.total, 0) = 0 or coalesce(c{n}.clipped, 0) = 0"
        for n in range(1, max_n + 1))
    return f"""
        with d2 as (
          select doc_id, source,
            list_filter(string_split(text, ' '), x -> len(x) > 0) as rt,
            list_filter(string_split(
              regexp_replace(text, '^\\S+\\s*', ''), ' '),
              x -> len(x) > 0) as pt
          from documents),
        lens as (select source, count(*) as n_docs,
                        sum(len(pt)) as pred_len, sum(len(rt)) as ref_len
                 from d2 group by source),
        {",".join(per_n)}
        select lens.source, lens.n_docs,
          round(case when lens.pred_len = 0 or {zero_guard} then 0.0
                else (case when lens.pred_len > lens.ref_len then 1.0
                      else exp(1 - lens.ref_len::double / lens.pred_len) end)
                     * exp(({log_terms}) / {max_n})
                end, 6) as bleu
        from lens {"".join(joins)}
        order by lens.source
    """


@query(oracle=_bleu_oracle_sql())
def q_bleu_by_source(spark, sf_dir):
    """A4 corpus BLEU per source group (pred = text minus first word),
    computed in applyInPandas workers — grouping is the Spark part."""
    from pyspark.sql import types as T

    from deepseek_ocr_omnidocbench_spark.functions.bleu import corpus_bleu

    docs = _docs(spark, sf_dir)
    d = docs.select("source", "text",
                    F.regexp_replace("text", r"^\S+\s*", "").alias("pred"))

    schema = T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("bleu", T.DoubleType()),
        T.StructField("n_docs", T.LongType()),
    ])

    def _group(pdf: pd.DataFrame) -> pd.DataFrame:
        score = corpus_bleu(list(pdf["pred"]), list(pdf["text"]))
        return pd.DataFrame([{"source": pdf["source"].iloc[0],
                              "bleu": round(score, 6), "n_docs": len(pdf)}])

    return d.groupBy("source").applyInPandas(_group, schema).orderBy("source")


def _wordpiece_oracle_sql(min_count: int = 1000, max_len: int = 6) -> str:
    """DuckDB mirror of q_wordpiece: the weighted positional-substring
    vocabulary (single-char floor included), a longest-match table per
    (word, position), and the greedy walk as a recursive CTE — exactly
    operators/bpe.py:wordpiece_vocab + wordpiece_encode."""
    return f"""
    with recursive wf as materialized (
      select w as word, count(*)::bigint as freq
      from (select unnest({_AZ09_WORDS}) as w from documents)
      group by w),
    subs as (
      select case when i.i = 1 then substring(word, i.i, l.l)
             else '##' || substring(word, i.i, l.l) end as piece, freq
      from wf,
           unnest(range(1, len(word) + 1)) as i(i),
           unnest(range(1, least({max_len}, len(word) - i.i + 1) + 1))
             as l(l)),
    vocab as materialized (
      select piece from (
        select piece, sum(freq)::bigint as c from subs group by piece)
      where c >= {min_count}
         or length(regexp_replace(piece, '^##', '')) = 1),
    starts as (
      select word, i.i as pos
      from wf, unnest(range(1, len(word) + 1)) as i(i)),
    matches as materialized (
      select word, pos, max(l) as best_l from (
        select s.word, s.pos, l.l as l,
               case when s.pos = 1 then substring(s.word, s.pos, l.l)
                    else '##' || substring(s.word, s.pos, l.l) end
                 as piece
        from starts s,
             unnest(range(1, least({max_len},
                                   len(s.word) - s.pos + 1) + 1))
               as l(l)) c
      join vocab v using (piece)
      group by word, pos),
    walk(word, pos, n, toks) as (
      select word, 1::bigint, 0::bigint, '' from wf
      union all
      select w.word, w.pos + m.best_l, w.n + 1,
             w.toks || case when w.toks = '' then '' else ' ' end ||
               case when w.pos = 1
                    then substring(w.word, w.pos::int, m.best_l::int)
                    else '##' || substring(w.word, w.pos::int,
                                           m.best_l::int) end
      from walk w join matches m on m.word = w.word and m.pos = w.pos
      where w.pos <= len(w.word))
    select f.word, wf.freq, f.n as n_pieces, f.toks as pieces
    from (select * from walk where pos = len(word) + 1) f
    join wf using (word)
    order by f.word
"""


@query(oracle=_wordpiece_oracle_sql())
def q_wordpiece(spark, sf_dir):
    """WordPiece tokenizer end to end: frequency vocabulary (weighted
    positional-substring counts with the single-char coverage floor)
    + greedy longest-match-first encode of every distinct corpus word
    -> (word, freq, n_pieces, pieces).  Deterministic set-membership
    semantics make both stages replay exactly in SQL (the greedy walk
    is a recursive CTE over a precomputed longest-match table)."""
    from deepseek_ocr_omnidocbench_spark.operators.bpe import (
        wordpiece_encode, wordpiece_vocab,
    )

    docs = _docs(spark, sf_dir)
    wf = (docs.select(F.explode(D.normalized_words(F.col("text")))
                      .alias("word"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    vocab = {r["piece"] for r in
             wordpiece_vocab(wf, min_count=1000, max_len=6).collect()}
    enc = wordpiece_encode(wf, vocab, text_col="word")
    return (enc.select("word", "freq",
                       F.col("wp_n").cast("long").alias("n_pieces"),
                       F.concat_ws(" ", "wp_tokens").alias("pieces"))
            .orderBy("word"))


def _chrf_oracle_sql(n_max: int = 6) -> str:
    """DuckDB mirror of q_chrf: per-order char-n-gram count tables on
    both sides (list-comprehension n-gram enumeration), one full-outer
    join, clipped-match / total aggregates per (doc, order), the
    realized-order precision/recall means, and the beta=2 F-fold —
    exactly functions/chrf.py."""
    hs, rs = [], []
    for n in range(1, n_max + 1):
        grams = (f"[substring(s, i, {n}) "
                 f"for i in range(1, len(s) - {n} + 2)]")
        hs.append(f"select doc_id, {n} as n, unnest("
                  f"{grams.replace('s,', 'h,').replace('(s)', '(h)')}"
                  f") as gram from t where len(h) >= {n}")
        rs.append(f"select doc_id, {n} as n, unnest("
                  f"{grams.replace('s,', 'r,').replace('(s)', '(r)')}"
                  f") as gram from t where len(r) >= {n}")
    return f"""
    with t as (
      select doc_id,
             regexp_replace(regexp_replace(text, '^\\S+\\s*', ''),
                            '\\s+', '', 'g') as h,
             regexp_replace(text, '\\s+', '', 'g') as r
      from documents),
    hg as materialized (
      select doc_id, n, gram, count(*)::bigint as ch
      from ({' union all '.join(hs)}) group by doc_id, n, gram),
    rg as materialized (
      select doc_id, n, gram, count(*)::bigint as cr
      from ({' union all '.join(rs)}) group by doc_id, n, gram),
    j as (
      select coalesce(hg.doc_id, rg.doc_id) as doc_id,
             coalesce(hg.n, rg.n) as n,
             coalesce(ch, 0) as ch, coalesce(cr, 0) as cr
      from hg full outer join rg
        on rg.doc_id = hg.doc_id and rg.n = hg.n and rg.gram = hg.gram),
    po as (
      select doc_id, n, sum(least(ch, cr))::bigint as m,
             sum(ch)::bigint as th, sum(cr)::bigint as tr
      from j group by doc_id, n),
    pr as (
      select doc_id, avg(m::double / th::double) as p,
             avg(m::double / tr::double) as r
      from po where th > 0 and tr > 0 group by doc_id)
    select d.doc_id,
           round(coalesce(
             case when pr.p + pr.r > 0
                  then (5.0::double * pr.p * pr.r)
                       / (4.0::double * pr.p + pr.r)
                  else 0.0::double end, 0.0::double), 6) as chrf
    from documents d left join pr using (doc_id)
    order by d.doc_id
"""


@query(oracle=_chrf_oracle_sql())
def q_chrf(spark, sf_dir):
    """A4-family chrF2 (Popović 2015) per document on the BLEU fixture
    (pred = text minus first word) — the tokenizer-free member of the
    metric family, and unlike the BLEU/METEOR Python kernels it is
    pure Columns end to end (n-gram explode, one full-outer count
    join, two aggs), so the whole metric replays in SQL."""
    from deepseek_ocr_omnidocbench_spark.functions.chrf import chrf_scores

    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "text",
                    F.regexp_replace("text", r"^\S+\s*", "")
                    .alias("pred"))
    return (chrf_scores(d, "pred", "text", id_col="doc_id")
            .select("doc_id", F.round("chrf", 6).alias("chrf"))
            .orderBy("doc_id"))


def _meteor_oracle_sql() -> str:
    """DuckDB mirror of the reduced-form (exact-match stage) METEOR in
    functions/meteor.py for q_meteor_by_source.

    Same tokenization precondition as the BLEU oracle (text is pure
    ``[a-z0-9 ]`` so 13a degenerates to whitespace split).  The greedy
    last-occurrence alignment decomposes per word: the i-th-LARGEST hyp
    position of word w pairs with the i-th-largest ref position of w,
    for i <= min(count_h, count_r) — two descending row_number windows
    joined on (word, rank).  Chunks = matched pairs (hi, ri) whose
    predecessor (hi-1, ri-1) is not itself matched.  The documented
    stem/synonym divergence vs nltk remains; THIS reduced form is what
    both sides compute."""
    return """
        with d2 as (
          select doc_id, source,
            list_filter(string_split(text, ' '), x -> len(x) > 0) as rt,
            list_filter(string_split(
              regexp_replace(text, '^\\S+\\s*', ''), ' '),
              x -> len(x) > 0) as pt
          from documents),
        hp as (select doc_id, i as pos, pt[i] as word
               from d2, unnest(generate_series(1, len(pt))) as u(i)),
        rp as (select doc_id, i as pos, rt[i] as word
               from d2, unnest(generate_series(1, len(rt))) as u(i)),
        hr as (select doc_id, word, pos,
                 row_number() over (partition by doc_id, word
                                    order by pos desc) as rk
               from hp),
        rr as (select doc_id, word, pos,
                 row_number() over (partition by doc_id, word
                                    order by pos desc) as rk
               from rp),
        pairs as (select hr.doc_id, hr.pos as hi, rr.pos as ri
                  from hr join rr on rr.doc_id = hr.doc_id
                                 and rr.word = hr.word and rr.rk = hr.rk),
        ch as (select p.doc_id, count(*) as m,
                 sum(case when q.hi is null then 1 else 0 end) as chunks
               from pairs p
               left join pairs q on q.doc_id = p.doc_id
                                and q.hi = p.hi - 1 and q.ri = p.ri - 1
               group by p.doc_id),
        sc as (select d2.source,
                 case when coalesce(ch.m, 0) = 0 then 0.0
                   else (1 - 0.5 * pow(ch.chunks::double / ch.m, 3))
                        * ((ch.m::double / len(pt))
                           * (ch.m::double / len(rt)))
                        / (0.9 * (ch.m::double / len(pt))
                           + 0.1 * (ch.m::double / len(rt)))
                 end as s
               from d2 left join ch using (doc_id))
        select source, round(avg(s), 6) as meteor,
               count(*)::bigint as n_docs
        from sc group by source order by source
    """


@query(oracle=_meteor_oracle_sql())
def q_meteor_by_source(spark, sf_dir):
    """A4 mean METEOR per source group (pred = text minus first word),
    computed in applyInPandas workers — grouping is the Spark part."""
    from pyspark.sql import types as T

    from deepseek_ocr_omnidocbench_spark.functions.meteor import corpus_meteor

    docs = _docs(spark, sf_dir)
    d = docs.select("source", "text",
                    F.regexp_replace("text", r"^\S+\s*", "").alias("pred"))

    schema = T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("meteor", T.DoubleType()),
        T.StructField("n_docs", T.LongType()),
    ])

    def _group(pdf: pd.DataFrame) -> pd.DataFrame:
        # corpus_meteor(preds, refs) — METEOR is asymmetric (alpha=0.9
        # weights recall), so the stripped prediction goes FIRST
        score = corpus_meteor(list(pdf["pred"]), list(pdf["text"]))
        return pd.DataFrame([{"source": pdf["source"].iloc[0],
                              "meteor": round(score, 6), "n_docs": len(pdf)}])

    return d.groupBy("source").applyInPandas(_group, schema).orderBy("source")


def _rule_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.col("doc_id").cast("string").alias("url"), "text",
                    F.regexp_extract("text", "[a-z]{4,}", 0).alias("w"))
        .where(F.col("w") != "")
    )


@query(oracle="""
            with d as (
              select cast(doc_id as varchar) as url, text,
                     regexp_extract(text, '[a-z]{4,}') as w
              from documents
              where regexp_extract(text, '[a-z]{4,}') <> ''
            ),
            r as (
              select url, 'p-' || url as rule_id, 'present' as rule_type,
                     (strpos(text, case when cast(url as bigint) % 2 = 0
                                        then w else reverse(w) end) > 0)::int
                       as passed from d
              union all
              select url, 'a-' || url as rule_id, 'absent' as rule_type,
                     (strpos(text, w || 'qz') = 0)::int as passed from d
            )
            select url, rule_id, rule_type, passed from r order by rule_id
        """)
def q_rule_presence(spark, sf_dir):
    """Rule-check operator (olmocr bench/tests.py port) on derived
    presence/absence rules with exact-substring semantics, so DuckDB can
    oracle the verdicts: present(first word) on even doc ids (passes),
    present(reversed word) on odd ids (mostly fails), absent(word+'qz')
    always holds — mixed verdicts, exact parity."""
    from deepseek_ocr_omnidocbench_spark.operators.rule_checks import rule_checks

    d = _rule_docs(spark, sf_dir)
    pres_q = F.when(F.col("url").cast("long") % 2 == 0, F.col("w")) \
        .otherwise(F.reverse("w"))
    rules = (
        d.select("url",
                 F.concat(F.lit("p-"), F.col("url")).alias("rule_id"),
                 F.lit("present").alias("rule_type"),
                 F.to_json(F.struct(pres_q.alias("text"))).alias("params"))
        .unionByName(
            d.select("url",
                     F.concat(F.lit("a-"), F.col("url")).alias("rule_id"),
                     F.lit("absent").alias("rule_type"),
                     F.to_json(F.struct(F.concat(F.col("w"), F.lit("qz"))
                                        .alias("text"))).alias("params")))
    )
    out = rule_checks(d, rules, text_col="text", url_col="url")
    return out.select("url", "rule_id", "rule_type",
                      F.col("passed").cast("int").alias("passed")) \
        .orderBy("rule_id")


@query(oracle=None)
def q_rule_checks(spark, sf_dir):
    """Full rule suite (present/absent/order/table/baseline) over the
    documents table — per-type pass tallies.  Table rules run against a
    synthesized pipe table per doc; baseline flags CJK docs (disallowed
    charset) and short/empty docs, mirroring the reference's QA run."""
    from deepseek_ocr_omnidocbench_spark.operators.rule_checks import rule_checks

    d = _rule_docs(spark, sf_dir)
    md = F.concat(F.lit("| h1 | h2 |\n| --- | --- |\n| "), F.col("w"),
                  F.lit(" | x |\n\n"), F.col("text"))
    d = d.withColumn("content", md)
    last_w = F.regexp_extract("text", "([a-z]{4,})$", 1)
    odd = F.col("url").cast("long") % 2 == 1
    rules = None
    for rid, rtype, params in [
        # odd ids get rules designed to fail -> mixed verdicts per type
        ("order", "order", F.to_json(F.struct(
            F.when(odd, F.reverse("w")).otherwise(F.col("w")).alias("before"),
            F.coalesce(F.nullif(last_w, F.lit("")), F.col("w")).alias("after")))),
        ("table", "table", F.to_json(F.struct(
            F.col("w").alias("cell"),
            F.when(odd, F.lit("h2")).otherwise(F.lit("h1")).alias("top_heading")))),
        ("baseline", "baseline", F.to_json(F.struct(F.lit(2).alias("max_repeats")))),
        ("present", "present", F.to_json(F.struct(
            F.when(odd, F.reverse("w")).otherwise(F.col("w")).alias("text")))),
    ]:
        r = d.select("url", F.concat(F.lit(rid + "-"), F.col("url")).alias("rule_id"),
                     F.lit(rtype).alias("rule_type"), params.alias("params"))
        rules = r if rules is None else rules.unionByName(r)
    out = rule_checks(d, rules, text_col="content", url_col="url")
    return (
        out.groupBy("rule_type")
        .agg(F.count(F.lit(1)).alias("n_rules"),
             F.sum(F.col("passed").cast("int")).alias("n_passed"))
        .orderBy("rule_type")
    )


@query(oracle=None)
def q_extract_pipeline(spark, sf_dir):
    """North-star pipeline end-to-end on deterministic synthetic pages:
    filter -> sniff/extract/explode -> assemble with page spans.  Returns
    per-category doc counts + byte-identity tally for the html side."""
    import pyarrow as pa

    from deepseek_ocr_omnidocbench_spark.plans.extract_pipeline import (
        run_pipeline_inline,
    )
    from deepseek_ocr_omnidocbench_spark.sources.pages import (
        PAGES_ARROW_SCHEMA,
        generate_pages,
    )

    rows = generate_pages(100, seed=17)
    pdf = pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA).to_pandas()
    pages = spark.createDataFrame(pdf)
    docs = run_pipeline_inline(pages)
    joined = docs.join(pages.select("url", "text", "category"), "url")
    return (
        joined.groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(((F.col("category") != "pdfish")
                    & (F.col("markdown") == F.col("text"))).cast("int")
                   ).alias("n_byte_identical"),
             F.sum("n_pages").alias("n_pages"))
        .orderBy("category")
    )


# value-gated twin: q_knn_ivf_oracle (err "no_oracle" here is no coverage gap)
@query(oracle=None)
def q_knn_ivf(spark, sf_dir):
    """IVF approximate knn: mini-kmeans coarse centroids (deterministic
    init), probe 2 cells per query, exact rerank inside the probed
    cells.  Rows-only: the iterative training isn't SQL-expressible."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        knn_ivf,
        train_ivf_centroids,
    )

    emb = _emb(spark, sf_dir)
    cents = train_ivf_centroids(emb, k=4, iters=2)
    queries = emb.where(F.col("vec_id") < 5)
    out = knn_ivf(emb, queries, cents, k=5, n_probe=2)
    return out.select("query_id", "neighbor_id", "rank",
                      F.round("cosine", R).alias("cosine"))


def _detection_map_oracle_sql() -> str:
    """DuckDB mirror of q_detection_map (round-5 conversion of A11 from
    rows-only to a full value oracle): the COCO greedy matcher runs as
    a recursive CTE — one step per prediction in (score desc, bbox)
    order, the taken-GT set carried as a list, the best free GT chosen
    by a correlated LATERAL (iou desc, gi) — and the 101-point
    interpolated AP as window math (cumulative TP/FP, right-to-left
    precision envelope, first-k-at-recall lookup).  Exactly the
    arithmetic of operators/detection.py, which sorts groups
    deterministically for this purpose."""
    from deepseek_ocr_omnidocbench_spark.operators.detection import (
        IOU_THRESHOLDS,
    )

    thr_list = ", ".join(repr(t) for t in IOU_THRESHOLDS)
    ti_list = ", ".join(str(i) for i in range(len(IOU_THRESHOLDS)))
    return f"""
        with recursive base as (
          select event_id, event_type,
            (user_id % 10)::varchar as img_id,
            case when event_id % 3 = 0 then 'text' else 'figure' end
              as category,
            [value, (event_id % 50)::double,
             value + 40.0, (event_id % 50)::double + 40.0] as bbox,
            (event_id % 100) / 100.0 as score
          from events),
        gt as materialized (
          select img_id, category, bbox,
            row_number() over (partition by img_id, category
              order by bbox[1], bbox[2], bbox[3], bbox[4]) as gi
          from base where event_type = 'view'),
        pr as materialized (
          select img_id, category, bbox, score,
            row_number() over (partition by img_id, category
              order by score desc, bbox[1], bbox[2], bbox[3], bbox[4]) as pi
          from base where event_type = 'click'),
        iou as materialized (
          select g.img_id, g.category, g.gi, p.pi,
            case when (x.ga + x.pa - x.inter) > 0
              then x.inter / (x.ga + x.pa - x.inter) else 0.0 end as iou
          from gt g
          join pr p on g.img_id = p.img_id and g.category = p.category
          cross join lateral (select
            greatest(least(g.bbox[3], p.bbox[3])
                     - greatest(g.bbox[1], p.bbox[1]), 0.0)
            * greatest(least(g.bbox[4], p.bbox[4])
                       - greatest(g.bbox[2], p.bbox[2]), 0.0) as inter,
            greatest(g.bbox[3] - g.bbox[1], 0.0)
            * greatest(g.bbox[4] - g.bbox[2], 0.0) as ga,
            greatest(p.bbox[3] - p.bbox[1], 0.0)
            * greatest(p.bbox[4] - p.bbox[2], 0.0) as pa) x),
        npred as materialized (
          select img_id, category, count(*) as np from pr group by 1, 2),
        thrs as (select unnest([{thr_list}]) as thr,
                        unnest([{ti_list}]) as ti),
        ngt as materialized (
          select category, count(*)::bigint as n_gt from gt group by 1),
        -- per (group, threshold, prediction): GTs above the threshold,
        -- best-first.  The recursion then just takes the first not-yet-
        -- taken entry via a row-local lambda — a correlated LATERAL in
        -- the recursive term silently mis-correlates in DuckDB 1.0
        cand as materialized (
          select i.img_id, i.category, t.ti, i.pi,
            list(i.gi order by i.iou desc, i.gi) as cands
          from iou i join thrs t on i.iou >= t.thr
          group by i.img_id, i.category, t.ti, i.pi),
        rec as (
          select n.img_id, n.category, t.ti, 0::bigint as pi,
                 []::bigint[] as taken, []::int[] as tps
          from npred n cross join thrs t
          union all
          select r.img_id, r.category, r.ti, r.pi + 1,
            case when len(coalesce(list_filter(c.cands,
                   g -> not list_contains(r.taken, g)), [])) > 0
              then list_append(r.taken, list_filter(c.cands,
                     g -> not list_contains(r.taken, g))[1])
              else r.taken end,
            list_append(r.tps,
              case when len(coalesce(list_filter(c.cands,
                     g -> not list_contains(r.taken, g)), [])) > 0
                then 1 else 0 end)
          from rec r
          join npred n on n.img_id = r.img_id and n.category = r.category
          left join cand c on c.img_id = r.img_id
            and c.category = r.category and c.ti = r.ti
            and c.pi = r.pi + 1
          where r.pi < n.np),
        fin as materialized (
          select r.img_id, r.category, r.ti, r.tps
          from rec r
          join npred n on n.img_id = r.img_id and n.category = r.category
          where r.pi = n.np),
        det as (
          select f.category, f.ti, f.img_id,
            unnest(range(1, len(f.tps) + 1)) as pi,
            unnest(f.tps) as tp
          from fin f),
        ordered as (
          select d.category, d.ti, d.tp, p.score, d.img_id, d.pi,
            row_number() over (partition by d.category, d.ti
              order by p.score desc, d.img_id, d.pi) as k
          from det d
          join pr p on p.img_id = d.img_id and p.category = d.category
                   and p.pi = d.pi),
        curve as (
          select o.category, o.ti, o.k,
            (sum(o.tp) over (partition by o.category, o.ti order by o.k)
             )::double / g.n_gt as recall,
            (sum(o.tp) over (partition by o.category, o.ti order by o.k)
             )::double / o.k as prec
          from ordered o join ngt g using (category)),
        env as materialized (
          select category, ti, k, recall,
            max(prec) over (partition by category, ti order by k
              rows between current row and unbounded following) as prec_env
          from curve),
        rp as (select unnest(range(101)) / 100.0 as r),
        apr as (
          select ct.category, ct.ti, rp.r,
            (select e.prec_env from env e
              where e.category = ct.category and e.ti = ct.ti
                and e.recall >= rp.r
              order by e.k limit 1) as p
          from (select g.category, t.ti from ngt g cross join thrs t) ct
          cross join rp),
        ap as (
          select category, ti, avg(coalesce(p, 0.0)) as ap
          from apr group by 1, 2),
        percat as materialized (
          select g.category, g.n_gt,
            round(max(case when a.ti = 0 then a.ap end), 6) as ap50,
            round(max(case when a.ti = 5 then a.ap end), 6) as ap75,
            round(avg(a.ap), 6) as map
          from ap a join ngt g using (category)
          group by g.category, g.n_gt)
        select category, n_gt, ap50, ap75, map from percat
        union all
        select 'ALL', (select sum(n_gt)::bigint from percat),
          round((select avg(ap50) from percat), 6),
          round((select avg(ap75) from percat), 6),
          round((select avg(map) from percat), 6)
    """


@query(oracle=_detection_map_oracle_sql())
def q_detection_map(spark, sf_dir):
    """COCO-style layout-detection mAP (A11) on deterministic synthetic
    detections derived from events: view events are ground truth, click
    events are predictions (score from value).  VALUE-GATED (round-5
    conversion from rows-only): the greedy matcher replays in DuckDB as
    a recursive CTE over best-first candidate lists and the 101-point
    AP as window math (_detection_map_oracle_sql); the operator sorts
    groups deterministically so both engines break ties identically."""
    from deepseek_ocr_omnidocbench_spark.operators.detection import detection_map

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "event_type",
        F.pmod(F.col("user_id"), F.lit(10)).cast("int").alias("img_id"),
        F.when(F.pmod("event_id", F.lit(3)) == 0, F.lit("text"))
        .otherwise(F.lit("figure")).alias("category"),
        F.array(F.col("value"),
                F.pmod(F.col("event_id"), F.lit(50)).cast("double"),
                F.col("value") + 40.0,
                F.pmod(F.col("event_id"), F.lit(50)).cast("double") + 40.0
                ).alias("bbox"),
        (F.pmod(F.col("event_id"), F.lit(100)) / 100.0).alias("score"),
    )
    gt = base.where(F.col("event_type") == "view").select("img_id", "category", "bbox")
    preds = base.where(F.col("event_type") == "click").select(
        "img_id", "category", "bbox", "score")
    return spark.createDataFrame(detection_map(gt, preds))


@query(oracle="""
            with p as (
              select doc_id,
                case when doc_id % 2 = 0 then 'text' else 'formula' end
                  as category_type,
                text as gt,
                case when doc_id % 2 = 0
                  then regexp_replace(text, 'table', 'tab1e', 'g')
                  else upper(text) end as pred
              from documents),
            n as (
              select category_type,
                case when category_type = 'text'
                  then regexp_replace(gt, '[^a-zA-Z0-9_]+', '', 'g')
                  else lower(replace(gt, ' ', '')) end as ng,
                case when category_type = 'text'
                  then regexp_replace(pred, '[^a-zA-Z0-9_]+', '', 'g')
                  else lower(replace(pred, ' ', '')) end as np
              from p),
            s as (
              select category_type, levenshtein(ng, np) as edit_num,
                greatest(length(ng), length(np)) as upper_len from n)
            select category_type,
              round(avg(case when upper_len > 0
                        then edit_num::double / upper_len else 0.0 end), 6)
                as edit_sample_avg,
              round(sum(edit_num)::double / sum(upper_len), 6) as edit_whole,
              count(*) as n_samples
            from s group by category_type order by category_type
        """)
def q_recognition_report(spark, sf_dir):
    """Recognition-task scoring (block-granularity gt/pred pairs) over
    deterministic pairs derived from documents.  Oracle-checked: on this
    ASCII corpus the 'text' normalizer (clean_string∘textblock2unicode)
    reduces to dropping non-word chars and the 'formula' normalizer
    (normalized_formula) to lowercase + space removal, both expressible
    in DuckDB SQL.  Preds plant real edits: even docs substitute
    'table'→'tab1e' (survives the text normalizer), odd docs uppercase
    (erased by the formula normalizer's lowering → edit 0)."""
    from deepseek_ocr_omnidocbench_spark.plans.recognition import (
        recognition_report,
        score_recognition,
    )

    docs = _docs(spark, sf_dir)
    pairs = docs.select(
        F.col("doc_id").cast("string").alias("img_id"),
        F.when(F.pmod("doc_id", F.lit(2)) == 0, F.lit("text"))
        .otherwise(F.lit("formula")).alias("category_type"),
        F.col("text").alias("gt"),
        F.when(F.pmod("doc_id", F.lit(2)) == 0,
               F.regexp_replace("text", "table", "tab1e"))
        .otherwise(F.upper("text")).alias("pred"),
    )
    return recognition_report(score_recognition(pairs))


@query(oracle="""
            -- replay of the md2md fixture pipeline: sanitize (as the md
            -- writer does), three records per page (title, paragraph,
            -- reading order), text normalizer = drop non-word chars,
            -- levenshtein, per-page ratio then class average
            with d as (
              select doc_id,
                regexp_replace(text, '[^A-Za-z0-9 .,]+', ' ', 'g') as para
              from documents order by doc_id limit 12),
            recs as (
              select doc_id, 'text_block' as element_class,
                     0 as edit_num,
                     length('Doc' || doc_id) as upper_len
              from d
              union all
              select doc_id, 'text_block',
                levenshtein(ng, np), greatest(length(ng), length(np))
              from (
                select doc_id,
                  regexp_replace(para, '[^a-zA-Z0-9_]+', '', 'g') as ng,
                  regexp_replace(
                    case when doc_id % 2 = 0 then para
                    else regexp_replace(regexp_replace(regexp_replace(
                           para, 'a', 'e'), 'a', 'e'), 'a', 'e') end,
                    '[^a-zA-Z0-9_]+', '', 'g') as np
                from d)
              union all
              select doc_id, 'reading_order', 0, 1 from d),
            per_page as (
              select element_class, doc_id,
                sum(edit_num)::double / sum(upper_len) as page_ratio,
                count(*) as n_samples
              from recs where upper_len > 0
              group by element_class, doc_id)
            select element_class,
              sum(n_samples)::bigint as n_samples,
              round(avg(page_ratio), 6) as page_avg_edit
            from per_page group by element_class
            order by element_class
        """)
def q_md2md_report(spark, sf_dir):
    """md2md task end-to-end, VALUE-GATED (round-5 conversion from
    rows-only): both sides are markdown folders written from
    documents.text (sanitized to one title + one plain paragraph per
    page so the span inventory is deterministic), scanned, span-parsed
    and stream-matched, then reported.  On this fixture the pipeline's
    arithmetic reduces exactly in SQL: 1:1 title/paragraph pairing,
    the text normalizer = drop-non-word-chars (same reduction the
    recognition_report oracle pinned), levenshtein, and the per-page
    ratio average — DuckDB replays all of it from the documents
    table."""
    import os
    import re
    import tempfile

    from deepseek_ocr_omnidocbench_spark.plans.md2md import md2md_evaluate

    docs = _docs(spark, sf_dir).orderBy("doc_id").limit(12).collect()
    base = tempfile.mkdtemp(prefix="md2md_")
    gt_dir, pred_dir = os.path.join(base, "gt"), os.path.join(base, "pred")
    os.makedirs(gt_dir), os.makedirs(pred_dir)
    for r in docs:
        # sanitize so the body stays ONE text paragraph (no markdown
        # metacharacters / blank lines that would change the span count)
        para = re.sub(r"[^A-Za-z0-9 .,]+", " ", r["text"])
        body = "# Doc %d\n\n%s\n" % (r["doc_id"], para)
        with open(os.path.join(gt_dir, "d%04d.md" % r["doc_id"]), "w") as f:
            f.write(body)
        pred = body if r["doc_id"] % 2 == 0 else body.replace("a", "e", 3)
        with open(os.path.join(pred_dir, "d%04d.md" % r["doc_id"]), "w") as f:
            f.write(pred)
    res = md2md_evaluate(spark, gt_dir, pred_dir)
    rows = [{"element_class": k, "n_samples": int(v["n_samples"]),
             "page_avg_edit": round(float(v["page_avg_edit"]), 6)}
            for k, v in sorted(res["edit_dist"].items())]
    return spark.createDataFrame(rows)


@query(oracle=None)
def q_eval_fixture_report(spark, sf_dir):
    """Full matching+metrics harness on deterministic synthetic pages."""
    from deepseek_ocr_omnidocbench_spark.operators.eval_harness import match_elements
    from deepseek_ocr_omnidocbench_spark.operators.metrics_report import (
        arbitrate_tables,
        edit_dist_report,
        score_samples,
    )
    from deepseek_ocr_omnidocbench_spark.plans.evaluate import fixture_frames

    gt, _pages, preds = fixture_frames(spark, n_pages=10, seed=3, perturb=1.0)
    matches = match_elements(gt, preds)
    scored = score_samples(arbitrate_tables(matches))
    rep = edit_dist_report(scored)
    return rep.select(
        "element_class", "n_samples",
        F.round("page_avg_edit", R).alias("page_avg_edit"),
        F.round("edit_whole", R).alias("edit_whole"),
    )


@query(oracle="""
            with w as (
              select doc_id,
                list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> len(x) > 0) as w
              from documents),
            sh as (
              select doc_id,
                case when len(w) < 5 then [array_to_string(w, ' ')]
                else list_distinct([array_to_string(w[i:i+4], ' ')
                                    for i in range(1, len(w) - 3)]) end as sh
              from w),
            b as (select distinct unnest(sh) as s from sh
                  where doc_id % 37 = 0),
            c as (select doc_id, unnest(sh) as s from sh),
            h as (
              select c.doc_id, count(*) as n_ngrams,
                sum(case when b.s is not null then 1 else 0 end)::bigint
                  as n_hit
              from c left join b on c.s = b.s
              group by c.doc_id),
            m as (
              select doc_id, n_ngrams, n_hit,
                case when n_ngrams > 0
                  then n_hit::double / n_ngrams else 0.0 end as contam
              from h)
            select doc_id, n_ngrams, n_hit,
              round(contam, 6) as contamination,
              (contam >= 0.8)::int as is_contaminated
            from m order by doc_id
        """)
def q_contamination(spark, sf_dir):
    """Benchmark n-gram contamination check (GPT-3 appendix C style,
    n=5 here so the small synthetic docs produce several n-grams): the
    benchmark set is every 37th document's text — those docs score 1.0,
    the rest whatever they share by chance; value-parity with DuckDB."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        ngram_contamination)

    docs = _docs(spark, sf_dir)
    benchmark = docs.where(F.pmod("doc_id", F.lit(37)) == 0).select("text")
    out = ngram_contamination(docs, benchmark, n=5, threshold=0.8)
    return out.select("doc_id", "n_ngrams", "n_hit",
                      F.round("contamination", R).alias("contamination"),
                      "is_contaminated").orderBy("doc_id")


@query(oracle="""
            with q(lang, quota) as (values
              ('en', 40), ('zh', 25), ('de', 10), ('es', 5), ('fr', 5)),
            r as (
              select doc_id, lang,
                row_number() over (
                  partition by lang
                  order by md5('7:' || doc_id), doc_id) as rk
              from documents)
            select doc_id, lang from r join q using (lang)
            where rk <= quota order by doc_id
        """)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language mixture sampling (corpus mixing with
    exact quotas): reproducible rank = row_number over xxhash64(seed,
    doc_id) within each lang; value-parity with the same window in
    DuckDB via Spark's xxhash64 mirrored as a precomputed column."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        stratified_sample)

    docs = _docs(spark, sf_dir)
    quotas = {"en": 40, "zh": 25, "de": 10, "es": 5, "fr": 5}
    out = stratified_sample(docs, strata_col="lang", quotas=quotas, seed=7)
    return out.select("doc_id", "lang").orderBy("doc_id")


@query(oracle=None)
def q_cdm_match(spark, sf_dir):
    """Renderer-free CDM formula scoring (cdm_metric.py:96-147): Hungarian
    token-box match + iterated RANSAC affine inlier filter + token filter
    → per-formula R/P/F1.  Token boxes come from a deterministic
    synthetic fixture standing in for the container-blocked LaTeX
    renderer; the kernel itself (assignment, RANSAC, scoring) is the
    production path.  rows-only: the Hungarian+RANSAC pipeline is not
    SQL-expressible (pytest covers hand-computed fixture F1s)."""
    from deepseek_ocr_omnidocbench_spark.operators.cdm_match import (
        cdm_match_report, synthetic_formula_boxes)

    boxes = synthetic_formula_boxes(spark, n_formulas=40)
    return cdm_match_report(boxes).orderBy("formula_id")


@query(oracle=r"""
            with words as (
              select unnest(regexp_split_to_array(trim(text), '\s+')) as word
              from documents),
            wf as (
              select word, count(*) as freq from words
              where word <> '' group by word),
            syms as (
              select freq,
                list_append(string_split(word, ''), '</w>') as s
              from wf),
            p0 as (
              select freq, unnest(
                [struct_pack(a := s[i], b := s[i+1])
                 for i in range(1, len(s))]) as p
              from syms),
            pc as (
              select p.a as a, p.b as b, sum(freq)::bigint as cnt
              from p0 group by p.a, p.b)
            select a, b, cnt from pc
            order by cnt desc, a, b limit 50
        """)
def q_bpe_pair_counts(spark, sf_dir):
    """First BPE learning iteration under the value-parity gate: word
    frequencies -> char-symbol adjacent-pair counts, top 50.  The
    iterative merge loop (q_bpe_merges) repeats exactly this
    aggregation on the evolving vocab table."""
    from deepseek_ocr_omnidocbench_spark.operators import bpe as BP

    docs = _docs(spark, sf_dir)
    vocab = BP.word_freq_table(docs).select(
        BP.init_symbols(F.col("word")).alias("sym"), "freq")
    return (BP.pair_counts(vocab)
            .orderBy(F.desc("cnt"), "a", "b").limit(50))


def _bpe_learn_oracle_sql(n_merges: int = 3,
                          materialized: bool = False) -> str:
    """RE2 has no lookbehind, so the merge replace can't use the Spark
    kernel's boundary-anchored regex.  Instead the vocab symbol string
    lives in a padded DOUBLE-space form (' a  b  c ')): every symbol
    boundary owns two spaces, so plain replace(' a  b ', ' ab ') is
    boundary-anchored AND left-to-right non-overlapping — byte-for-byte
    BPE merge semantics ('a a a' + merge(a,a) -> 'aa a')."""
    mat = "materialized " if materialized else ""
    stages = []
    prev = "v0"
    out_rows = []
    for i in range(n_merges):
        stages.append(f"""
        pc{i} as {mat}(
          select ss[i] as a, ss[i + 1] as b, sum(freq)::bigint as cnt
          from (select string_split(trim(sym), '  ') as ss, freq
                from {prev}),
               unnest(range(1, len(ss))) as t(i)
          group by 1, 2),
        m{i} as {mat}(select a, b, cnt from pc{i}
                 order by cnt desc, a asc, b asc limit 1),
        v{i + 1} as {mat}(
          select replace(sym,
                         ' ' || (select a from m{i}) || '  '
                             || (select b from m{i}) || ' ',
                         ' ' || (select a || b from m{i}) || ' ') as sym,
                 freq
          from {prev})""")
        out_rows.append(f"select {i} as rank, a, b, cnt from m{i}")
        prev = f"v{i + 1}"
    return f"""
        with w as (
          select word, count(*) as freq from (
            select unnest(list_filter(
              string_split_regex(trim(text), '\\s+'), x -> x != '')) as word
            from documents)
          group by word),
        v0 as (
          select ' ' || array_to_string(list_concat(
                   list_transform(range(1, length(word) + 1),
                                  i -> word[i]),
                   ['</w>']), '  ') || ' ' as sym,
                 freq
          from w),
        {",".join(stages)}
        {" union all ".join(out_rows)}
        order by rank
    """


@query(oracle=_bpe_learn_oracle_sql(25, materialized=True))
def q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge learning (25 merges over the documents
    corpus), oracle-backed: all 25 iterations unrolled as MATERIALIZED
    CTE stages (pair count -> argmax -> double-space merge replace per
    stage); pytest additionally checks every merge against an
    independent reference implementation (tests/test_bpe.py)."""
    from deepseek_ocr_omnidocbench_spark.operators import bpe as BP

    merges = BP.learn_bpe(_docs(spark, sf_dir), n_merges=25, min_freq=2)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, a string, b string, cnt long").orderBy("rank")


@query(oracle=_bpe_learn_oracle_sql())
def q_bpe_learn_oracle(spark, sf_dir):
    """First 3 BPE merges under the value gate (the same
    unrolled-iteration technique as classifier_train/pagerank): DuckDB
    replays word-freq reduction, adjacent-pair counting, the
    (cnt desc, a, b) argmax and the left-to-right non-overlapping merge
    application per iteration.  The full 25-merge loop stays rows-only
    in bpe_merges; this pins the per-iteration semantics."""
    from deepseek_ocr_omnidocbench_spark.operators import bpe as BP

    merges = BP.learn_bpe(_docs(spark, sf_dir), n_merges=3, min_freq=2)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, a string, b string, cnt long").orderBy("rank")


def _bpe_encode_oracle_sql(n_merges: int = 25,
                           tail: str | None = None) -> str:
    """Word-keyed variant of ``_bpe_learn_oracle_sql``: every merge
    stage carries the original word, so after the last stage each
    distinct word maps to its final segmentation; doc token counts
    come from joining exploded doc words to that table.  Valid at
    gate scale because all ``n_merges`` learned pairs clear min_freq
    there (early-stop is not expressible in unrolled SQL).  ``tail``
    swaps the final select so compositions (bpe_fertility) reuse the
    same unrolled learn+encode stages."""
    stages = []
    prev = "v0"
    for i in range(n_merges):
        stages.append(f"""
        pc{i} as materialized (
          select ss[i] as a, ss[i + 1] as b, sum(freq)::bigint as cnt
          from (select string_split(trim(sym), '  ') as ss, freq
                from {prev}),
               unnest(range(1, len(ss))) as t(i)
          group by 1, 2),
        m{i} as materialized (select a, b, cnt from pc{i}
                 order by cnt desc, a asc, b asc limit 1),
        v{i + 1} as materialized (
          select word,
                 replace(sym,
                         ' ' || (select a from m{i}) || '  '
                             || (select b from m{i}) || ' ',
                         ' ' || (select a || b from m{i}) || ' ') as sym,
                 freq
          from {prev})""")
        prev = f"v{i + 1}"
    return f"""
        with w as materialized (
          select word, count(*) as freq from (
            select unnest(list_filter(
              string_split_regex(trim(text), '\\s+'), x -> x != '')) as word
            from documents)
          group by word),
        v0 as materialized (
          select word,
                 ' ' || array_to_string(list_concat(
                   list_transform(range(1, length(word) + 1),
                                  i -> word[i]),
                   ['</w>']), '  ') || ' ' as sym,
                 freq
          from w),
        {",".join(stages)},
        tok as materialized (
          select word,
            list_filter(string_split(trim(sym), '  '), x -> x != '')
              as toks
          from {prev}),
        docw as materialized (
          select doc_id, unnest(list_filter(
            string_split_regex(trim(text), '\\s+'), x -> x != '')) as word
          from documents),
        flat as materialized (
          select doc_id, unnest(toks) as tk
          from docw join tok using (word)),
        counts as materialized (
          select doc_id, count(*)::bigint as n_tokens,
            count(distinct tk)::bigint as n_unique_tokens
          from flat group by doc_id)
        {tail or '''select d.doc_id,
          coalesce(c.n_tokens, 0) as n_tokens,
          coalesce(c.n_unique_tokens, 0) as n_unique_tokens
        from documents d left join counts c using (doc_id)
        order by d.doc_id'''}
    """


@query(oracle=_bpe_encode_oracle_sql())
def q_bpe_encode(spark, sf_dir):
    """Corpus tokenization with the learned merge table (25 merges,
    rank-greedy encode in an Arrow-batched pandas UDF with per-batch
    word cache).  Oracle-backed via the classical BPE equivalence:
    applying the learned merges to each word IN RANK ORDER (each
    exhaustively, left-to-right) yields the same segmentation as the
    greedy min-rank loop — a merge's constituent symbols can only be
    produced by lower-rank merges, so when rank i is the minimum pair
    present, the word state is identical under both strategies.  The
    oracle unrolls all 25 learn stages (double-space replace trick)
    carrying the word key, then joins doc words to their final
    segmentation."""
    from deepseek_ocr_omnidocbench_spark.operators import bpe as BP

    docs = _docs(spark, sf_dir)
    merges = BP.learn_bpe(docs, n_merges=25, min_freq=2)
    enc = BP.bpe_encode(docs, merges)
    return (enc.select("doc_id", "n_tokens",
                       F.size(F.array_distinct("tokens"))
                       .alias("n_unique_tokens"))
            .orderBy("doc_id"))


@query(oracle=_bpe_encode_oracle_sql(tail="""
        , wstat as materialized (
          select doc_id,
                 count(*)::bigint as n_words,
                 sum(length(word))::bigint as n_chars_w
          from docw group by doc_id)
        select d.source,
          sum(c.n_tokens)::bigint as n_tokens,
          sum(w.n_words)::bigint as n_words,
          sum(w.n_chars_w)::bigint as n_chars,
          round(sum(c.n_tokens) / sum(w.n_words), 6) as fertility,
          round(sum(w.n_chars_w) / sum(c.n_tokens), 6) as chars_per_token
        from documents d
        join wstat w using (doc_id)
        join counts c using (doc_id)
        group by d.source
        order by d.source"""))
def q_bpe_fertility(spark, sf_dir):
    """Tokenizer-fit diagnostics per source: fertility (BPE tokens per
    whitespace word) and chars-per-token under the 25-merge learned
    tokenizer — the corpus report a tokenizer-training pass runs to
    spot sources the vocabulary serves badly (high fertility = the
    tokenizer fragments that source's text).  Reuses the value-gated
    learn+encode chain; the oracle replays all 25 learn stages and the
    rank-order encode, then aggregates the same ratios."""
    from deepseek_ocr_omnidocbench_spark.operators import bpe as BP

    docs = _docs(spark, sf_dir)
    merges = BP.learn_bpe(docs, n_merges=25, min_freq=2)
    enc = BP.bpe_encode(docs, merges).select("doc_id", "n_tokens")
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                     lambda w: w != "")
    per_doc = docs.select(
        "doc_id", "source",
        F.size(words).alias("n_words"),
        F.aggregate(F.transform(words, F.length),
                    F.lit(0), lambda a, v: a + v).cast("long")
        .alias("n_chars_w"))
    return (per_doc.join(enc, "doc_id")
            .groupBy("source")
            .agg(F.sum("n_tokens").alias("n_tokens"),
                 F.sum("n_words").alias("n_words"),
                 F.sum("n_chars_w").alias("n_chars"),
                 F.round(F.sum("n_tokens") / F.sum("n_words"), R)
                 .alias("fertility"),
                 F.round(F.sum("n_chars_w") / F.sum("n_tokens"), R)
                 .alias("chars_per_token"))
            .orderBy("source"))


_BLOOM_M, _BLOOM_K = 1 << 16, 4


@query(oracle=f"""
            with keys as (
              select doc_id,
                'doc:' || cast(doc_id as varchar) as url from documents),
            seen as (select url from keys where doc_id % 3 <> 0),
            bits as (
              select distinct unnest(
                [('0x' || substr(md5(url || ':' || cast(i as varchar)),
                                 1, 15))::bigint % {_BLOOM_M}
                 for i in range(0, {_BLOOM_K})]) as pos
              from seen),
            probe as (
              select url, unnest(
                [('0x' || substr(md5(url || ':' || cast(i as varchar)),
                                 1, 15))::bigint % {_BLOOM_M}
                 for i in range(0, {_BLOOM_K})]) as pos
              from keys),
            hit as (
              select url,
                case when pos in (select pos from bits) then 1 else 0 end
                  as bit_set
              from probe)
            select url, cast(min(bit_set) = 1 as int) as maybe_seen
            from hit group by url order by url
        """)
def q_bloom_probe(spark, sf_dir):
    """Bloom-filter crawl seen-set under the value-parity gate: build
    the bitmap over 2/3 of doc keys, probe ALL keys.  The bitmap
    (chunk_id, bit_or) build and bitwise probe are mirrored in DuckDB
    as distinct-position set membership — mathematically identical."""
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        bloom_build, bloom_probe)

    keys = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("url"))
    seen = keys.where(F.pmod("doc_id", F.lit(3)) != 0).select("url")
    bloom = bloom_build(seen, m=_BLOOM_M, k=_BLOOM_K)
    out = bloom_probe(keys.select("url"), bloom, m=_BLOOM_M, k=_BLOOM_K)
    return out.orderBy("url")


@query(oracle=None)
def q_pdf_images(spark, sf_dir):
    """S5/P14 image plumbing: deterministic PDFs with /DCTDecode image
    XObjects (seeded per doc_id) -> CTM placement bboxes + SOFn-sniffed
    true dimensions (anchor.py:142-151 semantics), aggregated per page
    position.  Rows-only: PDF binary parsing isn't SQL-expressible."""
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        pdf_image_placements,
    )
    from deepseek_ocr_omnidocbench_spark.sources.pages import _mini_pdf

    def _blob_batch(ids: pd.Series) -> pd.Series:
        import random as _r

        return ids.map(lambda i: bytearray(_mini_pdf(
            _r.Random("pdfimg:%d" % i), compress=(i % 2 == 0),
            with_images=True)))

    blob_udf = F.pandas_udf(_blob_batch, "binary")
    pages = (_docs(spark, sf_dir).where(F.pmod("doc_id", F.lit(10)) == 0)
             .select(F.col("doc_id").cast("string").alias("url"),
                     blob_udf(F.col("doc_id")).alias("html")))
    placed = pdf_image_placements(pages)
    return (placed.groupBy("page", "fmt", "filter")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.sum(F.col("dims_match").cast("int")).alias("n_dims_match"),
                 F.round(F.avg((F.col("x1") - F.col("x0"))
                               * (F.col("y1") - F.col("y0"))), 3).alias("avg_area"))
            .orderBy("page", "fmt"))


# ---------------------------------------------------------------------------
# Round-5 batch 4: ROUGE-N, encoding health, dehyphenation, host
# boilerplate prefix, sampled quantiles
# ---------------------------------------------------------------------------

from deepseek_ocr_omnidocbench_spark.operators import encoding as EN  # noqa: E402

# Deterministic encoding-damage injection, written in the SQL dialect
# intersection (replace/chr/||/case parse identically in Spark SQL and
# DuckDB) so BOTH engines damage the clean [a-z0-9 ] corpus the same
# way: class 0 mojibake 'e'->'Ã©' (repairable), class 1
# trailing U+FFFD, class 2 a C0 control inside 'th', class 3 quote
# mojibake (repairable), classes 4-6 clean.
_ENC_DAMAGE_SQL = (
    "case when doc_id % 7 = 0 then replace(text, 'e', '"
    + EN.MOJIBAKE_MARKERS[3] + "') "
    "when doc_id % 7 = 1 then text || ' \ufffd\ufffd' "
    "when doc_id % 7 = 2 then replace(text, 'th', 't' || chr(2) || 'h') "
    "when doc_id % 7 = 3 then replace(text, 'a ', '"
    + EN.MOJIBAKE_MARKERS[0] + " ') "
    "else text end")

# Line-break hyphen inside every 'th' + a soft hyphen after every 'e':
# repairing returns the original text exactly, so the gate can state
# byte-identity.
_DEHYPH_DAMAGE_SQL = ("replace(replace(text, 'th', 't-' || chr(10) || 'h'),"
                      " 'e', 'e' || chr(173))")

# Shared banner prepended to every doc of every third source.
_BANNER_SQL = ("case when cast(substr(source, 4) as int) % 3 = 0 "
               "then 'breaking news from the ' || source || ' desk ' || text "
               "else text end")


def _rouge_oracle_sql(n_max: int = 2) -> str:
    """DuckDB mirror of q_rouge: per-order word-n-gram count tables on
    both sides, one full-outer join, clipped aggregates, the zero-
    convention P/R/F per order, pivot, and a left join back onto
    documents for all-zero rows — exactly functions/rouge.py."""
    hs, rs = [], []
    for n in range(1, n_max + 1):
        if n == 1:
            hs.append("select doc_id, 1 as n, unnest(pw) as gram from t")
            rs.append("select doc_id, 1 as n, unnest(rw) as gram from t")
        else:
            g = (f"[array_to_string(pw[i:i+{n - 1}], ' ') "
                 f"for i in range(1, greatest(len(pw) - {n - 1}, 0) + 1)]")
            hs.append(f"select doc_id, {n} as n, unnest({g}) as gram from t")
            rs.append("select doc_id, %d as n, unnest(%s) as gram from t"
                      % (n, g.replace("pw", "rw")))
    pivots = []
    outs = []
    for n in range(1, n_max + 1):
        for m in ("p", "r", "f"):
            pivots.append(f"max(case when n = {n} then {m} end) as {m}{n}")
            outs.append(f"round(coalesce({m}{n}, 0.0::double), 6)"
                        f" as rouge{n}_{m}")
    w_ref = _AZ09_WORDS
    w_hyp = _AZ09_WORDS.replace("text", "pred")
    return f"""
    with t as (
      select doc_id, {w_ref} as rw, {w_hyp} as pw
      from (select doc_id, text,
                   regexp_replace(text, '^\\S+\\s*', '') as pred
            from documents)),
    hg as materialized (
      select doc_id, n, gram, count(*)::bigint as ch
      from ({' union all '.join(hs)}) group by doc_id, n, gram),
    rg as materialized (
      select doc_id, n, gram, count(*)::bigint as cr
      from ({' union all '.join(rs)}) group by doc_id, n, gram),
    j as (
      select coalesce(hg.doc_id, rg.doc_id) as doc_id,
             coalesce(hg.n, rg.n) as n,
             coalesce(ch, 0) as ch, coalesce(cr, 0) as cr
      from hg full outer join rg
        on rg.doc_id = hg.doc_id and rg.n = hg.n and rg.gram = hg.gram),
    po as (
      select doc_id, n, sum(least(ch, cr))::bigint as m,
             sum(ch)::bigint as th, sum(cr)::bigint as tr
      from j group by doc_id, n),
    sc as (
      select doc_id, n,
             case when th > 0 then m::double / th::double
                  else 0.0::double end as p,
             case when tr > 0 then m::double / tr::double
                  else 0.0::double end as r
      from po),
    sf as (
      select doc_id, n, p, r,
             case when p + r > 0
                  then 2.0::double * p * r / (p + r)
                  else 0.0::double end as f
      from sc),
    pv as (select doc_id, {', '.join(pivots)} from sf group by doc_id)
    select d.doc_id, {', '.join(outs)}
    from documents d left join pv using (doc_id)
    order by d.doc_id
"""


@query(oracle=_rouge_oracle_sql())
def q_rouge(spark, sf_dir):
    """A4-family ROUGE-1/2 (Lin 2004) per document on the BLEU fixture
    (pred = text minus first word) — the recall-oriented member of the
    text-metric family next to BLEU/METEOR/chrF.  Pure Columns: word
    n-gram explode, one full-outer count join, per-order clipped
    fold — the whole metric replays in SQL."""
    from deepseek_ocr_omnidocbench_spark.functions.rouge import rouge_n_scores

    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "text",
                    F.regexp_replace("text", r"^\S+\s*", "").alias("pred"))
    return (rouge_n_scores(d, "pred", "text", id_col="doc_id")
            .orderBy("doc_id"))


_ENC_T = EN.encoding_health_oracle_sql("t")


@query(oracle=f"""
    with d as (select source, {_ENC_DAMAGE_SQL} as t from documents),
    s0 as (select source, t, {EN.fix_mojibake_oracle_sql("t")} as ft from d),
    s as (
      select source,
        {_ENC_T["n_replacement"]} as nr,
        {_ENC_T["n_mojibake"]} as nm,
        {_ENC_T["n_control"]} as nc,
        case when {EN.encoding_health_oracle_sql("ft")["is_damaged"]}
             then 1 else 0 end as dmg_f
      from s0),
    s2 as (
      select source, nr, nm, nc,
        case when nr + nm + nc > 0 then 1 else 0 end as dmg, dmg_f
      from s)
    select source, count(*)::bigint as n_docs,
           sum(dmg)::bigint as n_damaged,
           sum(case when dmg = 1 and dmg_f = 0 then 1 else 0 end)::bigint
             as n_repairable,
           sum(nr)::bigint as n_replacement,
           sum(nm)::bigint as n_mojibake,
           sum(nc)::bigint as n_control,
           round(avg(dmg), 6) as damaged_share
    from s2 group by source order by source
""")
def q_encoding_health(spark, sf_dir):
    """Encoding-damage report per source (ftfy-style signals): U+FFFD
    replacement chars, cp1252 double-encoding mojibake (counted as
    LITERAL substrings — replace-length math, zero regex dialect
    surface), C0 controls, and how many damaged docs the literal
    repair fully cleans.  Damage is injected deterministically by
    doc_id class via _ENC_DAMAGE_SQL, which parses identically in
    both engines, so the report is value-exact under the gate."""
    docs = _docs(spark, sf_dir).select(
        "source", F.expr(_ENC_DAMAGE_SQL).alias("text"))
    return EN.encoding_report(docs).orderBy("source")


@query(oracle=f"""
    with d as (select doc_id, text, {_DEHYPH_DAMAGE_SQL} as dmg
               from documents),
    r as (select doc_id, text, dmg,
                 {TS.substr_count_oracle_sql("dmg", chr(173))} as n_soft,
                 regexp_replace(replace(dmg, chr(173), ''),
                                '([a-z])- *\\n *([a-z])', '\\1\\2', 'g')
                   as rep
          from d)
    select doc_id, len(dmg)::bigint as len_damaged,
           n_soft::bigint as n_soft,
           ((len(dmg) - n_soft - len(rep)) // 2)::bigint as n_joins,
           rep = text as roundtrip
    from r order by doc_id
""")
def q_dehyphenate(spark, sf_dir):
    """N13 dehyphenation under a byte-identity roundtrip gate: inject
    line-break hyphens into every 'th' and a soft hyphen after every
    'e' (chr-only SQL, identical in both engines), repair with the
    normalizer, and report per doc the damage counts plus
    roundtrip = (repaired == original) — the oracle states roundtrip
    for every row, so ANY byte the repair misses or mutates reds the
    value gate (the extraction_roundtrip precedent)."""
    from deepseek_ocr_omnidocbench_spark.functions.normalize import (
        dehyphenate_col)

    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "text",
                    F.expr(_DEHYPH_DAMAGE_SQL).alias("dmg"))
    d = d.select("doc_id", "text", "dmg",
                 dehyphenate_col(F.col("dmg")).alias("rep"),
                 TS.substr_count(F.col("dmg"), "\u00ad").alias("n_soft"))
    return (d.select(
        "doc_id",
        F.length("dmg").cast("bigint").alias("len_damaged"),
        "n_soft",
        ((F.length("dmg") - F.col("n_soft") - F.length("rep")) / 2)
        .cast("bigint").alias("n_joins"),
        (F.col("rep") == F.col("text")).alias("roundtrip"))
        .orderBy("doc_id"))


@query(oracle=f"""
    with d as (select source as host, {_BANNER_SQL} as t from documents),
    agg as (select host, count(*)::bigint as n_docs,
                   min(t) as lo, max(t) as hi
            from d group by host),
    p as (select host, n_docs, lo,
                 coalesce(list_max(
                   [case when substr(lo, 1, k) = substr(hi, 1, k)
                         then k else 0 end
                    for k in range(1, least(len(lo), len(hi), 200) + 1)]),
                   0) as plen
          from agg)
    select host, n_docs, plen::int as prefix_len,
           substr(lo, 1, plen::int) as shared_prefix,
           (n_docs >= 2 and plen >= 12) as is_boilerplate
    from p order by host
""")
def q_host_prefix(spark, sf_dir):
    """Per-host shared-prefix boilerplate detection: a deterministic
    banner is prepended to every doc of every third source (SQL-
    intersection fragment, both engines), then the min/max common-
    prefix identity reduces detection to ONE map-side-combinable
    aggregation — O(1) state per host, the same single-exchange plan
    at 10^12 docs."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        host_prefix_stats)

    docs = _docs(spark, sf_dir).select(
        "source", F.expr(_BANNER_SQL).alias("text"))
    return host_prefix_stats(docs).orderBy("host")


def _sampled_quantiles_oracle_sql(rate: int = 4) -> str:
    qs = (("p50", "0.5"), ("p90", "0.9"), ("p99", "0.99"))

    def stats(prefix: str) -> str:
        return ", ".join(
            f"max(case when rn = ceil({q}::double * n)::bigint"
            f" then val end) as {prefix}_{lbl}" for lbl, q in qs)

    return f"""
    with d as (select source as key, n_chars::bigint as val, doc_id
               from documents),
    tot as (select key, count(*)::bigint as n_rows from d group by key),
    samp as (select * from d
             where ('0x' || substr(md5('qsk:' || cast(doc_id as varchar)),
                                   1, 15))::bigint % {rate} = 0),
    rs as (select key, val,
                  row_number() over (partition by key
                                     order by val, doc_id) as rn,
                  count(*) over (partition by key) as n
           from samp),
    est as (select key, max(n)::bigint as n_sampled, {stats('est')}
            from rs group by key),
    re as (select key, val,
                  row_number() over (partition by key
                                     order by val, doc_id) as rn,
                  count(*) over (partition by key) as n
           from d),
    ex as (select key, {stats('exact')} from re group by key)
    select tot.key, tot.n_rows, est.n_sampled,
           est.est_p50, est.est_p90, est.est_p99,
           ex.exact_p50, ex.exact_p90, ex.exact_p99
    from tot left join est using (key) left join ex using (key)
    order by tot.key
"""


@query(oracle=_sampled_quantiles_oracle_sql())
def q_sampled_quantiles(spark, sf_dir):
    """Per-source doc-length quantiles from a deterministic 1/4
    md5-hash sample (mergeable: the sample of a union is the union of
    samples) with the exact rank statistic as the audit pair — the
    fixed-fraction cousin of the KMV sketch.  Quantiles are the
    interpolation-free value-at-ceil(q*n) order statistic under
    (value, id) ordering, so both engines agree bit-for-bit;
    ::double literals force IEEE rank math."""
    from deepseek_ocr_omnidocbench_spark.operators.sketches import (
        sampled_quantiles)

    return (sampled_quantiles(_docs(spark, sf_dir), "source", "n_chars",
                              "doc_id", rate=4, qs=(0.5, 0.9, 0.99))
            .orderBy("key"))


def _dup_ngram_oracle_sql(ngrams=(5, 6, 7, 8, 9, 10)) -> str:
    """DuckDB replay of dup_ngram_stats: per-n gram tables via list
    comprehension (the repetition_stats pattern) with sum-of-duplicated
    coverage instead of max."""
    ctes, joins, cols = [], [], []
    for n in ngrams:
        ctes.append(f"""
            g{n} as (select doc_id,
                       sum(case when cnt > 1
                           then (length(gram) - {n - 1}) * cnt
                           else 0 end)::bigint as dup{n} from (
                     select doc_id, gram, count(*) as cnt from (
                       select doc_id,
                         unnest([array_to_string(words[i:i+{n - 1}], ' ')
                         for i in range(1, greatest(len(words) - {n - 1}, 0)
                                        + 1)]) as gram
                       from t) group by doc_id, gram) group by doc_id)""")
        joins.append(f"left join g{n} on g{n}.doc_id = t.doc_id")
        cols.append(f"""round(case when tc.tcv > 0 and g{n}.dup{n} is not null
                    then g{n}.dup{n}::double / tc.tcv else 0.0 end, 6)
                    as dup{n}gram_char_frac""")
    return f"""
            with t as (
              select doc_id,
                list_filter(string_split_regex(text, '\\s+'),
                            x -> len(x) > 0) as words
              from documents),
            tc as (select doc_id,
                          length(array_to_string(words, '')) as tcv from t),
            {','.join(ctes)}
            select t.doc_id, {', '.join(cols)}
            from t
            left join tc on tc.doc_id = t.doc_id
            {' '.join(joins)}
            order by t.doc_id
        """


@query(oracle=_dup_ngram_oracle_sql())
def q_dup_ngrams(spark, sf_dir):
    """The second half of the Gopher repetition gate (Rae et al. 2021
    §A1.1): per-doc fraction of word characters covered by DUPLICATED
    word n-grams, n = 5..10 (repetition_stats reports the 2..4-gram
    top-coverage half).  Non-overlap-corrected estimate, one shared
    lead window + per-n uniform-key groupBys — value-parity oracled."""
    docs = _docs(spark, sf_dir)
    return TS.dup_ngram_stats(docs).orderBy("doc_id")


@query(oracle=f"""
            with t as (select source, unnest({_AZ09_WORDS}) as w
                       from documents),
            tf as materialized (
              select source, w, count(*)::bigint as c
              from t group by source, w),
            gf as (select w, sum(c)::bigint as gc from tf group by w),
            gt as (select sum(gc)::bigint as g from gf),
            stot as (select source, sum(c)::bigint as n_tokens,
                            count(*)::bigint as n_types
                     from tf group by source),
            j as (select tf.source, tf.c, gf.gc,
                         stot.n_tokens, stot.n_types, gt.g
                  from tf
                  join gf using (w)
                  join stot using (source)
                  cross join gt),
            agg as (
              select source,
                     max(n_tokens)::bigint as n_tokens,
                     max(n_types)::bigint as n_types,
                     sum(gc::double / g::double) as pmass,
                     sum((gc::double / g::double)
                         * log2(2.0::double * (gc::double / g::double)
                                / ((gc::double / g::double)
                                   + (c::double / n_tokens::double))))
                       as tp,
                     sum((c::double / n_tokens::double)
                         * log2(2.0::double * (c::double / n_tokens::double)
                                / ((gc::double / g::double)
                                   + (c::double / n_tokens::double))))
                       as tq
              from j group by source)
            select source, n_tokens, n_types,
                   round(0.5::double * ((1.0::double - pmass) + tp)
                         + 0.5::double * tq, 6) as jsd_bits
            from agg order by source
        """)
def q_source_drift(spark, sf_dir):
    """Per-source Jensen-Shannon divergence from the corpus unigram
    distribution — the drift probe next to source_entropy.  The
    absent-word mass folds to (1 - sum p) analytically, so every term
    lives on the source's own vocabulary: no full-vocab expand, two
    uniform-key groupBys + a word join + a 1-row broadcast total."""
    docs = _docs(spark, sf_dir)
    return TS.source_js_divergence(docs).orderBy("source")


# --- round-5 batch 5: classifier evaluation, footer boilerplate, feed
# parsing, page-level robots directives, cross-split leakage ---------------

# Dyadic-rational scored fixture shared by q_auc_report / q_calibration:
# k, l are independent md5-derived integers in [0, 1024); score = k/1024
# (exact double sums in any order), label = [2l < 400 + k] so the positive
# rate rises with the score (AUC meaningfully > 0.5).  Pure integer math
# until the final divisions — both engines agree bit-for-bit.
_SCORED_SQL_K = "('0x' || substr(md5('s,' || doc_id::varchar), 1, 15))::bigint % 1024"
_SCORED_SQL_L = "('0x' || substr(md5('l,' || doc_id::varchar), 1, 15))::bigint % 1024"


def _scored_fixture(spark, sf_dir):
    d = _docs(spark, sf_dir)
    k = F.pmod(D.md5_hash64(F.concat(F.lit("s,"),
                                     F.col("doc_id").cast("string"))),
               F.lit(1024))
    lbl_h = F.pmod(D.md5_hash64(F.concat(F.lit("l,"),
                                         F.col("doc_id").cast("string"))),
                   F.lit(1024))
    return d.select(
        "doc_id", "source",
        (k.cast("double") / F.lit(1024.0)).alias("score"),
        F.when(F.lit(2) * lbl_h < F.lit(400) + k, F.lit(1))
        .otherwise(F.lit(0)).alias("label"))


@query(oracle=f"""
    with s as (
      select source, {_SCORED_SQL_K} as k, {_SCORED_SQL_L} as l
      from documents),
    t as (
      select source, (k::double / 1024.0) as score,
             case when 2*l < 400 + k then 1 else 0 end as y
      from s),
    r as (
      select source, y,
        (2*rank() over (partition by source order by score)
         + count(*) over (partition by source, score) - 1)::bigint as r2,
        case when score >= 0.5 then 1 else 0 end as p
      from t),
    a as (
      select source,
        sum(y)::bigint as n_pos, sum(1 - y)::bigint as n_neg,
        sum(case when y = 1 then r2 else 0 end)::bigint as s2,
        sum(y * p)::bigint as tp, sum((1 - y) * p)::bigint as fp,
        sum(y * (1 - p))::bigint as fn,
        sum((1 - y) * (1 - p))::bigint as tn
      from r group by source)
    select source, n_pos, n_neg,
      round(case when n_pos > 0 and n_neg > 0
        then (s2 - n_pos*(n_pos + 1))::double
             / (2*n_pos*n_neg)::double end, 6) as auc,
      tp, fp, fn, tn,
      round(case when tp + fp > 0
        then tp::double / (tp + fp)::double else 0.0 end, 6) as "precision",
      round(case when tp + fn > 0
        then tp::double / (tp + fn)::double else 0.0 end, 6) as recall,
      round(case when 2*tp + fp + fn > 0
        then (2*tp)::double / (2*tp + fp + fn)::double
        else 0.0 end, 6) as f1,
      round((tp + tn)::double / (n_pos + n_neg)::double, 6) as accuracy
    from a order by source
""")
def q_auc_report(spark, sf_dir):
    """Per-source classifier evaluation: ROC AUC via the Mann-Whitney
    rank statistic (2*avg_rank stays bigint-exact through ties) plus
    the threshold-0.5 confusion block and derived P/R/F1/accuracy —
    the audit a DCLM/FineWeb-style quality-filter sweep runs at corpus
    scale.  One rank window + one agg; every double is a single
    division of exact bigints."""
    from deepseek_ocr_omnidocbench_spark.operators.classifier import (
        auc_report)

    return (auc_report(_scored_fixture(spark, sf_dir), group_col="source")
            .orderBy("source"))


@query(oracle=f"""
    with s as (
      select {_SCORED_SQL_K} as k, {_SCORED_SQL_L} as l from documents),
    t as (
      select (k::double / 1024.0) as score,
             case when 2*l < 400 + k then 1 else 0 end as y
      from s),
    b as (
      select least(floor(score * 10), 9)::int as bin, score, y from t),
    agg as (
      select bin, count(*)::bigint as n, sum(y)::bigint as n_pos,
             sum(score) as cs
      from b group by bin),
    tot as (select sum(n)::bigint as tot from agg)
    select bin, n, n_pos,
      round(cs / n::double, 6) as conf_avg,
      round(n_pos::double / n::double, 6) as acc,
      round(abs(cs / n::double - n_pos::double / n::double), 6) as gap,
      round(n::double / tot::double, 6) as weight
    from agg cross join tot order by bin
""")
def q_calibration(spark, sf_dir):
    """Reliability-diagram bins over the dyadic scored fixture: per
    confidence decile the mean predicted confidence, empirical
    positive rate, |gap|, and the ECE mixing weight.  One groupBy on a
    10-ary key + a 1-row broadcast total; dyadic scores make the
    double sums order-independent, so the gate is exact."""
    from deepseek_ocr_omnidocbench_spark.operators.classifier import (
        calibration_report)

    return (calibration_report(_scored_fixture(spark, sf_dir), bins=10)
            .orderBy("bin"))


_FOOTER_SQL = ("case when cast(substr(source, 4) as int) % 3 = 1 "
               "then text || ' copyright ' || source "
               "|| ' all rights reserved' else text end")


@query(oracle=f"""
    with d as (select source as host, {_FOOTER_SQL} as t from documents),
    r as (select host, reverse(t) as rt from d),
    agg as (select host, count(*)::bigint as n_docs,
                   min(rt) as lo, max(rt) as hi
            from r group by host),
    p as (select host, n_docs, lo,
                 coalesce(list_max(
                   [case when substr(lo, 1, k) = substr(hi, 1, k)
                         then k else 0 end
                    for k in range(1, least(len(lo), len(hi), 200) + 1)]),
                   0) as slen
          from agg)
    select host, n_docs, slen::int as suffix_len,
           reverse(substr(lo, 1, slen::int)) as shared_suffix,
           (n_docs >= 2 and slen >= 12) as is_boilerplate
    from p order by host
""")
def q_host_suffix(spark, sf_dir):
    """Per-host shared-SUFFIX boilerplate (footer/copyright blocks):
    a deterministic footer is appended to every doc of every third
    source, then the min/max-of-reversed-text identity reduces
    detection to one map-side-combinable aggregation — the footer-side
    twin of host_prefix."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        host_suffix_stats)

    docs = _docs(spark, sf_dir).select(
        "source", F.expr(_FOOTER_SQL).alias("text"))
    return host_suffix_stats(docs).orderBy("host")


@query(oracle="""
    with d as (
      select doc_id,
        'h' || (doc_id % 9)::varchar || '.example' as host,
        case when doc_id % 2 = 0 then
          '<rss><channel><item><title>post ' || doc_id::varchar
          || '</title><link>https://h' || (doc_id % 9)::varchar
          || '.example/r/' || doc_id::varchar || '</link>'
          || case when doc_id % 3 = 0
             then '<pubDate>Mon, 0' || (doc_id % 7 + 1)::varchar
               || ' Jan 2024</pubDate>' else '' end
          || '</item><item><link> https://h' || (doc_id % 9)::varchar
          || '.example/r2/' || doc_id::varchar
          || ' </link></item></channel></rss>'
        else
          '<feed><entry><title>entry ' || doc_id::varchar
          || '</title><link href="https://h' || (doc_id % 9)::varchar
          || '.example/a/' || doc_id::varchar
          || '"/><updated>2024-01-0' || (doc_id % 9 + 1)::varchar
          || '</updated></entry></feed>'
        end as xml
      from documents),
    blocks as (
      select host, 'rss' as kind,
        unnest(regexp_extract_all(xml, '(?s)<item>(.*?)</item>', 1)) as body
      from d
      union all
      select host, 'atom' as kind,
        unnest(regexp_extract_all(xml, '(?s)<entry>(.*?)</entry>', 1))
          as body
      from d),
    p as (
      select host,
        case when kind = 'rss'
          then regexp_extract(body, '(?s)<link>\\s*(.*?)\\s*</link>', 1)
          else regexp_extract(body,
                 '(?s)<link[^>]*href\\s*=\\s*["'']([^"'']*)["'']', 1)
        end as link,
        nullif(regexp_extract(body, '(?s)<title>\\s*(.*?)\\s*</title>', 1),
               '') as title,
        coalesce(
          nullif(regexp_extract(body,
                   '(?s)<pubDate>\\s*(.*?)\\s*</pubDate>', 1), ''),
          nullif(regexp_extract(body,
                   '(?s)<updated>\\s*(.*?)\\s*</updated>', 1), ''),
          nullif(regexp_extract(body,
                   '(?s)<published>\\s*(.*?)\\s*</published>', 1), ''))
          as published,
        kind
      from blocks)
    select * from p where len(link) > 0 order by link
""")
def q_feeds(spark, sf_dir):
    """RSS/Atom feed parsing for crawl-frontier freshness seeding:
    even docs emit an RSS channel (two <item>s, pubDate on a modular
    subset, whitespace-padded links), odd docs an Atom feed (<link
    href=...> attribute form) — both parsed block-first so optional
    fields can't shift against each other, replayed with the same
    regexps in DuckDB."""
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        parse_feeds)

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 9).cast("string"), F.lit(".example"))
    pubdate = F.when(did % 3 == 0, F.concat(
        F.lit("<pubDate>Mon, 0"), (did % 7 + 1).cast("string"),
        F.lit(" Jan 2024</pubDate>"))).otherwise(F.lit(""))
    rss = F.concat(
        F.lit("<rss><channel><item><title>post "), did.cast("string"),
        F.lit("</title><link>https://"), host, F.lit("/r/"),
        did.cast("string"), F.lit("</link>"), pubdate,
        F.lit("</item><item><link> https://"), host, F.lit("/r2/"),
        did.cast("string"), F.lit(" </link></item></channel></rss>"))
    atom = F.concat(
        F.lit("<feed><entry><title>entry "), did.cast("string"),
        F.lit('</title><link href="https://'), host, F.lit("/a/"),
        did.cast("string"), F.lit('"/><updated>2024-01-0'),
        (did % 9 + 1).cast("string"),
        F.lit("</updated></entry></feed>"))
    xml = F.when(did % 2 == 0, rss).otherwise(atom)
    feeds = d.select(host.alias("host"), xml.alias("xml"))
    return parse_feeds(feeds).orderBy("link")

_META_ROBOTS_ORACLE = """
    with d as (
      select doc_id,
        'https://m.example/' || doc_id::varchar as url,
        '<html><head><title>x</title>'
        || case when doc_id % 3 = 0
             then '<meta name="robots" content="noindex, nofollow">'
           when doc_id % 3 = 1 and doc_id % 5 = 0
             then '<meta name="robots" content="NOFOLLOW">'
           when doc_id % 3 = 1
             then '<meta name="robots" content="index, follow">'
           else '' end
        || case when doc_id % 4 = 0
             then '<link rel="canonical" href="https://c.example/page'
               || (doc_id % 50)::varchar || '">'
           else '' end
        || '</head><body>b</body></html>' as html
      from d0),
    m as (
      select url,
        regexp_extract(html,
          '(?is)<meta\\s+[^>]*name\\s*=\\s*["'']robots["''][^>]*'
          || 'content\\s*=\\s*["'']([^"'']*)["'']', 1) as raw_meta,
        regexp_extract(html,
          '(?is)<link\\s+[^>]*rel\\s*=\\s*["'']canonical["''][^>]*'
          || 'href\\s*=\\s*["'']([^"'']*)["'']', 1) as raw_canon
      from d)
    select url,
      nullif(raw_meta, '') as robots_meta,
      coalesce(regexp_matches(lower(raw_meta),
        '(^|[,\\s])(noindex|none)([,\\s]|$)'), false) as noindex,
      coalesce(regexp_matches(lower(raw_meta),
        '(^|[,\\s])(nofollow|none)([,\\s]|$)'), false) as nofollow,
      nullif(raw_canon, '') as canonical,
      coalesce(nullif(raw_canon, ''), url) as dedup_key
    from m order by url
""".replace("from d0", "from documents")


@query(oracle=_META_ROBOTS_ORACLE)
def q_meta_robots(spark, sf_dir):
    """Page-level indexing directives: deterministic HTML heads carry
    robots <meta> tags (noindex/nofollow, index/follow, an uppercase
    NOFOLLOW class) and <link rel=canonical> on modular doc classes;
    the gate extracts directives + the canonical dedup key — the
    in-page companion of the robots.txt gate, applied BEFORE
    extraction."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        meta_robots_gate)

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    meta = F.when(did % 3 == 0, F.lit(
        '<meta name="robots" content="noindex, nofollow">')) \
        .when((did % 3 == 1) & (did % 5 == 0), F.lit(
            '<meta name="robots" content="NOFOLLOW">')) \
        .when(did % 3 == 1, F.lit(
            '<meta name="robots" content="index, follow">')) \
        .otherwise(F.lit(""))
    canon = F.when(did % 4 == 0, F.concat(
        F.lit('<link rel="canonical" href="https://c.example/page'),
        (did % 50).cast("string"), F.lit('">'))).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><head><title>x</title>"), meta, canon,
                    F.lit("</head><body>b</body></html>"))
    pages = d.select(
        F.concat(F.lit("https://m.example/"), did.cast("string"))
        .alias("url"),
        html.alias("html"))
    return meta_robots_gate(pages).orderBy("url")


@query(oracle=f"""
            with recursive {_MINHASH_CTES},
            u as (
              select doc_id,
                'https://host' || (doc_id % 97)::varchar
                  || '.example.com/p/' || doc_id::varchar as url
              from documents),
            h as (
              select doc_id,
                lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as host
              from u),
            sp as (
              select doc_id,
                case when (('0x' || substr(md5(host), 1, 8))::bigint
                           % 100)::int < 10 then 'val'
                     when (('0x' || substr(md5(host), 1, 8))::bigint
                           % 100)::int < 20 then 'test'
                     else 'train' end as split
              from h)
            select j.doc_a, j.doc_b,
                   sa.split as split_a, sb.split as split_b, j.jaccard
            from j
            join sp sa on sa.doc_id = j.doc_a
            join sp sb on sb.doc_id = j.doc_b
            where sa.split <> sb.split
            order by j.doc_a, j.doc_b
        """)
def q_split_leakage(spark, sf_dir):
    """Cross-split near-duplicate leakage audit: MinHash-LSH candidate
    pairs (md5 hash family, k=8, bands=4) joined against the
    host-split assignment; any pair whose members land in different
    splits is reported with its exact Jaccard — the audit that
    validates host_split actually prevented eval leakage.  Composition
    of two gated operators; both halves replay in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        host_split)

    docs = _docs(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(docs, k=8, bands=4,
                                  hash_fn=D.md5_hash64)
    aug = docs.select(
        "doc_id",
        F.concat(F.lit("https://host"), (F.col("doc_id") % 97)
                 .cast("string"), F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    splits = host_split(aug).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("split_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .where(F.col("split_a") != F.col("split_b"))
            .select("doc_a", "doc_b", "split_a", "split_b",
                    F.round("jaccard", R).alias("jaccard"))
            .orderBy("doc_a", "doc_b"))


def _web_graph_fixture(spark, sf_dir):
    """Deterministic bow-tie-shaped digraph on doc_ids < 120: a core
    ring (ids ≡0 mod 7, wrap at 120), IN feeders (≡1 → +6 into the
    ring), OUT spokes (ring → ≡2), mutual disconnected pairs
    (≡3 mod 14 ↔ +1), and tendrils hanging off the IN side (≡1 → +5).
    Mirrored verbatim as UNION ALL arms in the DuckDB oracles."""
    d = (_docs(spark, sf_dir)
         .select(F.col("doc_id").alias("n")).where(F.col("n") < 120))
    n = F.col("n")
    # ring chords (+21, +49 = 3 and 7 ring-hops) keep the core one SCC
    # while cutting its diameter from 17 to ~4: directed min-label
    # reachability is inherently O(diameter) rounds (the wave moves one
    # hop per round; pointer jumping can't accelerate a self-vs-minimum
    # label pattern), so fixture diameter is gate wall-time.
    arms = [
        d.where(n % 7 == 0).select(
            n.alias("src"), ((n + 7) % 126).alias("dst")),
        d.where(n % 7 == 0).select(
            n.alias("src"), ((n + 21) % 126).alias("dst")),
        d.where(n % 7 == 0).select(
            n.alias("src"), ((n + 49) % 126).alias("dst")),
        d.where((n % 7 == 1) & (n < 113)).select(
            n.alias("src"), (n + 6).alias("dst")),
        d.where((n % 7 == 2) & (n >= 7)).select(
            (n - 2).alias("src"), n.alias("dst")),
        d.where((n % 14 == 3) & (n < 119)).select(
            n.alias("src"), (n + 1).alias("dst")),
        d.where((n % 14 == 3) & (n < 119)).select(
            (n + 1).alias("src"), n.alias("dst")),
        d.where((n % 7 == 1) & (n < 112)).select(
            n.alias("src"), (n + 5).alias("dst")),
    ]
    e = arms[0]
    for a in arms[1:]:
        e = e.union(a)
    return e


_WEB_GRAPH_SQL = """
    ns as (select doc_id as n from documents where doc_id < 120),
    e as (
      select n as src, (n + 7) % 126 as dst from ns where n % 7 = 0
      union all select n, (n + 21) % 126 from ns where n % 7 = 0
      union all select n, (n + 49) % 126 from ns where n % 7 = 0
      union all select n, n + 6 from ns where n % 7 = 1 and n < 113
      union all select n - 2, n from ns where n % 7 = 2 and n >= 7
      union all select n, n + 1 from ns where n % 14 = 3 and n < 119
      union all select n + 1, n from ns where n % 14 = 3 and n < 119
      union all select n, n + 5 from ns where n % 7 = 1 and n < 112),
    v as (select src as node from e union select dst from e),
    reach(a, b) as (
      select src, dst from e
      union
      select r.a, e.dst from reach r join e on e.src = r.b),
    mut as (
      select ra.a as u, ra.b as m
      from reach ra join reach rb on rb.a = ra.b and rb.b = ra.a),
    scc as (
      select v.node,
             least(v.node, coalesce(min(mut.m), v.node)) as scc_id
      from v left join mut on mut.u = v.node
      group by v.node)
"""


@query(oracle=f"""
    with recursive {_WEB_GRAPH_SQL}
    select node::bigint as node, scc_id::bigint as scc_id
    from scc order by node
""")
def q_scc(spark, sf_dir):
    """Strongly connected components of the bow-tie fixture digraph:
    forward-backward anchor extraction with pointer-jumped directed
    min-label fixpoints (graph.py:scc) — the cycle/structure
    decomposition behind Broder-style web analysis and crawl loop
    breaking.  Oracle: recursive-CTE transitive closure; scc_id(u) =
    min id mutually reachable with u."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import scc

    return (scc(_web_graph_fixture(spark, sf_dir))
            .select(F.col("node").cast("long").alias("node"),
                    F.col("scc_id").cast("long").alias("scc_id"))
            .orderBy("node"))


@query(oracle=f"""
    with recursive {_WEB_GRAPH_SQL},
    sz as (select scc_id, count(*) as c from scc group by scc_id),
    core_sel as (
      select scc_id from sz order by c desc, scc_id asc limit 1),
    corenodes as (select node from scc join core_sel using (scc_id)),
    fwdhit as (
      select distinct r.b as node
      from reach r join corenodes c on r.a = c.node),
    bwdhit as (
      select distinct r.a as node
      from reach r join corenodes c on r.b = c.node),
    ue as (select src, dst from e union select dst, src from e),
    ureach(a, b) as (
      select src, dst from ue
      union
      select r.a, ue.dst from ureach r join ue on ue.src = r.b),
    wcc as (
      select v.node,
             least(v.node, coalesce(min(ur.a), v.node)) as wid
      from v left join ureach ur on ur.b = v.node
      group by v.node),
    corewcc as (
      select min(wid) as w from wcc join corenodes using (node))
    select s.node::bigint as node, s.scc_id::bigint as scc_id,
      case when s.scc_id = (select scc_id from core_sel) then 'core'
           when s.node in (select node from fwdhit) then 'out'
           when s.node in (select node from bwdhit) then 'in'
           when w.wid = (select w from corewcc) then 'tendril'
           else 'disconnected' end as region
    from scc s join wcc w on w.node = s.node
    order by s.node
""")
def q_bowtie(spark, sf_dir):
    """Broder bow-tie decomposition of the fixture digraph: largest
    SCC = core, sentinel-seeded directed reachability fixpoints for
    in/out, weak-component membership for tendril vs disconnected.
    The crawl-planning artifact that says which frontier seeds can
    ever reach which content."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import bowtie

    return (bowtie(_web_graph_fixture(spark, sf_dir))
            .select(F.col("node").cast("long").alias("node"),
                    F.col("scc_id").cast("long").alias("scc_id"),
                    "region")
            .orderBy("node"))


def _retrieval_eval_oracle_sql(k: int = 10) -> str:
    import math

    w = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]

    def dcg_terms(rank_col: str) -> str:
        parts = [
            "coalesce(max(case when %s = %d then g * %r::double end),"
            " 0.0::double)" % (rank_col, i + 1, w[i])
            for i in range(k)]
        return " + ".join(parts)

    return f"""
    with d as (select doc_id from documents where doc_id < 200),
    q as (select doc_id as query_id from documents where doc_id < 20),
    pairs as (select query_id, doc_id from d cross join q),
    scored_p as (
      select query_id, doc_id,
        ('0x' || substr(md5(query_id::varchar || ',' || doc_id::varchar
                            || ',s'), 1, 15))::bigint as s,
        ('0x' || substr(md5(query_id::varchar || ',r,'
                            || doc_id::varchar), 1, 15))::bigint % 10
          as rh
      from pairs),
    runs as (
      select query_id, doc_id, r from (
        select query_id, doc_id,
          row_number() over (partition by query_id
                             order by s desc, doc_id asc) as r
        from scored_p) where r <= {k}),
    jud as (
      select query_id, doc_id,
        case when rh = 0 then 2 else 1 end as rel,
        (pow(2.0, (case when rh = 0 then 2 else 1 end)::double)
         - 1.0) as g
      from scored_p where rh <= 1),
    sc as (
      select runs.query_id as q2, runs.r, jud.g
      from runs left join jud
        on jud.query_id = runs.query_id and jud.doc_id = runs.doc_id),
    dcg as (select q2, {dcg_terms('r')} as dcg from sc group by q2),
    ideal as (
      select query_id, g,
        row_number() over (partition by query_id
                           order by rel desc, doc_id asc) as ir
      from jud),
    idcg as (
      select query_id, {dcg_terms('ir')} as idcg
      from ideal where ir <= {k} group by query_id),
    perq as (
      select runs.query_id,
        sum(case when jud.doc_id is not null then 1 else 0 end)::bigint
          as hits,
        min(case when jud.doc_id is not null then runs.r end) as first_rel
      from runs left join jud
        on jud.query_id = runs.query_id and jud.doc_id = runs.doc_id
      group by runs.query_id),
    nrel as (select query_id, count(*)::bigint as n_rel
             from jud group by query_id),
    base as (select distinct query_id from runs)
    select b.query_id,
      coalesce(n.n_rel, 0)::bigint as n_rel,
      coalesce(p.hits, 0)::bigint as hits,
      round(case when coalesce(i.idcg, 0.0::double) > 0
        then coalesce(dc.dcg, 0.0::double) / i.idcg
        else 0.0::double end, 6) as ndcg,
      round(case when p.first_rel is not null
        then 1.0::double / p.first_rel::double
        else 0.0::double end, 6) as mrr,
      round(case when coalesce(n.n_rel, 0) > 0
        then coalesce(p.hits, 0)::double / n.n_rel::double
        else 0.0::double end, 6) as recall,
      round(coalesce(p.hits, 0)::double / {float(k)!r}::double, 6)
        as "precision"
    from base b
    left join perq p on p.query_id = b.query_id
    left join nrel n on n.query_id = b.query_id
    left join dcg dc on dc.q2 = b.query_id
    left join idcg i on i.query_id = b.query_id
    order by b.query_id
    """


@query(oracle=_retrieval_eval_oracle_sql())
def q_retrieval_eval(spark, sf_dir):
    """IR scorecard (nDCG@10 / MRR / recall / P@10) over a
    deterministic multi-query fixture: 20 queries rank 200 docs by an
    md5 pseudo-score (top-10 kept), graded judgments rel∈{0,1,2} from
    an independent md5 stream.  DCG folds per-rank pivot terms through
    one explicit left-associated sum with Python-precomputed 1/log2
    weights embedded as identical literals in both engines."""
    from deepseek_ocr_omnidocbench_spark.operators.ranking import (
        retrieval_eval)
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") < 200)
    qs = (_docs(spark, sf_dir).select(F.col("doc_id").alias("query_id"))
          .where(F.col("query_id") < 20))
    pairs = d.crossJoin(F.broadcast(qs))  # 20-row dim: fixture-sized
    h = D.md5_hash64(F.concat(F.col("query_id").cast("string"),
                              F.lit(","),
                              F.col("doc_id").cast("string"),
                              F.lit(",s")))
    wq = Window.partitionBy("query_id").orderBy(F.desc("_s"),
                                                F.asc("doc_id"))
    runs = (pairs.select("query_id", "doc_id", h.alias("_s"))
            .withColumn("rank", F.row_number().over(wq))
            .where(F.col("rank") <= 10)
            .select("query_id", "doc_id", "rank"))
    rh = F.pmod(D.md5_hash64(F.concat(F.col("query_id").cast("string"),
                                      F.lit(",r,"),
                                      F.col("doc_id").cast("string"))),
                F.lit(10))
    qrels = pairs.select(
        "query_id", "doc_id",
        F.when(rh == 0, F.lit(2)).when(rh == 1, F.lit(1))
        .otherwise(F.lit(0)).alias("rel"))
    return (retrieval_eval(runs, qrels, k=10)
            .orderBy("query_id"))


@query(oracle="""
    with v as (select source as grp, n_chars::bigint as val
               from documents),
    per as (select grp, val, count(*)::bigint as c
            from v group by grp, val),
    tot as (select val, count(*)::bigint as ct from v group by val),
    grp_n as (select grp, count(*)::bigint as n_a from v group by grp),
    nt as (select count(*)::bigint as n_t from v),
    grid as (
      select g.grp, t.val, g.n_a, t.ct, coalesce(p.c, 0) as c, nt.n_t
      from grp_n g cross join tot t cross join nt
      left join per p on p.grp = g.grp and p.val = t.val),
    cums as (
      select grp, n_a, (n_t - n_a)::bigint as n_b,
        sum(c) over (partition by grp order by val) as cum_a,
        sum(ct) over (partition by grp order by val) as cum_t
      from grid),
    agg as (
      select grp, max(n_a)::bigint as n_a, max(n_b)::bigint as n_b,
        max(abs(cum_a * n_b - (cum_t - cum_a) * n_a))::bigint as d_num
      from cums group by grp),
    st as (select grp, n_a, n_b,
             d_num::double / (n_a * n_b)::double as d
           from agg),
    l as (select grp, n_a, n_b, d,
            (d * d) * (n_a * n_b)::double / (n_a + n_b)::double as lam2
          from st)
    select grp as source, n_a, n_b, round(d, 6) as d_stat,
      round(least(greatest(2.0::double * (
        1.0::double * exp(-2.0::double * lam2)
        + -1.0::double * exp(-8.0::double * lam2)
        + 1.0::double * exp(-18.0::double * lam2)
        + -1.0::double * exp(-32.0::double * lam2)
        + 1.0::double * exp(-50.0::double * lam2)),
        0.0::double), 1.0::double), 6) as p_approx
    from l order by grp
""")
def q_ks_drift(spark, sf_dir):
    """Per-source two-sample Kolmogorov-Smirnov drift test of the
    doc-length distribution vs the rest of the corpus — exact-bigint
    ECDF-step numerator, one final division, asymptotic Kolmogorov
    p-value folded in fixed term order."""
    return (TS.ks_by_group(_docs(spark, sf_dir), "n_chars")
            .orderBy("source"))


def _variant_pages(spark, sf_dir):
    """Deterministic language-edition fixture: docs form groups of 3
    (en/de/fr editions of one article); every page declares its two
    sibling editions via <link rel=alternate hreflang> and the en
    edition adds an amphtml mobile variant.  Boundary groups (corpus
    size not divisible by 3) declare phantom siblings — parser and
    clustering must handle declared-but-unfetched urls."""
    d = _docs(spark, sf_dir).select("doc_id")
    did = F.col("doc_id")
    g = (did - did % 3).cast("string")

    def lang(m):
        return (F.when(m == 0, "en").when(m == 1, "de")
                .otherwise(F.lit("fr")))

    m = did % 3
    base = F.concat(F.lit("https://v.example/g"), g, F.lit("/"))
    url = F.concat(base, lang(m))

    def alt(mm):
        lg = lang(mm)
        return F.concat(F.lit('<link rel="alternate" hreflang="'), lg,
                        F.lit('" href="'), base, lg, F.lit('">'))

    amp = F.when(m == 0, F.concat(
        F.lit('<link rel="amphtml" href="'), base,
        F.lit('en/amp">'))).otherwise(F.lit(""))
    html = F.concat(F.lit("<html><head>"), alt((m + 1) % 3),
                    alt((m + 2) % 3), amp,
                    F.lit("</head><body>x</body></html>"))
    return d.select(url.alias("url"), html.alias("html"))


_VARIANT_PAGES_SQL = """
    vp as (
      select
        'https://v.example/g' || (doc_id - doc_id % 3)::varchar || '/'
          || (case doc_id % 3 when 0 then 'en' when 1 then 'de'
              else 'fr' end) as url,
        '<html><head>'
        || '<link rel="alternate" hreflang="'
        || (case (doc_id + 1) % 3 when 0 then 'en' when 1 then 'de'
            else 'fr' end)
        || '" href="https://v.example/g'
        || (doc_id - doc_id % 3)::varchar || '/'
        || (case (doc_id + 1) % 3 when 0 then 'en' when 1 then 'de'
            else 'fr' end) || '">'
        || '<link rel="alternate" hreflang="'
        || (case (doc_id + 2) % 3 when 0 then 'en' when 1 then 'de'
            else 'fr' end)
        || '" href="https://v.example/g'
        || (doc_id - doc_id % 3)::varchar || '/'
        || (case (doc_id + 2) % 3 when 0 then 'en' when 1 then 'de'
            else 'fr' end) || '">'
        || case when doc_id % 3 = 0
           then '<link rel="amphtml" href="https://v.example/g'
             || (doc_id - doc_id % 3)::varchar || '/en/amp">'
           else '' end
        || '</head><body>x</body></html>' as html
      from documents),
    tags as (
      select url,
        unnest(regexp_extract_all(html, '(?is)<link\\s+[^>]*>', 0)) as t
      from vp),
    alts as (
      select url,
        lower(regexp_extract(t,
          '(?is)\\brel\\s*=\\s*["'']([^"'']*)["'']', 1)) as rel,
        nullif(lower(regexp_extract(t,
          '(?is)\\bhreflang\\s*=\\s*["'']([^"'']*)["'']', 1)), '')
          as hreflang,
        regexp_extract(t,
          '(?is)\\bhref\\s*=\\s*["'']([^"'']*)["'']', 1) as href
      from tags)
    , av as (select * from alts
             where rel in ('alternate', 'amphtml') and len(href) > 0)
"""


@query(oracle=f"""
    with {_VARIANT_PAGES_SQL}
    select url, rel, hreflang, href from av order by url, rel, href
""")
def q_hreflang(spark, sf_dir):
    """hreflang / amphtml alternate extraction: block-first <link>-tag
    parse (attribute order inside a tag can't shift fields) over the
    language-edition fixture — the author-declared variant edges a
    multilingual dedup pass consumes."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        page_alternates)

    return (page_alternates(_variant_pages(spark, sf_dir))
            .orderBy("url", "rel", "href"))


# clustering oracle: the fixture's variant graphs have diameter <= 2
# (every group is en/de/fr mutually declared + an amp leaf on en), so
# the component minimum equals the min over the 2-hop neighborhood —
# no iteration needed, making this an INDEPENDENT check of the CC
# kernel rather than a replay of it.
@query(oracle=f"""
    with {_VARIANT_PAGES_SQL},
    ue as (
      select url as a, href as b from av
      union
      select href as a, url as b from av),
    hop2 as (
      select a, b from ue
      union
      select u1.a, u2.b from ue u1 join ue u2 on u2.a = u1.b
      union
      select a, a from ue),
    cl as (
      select a as url, min(b) as cmin from hop2 group by a)
    select vp.url,
      least(vp.url, coalesce(cl.cmin, vp.url)) as cluster_id
    from vp left join cl on cl.url = vp.url
    order by vp.url
""")
def q_variant_clusters(spark, sf_dir):
    """Language-edition clustering: string-node connected components
    over the alternate-link graph -> every page mapped to its
    lexicographically-smallest edition url.  The dedup key URL
    canonicalization cannot derive (same article at /en/ /de/ /fr/
    plus an AMP mirror is one family only the hreflang edges link)."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        variant_clusters)

    return (variant_clusters(_variant_pages(spark, sf_dir))
            .orderBy("url"))


@query(oracle="""
    with k as (
      select case when doc_id % 3 = 0 then 'hot'
             else 'h' || (doc_id % 9)::varchar end as key
      from documents),
    counts as (select key, count(*)::bigint as c from k group by key),
    ranked as (
      select key, c,
        row_number() over (order by c, key)::bigint as i
      from counts),
    agg as (
      select count(*)::bigint as n_keys, sum(c)::bigint as n_rows,
             max(c)::bigint as max_count, sum(i * c)::bigint as ic
      from ranked),
    mx as (select key as max_key from ranked
           order by c desc, key desc limit 1)
    select n_keys, n_rows, max_count, mx.max_key,
      round(n_rows::double / n_keys::double, 6) as mean_count,
      round((2*ic - (n_keys + 1)*n_rows)::double
            / (n_keys*n_rows)::double, 6) as gini,
      ((max_count * n_keys + n_rows - 1) // n_rows)::bigint
        as salt_factor
    from agg cross join mx
""")
def q_skew(spark, sf_dir):
    """Shuffle-key skew diagnostics over a deliberately skewed key
    (every third doc lands on 'hot', the rest spread over 9 host
    keys): per-key counts -> exact-bigint Gini via the sorted-rank
    identity + the ceil(max*keys/rows) salt-factor advisor — the
    measurement a 100 TB job runs before picking its partitioning."""
    from deepseek_ocr_omnidocbench_spark.operators.sketches import (
        skew_stats)

    did = F.col("doc_id")
    keyed = _docs(spark, sf_dir).select(
        F.when(did % 3 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("h"), (did % 9).cast("string")))
        .alias("key"))
    return skew_stats(keyed, "key")


@query(oracle="""
    with d as (
      select doc_id,
        'https://WWW.Sub' || (doc_id % 5)::varchar
        || '.Example' || (doc_id % 7)::varchar
        || '.com:8080/Path/' || doc_id::varchar
        || case when doc_id % 3 = 0 then '?q=1' else '' end as url
      from documents),
    p as (
      select doc_id, url,
        regexp_replace(
          lower(regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]*)', 1)),
          '^www\\.', '') as host,
        regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) as path
      from d)
    select doc_id, url,
      array_to_string(list_reverse(string_split(host, '.')), ',')
      || ')' || (case when len(path) > 0 then path else '/' end)
        as urlkey
    from p order by doc_id
""")
def q_surt(spark, sf_dir):
    """SURT url keys (the CDX index sort key) over adversarial
    synthetic urls: mixed-case hosts, www prefixes, explicit ports,
    query strings and multi-label subdomains — reversal makes each
    domain a contiguous key range."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import surt_key

    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://WWW.Sub"), (did % 5).cast("string"),
        F.lit(".Example"), (did % 7).cast("string"),
        F.lit(".com:8080/Path/"), did.cast("string"),
        F.when(did % 3 == 0, F.lit("?q=1")).otherwise(F.lit("")))
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return (d.select("doc_id", "url", surt_key(F.col("url"))
                     .alias("urlkey"))
            .orderBy("doc_id"))


@query(oracle="""
    with d as (
      select 'h' || doc_id::varchar || '.example' as host,
        'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
        || case when doc_id % 2 = 0
           then 'Sitemap: https://h' || doc_id::varchar
             || '.example/sitemap' || doc_id::varchar || '.xml'
             || chr(10)
           else '' end
        || 'Allow: /' || chr(10)
        || case when doc_id % 4 = 0
           then '  SITEMAP : https://h' || doc_id::varchar
             || '.example/news' || doc_id::varchar || '.xml  ' || chr(10)
           else '' end as txt
      from documents),
    t as (
      select host,
        regexp_extract_all(txt,
          '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)[ \\t]*$', 1) as l
      from d)
    select host, u.p::int as pos, u.s as sitemap_url
    from (select host,
            unnest([{'p': i - 1, 's': l[i]}
                    for i in range(1, len(l) + 1)]) as u
          from t)
    order by host, pos
""")
def q_robots_sitemaps(spark, sf_dir):
    """Sitemap discovery from robots.txt: 'Sitemap:' directives in any
    case, with stray spaces around the colon and trailing whitespace,
    interleaved among user-agent groups — the edge that seeds the
    sitemap fetch queue (RFC 9309 §2.3)."""
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        robots_sitemaps)

    did = F.col("doc_id")
    host = F.concat(F.lit("h"), did.cast("string"), F.lit(".example"))
    nl = F.lit("\n")
    txt = F.concat(
        F.lit("User-agent: *"), nl, F.lit("Disallow: /private"), nl,
        F.when(did % 2 == 0, F.concat(
            F.lit("Sitemap: https://"), host, F.lit("/sitemap"),
            did.cast("string"), F.lit(".xml"), nl)).otherwise(F.lit("")),
        F.lit("Allow: /"), nl,
        F.when(did % 4 == 0, F.concat(
            F.lit("  SITEMAP : https://"), host, F.lit("/news"),
            did.cast("string"), F.lit(".xml  "), nl))
        .otherwise(F.lit("")))
    robots = _docs(spark, sf_dir).select(host.alias("host"),
                                         txt.alias("txt"))
    return robots_sitemaps(robots).orderBy("host", "pos")


def _delta_dedup_oracle_sql() -> str:
    # lazy: _MINHASH_CTES is defined later in the module
    return f"""
    with recursive {_MINHASH_CTES},
    dcand as (
      select distinct b2.doc_id as new_id, a.doc_id as old_id
      from banded a
      join banded b2 on a.band = b2.band and a.bucket = b2.bucket
      where a.doc_id % 2 = 0 and b2.doc_id % 2 = 1),
    dver as (
      select dcand.new_id, dcand.old_id,
        len(list_intersect(sn.sh, so.sh))::double
        / (len(sn.sh) + len(so.sh)
           - len(list_intersect(sn.sh, so.sh)))::double as jac
      from dcand
      join base so on so.doc_id = dcand.old_id
      join base sn on sn.doc_id = dcand.new_id),
    dbest as (
      select new_id, old_id, jac from (
        select new_id, old_id, jac,
          row_number() over (partition by new_id
                             order by jac desc, old_id asc) as r
        from dver where jac >= 0.5) where r = 1)
    select d.doc_id, b.old_id as dup_of,
      round(b.jac, 6) as jaccard,
      (b.old_id is null) as is_new
    from (select doc_id from documents where doc_id % 2 = 1) d
    left join dbest b on b.new_id = d.doc_id
    order by d.doc_id
"""


@query(oracle=_delta_dedup_oracle_sql())
def q_delta_dedup(spark, sf_dir):
    """Incremental dedup of a 'daily batch' (odd doc_ids) against the
    existing corpus (even doc_ids): the new side's band buckets probe
    the corpus signature table, only colliding old docs are
    exact-verified, and every new doc reports its best old match —
    the 100 TB corpus-maintenance path (dedup the delta WITHOUT
    rescanning history).  md5 hash family (k=8, bands=4) so the whole
    dataflow replays in SQL."""
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    return (D.delta_dedup(new, old, k=8, bands=4, threshold=0.5,
                          hash_fn=D.md5_hash64)
            .orderBy("doc_id"))


@query(oracle="""
    with v as (select source as key, n_chars::bigint as val
               from documents),
    r as (select key, val,
            row_number() over (partition by key order by val)::bigint
              as i,
            count(*) over (partition by key)::bigint as n
          from v),
    med as (select key, val as median from r
            where i = ceil(n::double / 2.0)::bigint),
    dev as (select v.key, abs(v.val - m.median)::bigint as dv
            from v join med m on m.key = v.key),
    rd as (select key, dv,
             row_number() over (partition by key order by dv)::bigint
               as i,
             count(*) over (partition by key)::bigint as n
           from dev),
    mad as (select key, dv as mad from rd
            where i = ceil(n::double / 2.0)::bigint),
    agg as (
      select key, max(n)::bigint as n, sum(val)::bigint as s,
        sum(case when i > ceil(0.1::double * n::double)::bigint
                  and i <= n - ceil(0.1::double * n::double)::bigint
            then val else 0 end)::bigint as ts,
        sum(case when i > ceil(0.1::double * n::double)::bigint
                  and i <= n - ceil(0.1::double * n::double)::bigint
            then 1 else 0 end)::bigint as tn
      from r group by key)
    select agg.key as source, n, median, mad,
      round(case when tn > 0 then ts::double / tn::double
            else 0.0::double end, 6) as trimmed_mean,
      round(s::double / n::double, 6) as mean
    from agg
    join med on med.key = agg.key
    join mad on mad.key = agg.key
    order by agg.key
""")
def q_robust_stats(spark, sf_dir):
    """Outlier-resistant per-source doc-length statistics: exact
    order-statistic median and MAD (bigint until the final division)
    plus a 10%-trimmed mean next to the plain mean — the health row a
    corpus report shows because one viral page drags the mean."""
    from deepseek_ocr_omnidocbench_spark.operators.sketches import (
        robust_stats)

    return (robust_stats(_docs(spark, sf_dir), "source", "n_chars")
            .orderBy("source"))


def _zorder_oracle_sql(bits: int = 8) -> str:
    terms = []
    for i in range(bits):
        terms.append("(((ha >> %d) & 1) << %d)" % (i, 2 * i + 1))
        terms.append("(((tb >> %d) & 1) << %d)" % (i, 2 * i))
    return f"""
    with d as (
      select doc_id,
        ('0x' || substr(md5('h,' || doc_id::varchar), 1, 15))::bigint
          % 256 as ha,
        (doc_id % 256)::bigint as tb
      from documents)
    select doc_id, ha as host_bucket, tb as time_bucket,
      ({' | '.join(terms)})::bigint as zkey
    from d order by doc_id
    """


@query(oracle=_zorder_oracle_sql())
def q_zorder(spark, sf_dir):
    """Z-order layout keys over (host-hash, time-bucket): the
    multi-dimension clustering key a 100 TB corpus table sorts by at
    write time so parquet min/max stats prune scans filtered on either
    dimension.  8-bit quantization per dimension; the oracle replays
    the interleave with the same shift/mask arithmetic."""
    from deepseek_ocr_omnidocbench_spark.operators.sketches import (
        zorder_key)

    did = F.col("doc_id")
    ha = F.pmod(D.md5_hash64(F.concat(F.lit("h,"), did.cast("string"))),
                F.lit(256))
    tb = did % 256
    return (_docs(spark, sf_dir)
            .select("doc_id", ha.alias("host_bucket"),
                    tb.cast("long").alias("time_bucket"),
                    zorder_key(ha, tb, bits=8).alias("zkey"))
            .orderBy("doc_id"))


# ---- round-5 batch 7: perceptual image hashing, paired significance,
# ---- co-citation mirror detection --------------------------------------

def _phash_imgs(spark, sf_dir):
    """Deterministic synthetic grayscale images over documents: value
    depends only on the target 7x9 cell (so cell means are exact and
    resolution-independent), ~12 docs share each base pattern, and
    docs with doc_id % 10 == 7 brighten cell (3,4) by 120 — a planted
    near-duplicate within <= 2 dHash bits of its base peers."""
    did = F.col("doc_id")
    w = (F.lit(18) + (did % 3) * 9).cast("int")
    h = (F.lit(14) + (did % 2) * 7).cast("int")
    base = (did % 40).cast("long")
    perturbed = (did % 10 == 7)

    def _px(i):
        r = F.floor(i / F.col("w")).cast("long")
        c = (i % F.col("w")).cast("long")
        cr = F.floor(r * 7 / F.col("h")).cast("long")
        cc = F.floor(c * 9 / F.col("w")).cast("long")
        v = (F.col("base") * 37 + cr * 13 + cc * 29) % 256
        bump = F.when(F.col("pert") & (cr == 3) & (cc == 4),
                      F.least(v + 120, F.lit(255))).otherwise(v)
        return bump.cast("int")

    return (_docs(spark, sf_dir)
            .select(did.alias("media_id"), w.alias("w"), h.alias("h"),
                    base.alias("base"), perturbed.alias("pert"))
            .select("media_id", F.col("w").alias("width"),
                    F.col("h").alias("height"),
                    F.transform(
                        F.sequence(F.lit(0), F.col("w") * F.col("h") - 1),
                        _px).alias("pixels")))


_PHASH_CELLS = """
    with img as (
      select doc_id as media_id,
             (18 + (doc_id % 3) * 9)::bigint as w,
             (14 + (doc_id % 2) * 7)::bigint as h,
             (doc_id % 40)::bigint as base,
             (doc_id % 10 = 7) as pert
      from documents),
    px as (
      select media_id, w, h, base, pert,
             unnest(generate_series(0, w * h - 1)) as i
      from img),
    vals as (
      select media_id,
        ((i // w) * 7) // h as cell_r,
        ((i % w) * 9) // w as cell_c,
        (case when pert and ((i // w) * 7) // h = 3
                   and ((i % w) * 9) // w = 4
              then least((base * 37 + (((i // w) * 7) // h) * 13
                          + (((i % w) * 9) // w) * 29) % 256 + 120, 255)
              else (base * 37 + (((i // w) * 7) // h) * 13
                    + (((i % w) * 9) // w) * 29) % 256
         end)::bigint as v
      from px),
    cells as (
      select media_id, cell_r, cell_c,
             sum(v)::bigint as s, count(*)::bigint as n
      from vals group by 1, 2, 3)
"""

_IMAGE_HASHES_ORACLE = _PHASH_CELLS + """,
    dbits as (
      select a.media_id,
        sum(case when a.s * b.n < b.s * a.n
            then (1::bigint << (a.cell_r * 8 + a.cell_c)::int)
            else 0::bigint end)::bigint as dhash
      from cells a join cells b
        on a.media_id = b.media_id and a.cell_r = b.cell_r
       and b.cell_c = a.cell_c + 1
      group by a.media_id),
    totals as (
      select media_id, sum(s)::bigint as ts, sum(n)::bigint as tn
      from cells group by media_id),
    abits as (
      select c.media_id,
        sum(case when c.s * t.tn > t.ts * c.n
            then (1::bigint << (c.cell_r * 9 + c.cell_c)::int)
            else 0::bigint end)::bigint as ahash
      from cells c join totals t using (media_id)
      group by c.media_id)
    select a.media_id, a.ahash, d.dhash
    from abits a join dbits d using (media_id)
    order by media_id
"""


@query(oracle=_IMAGE_HASHES_ORACLE)
def q_image_hashes(spark, sf_dir):
    """aHash + dHash perceptual signatures (multimodal.py image_hashes)
    over the synthetic cell-structured images: exact bigint cross-
    multiply comparisons, one map-side-combined groupBy per image."""
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        image_hashes)

    return (image_hashes(_phash_imgs(spark, sf_dir))
            .orderBy("media_id"))


_IMAGE_NEAR_DUPS_ORACLE = _PHASH_CELLS.replace(
    "from documents", "from documents where doc_id < 120") + """,
    dbits as (
      select a.media_id,
        sum(case when a.s * b.n < b.s * a.n
            then (1::bigint << (a.cell_r * 8 + a.cell_c)::int)
            else 0::bigint end)::bigint as hv
      from cells a join cells b
        on a.media_id = b.media_id and a.cell_r = b.cell_r
       and b.cell_c = a.cell_c + 1
      group by a.media_id),
    bands as (
      select media_id, hv, b,
             (hv >> (b * 16)) & 65535 as bv
      from dbits, unnest(generate_series(0, 3)) as t(b)),
    cand as (
      select distinct l.media_id as id_a, r.media_id as id_b,
             l.hv as ha, r.hv as hb
      from bands l join bands r
        on l.b = r.b and l.bv = r.bv and l.media_id < r.media_id)
    select id_a, id_b, bit_count(xor(ha, hb))::bigint as hamming
    from cand
    where bit_count(xor(ha, hb)) <= 3
    order by id_a, id_b
"""


@query(oracle=_IMAGE_NEAR_DUPS_ORACLE)
def q_image_near_dups(spark, sf_dir):
    """Hamming-banded perceptual near-dup pairs over the planted
    fixture: unperturbed same-base images collide at hamming 0, the
    perturbed ones sit within 2 dHash bits — found via 4x16-bit band
    buckets + exact bit_count(xor) verify, never an all-pairs term.
    Capped to the lowest-doc_id 120 images so the quadratic
    WITHIN-BASE pair count stays gate-sized at any sf (the cap is a
    fixture choice, not an operator limit)."""
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        hash_near_dups, image_hashes)

    hashes = image_hashes(
        _phash_imgs(spark, sf_dir).where(F.col("media_id") < 120))
    return (hash_near_dups(hashes, hash_col="dhash", max_hamming=3)
            .orderBy("id_a", "id_b"))


@query(oracle="""
    with m as (
      select doc_id, (n_chars % 47)::bigint as ma,
             ((n_chars * 3 + doc_id) % 43)::bigint as mb
      from documents),
    ranked as (
      select row_number() over (order by doc_id) - 1 as idx,
             ma - mb as delta
      from m),
    stats as (
      select count(*)::bigint as n, sum(delta)::bigint as sum_delta
      from ranked),
    draws as (
      select s.n, s.sum_delta, tb.b,
        ('0x' || substr(md5('pb:' || tb.b::varchar || ':'
                            || ti.i::varchar), 1, 12))::bigint % s.n
          as idx
      from stats s
      cross join unnest(generate_series(0, 99)) as tb(b)
      cross join unnest(generate_series(0, s.n - 1)) as ti(i)),
    rep_sums as (
      select b, n, sum_delta, sum(r.delta)::bigint as rep_sum
      from draws d join ranked r using (idx)
      group by 1, 2, 3),
    rk as (
      select *, row_number() over (order by rep_sum, b) as rnk
      from rep_sums)
    select n, count(*)::bigint as b_reps, sum_delta,
      sum_delta::double / n as mean_delta,
      sum(case when rep_sum > 0 then 1 else 0 end)::bigint as n_reps_pos,
      sum(case when rep_sum < 0 then 1 else 0 end)::bigint as n_reps_neg,
      sum(case when rep_sum = 0 then 1 else 0 end)::bigint as n_reps_zero,
      (sum(case when (sum_delta > 0 and rep_sum <= 0)
                  or (sum_delta <= 0 and rep_sum >= 0)
           then 1 else 0 end) + 1)::double / (count(*) + 1) as p_boot,
      (max(case when rnk = 3 then rep_sum end))::double / n as ci_lo,
      (max(case when rnk = 98 then rep_sum end))::double / n as ci_hi
    from rk
    group by n, sum_delta
""")
def q_paired_bootstrap(spark, sf_dir):
    """Paired bootstrap (Koehn 2004) comparing two integer per-doc
    metrics: md5-seeded resampling, exact bigint replicate sums,
    sign-opposition p-value and order-statistic CI — the rigor bar
    behind 'extractor A beats extractor B' (significance.py; the
    reference's z-test is p_test_calc.py:1-10)."""
    from deepseek_ocr_omnidocbench_spark.operators.significance import (
        paired_bootstrap)

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("n_chars") % 47).alias("metric_a"),
        ((F.col("n_chars") * 3 + F.col("doc_id")) % 43).alias("metric_b"))
    return paired_bootstrap(docs, b_reps=100, seed="pb")


@query(oracle="""
    with d as (
      select (n_chars % 5 > 0) as a, (n_chars % 5 > 1) as b
      from documents),
    agg as (
      select count(*)::bigint as n,
        sum(case when a and b then 1 else 0 end)::bigint as n_both,
        sum(case when not a and not b then 1 else 0 end)::bigint
          as n_neither,
        sum(case when a and not b then 1 else 0 end)::bigint as n_a_only,
        sum(case when not a and b then 1 else 0 end)::bigint as n_b_only
      from d)
    select n, n_both, n_neither, n_a_only, n_b_only,
      case when n_a_only + n_b_only > 0
           then ((n_a_only - n_b_only) * (n_a_only - n_b_only))::double
                / (n_a_only + n_b_only) end as statistic,
      case when n_a_only + n_b_only > 0
           then (n_a_only - n_b_only)::double
                / sqrt((n_a_only + n_b_only)::double) end as z
    from agg
""")
def q_mcnemar(spark, sf_dir):
    """McNemar's paired pass/fail test: two correlated synthetic gates
    (A = n_chars % 5 > 0, B = n_chars % 5 > 1) — discordant counts,
    chi-square statistic, z; exact bigints until two single
    divisions."""
    from deepseek_ocr_omnidocbench_spark.operators.significance import (
        mcnemar)

    docs = _docs(spark, sf_dir).select(
        (F.col("n_chars") % 5 > 0).alias("a_pass"),
        (F.col("n_chars") % 5 > 1).alias("b_pass"))
    return mcnemar(docs)


@query(oracle="""
    with d as (
      select source, lang as la,
        case when doc_id % 7 = 0 then 'xx' else lang end as lb
      from documents),
    pair as (
      select source, count(*)::bigint as n,
        sum(case when la = lb then 1 else 0 end)::bigint as agree
      from d group by source),
    ca as (select source, la as lbl, count(*)::bigint as na
           from d group by 1, 2),
    cb as (select source, lb as lbl, count(*)::bigint as nb
           from d group by 1, 2),
    prods as (
      select source, sum(na * nb)::bigint as sum_prod
      from ca join cb using (source, lbl)
      group by source)
    select p.source, p.n, p.agree,
      coalesce(pr.sum_prod, 0)::bigint as sum_prod,
      p.agree::double / p.n as po,
      coalesce(pr.sum_prod, 0)::double / (p.n * p.n) as pe,
      case when p.n * p.n - coalesce(pr.sum_prod, 0) != 0
           then (p.n * p.agree - coalesce(pr.sum_prod, 0))::double
                / (p.n * p.n - coalesce(pr.sum_prod, 0)) end as kappa
    from pair p left join prods pr using (source)
    order by p.source
""")
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa per source between two synthetic annotators (B
    mislabels every 7th doc as 'xx'): single-division exactness —
    kappa = (n*agree - sum_prod) / (n*n - sum_prod) on bigints."""
    from deepseek_ocr_omnidocbench_spark.operators.significance import (
        cohens_kappa)

    docs = _docs(spark, sf_dir).select(
        "source", F.col("lang").alias("label_a"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("label_b"))
    return cohens_kappa(docs, group_col="source").orderBy("source")


def _cocitation_links(spark, sf_dir):
    """Synthetic link table with three planted structures: a full
    mirror (s5m duplicates every s5 outlink -> jaccard 1.0), family
    resemblance (srcs in the same residue class mod 4 share exactly
    their two 'c' category targets -> jaccard 0.25), and a hub target
    EVERY src links (df 20 > cap 15 -> pruned from postings AND from
    the capped out-degrees, so it biases nothing)."""
    did = F.col("doc_id")
    src = F.concat(F.lit("s"), (did % 20).cast("string"))
    d = _docs(spark, sf_dir).select(src.alias("src"), did.alias("doc_id"))
    t_edges = d.select(
        "src", F.concat(F.lit("t"), ((F.col("doc_id") * 7) % 60)
                        .cast("string")).alias("dst"))
    c_edges = d.select(
        "src", F.concat(F.lit("c"), ((F.col("doc_id") * 3) % 24)
                        .cast("string")).alias("dst"))
    base = t_edges.union(c_edges)
    mirror = base.where(F.col("src") == "s5").select(
        F.lit("s5m").alias("src"), "dst")
    # EVERY src links hub (doc_id covers all residues mod 20), so its
    # df is 20 > df_cap 15 and the cap genuinely prunes it
    hub = d.select("src", F.lit("hub").alias("dst"))
    return base.union(mirror).union(hub)


@query(oracle="""
    with d as (
      select 's' || (doc_id % 20)::varchar as src, doc_id
      from documents),
    base as (
      select src, 't' || ((doc_id * 7) % 60)::varchar as dst from d
      union all
      select src, 'c' || ((doc_id * 3) % 24)::varchar as dst from d),
    links as (
      select src, dst from base
      union all
      select 's5m' as src, dst from base where src = 's5'
      union all
      select src, 'hub' as dst from d),
    e as (select distinct src as s, dst as d from links),
    tdf as (select d, count(*)::bigint as tdf from e group by d),
    posts as (select e.d, e.s from e join tdf using (d)
              where tdf.tdf <= 15),
    deg as (select s, count(*)::bigint as deg from posts group by s),
    shared as (
      select a.s as src_a, b.s as src_b, count(*)::bigint as shared
      from posts a join posts b on a.d = b.d and a.s < b.s
      group by 1, 2
      having count(*) >= 2)
    select sh.src_a, sh.src_b, sh.shared,
      da.deg as deg_a, db.deg as deg_b,
      sh.shared::double / (da.deg + db.deg - sh.shared) as jaccard
    from shared sh
    join deg da on da.s = sh.src_a
    join deg db on db.s = sh.src_b
    order by sh.src_a, sh.src_b
""")
def q_cocitation(spark, sf_dir):
    """Bibliographic-coupling mirror detection (graph.py
    cocitation_pairs): bounded-postings self-join on shared outlink
    targets with the hub target df-capped out of candidate
    generation; s5/s5m surface at jaccard 1.0."""
    from deepseek_ocr_omnidocbench_spark.operators.graph import (
        cocitation_pairs)

    return (cocitation_pairs(_cocitation_links(spark, sf_dir),
                             min_shared=2, df_cap=15)
            .orderBy("src_a", "src_b"))


# ---- round-5 batch 8: image dup clusters, Luhn PII, Krippendorff,
# ---- burstiness, domain concentration, n-gram novelty ------------------

_IMAGE_DUP_CLUSTERS_ORACLE = _PHASH_CELLS.replace(
    "from documents", "from documents where doc_id < 120") + """,
    dbits as (
      select a.media_id,
        sum(case when a.s * b.n < b.s * a.n
            then (1::bigint << (a.cell_r * 8 + a.cell_c)::int)
            else 0::bigint end)::bigint as hv
      from cells a join cells b
        on a.media_id = b.media_id and a.cell_r = b.cell_r
       and b.cell_c = a.cell_c + 1
      group by a.media_id),
    bands as (
      select media_id, hv, b,
             (hv >> (b * 16)) & 65535 as bv
      from dbits, unnest(generate_series(0, 3)) as t(b)),
    cand as (
      select distinct l.media_id as id_a, r.media_id as id_b,
             l.hv as ha, r.hv as hb
      from bands l join bands r
        on l.b = r.b and l.bv = r.bv and l.media_id < r.media_id),
    pairs as (
      select id_a, id_b from cand
      where bit_count(xor(ha, hb)) <= 3),
    sym as (
      select id_a as a, id_b as b from pairs
      union
      select id_b as a, id_a as b from pairs),
    reach as (
      select a as node, a as r from sym
      union
      select s.a as node, rc.r
      from sym s join reach rc on s.b = rc.node)
    select node, min(r)::bigint as cluster_id
    from reach group by node order by node
"""
# DuckDB requires WITH RECURSIVE when a CTE self-references
_IMAGE_DUP_CLUSTERS_ORACLE = _IMAGE_DUP_CLUSTERS_ORACLE.replace(
    "with img as", "with recursive img as", 1)


@query(oracle=_IMAGE_DUP_CLUSTERS_ORACLE)
def q_image_dup_clusters(spark, sf_dir):
    """Perceptual-hash dedup end to end: dHash signatures -> Hamming-
    banded pairs -> pointer-jumping connected components = canonical
    image clusters (the image twin of dedup_clusters).  Oracle =
    recursive-CTE transitive closure over the SAME pair replay —
    checks the component DEFINITION, not the kernel's rounds."""
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        connected_components)
    from deepseek_ocr_omnidocbench_spark.operators.multimodal import (
        hash_near_dups, image_hashes)

    hashes = image_hashes(
        _phash_imgs(spark, sf_dir).where(F.col("media_id") < 120))
    pairs = hash_near_dups(hashes, hash_col="dhash", max_hamming=3)
    return (connected_components(pairs, a_col="id_a", b_col="id_b")
            .orderBy("node"))


@query(oracle="""
    select doc_id,
      1::bigint as n_candidates,
      (case when doc_id % 2 = 0 then 1 else 0 end)::bigint
        as n_luhn_valid,
      doc_id % 2 = 0 as has_card
    from documents
    order by doc_id
""")
def q_luhn_cards(spark, sf_dir):
    """Checksum-validated payment-card PII scan: every doc carries one
    synthetic 16-digit number whose LAST digit is the true Luhn check
    digit for even doc_ids and an offset-by-5 corruption for odd ones
    — so the oracle states the expected verdict from number theory
    (n_candidates = 1 always, n_luhn_valid = doc_id % 2 = 0) while
    Spark must re-derive it through regex extraction + the checksum
    fold (filters.py card_scan)."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        card_scan, luhn_total)

    did = F.col("doc_id")
    base15 = F.lpad(((did * 333667) % F.lit(10 ** 15)).cast("string"),
                    15, "0")
    check = (F.lit(10) - luhn_total(base15, shift=1) % 10) % 10
    digit = F.when(did % 2 == 0, check).otherwise((check + 5) % 10)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("ref "), base15, digit.cast("string"),
                 F.lit(" thanks")).alias("text"))
    return card_scan(d).orderBy("doc_id")


@query(oracle="""
    with d as (
      select source, lang as la,
        case when doc_id % 7 = 0 then 'xx' else lang end as lb
      from documents),
    pair as (
      select source, count(*)::bigint as n,
        sum(case when la != lb then 1 else 0 end)::bigint as disagree
      from d group by source),
    pooled as (
      select source, sum(c * c)::bigint as s from (
        select source, v, count(*)::bigint as c from (
          select source, la as v from d
          union all
          select source, lb as v from d)
        group by source, v)
      group by source)
    select p.source, p.n, p.disagree, po.s as sum_sq_pooled,
      case when (2*p.n)*(2*p.n) - po.s != 0
           then ((2*p.n)*(2*p.n) - po.s
                 - p.disagree * 2 * (2*p.n - 1))::double
                / ((2*p.n)*(2*p.n) - po.s) end as alpha
    from pair p join pooled po using (source)
    order by p.source
""")
def q_krippendorff(spark, sf_dir):
    """Krippendorff's alpha per source over the same two synthetic
    annotators as cohens_kappa (B mislabels every 7th doc as 'xx'):
    the closed-form bigint reduction — ONE division per group."""
    from deepseek_ocr_omnidocbench_spark.operators.significance import (
        krippendorff_alpha)

    docs = _docs(spark, sf_dir).select(
        "source", F.col("lang").alias("label_a"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("label_b"))
    return krippendorff_alpha(docs, group_col="source").orderBy("source")


@query(oracle="""
    with d as (
      select 'h' || (user_id % 20)::varchar as host, ts::date as day
      from events),
    daily as (
      select host, day, count(*)::bigint as c from d group by 1, 2),
    st as (
      select host, day, c,
        count(*) over (partition by host)::bigint as n_days,
        sum(c) over (partition by host)::bigint as total,
        sum(c * c) over (partition by host)::bigint as ssq
      from daily),
    zc as (
      select host, day, c, n_days, total, ssq,
        case when n_days > 1 and n_days * ssq - total * total > 0
             then (c * n_days - total)::double
                  / (n_days::double
                     * sqrt((n_days * ssq - total * total)::double
                            / (n_days * (n_days - 1))::double)) end as z
      from st)
    select host, strftime(day, '%Y-%m-%d') as day, c, n_days, total,
      ssq, z,
      case when z is not null then abs(z) > 2.0::double end as is_burst
    from zc order by host, day
""")
def q_host_burstiness(spark, sf_dir):
    """Per-host daily-volume anomaly detection over the events table
    (host = user_id bucket): exact integer co-moments, one window
    exchange, z + burst flag from identical expressions in both
    engines (sessions.py host_burstiness)."""
    from deepseek_ocr_omnidocbench_spark.operators.sessions import (
        host_burstiness)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.concat(F.lit("h"), (F.col("user_id") % 20).cast("string"))
        .alias("host"), "ts")
    out = host_burstiness(ev)
    # day cast to string: DATE columns render differently in the two
    # engines' pandas bridges (date vs datetime64) under the strict
    # no-canonicalization compare
    return (out.withColumn("day", F.col("day").cast("string"))
            .orderBy("host", "day"))


@query(oracle="""
    with d as (
      select source,
        case when doc_id % 3 = 0 then 'hot'
             else 'h' || (doc_id % 9)::varchar end as host
      from documents),
    per_host as (
      select source, host, count(*)::bigint as c from d group by 1, 2),
    agg as (
      select source, count(*)::bigint as n_hosts,
        sum(c)::bigint as total, sum(c * c)::bigint as ssq,
        max(c)::bigint as max_c
      from per_host group by source)
    select source, n_hosts, total,
      ssq::double / (total * total) as hhi,
      max_c::double / total as top_share,
      (total * total)::double / ssq as effective_hosts
    from agg order by source
""")
def q_host_concentration(spark, sf_dir):
    """Domain-concentration report (HHI, top-host share, effective
    host count) per source over the skewed synthetic host key every
    third doc concentrates on — the diversity dashboard read before
    setting domain quotas (textstats.py host_concentration)."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        host_concentration)

    did = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        "source",
        F.when(did % 3 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("h"), (did % 9).cast("string")))
        .alias("host"))
    return host_concentration(d).orderBy("source")


@query(oracle="""
    with idx_new as (
      select source, words,
        unnest(generate_series(0, len(words) - 5)) as i
      from (
        select source,
          string_split_regex(lower(text), '\\s+') as words
        from documents where doc_id % 2 = 1)
      where len(words) >= 5),
    grams_new as (
      select distinct source as part,
        md5(array_to_string(words[i + 1 : i + 5], ' ')) as g
      from idx_new),
    idx_old as (
      select words,
        unnest(generate_series(0, len(words) - 5)) as i
      from (
        select string_split_regex(lower(text), '\\s+') as words
        from documents where doc_id % 2 = 0)
      where len(words) >= 5),
    grams_old as (
      select distinct
        md5(array_to_string(words[i + 1 : i + 5], ' ')) as g
      from idx_old)
    select n.part as source,
      count(*)::bigint as n_grams_new,
      sum(case when o.g is null then 1 else 0 end)::bigint as n_novel,
      case when count(*) > 0
           then sum(case when o.g is null then 1 else 0 end)::double
                / count(*) end as novelty
    from grams_new n left join grams_old o using (g)
    group by n.part order by n.part
""")
def q_ngram_novelty(spark, sf_dir):
    """Cross-snapshot content freshness: 5-gram novelty of the odd-
    doc_id snapshot against the even one, per source — distinct
    md5-gram sets, one anti-join, single-division ratios (dedup.py
    ngram_novelty; the md5 twin of the xxhash64 production path,
    parity-tested in tests/test_dedup.py)."""
    from deepseek_ocr_omnidocbench_spark.operators.dedup import (
        ngram_novelty)

    d = _docs(spark, sf_dir)
    old = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 2 == 1)
    return (ngram_novelty(old, new, n=5, use_md5=True)
            .orderBy("source"))


# ---- round-5 batch 9: unigram-LM (SentencePiece-style) tokenizer --------

def _unigram_oracle_sql(max_word_len: int = 16) -> str:
    return (_UNIGRAM_PREFIX % {"mwl": max_word_len}
            + _unigram_pass_sql("", "costed", max_word_len)
            + _unigram_tail_sql("", max_word_len))


_UNIGRAM_PREFIX = """
    with recursive base as (
      select unnest(regexp_extract_all(lower(text), '[a-z]+')) as word
      from documents),
    freq0 as (
      select word, count(*)::bigint as freq from base group by word),
    wf as (
      select word, sum(freq)::bigint as freq from (
        select word, freq from freq0
        union all
        select word || reverse(word) as word, freq from freq0)
      group by word),
    s1 as (select word, freq,
             unnest(generate_series(1, len(word))) as i from wf),
    s2 as (select word, freq, i,
             unnest(generate_series(1, least(4, len(word) - i + 1)))
               as l from s1),
    counts as (
      select substring(word, i, l) as piece, sum(freq)::bigint as score
      from s2 group by 1),
    multi as (
      select piece, score from (
        select piece, score,
          row_number() over (order by score desc, piece asc) as rk
        from counts where len(piece) > 1)
      where rk <= 60),
    vocab as (select piece, score from multi
              union all
              select piece, score from counts where len(piece) = 1),
    mass as (select sum(score)::bigint as m from vocab),
    costed as (
      select piece,
        (length(bin(m)) - length(bin(score)))::bigint as cost
      from vocab, mass),
    wd as materialized (
      select distinct word from wf
      where len(word) between 1 and %(mwl)d),
    sp1 as (select word,
              unnest(generate_series(0, len(word) - 1)) as st from wd),
    sp2 as materialized (
      select word, st,
        unnest(generate_series(1, least(4, len(word) - st))) as l
      from sp1)"""


def _unigram_pass_sql(sfx: str, costed: str, max_word_len: int) -> str:
    """One Viterbi pass as CTE text: spans{sfx} (span x {costed} join),
    the unrolled MATERIALIZED min-fold DP stages ball0{sfx}..ball{H}{sfx}
    (a non-materialized chain re-inlines each level twice — exponential
    plan blowup), and the recursive backtrack walk{sfx}."""
    stages = []
    for i in range(1, max_word_len + 1):
        stages.append(f"""
    b{i}{sfx} as materialized (
      select s.word, {i}::bigint as pos,
        min((b.k // 32 + s.cost) * 32 + s.st)::bigint as k
      from spans{sfx} s join ball{i - 1}{sfx} b
        on b.word = s.word and b.pos = s.st
      where s.e = {i} group by s.word),
    ball{i}{sfx} as materialized (
      select * from ball{i - 1}{sfx} union all select * from b{i}{sfx})""")
    final = f"ball{max_word_len}{sfx}"
    return f""",
    spans{sfx} as materialized (
      select s.word, s.st::bigint as st, (s.st + s.l)::bigint as e,
             c.cost
      from sp2 s join {costed} c
        on substring(s.word, s.st + 1, s.l) = c.piece),
    ball0{sfx} as materialized (
      select word, 0::bigint as pos, 0::bigint as k from wd),{",".join(stages)},
    walk{sfx} as (
      select word, len(word)::bigint as pos, []::varchar[] as pieces
      from wd
      union all
      select w.word, (b.k % 32)::bigint as pos,
        list_prepend(
          substring(w.word, (b.k % 32)::int + 1,
                    (w.pos - b.k % 32)::int),
          w.pieces)
      from walk{sfx} w join {final} b
        on b.word = w.word and b.pos = w.pos
      where w.pos > 0)"""


def _unigram_tail_sql(sfx: str, max_word_len: int) -> str:
    return f"""
    select w.word,
      array_to_string(wk.pieces, '|') as segmented,
      len(wk.pieces)::bigint as n_pieces,
      (b.k // 32)::bigint as cost_bits
    from wd w
    join walk{sfx} wk on wk.word = w.word and wk.pos = 0
    join ball{max_word_len}{sfx} b
      on b.word = w.word and b.pos = len(w.word)
    order by w.word
"""


@query(oracle=_unigram_oracle_sql())
def q_unigram(spark, sf_dir):
    """Unigram-LM subword segmentation end to end (bpe.py): corpus
    letter-run words (plus w||reverse(w) synthetics so 16-char words
    exercise the DP depth), frequency-initialized piece inventory
    (top-60 multi-char + single-char coverage floor), and VITERBI
    segmentation under exact integer bit-length costs — the oracle
    unrolls the DP as 16 materialized min-fold stages and walks the
    backpointers with a recursive CTE."""
    from deepseek_ocr_omnidocbench_spark.operators.bpe import (
        unigram_segment, unigram_vocab)

    base = (_docs(spark, sf_dir)
            .select(F.explode(F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z]+"), 0)).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    synth = base.select(
        F.concat(F.col("word"), F.reverse(F.col("word"))).alias("word"),
        F.col("freq"))
    words = (base.unionByName(synth)
             .groupBy("word").agg(F.sum("freq").alias("freq")))
    vocab = unigram_vocab(words, vocab_size=60, max_len=4)
    seg = unigram_segment(words, vocab, max_word_len=16,
                          max_piece_len=4)
    return (seg.select("word",
                       F.concat_ws("|", "pieces").alias("segmented"),
                       "n_pieces", "cost_bits")
            .orderBy("word"))


def _unigram_em_oracle_sql(max_word_len: int = 16) -> str:
    """Both EM stages under the value gate: pass 1 segments under the
    frequency-initialized costs, usage recounts piece frequency from
    the ACTUAL segmentations (single-char floor of 1), pass 2 segments
    under the re-estimated costs — the full unigram_em_round +
    unigram_segment composition replayed."""
    em = """,
    seg1 as materialized (
      select word, pieces from walk_1 where pos = 0),
    usage as (
      select piece, sum(freq)::bigint as score from (
        select unnest(s.pieces) as piece, w.freq
        from seg1 s join wf w using (word))
      group by piece),
    floorv as (
      select v.piece, 1::bigint as score from vocab v
      where len(v.piece) = 1
        and v.piece not in (select piece from usage)),
    vocab2 as (select piece, score from usage
               union all select piece, score from floorv),
    mass2 as (select sum(score)::bigint as m from vocab2),
    costed2 as (
      select piece,
        (length(bin(m)) - length(bin(score)))::bigint as cost
      from vocab2, mass2)"""
    return (_UNIGRAM_PREFIX % {"mwl": max_word_len}
            + _unigram_pass_sql("_1", "costed", max_word_len)
            + em
            + _unigram_pass_sql("_2", "costed2", max_word_len)
            + _unigram_tail_sql("_2", max_word_len))


@query(oracle=_unigram_em_oracle_sql())
def q_unigram_em(spark, sf_dir):
    """Unigram-LM with ONE EM re-estimation round under the value
    gate: the frequency-initialized inventory segments the corpus
    (E-step), piece usage weighted by word frequency re-scores the
    inventory (M-step, single-char floor 1), and the final
    segmentation runs under the re-estimated costs — the
    unigram_em_round + unigram_segment composition, both Viterbi
    passes unrolled in the oracle."""
    from deepseek_ocr_omnidocbench_spark.operators.bpe import (
        unigram_em_round, unigram_segment, unigram_vocab)

    base = (_docs(spark, sf_dir)
            .select(F.explode(F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z]+"), 0)).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    synth = base.select(
        F.concat(F.col("word"), F.reverse(F.col("word"))).alias("word"),
        F.col("freq"))
    words = (base.unionByName(synth)
             .groupBy("word").agg(F.sum("freq").alias("freq")))
    v0 = unigram_vocab(words, vocab_size=60, max_len=4)
    v1 = unigram_em_round(words, v0, max_word_len=16, max_piece_len=4)
    seg = unigram_segment(words, v1, max_word_len=16, max_piece_len=4)
    return (seg.select("word",
                       F.concat_ws("|", "pieces").alias("segmented"),
                       "n_pieces", "cost_bits")
            .orderBy("word"))


@query(oracle=rf"""
    with d as (
      select doc_id,
        case when doc_id % 8 = 0
               then text || chr(10) || '{{a=1}};' || chr(10) || '{{b=2}};'
                    || chr(10) || '{{c=3}};' || chr(10)
             when doc_id % 4 = 0
               then text || chr(10)
                    || 'def f' || doc_id::varchar || '(a, b):' || chr(10)
                    || '    return a + b;' || chr(10)
                    || 'def g' || doc_id::varchar || '(x):' || chr(10)
                    || '    return x * 2;' || chr(10)
             else text end as text
      from documents)
    select doc_id,
      {_as_cols(TS.code_detect_oracle_sql("text"))}
    from d order by doc_id
""")
def q_code_detect(spark, sf_dir):
    """Code-vs-prose routing gate (textstats.code_detect): every 4th
    doc gets a deterministic python-ish snippet appended (every 8th a
    brace-dense config blob), the rest stay prose — integer signal
    counts, replace-length keyword math, integer cross-multiply
    thresholds; all replayed value-for-value in SQL."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        code_detect)

    did = F.col("doc_id")
    nl = F.lit("\n")
    snippet = F.concat(
        F.lit("def f"), did.cast("string"), F.lit("(a, b):"), nl,
        F.lit("    return a + b;"), nl,
        F.lit("def g"), did.cast("string"), F.lit("(x):"), nl,
        F.lit("    return x * 2;"), nl)
    blob = F.lit("{a=1};\n{b=2};\n{c=3};\n")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(did % 8 == 0, F.concat(F.col("text"), nl, blob))
        .when(did % 4 == 0, F.concat(F.col("text"), nl, snippet))
        .otherwise(F.col("text")).alias("text"))
    return code_detect(d).orderBy("doc_id")


@query(oracle=f"""
    with d as (
      select doc_id,
        case when doc_id % 6 = 0
               then 'Error 404 - page not found (id '
                    || doc_id::varchar || ')'
             when doc_id % 9 = 0
               then text || ' this domain for sale. coming soon.'
             else text end as text
      from documents)
    select doc_id,
      {_as_cols(soft404_oracle_sql("text"))}
    from d order by doc_id
""")
def q_soft404(spark, sf_dir):
    """Soft-404 / parked-domain gate (filters.soft404_scan): every 6th
    doc becomes a short error page, every 9th gets two placeholder
    phrases appended to real prose — replace-length phrase counts, a
    shortness gate, and the 1-hit-short OR 2-hits-anywhere combine,
    all replayed value-for-value."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        soft404_scan)

    did = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(did % 6 == 0,
               F.concat(F.lit("Error 404 - page not found (id "),
                        did.cast("string"), F.lit(")")))
        .when(did % 9 == 0,
              F.concat(F.col("text"),
                       F.lit(" this domain for sale. coming soon.")))
        .otherwise(F.col("text")).alias("text"))
    return soft404_scan(d).orderBy("doc_id")


# ---- round-5 batch 11: crawl traps, robots audit, quality
# ---- calibration, embedding drift --------------------------------------

@query(oracle=r"""
    with d as (
      select doc_id,
        case when doc_id % 5 = 0
               then 'https://t.example/a' || doc_id::varchar || '/b/a'
                    || doc_id::varchar || '/b/c'
             when doc_id % 7 = 0
               then 'https://t.example/2023/11/'
                    || (doc_id % 28 + 1)::varchar || '/2024/01/x'
             when doc_id % 11 = 0
               then 'https://t.example/p' || doc_id::varchar
                    || '?phpsessid=' || doc_id::varchar
             when doc_id % 13 = 0
               then 'https://t.example/a/b/c/d/e/f/g/h/i'
                    || doc_id::varchar
             else 'https://t.example/page/' || doc_id::varchar
        end as url
      from documents),
    sig as (
      select doc_id, url,
        list_filter(string_split(regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
          s -> len(s) > 0) as segs,
        lower(regexp_extract(url, '\?([^#]*)', 1)) as query
      from d)
    select doc_id, url,
      len(segs)::bigint as path_depth,
      (len(segs) - len(list_distinct(segs)))::bigint as n_dup_segments,
      len(list_filter(segs, s -> regexp_matches(s, '^[0-9]+$')))::bigint
        as n_numeric_segs,
      (query like '%sessionid%' or query like '%phpsessid%'
       or query like '%jsessionid%' or query like '%sid=%')
        as has_session_id,
      (len(segs) > 8
       or len(segs) - len(list_distinct(segs)) >= 2
       or len(list_filter(segs, s -> regexp_matches(s, '^[0-9]+$'))) >= 4
       or query like '%sessionid%' or query like '%phpsessid%'
       or query like '%jsessionid%' or query like '%sid=%') as is_trap
    from sig order by doc_id
""")
def q_crawl_traps(spark, sf_dir):
    """Crawl-trap detection over adversarial synthetic URLs: every 5th
    url repeats a path loop, every 7th walks a calendar space, every
    11th carries a session id, every 13th nests 9 segments deep —
    flat array/string signal columns, no UDF (filters.crawl_trap_cols)."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        crawl_trap_cols)

    did = F.col("doc_id")
    s = did.cast("string")
    url = (F.when(did % 5 == 0, F.concat(
               F.lit("https://t.example/a"), s, F.lit("/b/a"), s,
               F.lit("/b/c")))
           .when(did % 7 == 0, F.concat(
               F.lit("https://t.example/2023/11/"), (did % 28 + 1)
               .cast("string"), F.lit("/2024/01/x")))
           .when(did % 11 == 0, F.concat(
               F.lit("https://t.example/p"), s,
               F.lit("?phpsessid="), s))
           .when(did % 13 == 0, F.concat(
               F.lit("https://t.example/a/b/c/d/e/f/g/h/i"), s))
           .otherwise(F.concat(F.lit("https://t.example/page/"), s)))
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    cols = crawl_trap_cols(F.col("url"))
    return (d.select("doc_id", "url",
                     *[v.alias(k) for k, v in cols.items()])
            .orderBy("doc_id"))


@query(oracle="""
    with log as (
      select 'h' || (doc_id % 10)::varchar || '.example' as host,
        'https://h' || (doc_id % 10)::varchar || '.example'
        || case when doc_id % 4 = 0
                then '/private/p' || doc_id::varchar
                else '/public/p' || doc_id::varchar end as url,
        (doc_id % 4 = 0) and ((doc_id % 10) % 2 = 0) as viol
      from documents)
    select host, count(*)::bigint as n_fetched,
      sum(case when viol then 1 else 0 end)::bigint as n_violations,
      sum(case when viol then 1 else 0 end)::double / count(*)
        as violation_rate,
      min(case when viol then url end) as first_violation
    from log group by host order by host
""")
def q_robots_audit(spark, sf_dir):
    """Politeness-compliance audit (robots.robots_audit): a synthetic
    fetch log where every 4th url under h<k>.example hits /private —
    disallowed for even k — per-host violation counts/rates with a
    stable exemplar url.  Prefix-only rules keep the Python matcher's
    decision SQL-expressible."""
    from deepseek_ocr_omnidocbench_spark.operators.robots import (
        robots_audit)

    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 10).cast("string"),
                    F.lit(".example"))
    path = F.when(did % 4 == 0,
                  F.concat(F.lit("/private/p"), did.cast("string")))\
        .otherwise(F.concat(F.lit("/public/p"), did.cast("string")))
    log = _docs(spark, sf_dir).select(
        F.concat(F.lit("https://"), host, path).alias("url"))
    robots = spark.range(0, 10).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.when(F.col("id") % 2 == 0,
               F.lit("User-agent: *\nDisallow: /private\n"))
        .otherwise(F.lit("User-agent: *\nAllow: /\n"))
        .alias("robots_txt"))
    return robots_audit(log, robots).orderBy("host")


@query(oracle="""
    with d as (
      select source, doc_id, n_chars::bigint as raw from documents),
    r as (
      select source, doc_id, raw,
        row_number() over (partition by source
                           order by raw, doc_id)::bigint as rank,
        count(*) over (partition by source)::bigint as n
      from d)
    select source, doc_id, raw, rank, n,
      (2 * rank - 1)::double / (2 * n) as pct,
      (2 * rank - 1) * 10000 >= 2 * n * 2000 as keep
    from r order by source, doc_id
""")
def q_quality_calibration(spark, sf_dir):
    """Rank-based cross-source quality calibration
    (curation.quality_calibration): midpoint-rank percentile within
    source over an integer metric, keep decided by integer
    cross-products — every source loses the same share regardless of
    its raw score range."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        quality_calibration)

    d = _docs(spark, sf_dir).select("source", "doc_id", "n_chars")
    return (quality_calibration(d, "n_chars", keep_frac=0.8)
            .orderBy("source", "doc_id"))


@query(oracle="""
    with e as (
      select vec_id, label, embedding::DOUBLE[] as emb
      from embeddings),
    x as (
      select label, (vec_id % 2) as half,
        generate_subscripts(emb, 1) - 1 as pos, unnest(emb) as v
      from e),
    c as (
      select label, half, pos,
        cast(floor(avg(v) * 1000000.0) as bigint) as m,
        count(*)::bigint as n
      from x group by 1, 2, 3),
    j as (
      select a.label, a.n as na, b.n as nb,
        a.m as ma, b.m as mb
      from (select * from c where half = 0) a
      join (select * from c where half = 1) b
        on a.label = b.label and a.pos = b.pos),
    agg as (
      select label, max(na)::bigint as n_a, max(nb)::bigint as n_b,
        sum(ma * mb)::bigint as dot,
        sum(ma * ma)::bigint as na2,
        sum(mb * mb)::bigint as nb2
      from j group by label)
    select label, n_a, n_b,
      case when na2 > 0 and nb2 > 0
           then dot::double / (sqrt(na2::double) * sqrt(nb2::double))
      end as cosine,
      1.0::double - (case when na2 > 0 and nb2 > 0
           then dot::double / (sqrt(na2::double) * sqrt(nb2::double))
      end) as drift
    from agg order by label
""")
def q_embedding_drift(spark, sf_dir):
    """Per-label embedding drift between the vec_id-parity halves
    (similarity.embedding_drift): floor(mean*1e6) integer centroid
    components make the 64-dim dot/norms exact bigint sums; cosine
    and drift are single expressions over them."""
    from deepseek_ocr_omnidocbench_spark.operators.similarity import (
        embedding_drift)

    emb = _emb(spark, sf_dir)
    return embedding_drift(emb).orderBy("label")


@query(oracle="""
    with d as (
      select doc_id, 'h' || (doc_id % 10)::varchar as host,
        'NAV h' || (doc_id % 10)::varchar || ' HOME' || chr(10)
        || text || chr(10)
        || 'COPYRIGHT h' || (doc_id % 10)::varchar as text
      from documents),
    ln as (
      select doc_id, host,
        generate_subscripts(string_split(text, chr(10)), 1) - 1 as pos,
        unnest(string_split(text, chr(10))) as line
      from d),
    hd as (select host, count(*)::bigint as hd from d group by host),
    ld as (
      select host, line, count(*)::bigint as ld from (
        select distinct host, line, doc_id from ln)
      group by host, line),
    bp as (
      select ld.host, ld.line from ld join hd using (host)
      where ld.ld * 10000 >= hd.hd * 5000 and hd.hd >= 3
        and len(trim(ld.line)) > 0),
    marked as (
      select ln.doc_id, ln.host, ln.pos, ln.line,
        bp.line is not null as is_bp
      from ln left join bp
        on bp.host = ln.host and bp.line = ln.line)
    select doc_id, host,
      count(*)::bigint as n_lines,
      sum(case when is_bp then 1 else 0 end)::bigint as n_removed,
      coalesce(string_agg(case when not is_bp then line end,
                          chr(10) order by pos), '') as clean_text
    from marked group by doc_id, host order by doc_id
""")
def q_host_boilerplate(spark, sf_dir):
    """Host-templated-line removal (textstats.host_boilerplate_lines):
    every doc of host h<k> gets 'NAV h<k> HOME' and 'COPYRIGHT h<k>'
    wrapped around its text — both exceed the 50% share and strip,
    original content lines survive in order; line shares compare as
    integer cross-products."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        host_boilerplate_lines)

    did = F.col("doc_id")
    host = F.concat(F.lit("h"), (did % 10).cast("string"))
    d = _docs(spark, sf_dir).select(
        "doc_id", host.alias("host"),
        F.concat(F.lit("NAV "), host, F.lit(" HOME\n"),
                 F.col("text"),
                 F.lit("\nCOPYRIGHT "), host).alias("text"))
    return (host_boilerplate_lines(d, min_share=0.5, min_docs=3)
            .orderBy("doc_id"))


@query(oracle=f"""
    with d as (
      select doc_id,
        case when doc_id % 6 = 0
               then text || ' <form action="/login"> password:'
                    || ' remember me'
             when doc_id % 15 = 0
               then text || ' sign in or sign up / create account'
             else text end as text
      from documents)
    select doc_id,
      {_as_cols(TS.login_page_oracle_sql("text"))}
    from d order by doc_id
""")
def q_login_pages(spark, sf_dir):
    """Login/auth-wall detection (textstats.login_page_scan): every 6th
    doc gets a form+password block appended, every 15th a passwordless
    marker cluster — literal replace-length counts, boolean combine."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        login_page_scan)

    did = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(did % 6 == 0, F.concat(
            F.col("text"),
            F.lit(' <form action="/login"> password: remember me')))
        .when(did % 15 == 0, F.concat(
            F.col("text"),
            F.lit(" sign in or sign up / create account")))
        .otherwise(F.col("text")).alias("text"))
    return login_page_scan(d).orderBy("doc_id")


@query(oracle=r"""
    with t as (
      select source,
        len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::bigint as t
      from documents)
    select source,
      count(*)::bigint as n_docs,
      sum(t)::bigint as n_tokens,
      sum(case when t > 128 then 1 else 0 end)::bigint as n_over_128,
      sum(greatest(t - 128, 0))::bigint as lost_128,
      sum(case when t > 512 then 1 else 0 end)::bigint as n_over_512,
      sum(greatest(t - 512, 0))::bigint as lost_512,
      sum(case when t > 2048 then 1 else 0 end)::bigint as n_over_2048,
      sum(greatest(t - 2048, 0))::bigint as lost_2048,
      sum(greatest(t - 128, 0))::double / sum(t) as lost_share_128,
      sum(greatest(t - 512, 0))::double / sum(t) as lost_share_512,
      sum(greatest(t - 2048, 0))::double / sum(t) as lost_share_2048
    from t group by source order by source
""")
def q_truncation_loss(spark, sf_dir):
    """Context-budget truncation report per source
    (textstats.truncation_loss): share of tokens lost at 128/512/2048
    caps — exact bigint sums, one division per budget."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        truncation_loss)

    return (truncation_loss(_docs(spark, sf_dir),
                            budgets=(128, 512, 2048))
            .orderBy("source"))


@query(oracle="""
    with d as (
      select doc_id, source,
        (case when doc_id % 3 = 0
              then '# H' || doc_id::varchar || chr(10) || '- one'
                   || chr(10) || '* two' || chr(10) else '' end)
        || text
        || (case when doc_id % 4 = 0
                 then chr(10) || '| a | b |' || chr(10) || '| - | - |'
                      || chr(10) || '| 1 | 2 |' else '' end)
        || (case when doc_id % 9 = 0
                 then chr(10) || '```' || chr(10) || 'code'
                      || chr(10) || '```' else '' end) as text
      from documents),
    s as (select doc_id, source,
                 string_split(text, chr(10)) as lines from d)
    select doc_id, source,
      len(lines)::bigint as n_lines,
      len(list_filter(lines, x -> left(x, 1) = '#'))::bigint
        as n_headings,
      (len(list_filter(lines, x -> left(x, 2) = '- '))
       + len(list_filter(lines, x -> left(x, 2) = '* ')))::bigint
        as n_bullets,
      len(list_filter(lines, x -> left(x, 1) = '|'))::bigint
        as n_table_rows,
      len(list_filter(lines, x -> left(x, 3) = '```'))::bigint
        as n_code_fence
    from s order by doc_id
""")
def q_md_structure(spark, sf_dir):
    """Markdown-structure extraction-QA profile
    (textstats.md_structure): every 3rd doc gains a heading + bullets,
    every 4th a table block, every 9th a code fence — line-prefix
    counts that catch structure-flattening regressions."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        md_structure)

    did = F.col("doc_id")
    nl = F.lit("\n")
    d = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.concat(
            F.when(did % 3 == 0,
                   F.concat(F.lit("# H"), did.cast("string"), nl,
                            F.lit("- one"), nl, F.lit("* two"), nl))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(did % 4 == 0,
                   F.lit("\n| a | b |\n| - | - |\n| 1 | 2 |"))
            .otherwise(F.lit("")),
            F.when(did % 9 == 0, F.lit("\n```\ncode\n```"))
            .otherwise(F.lit(""))).alias("text"))
    return md_structure(d).orderBy("doc_id")


@query(oracle="""
    with pop as (
      select lang as s, count(*)::bigint as pop from documents
      group by lang),
    obs as (
      select lang as s, count(*)::bigint as obs from documents
      where doc_id % 3 = 0 group by lang),
    tot as (
      select (select sum(pop) from pop)::bigint as n_pop,
             (select coalesce(sum(obs), 0) from obs)::bigint as n_samp),
    j as (
      select pop.s, pop.pop, coalesce(obs.obs, 0)::bigint as obs,
             tot.n_pop, tot.n_samp
      from pop left join obs using (s), tot)
    select s as lang, obs, pop,
      (n_samp * pop)::double / n_pop as expected,
      case when pop > 0 then
        ((obs * n_pop - n_samp * pop) * (obs * n_pop - n_samp * pop))
          ::double / (n_samp * pop * n_pop)
      end as chi2_term
    from j order by s
""")
def q_sample_audit(spark, sf_dir):
    """Chi-square sampling audit (textstats.sample_audit): a
    deliberately BIASED deterministic sample (every 3rd doc, which
    over/under-represents languages unevenly) audited against the
    corpus's language proportions — bigint-scaled expected counts,
    one division per stratum term."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        sample_audit)

    pop = _docs(spark, sf_dir)
    samp = pop.where(F.col("doc_id") % 3 == 0)
    return sample_audit(samp, pop, strata_col="lang").orderBy("lang")


@query(oracle=r"""
    with d as (
      select doc_id,
        case when doc_id % 7 = 0
               then 'https://a' || doc_id::varchar
                    || '.b.c.d.example.com/x'
             when doc_id % 11 = 0
               then 'https://xn--p' || doc_id::varchar
                    || '.example.org/x'
             when doc_id % 13 = 0
               then 'https://10.0.' || (doc_id % 256)::varchar || '.9/x'
             when doc_id % 5 = 0
               then 'https://shop' || doc_id::varchar || doc_id::varchar
                    || doc_id::varchar || '.example.net/x'
             else 'https://www.site' || doc_id::varchar
                  || '.example.com/x'
        end as url
      from documents),
    h as (
      select doc_id,
        lower(regexp_extract(url,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?:]*)', 1)) as host
      from d),
    s as (
      select doc_id, host,
        list_filter(string_split(host, '.'), x -> len(x) > 0) as labels,
        (length(host) - length(regexp_replace(host, '[0-9]', '', 'g')))
          ::bigint as n_digits,
        greatest(length(host), 1)::bigint as hl
      from h)
    select doc_id, host,
      greatest(len(labels) - 2, 0)::bigint as n_subdomains,
      (n_digits * 1000 // hl)::bigint as digit_frac_x1k,
      len(list_filter(labels, x -> left(x, 4) = 'xn--')) > 0
        as has_punycode,
      regexp_matches(host, '^[0-9]{1,3}(\.[0-9]{1,3}){3}$') as is_ip_host,
      len(list_filter(labels, x -> len(x) > 25)) > 0 as long_label,
      (regexp_matches(host, '^[0-9]{1,3}(\.[0-9]{1,3}){3}$')
       or len(list_filter(labels, x -> left(x, 4) = 'xn--')) > 0
       or greatest(len(labels) - 2, 0) >= 4
       or len(list_filter(labels, x -> len(x) > 25)) > 0
       or n_digits * 1000 > hl * 300) as host_suspect
    from s order by doc_id
""")
def q_host_features(spark, sf_dir):
    """Host-name hygiene features (filters.host_feature_cols) over
    adversarial synthetic hosts: deep subdomain chains, punycode
    labels, raw-IP hosts, DGA-length labels, digit-heavy shop
    subdomains — integer-permille digit fractions keep every compare
    exact."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        host_feature_cols)

    did = F.col("doc_id")
    s = did.cast("string")
    url = (F.when(did % 7 == 0, F.concat(
               F.lit("https://a"), s, F.lit(".b.c.d.example.com/x")))
           .when(did % 11 == 0, F.concat(
               F.lit("https://xn--p"), s, F.lit(".example.org/x")))
           .when(did % 13 == 0, F.concat(
               F.lit("https://10.0."), (did % 256).cast("string"),
               F.lit(".9/x")))
           .when(did % 5 == 0, F.concat(
               F.lit("https://shop"), s, s, s,
               F.lit(".example.net/x")))
           .otherwise(F.concat(F.lit("https://www.site"), s,
                               F.lit(".example.com/x"))))
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    cols = host_feature_cols(F.col("url"))
    return (d.select("doc_id", *[v.alias(k) for k, v in cols.items()])
            .orderBy("doc_id"))


@query(oracle=r"""
    with d as (
      select source, n_chars::bigint as x,
        len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::bigint as y
      from documents),
    agg as (
      select source, count(*)::bigint as n,
        sum(x)::bigint as sx, sum(y)::bigint as sy,
        sum(x * x)::bigint as sxx, sum(y * y)::bigint as syy,
        sum(x * y)::bigint as sxy
      from d group by source)
    select source, n,
      case when n * sxx - sx * sx > 0 and n * syy - sy * sy > 0
           then (n * sxy - sx * sy)::double
                / (sqrt((n * sxx - sx * sx)::double)
                   * sqrt((n * syy - sy * sy)::double)) end as pearson_r
    from agg order by source
""")
def q_metric_corr(spark, sf_dir):
    """Per-source Pearson correlation between document length and
    token count (sketches.metric_corr): five exact bigint co-moments,
    one closed-form double expression — bit-identical across engines
    where a streaming corr() is not."""
    from deepseek_ocr_omnidocbench_spark.operators.sketches import (
        metric_corr)
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        token_count_cols)

    d = _docs(spark, sf_dir).select(
        "source", F.col("n_chars").alias("x"),
        token_count_cols(F.col("text"))["bpe_tokens"].alias("y"))
    return metric_corr(d, "x", "y").orderBy("source")


PQ_DIM, PQ_M, PQ_K, PQ_ITERS = 64, 4, 16, 2


def _pq_codebooks(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return emb, S.train_pq_codebooks(
        emb, dim=PQ_DIM, m=PQ_M, k=PQ_K, iters=PQ_ITERS)


def _pq_codes_oracle_sql() -> str:
    code_cols = ", ".join(
        "max(case when s = %d then cell end)::int as code_%d" % (s, s)
        for s in range(PQ_M))
    return ("with %s, %s select vec_id, %s from af group by vec_id"
            " order by vec_id" % (_PQ_E_CTE, _pq_body_sql(), code_cols))


def _pq_body_sql(dim: int = PQ_DIM, m: int = PQ_M, k: int = PQ_K,
                 iters: int = PQ_ITERS, prefix: str = "",
                 source: str = "e") -> str:
    """CTE chain replaying similarity.train_pq_codebooks + pq_assign:
    subvector explode, deterministic init, ``iters`` unrolled Lloyd
    rounds (assign by squared-L2 left-fold with lowest-cell tie-break,
    per-coordinate means rounded to 6dp, empty cells keep the previous
    centroid), final assignment ``{prefix}af`` against
    ``{prefix}cb{iters}``.  All CTEs materialized — a twice-referenced
    deep chain inlines exponentially in DuckDB otherwise.

    ``prefix`` namespaces the CTEs and ``source`` names a CTE providing
    (vec_id, v) so the chain composes — the IVF-PQ oracle runs it twice
    (coarse over raw vectors, then product codes over residuals)."""
    d = dim // m
    p = prefix
    parts = ["""
            {p}sub as materialized (
              select vec_id, s, list_slice(v, s*{d}+1, s*{d}+{d}) as sv
              from {src}, (select unnest(range({m})) as s)),
            {p}cb0 as materialized (
              select s, cell, sv as c from (
                select s, sv,
                  row_number() over (partition by s order by vec_id) - 1
                    as cell
                from {p}sub
                where vec_id in (select vec_id from {src}
                                 order by vec_id limit {k})))
    """.format(d=d, m=m, k=k, p=p, src=source)]
    assign = """
            {p}{name} as materialized (
              select vec_id, s, sv, cell from (
                select {p}sub.vec_id, {p}sub.s, {p}sub.sv, {prev}.cell,
                  row_number() over (partition by {p}sub.vec_id, {p}sub.s
                    order by list_sum(list_transform(range(1, {d}+1),
                      i -> (sv[i] - c[i]) * (sv[i] - c[i]))),
                      {prev}.cell) as rn
                from {p}sub join {prev} using (s))
              where rn = 1)
    """
    for t in range(1, iters + 1):
        parts.append(assign.format(name="a%d" % t,
                                   prev="%scb%d" % (p, t - 1), d=d, p=p))
        parts.append("""
            {p}m{t} as materialized (
              select s, cell, list(mv order by i) as c from (
                select s, cell, i, round(avg(sv[i]), 6) as mv
                from {p}a{t}, (select unnest(range(1, {d}+1)) as i)
                group by s, cell, i)
              group by s, cell),
            {p}cb{t} as materialized (
              select p.s, p.cell, coalesce({p}m{t}.c, p.c) as c
              from {p}cb{tm1} p left join {p}m{t} using (s, cell))
        """.format(t=t, tm1=t - 1, d=d, p=p))
    parts.append(assign.format(name="af", prev="%scb%d" % (p, iters),
                               d=d, p=p))
    return ",".join(parts)


_PQ_E_CTE = ("e as (select vec_id, embedding::DOUBLE[] as v"
             " from embeddings)")


@query(oracle=_pq_codes_oracle_sql())
def q_pq_codes(spark, sf_dir):
    """Product-quantization codes for every vector — distributed
    per-subspace k-means (deterministic init, 2 Lloyd rounds, means
    rounded to 6dp) then nearest-centroid assignment.  The full
    training loop is replayed relationally in the oracle (the BPE
    unrolled-iterations precedent), so the gate covers learning, not
    just assignment."""
    emb, cbs = _pq_codebooks(spark, sf_dir)
    out = S.pq_assign(emb, cbs, dim=PQ_DIM)
    return out.select(
        "vec_id", *["code_%d" % s for s in range(PQ_M)]).orderBy("vec_id")


def _pq_recall_oracle_sql() -> str:
    d = PQ_DIM // PQ_M
    return """
        with {e_cte},
        {body},
        q as (select vec_id as query_id, v as qvec from e
              where vec_id < 5),
        ex as (
          select query_id, neighbor_id from (
            select query_id, e.vec_id as neighbor_id,
              row_number() over (partition by query_id
                order by round(list_cosine_similarity(qvec, e.v), 3)
                         desc, e.vec_id) as rank
            from q join e on e.vec_id != query_id)
          where rank <= 5),
        lut as (
          select query_id, s, cell,
            list_sum(list_transform(range(1, {d}+1),
              i -> (qsv[i] - c[i]) * (qsv[i] - c[i]))) as sub_d
          from (select query_id, s,
                  list_slice(qvec, s*{d}+1, s*{d}+{d}) as qsv
                from q, (select unnest(range({m})) as s))
          join cb{iters} using (s)),
        adc0 as (
          select query_id, af.vec_id as neighbor_id,
            round(sum(sub_d), 6) as adc
          from af join lut on lut.s = af.s and lut.cell = af.cell
          where af.vec_id != query_id
          group by query_id, af.vec_id),
        ap as (
          select query_id, neighbor_id from (
            select query_id, neighbor_id,
              row_number() over (partition by query_id
                order by adc, neighbor_id) as rank
            from adc0)
          where rank <= 5),
        o as (
          select ex.query_id, count(*)::bigint as n_common
          from ex join ap using (query_id, neighbor_id)
          group by ex.query_id)
        select q.query_id,
          coalesce(o.n_common, 0)::bigint as n_common,
          coalesce(o.n_common, 0) / 5.0 as recall_at_5
        from q left join o using (query_id)
        order by query_id
    """.format(e_cte=_PQ_E_CTE, body=_pq_body_sql(), d=d, m=PQ_M,
               iters=PQ_ITERS)


@query(oracle=_pq_recall_oracle_sql())
def q_pq_recall(spark, sf_dir):
    """Does top-k survive 64x compression?  Exact cosine top-5 vs
    ADC-over-codes top-5, overlap per query (the quantized_recall
    audit, one memory-ladder rung further down)."""
    emb, cbs = _pq_codebooks(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5)
    exact = S.knn_bruteforce(emb, queries, k=5, rank_precision=3)
    codes = S.pq_assign(emb, cbs, dim=PQ_DIM).select("vec_id", "codes")
    adc = S.pq_adc_topk(codes, queries, cbs, dim=PQ_DIM, k=5)
    overlap = (exact.select("query_id", "neighbor_id")
               .join(adc.select("query_id", "neighbor_id"),
                     ["query_id", "neighbor_id"])
               .groupBy("query_id")
               .agg(F.count(F.lit(1)).alias("n_common")))
    return (queries.select(F.col("vec_id").alias("query_id"))
            .join(overlap, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_common", F.lit(0)).cast("long")
                    .alias("n_common"),
                    (F.coalesce("n_common", F.lit(0)) / 5.0)
                    .alias("recall_at_5"))
            .orderBy("query_id"))


IVFPQ_KC, IVFPQ_NPROBE = 8, 2


def _ivfpq_codes_oracle_sql() -> str:
    code_cols = ", ".join(
        "max(case when raf.s = %d then raf.cell end)::int as code_%d"
        % (s, s) for s in range(PQ_M))
    return ("with %s select raf.vec_id, resid.coarse_cell, %s"
            " from raf join resid using (vec_id)"
            " group by raf.vec_id, resid.coarse_cell order by raf.vec_id"
            % (_ivfpq_body_sql(), code_cols))


def _ivfpq_body_sql() -> str:
    """Coarse chain (m=1) over raw vectors, residual CTE, then the
    product chain over residuals — two composed _pq_body_sql replays."""
    return """
        {e_cte},
        {coarse},
        resid as materialized (
          select caf.vec_id, caf.cell as coarse_cell,
            list_transform(range(1, {dim}+1), i -> sv[i] - c[i]) as v
          from caf join ccb{iters} using (s, cell)),
        {resid_pq}
    """.format(
        e_cte=_PQ_E_CTE, dim=PQ_DIM, iters=PQ_ITERS,
        coarse=_pq_body_sql(dim=PQ_DIM, m=1, k=IVFPQ_KC, iters=PQ_ITERS,
                            prefix="c", source="e"),
        resid_pq=_pq_body_sql(dim=PQ_DIM, m=PQ_M, k=PQ_K, iters=PQ_ITERS,
                              prefix="r", source="resid"))


@query(oracle=_ivfpq_codes_oracle_sql())
def q_ivfpq_codes(spark, sf_dir):
    """IVF-PQ index rows (coarse inverted-list id + residual product
    codes per vector) — the FAISS IndexIVFPQ storage layout, trained
    end-to-end distributed; BOTH k-means chains (coarse, residual)
    replay relationally in the oracle."""
    emb = _emb(spark, sf_dir)
    coarse, cbs = S.train_ivfpq(emb, dim=PQ_DIM, k_coarse=IVFPQ_KC,
                                m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    out = S.ivfpq_assign(emb, coarse, cbs, dim=PQ_DIM)
    return out.select("vec_id", "coarse_cell",
                      *["code_%d" % s for s in range(PQ_M)]) \
        .orderBy("vec_id")


def _ivfpq_recall_oracle_sql() -> str:
    d = PQ_DIM // PQ_M
    return """
        with {body},
        q as (select vec_id as query_id, v as qvec from e
              where vec_id < 5),
        ex as (
          select query_id, neighbor_id from (
            select query_id, e.vec_id as neighbor_id,
              row_number() over (partition by query_id
                order by round(list_sum(list_transform(range(1, {dim}+1),
                  i -> (qvec[i] - e.v[i]) * (qvec[i] - e.v[i]))), 3),
                  e.vec_id) as rank
            from q join e on e.vec_id != query_id)
          where rank <= 5),
        probes as (
          select query_id, cell as coarse_cell, qvec from (
            select query_id, cell, qvec,
              row_number() over (partition by query_id
                order by list_sum(list_transform(range(1, {dim}+1),
                  i -> (qvec[i] - c[i]) * (qvec[i] - c[i]))), cell) as rn
            from q join ccb{iters} on ccb{iters}.s = 0)
          where rn <= {nprobe}),
        rq as (
          select query_id, coarse_cell,
            list_transform(range(1, {dim}+1), i -> qvec[i] - c[i]) as rqv
          from probes join ccb{iters}
            on ccb{iters}.s = 0 and ccb{iters}.cell = probes.coarse_cell),
        lut as (
          select query_id, coarse_cell, s, cell,
            list_sum(list_transform(range(1, {d}+1),
              i -> (rsv[i] - c[i]) * (rsv[i] - c[i]))) as sub_d
          from (select query_id, coarse_cell, s,
                  list_slice(rqv, s*{d}+1, s*{d}+{d}) as rsv
                from rq, (select unnest(range({m})) as s))
          join rcb{iters} using (s)),
        idx as (
          select raf.vec_id, resid.coarse_cell, raf.s, raf.cell
          from raf join resid using (vec_id)),
        adc0 as (
          select query_id, idx.vec_id as neighbor_id,
            round(sum(sub_d), 6) as adc
          from idx join lut on lut.coarse_cell = idx.coarse_cell
            and lut.s = idx.s and lut.cell = idx.cell
          where idx.vec_id != query_id
          group by query_id, idx.vec_id),
        ap as (
          select query_id, neighbor_id from (
            select query_id, neighbor_id,
              row_number() over (partition by query_id
                order by adc, neighbor_id) as rank
            from adc0)
          where rank <= 5),
        o as (
          select ex.query_id, count(*)::bigint as n_common
          from ex join ap using (query_id, neighbor_id)
          group by ex.query_id)
        select q.query_id,
          coalesce(o.n_common, 0)::bigint as n_common,
          coalesce(o.n_common, 0) / 5.0 as recall_at_5
        from q left join o using (query_id)
        order by query_id
    """.format(body=_ivfpq_body_sql(), dim=PQ_DIM, d=d, m=PQ_M,
               iters=PQ_ITERS, nprobe=IVFPQ_NPROBE)


@query(oracle=_ivfpq_recall_oracle_sql())
def q_ivfpq_recall(spark, sf_dir):
    """Probe-limited IVF-PQ search audit: exact squared-L2 top-5 vs
    n_probe=2 ADC top-5 overlap per query.  Exact side ranks at
    round(d2,3) with id tie-breaks on both engines."""
    emb = _emb(spark, sf_dir)
    coarse, cbs = S.train_ivfpq(emb, dim=PQ_DIM, k_coarse=IVFPQ_KC,
                                m=PQ_M, k=PQ_K, iters=PQ_ITERS)
    queries = emb.where(F.col("vec_id") < 5)
    qq = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qvec"))
    from pyspark.sql import Window
    d2 = S.sq_l2_cols(F.col("qvec"), F.col("embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(d2, 3).asc(), F.col("vec_id").asc())
    exact = (emb.join(F.broadcast(qq))
             .where(F.col("query_id") != F.col("vec_id"))
             .withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= 5)
             .select("query_id", F.col("vec_id").alias("neighbor_id")))
    index = S.ivfpq_assign(emb, coarse, cbs, dim=PQ_DIM) \
        .select("vec_id", "coarse_cell", "codes")
    adc = S.ivfpq_adc_topk(index, queries, coarse, cbs, dim=PQ_DIM,
                           k=5, n_probe=IVFPQ_NPROBE)
    overlap = (exact
               .join(adc.select("query_id", "neighbor_id"),
                     ["query_id", "neighbor_id"])
               .groupBy("query_id")
               .agg(F.count(F.lit(1)).alias("n_common")))
    return (queries.select(F.col("vec_id").alias("query_id"))
            .join(overlap, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_common", F.lit(0)).cast("long")
                    .alias("n_common"),
                    (F.coalesce("n_common", F.lit(0)) / 5.0)
                    .alias("recall_at_5"))
            .orderBy("query_id"))


# ---------------------------------------------------------------------------
# queries() / oracle_sql(): both maps are derived from the registry
# ---------------------------------------------------------------------------


def _window_order(names: list[str],
                  rounds: dict[int, dict[str, dict]]) -> list[str]:
    """Gate-window order: never-verified names first, then ascending by
    the last round that verified them; ties keep the order of ``names``.

    ``rounds`` maps a round number to that round's correctness rows by
    query name.  A row verifies its query when it has no error and a
    matching value hash, or when it is a rows-only run
    (``err == "no_oracle"``)."""
    last: dict[str, int] = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            err = row.get("err")
            if err == "no_oracle" or (err is None and row.get("hash_match") is True):
                last[name] = rnd
    return sorted(names, key=lambda n: last.get(n, 0))


def _verified_rounds() -> dict[int, dict[str, dict]]:
    """The committed correctness rows: ``CORRECTNESS_r<N>.json`` next
    to this module, keyed by N."""
    rounds = {}
    for p in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m:
            rounds[int(m.group(1))] = json.loads(p.read_text())
    return rounds


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query.  The correctness gate checks the first 50
    entries only, so the least recently verified queries come first."""
    build = {name: fn for name, fn, _ in _QUERIES}
    return {n: build[n] for n in _window_order(list(build), _verified_rounds())}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _QUERIES if sql is not None}
