"""Corpus-curation operators a training-data pipeline runs after
filtering/dedup: benchmark-contamination checks and stratified mixture
sampling.  Both are pure-Column / native-agg dataflows with DuckDB
value-parity oracles (task brief §extras; these extend the engine
beyond the reference's own inventory).

Scale shapes:

- contamination: explode benchmark docs to n-gram hashes (the benchmark
  side is SMALL — thousands of eval documents — so its distinct n-gram
  set broadcasts), then one broadcast semi-join against the corpus's
  exploded n-grams + a groupBy(doc_id).  One corpus-side shuffle on
  doc_id; no corpus self-join, no skew (n-gram fan-out is linear in
  document length).
- stratified mixing: one window per stratum (row_number over a
  deterministic xxhash64 order) + a broadcast join of per-stratum
  quotas.  Sampling is reproducible across runs and cluster sizes
  because rank order depends only on (seed, doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_shingles


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 13,
                        threshold: float = 0.8) -> DataFrame:
    """Per-corpus-document benchmark contamination: the fraction of the
    document's distinct n-grams that appear in ANY benchmark document
    (the standard 13-gram eval-decontamination test, e.g. GPT-3 appendix
    C / PaLM §C.2).  Returns (doc_id, n_ngrams, n_hit, contamination,
    is_contaminated).

    Documents shorter than n words contribute their full word sequence
    as ONE shingle (word_shingles' fallback), so a short document is
    contaminated only if it equals a short benchmark span verbatim.
    Shingles are hashed to 64-bit longs
    on both sides; the benchmark's distinct hash set is broadcast so the
    corpus scan stays shuffle-free until the final per-doc groupBy."""
    c_sh = corpus.select(
        id_col,
        F.explode_outer(
            F.transform(word_shingles(F.col(text_col), n),
                        lambda s: F.xxhash64(s))).alias("h"))
    b_sh = (benchmark
            .select(F.explode(
                F.transform(word_shingles(F.col(text_col), n),
                            lambda s: F.xxhash64(s))).alias("h"))
            .distinct())
    hits = (
        c_sh.join(F.broadcast(b_sh.withColumn("_hit", F.lit(1))), "h", "left")
        .groupBy(id_col)
        .agg(F.count("h").alias("n_ngrams"),
             F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hit"))
    )
    contamination = F.when(
        F.col("n_ngrams") > 0,
        F.col("n_hit") / F.col("n_ngrams")).otherwise(F.lit(0.0))
    return hits.select(
        id_col, "n_ngrams", F.col("n_hit").cast("long").alias("n_hit"),
        contamination.alias("contamination"),
        (contamination >= threshold).cast("int").alias("is_contaminated"))


def stratified_sample(docs: DataFrame, strata_col: str = "lang",
                      id_col: str = "doc_id",
                      quotas: dict[str, int] | None = None,
                      fraction: float | None = None,
                      seed: int = 42) -> DataFrame:
    """Deterministic per-stratum top-k sampling for corpus mixing.

    Every document gets a pseudo-random but REPRODUCIBLE rank inside its
    stratum — row_number ordered by md5(seed:id) — and the first
    ``quotas[stratum]`` (or ``ceil(fraction * stratum_size)``) survive.
    Unlike ``df.sample``, the output is identical across runs, partition
    layouts, cluster sizes, AND engines (md5 is hex-string-comparable in
    any SQL dialect, which is what the DuckDB parity oracle checks),
    which is what a corpus-mixture spec needs (exact token budgets per
    source/language).

    One window shuffle on the stratum key; quotas join broadcast."""
    if (quotas is None) == (fraction is None):
        raise ValueError("pass exactly one of quotas / fraction")
    order = F.md5(F.concat_ws(
        ":", F.lit(str(seed)), F.col(id_col).cast("string")))
    win = Window.partitionBy(strata_col).orderBy(order, F.col(id_col))
    ranked = docs.withColumn("_rank", F.row_number().over(win))
    if quotas is not None:
        spark = docs.sparkSession
        qdf = spark.createDataFrame(
            [(k, int(v)) for k, v in sorted(quotas.items())],
            f"{strata_col} string, _quota long")
        out = (ranked.join(F.broadcast(qdf), strata_col, "inner")
               .where(F.col("_rank") <= F.col("_quota")))
    else:
        sizes = Window.partitionBy(strata_col)
        out = (ranked
               .withColumn("_n", F.count(F.lit(1)).over(sizes))
               .where(F.col("_rank") <=
                      F.ceil(F.col("_n") * F.lit(fraction)))
               .drop("_n"))
    return out.drop("_rank", "_quota") if quotas is not None \
        else out.drop("_rank")


def curation_pipeline(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      keep_lang: str = "en") -> DataFrame:
    """FineWeb-style composite curation decision: run the per-row
    quality gates in ONE pass over the scan and return, for every
    document, each gate's verdict, the conjunction ``keep``, and a
    ``reasons`` string naming every failed gate (comma-joined, fixed
    order) so a corpus report can explain drops.

    Default gate set (each independently value-checked elsewhere):

    - ``gopher``  — Gopher §A1.1 conjunction (textstats.gopher_rules_cols)
    - ``spam``    — SEO keyword-stuffing ratio (textstats.seo_spam_cols)
    - ``runaway`` — trailing n-gram repetition (filters.runaway_generation)
    - ``lang``    — predicted language == ``keep_lang``
                    (textstats.lang_id_col, not the table's lang column)

    Line-level C4 cleaning stays a separate operator (c4_clean): it
    rewrites text rather than gating documents.

    Scale: zero shuffles and zero joins — every signal reads only the
    row's own text: ``gopher`` and ``runaway`` are Column expressions,
    ``spam`` and ``lang`` decide from one Python count of the text
    (textstats.text_counts_col, evaluated once for both), so the whole
    decision pipelines inside the scan stage; at 100 TB this is a
    single pass that predicate-pushes nothing and shuffles nothing."""
    from .filters import runaway_generation
    from .textstats import gopher_rules_cols, lang_id_col, seo_spam_cols

    # NULL text must gate out with non-NULL verdicts (a poisoned row at
    # 10^12 scale must not leave NULL cells in the drop ledger)
    text = F.coalesce(F.col(text_col), F.lit(""))
    g_gopher = gopher_rules_cols(text)["gopher_pass"]
    g_spam = ~seo_spam_cols(text)["is_spam"]
    g_runaway = ~runaway_generation(text)
    g_lang = lang_id_col(text) == F.lit(keep_lang)
    gates = [("gopher", g_gopher), ("spam", g_spam),
             ("runaway", g_runaway), ("lang", g_lang)]
    keep = None
    for _, g in gates:
        keep = g if keep is None else (keep & g)
    reasons = F.concat_ws(",", F.filter(
        F.array(*[F.when(~g, F.lit(name)) for name, g in gates]),
        lambda x: x.isNotNull()))
    return docs.select(
        id_col,
        *[g.cast("int").alias("g_" + name) for name, g in gates],
        keep.cast("int").alias("keep"),
        reasons.alias("reasons"))


def mixture_weights(docs: DataFrame, alpha: float = 0.3,
                    source_col: str = "source", text_col: str = "text",
                    token_budget: int | None = None) -> DataFrame:
    """Temperature-scaled corpus mixture weights (the mT5/Pile mixing
    rule): per-source sampling probability p_i = n_i^alpha / sum_j
    n_j^alpha over whitespace-token mass.  alpha < 1 upsamples tail
    sources and flattens head domination — the standard knob for
    balancing a multi-source training mix.  With ``token_budget`` set,
    also emits each source's expected token allocation.

    Scale shape: one aggregation shuffle at source cardinality (tiny);
    the normalizer is a 1-row broadcast cross join, so the output plan
    never reshuffles the corpus itself."""
    from .textstats import token_count_cols

    toks = token_count_cols(F.col(text_col))["ws_tokens"]
    per_source = (docs
                  .select(F.col(source_col).alias("source"),
                          toks.alias("_t"))
                  .groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("_t").cast("long").alias("n_tokens")))
    scaled = per_source.withColumn(
        "_scaled", F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)))
    total = scaled.agg(F.sum("_scaled").alias("_z"))
    out = scaled.crossJoin(F.broadcast(total)) \
        .withColumn("weight", F.round(F.col("_scaled") / F.col("_z"), 8))
    if token_budget is not None:
        # budget from the UNROUNDED ratio: rounding weight first can
        # flip round() at a .5 boundary vs an oracle that scales the
        # raw ratio (ADVICE r4)
        out = out.withColumn(
            "budget_tokens",
            F.round(F.col("_scaled") / F.col("_z")
                    * F.lit(float(token_budget))).cast("long"))
    return out.drop("_scaled", "_z")


def host_split(docs: DataFrame, url_col: str = "url",
               id_col: str = "doc_id", val_pct: int = 10,
               test_pct: int = 10) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split key is the
    HOST, not the document, so near-duplicate pages from one site (the
    dominant leakage channel in web corpora) can never straddle train
    and eval.  Deterministic: bucket = first 8 hex digits of md5(host)
    mod 100, val = buckets [0, val_pct), test = [val_pct,
    val_pct+test_pct), train = the rest.

    Returns every input row with (host, bucket, split).  Zero shuffles
    — the hash, bucket and split are row-local expressions; at 10^12
    docs this pipelines inside the scan.
    """
    from deepseek_ocr_omnidocbench_spark.operators.filters import url_host

    host = url_host(F.col(url_col))
    bucket = (F.conv(F.substring(F.md5(host), 1, 8), 16, 10)
              .cast("bigint") % 100).cast("int")
    split = (F.when(F.col("bucket") < val_pct, F.lit("val"))
             .when(F.col("bucket") < val_pct + test_pct, F.lit("test"))
             .otherwise(F.lit("train")))
    return (docs.withColumn("host", host)
            .withColumn("bucket", bucket)
            .withColumn("split", split))


def quality_calibration(docs: DataFrame, metric_col: str,
                        part_col: str = "source",
                        id_col: str = "doc_id",
                        keep_frac: float = 0.8) -> DataFrame:
    """Cross-source quality calibration: raw quality metrics are not
    comparable across sources (a 'good' forum post scores differently
    than a 'good' news page), so thresholding the raw score over-prunes
    some sources and under-prunes others.  The standard fix is
    RANK-based normalization within source:

      pct = (2*rank - 1) / (2*n)     (midpoint rank in (0, 1))

    and a single global keep fraction then removes the same share of
    every source.  Exactness: rank and n are bigints, pct is one
    division, keep compares integer cross-products
    (2*rank - 1 >= 2*n*(1 - keep_frac) avoids float thresholds on the
    ratio).  Scale shape: one window exchange on the source key."""
    from pyspark.sql import Window

    w = Window.partitionBy(part_col).orderBy("raw", id_col)
    wn = Window.partitionBy(part_col)
    d = (docs.select(part_col, id_col,
                     F.col(metric_col).cast("long").alias("raw"))
         .withColumn("rank", F.row_number().over(w).cast("long"))
         .withColumn("n", F.count(F.lit(1)).over(wn).cast("long")))
    # keep iff pct >= 1 - keep_frac, compared in integers:
    # (2r - 1) / 2n >= 1 - kf  <=>  (2r - 1) * D >= 2n * ND  with
    # 1 - kf = ND / D a fixed rational (kf given to 4 decimals)
    nd = round((1.0 - keep_frac) * 10000)
    return d.select(
        part_col, id_col, "raw", "rank", "n",
        ((2 * F.col("rank") - 1).cast("double")
         / (2 * F.col("n"))).alias("pct"),
        ((2 * F.col("rank") - 1) * 10000 >= 2 * F.col("n") * nd)
        .alias("keep"))
