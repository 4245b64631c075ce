"""Deduplication operators for the 100 TB training-data path.

MinHash+LSH (shingle -> minhash -> band -> bucket-join), SimHash,
n-gram Jaccard verification, substring/paragraph dedup and duplicate
clusters.  Design notes
for scale:

* Exact dedup is one groupBy on the content hash (query
  ``exact_dedup_groups``): survivor = min doc_id — no collect, no skew
  (hash keys are uniform).
* MinHash signatures are pure Column/window expressions (posexplode +
  window leads -> flat min-aggregates — stays in codegen; one exchange
  shared by the window and the aggregation).  LSH bands unroll to flat
  (band_idx, band_hash) expressions: candidate generation is one
  shuffle whose key cardinality grows with corpus size, not pairs².
* Verification joins candidates back to shingle sets and computes exact
  Jaccard with array_intersect/array_union — native.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MERSENNE = (1 << 61) - 1


def normalized_words(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda w: F.length(w) > 0)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as an array<string> (pure Columns).

    Built by zipping n shifted slices of the word array and joining each
    zipped struct — one transform whose per-element work is a flat
    3-field concat.  The previous transform(sequence, i ->
    concat_ws(slice(words, i, n))) shape paid an interpreted slice per
    shingle: 4.4 s vs 1.2 s for the sf0.1 corpus."""
    words = normalized_words(text)
    k = F.size(words) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(words, 1 + j, k) for j in range(n)])
    sh = F.transform(zipped,
                     lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    return F.when(k <= 0, F.array_distinct(F.array(F.concat_ws(" ", words)))) \
        .otherwise(F.array_distinct(sh))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 16,
                       seed: int = 7, hash_fn=None) -> DataFrame:
    """(id, shingles, sig array<long>).

    Signatures come from a groupBy with k flat ``min`` aggregates
    rather than k nested ``aggregate`` lambdas over an array: identical
    values, but flat aggregates stay in vectorized hash-agg codegen
    (the lambda-tree version measured ~4x slower at sf0.1).

    ``hash_fn`` swaps the seeded shingle hash: default is
    xxhash64(s, seed+i) (production); pass md5_hash64 for the
    DuckDB-replicable variant, which hashes '<seed+i>,<shingle>'.

    Shingle rows are produced by posexplode(words) + two window leads
    rather than building a shingle array and exploding it: the window
    shuffles on ``id_col`` — the same key the min-aggregate shuffles on
    next, so the exchange is shared — and the per-row work is one flat
    concat (12x faster than the array-building form at sf0.1; min() is
    duplicate-insensitive, so skipping the distinct changes nothing).
    Docs with fewer than n words contribute their whole text as one
    shingle, matching word_shingles' fallback."""
    from pyspark.sql import Window

    words = docs.select(id_col, normalized_words(F.col(text_col)).alias("ws"))
    win = Window.partitionBy(id_col).orderBy("pos")
    long_sh = (
        words.where(F.size("ws") >= 3)
        .select(id_col, F.posexplode("ws").alias("pos", "w1"))
        .withColumn("w2", F.lead("w1", 1).over(win))
        .withColumn("w3", F.lead("w1", 2).over(win))
        .where(F.col("w3").isNotNull())
        .select(id_col, F.concat_ws(" ", "w1", "w2", "w3").alias("s"))
    )
    short_sh = (words.where(F.size("ws") < 3)
                .select(id_col, F.concat_ws(" ", "ws").alias("s")))
    ex = long_sh.unionByName(short_sh)
    base = docs.select(id_col, word_shingles(F.col(text_col)).alias("shingles"))
    empty_sig = F.lit(2 ** 62).cast("long")
    if hash_fn is None:
        def _h(i):
            return F.xxhash64("s", F.lit(seed + i))
    else:
        def _h(i):
            return hash_fn(F.concat(F.lit("%d," % (seed + i)), F.col("s")))
    aggs = [
        F.min(F.pmod(_h(i), F.lit(MERSENNE))).alias("h%d" % i)
        for i in range(k)
    ]
    sigs = ex.groupBy(id_col).agg(*aggs).select(
        id_col, F.array(*[F.coalesce(F.col("h%d" % i), empty_sig)
                          for i in range(k)]).alias("sig"))
    # empty-shingle docs (no exploded rows) keep the init sentinel
    return base.join(sigs, id_col, "left").select(
        id_col, "shingles",
        F.coalesce("sig", F.array_repeat(empty_sig, k)).alias("sig"))


def minhash_band_buckets(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 16,
                         bands: int = 4, hash_fn=None) -> DataFrame:
    """MinHash LSH band buckets -> (id, band, bucket) — the compact
    collision keys every banded dedup consumer joins on.

    Carries ONLY (id, band, bucket): the shingle arrays would otherwise
    ride through the band explode, the pair join, and the dedup shuffle
    (measured 3x slower at sf0.1).  Bands unroll as flat expressions
    over Python-literal indices — the nested transform/sequence
    lambda-tree version of this explode fell out of whole-stage codegen
    and measured 12.7 s vs 0.6 s for the signature aggregation it
    wraps."""
    rows_per_band = k // bands
    bucket_hash = hash_fn or F.xxhash64
    sigs = minhash_signatures(docs, text_col, id_col, k,
                              hash_fn=hash_fn).select(id_col, "sig")
    return sigs.select(
        id_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                bucket_hash(F.concat_ws(",", *[
                    F.col("sig")[b * rows_per_band + j].cast("string")
                    for j in range(rows_per_band)
                ])).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 16,
                        bands: int = 4, hash_fn=None) -> DataFrame:
    """MinHash-LSH near-dup candidates -> verified n-gram Jaccard.

    -> (doc_a, doc_b, jaccard).  Pairs are emitted once (a < b).
    ``hash_fn`` swaps both the shingle hash and the band-bucket hash
    (md5_hash64 gives the DuckDB-replicable variant)."""
    # No cache/checkpoint: the expensive aggregation (shingle rows ->
    # k min-hashes) feeds ONLY the band explode, used once; verification
    # re-derives shingles straight from the docs scan, a narrow
    # transform with no shuffle.  A round-1 cache() leaked across the
    # session, and its localCheckpoint replacement materialized the
    # shingle arrays through row serialization (measured the dominant
    # cost of the query at sf0.1).  Two scans beat one checkpoint write
    # at any scale, and the verify scan touches only candidate rows
    # after the join prunes.
    banded = minhash_band_buckets(docs, text_col, id_col, k, bands, hash_fn)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.%s" % id_col) < F.col("b.%s" % id_col))
        .select(F.col("a.%s" % id_col).alias("doc_a"),
                F.col("b.%s" % id_col).alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = docs.select(F.col(id_col),
                     word_shingles(F.col(text_col)).alias("shingles"))
    pairs = (
        cand.join(sh.withColumnRenamed(id_col, "doc_a")
                  .withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed(id_col, "doc_b")
              .withColumnRenamed("shingles", "sh_b"), "doc_b")
    )
    return pairs.select(
        "doc_a", "doc_b",
        (F.size(F.array_intersect("sh_a", "sh_b"))
         / F.size(F.array_union("sh_a", "sh_b"))).alias("jaccard"),
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        block_col: str = "lang",
                        threshold: float = 0.0,
                        df_cap: int | None | str = "derived",
                        candidates: DataFrame | None = None,
                        min_shared: int = 1) -> DataFrame:
    """Blocked n-gram Jaccard verification (the exact verifier; SQL-parity
    with the DuckDB oracle).  Blocking on ``block_col`` bounds the
    quadratic term per block.

    Candidate generation is an inverted-index self-join on exploded
    shingles, which is O(sum_s c_s^2) over posting-list sizes — a stock
    phrase shared by 10^6 docs in one block would emit 10^12 join rows.
    The DEFAULT therefore bounds posting lists: ``df_cap="derived"``
    caps each block at ``max(1000, ceil(sqrt(block_doc_count)))``,
    computed inside the plan (no driver-side count).  Shingles whose
    within-block document frequency exceeds the cap are dropped from
    candidate *generation* only; surviving pairs are verified against
    the FULL arrays, so every reported jaccard is exact.  Only pairs
    whose shared shingles are ALL ultra-frequent (each df > cap) can be
    missed — for near-dup thresholds that requires >cap near-copies of
    the same document, at which point exact dedup catches them first.

    Other modes:

    - ``candidates``: a (doc_a, doc_b) DataFrame (e.g. from
      ``lsh_candidate_pairs`` band buckets) — verification joins the
      full shingle arrays onto exactly those pairs; no self-join at all.
      This is the preferred 100 TB path when an LSH pass already ran.
    - ``df_cap=<int>``: explicit cap, same exact-verify semantics.
    - ``df_cap=None``: uncapped all-pairs inverted index (single-pass
      co-count, no re-verify join) — small corpora / testing only.

    Result-preserving optimizations: shingles hashed to longs (collision
    odds ~|shingles|^2/2^64), union via |A|+|B|-|A∩B| (arrays are
    distinct)."""
    sh = word_shingles(F.col(text_col), n)
    base = docs.select(
        id_col, F.col(block_col).alias("block"),
        F.transform(sh, lambda s: F.xxhash64(s)).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))

    if candidates is not None:
        return _verify_pairs(candidates.select("doc_a", "doc_b"),
                             base, id_col, threshold)

    ex = base.select(id_col, "block", "n_sh", F.explode("sh").alias("s"))
    if df_cap is not None:
        dfreq = ex.groupBy("block", "s").agg(F.count(F.lit(1)).alias("_df"))
        if df_cap == "derived":
            # per-block adaptive cap, never below 1000 so small corpora
            # (and the sf0.01 oracle run) are bit-identical to uncapped
            block_sz = base.groupBy("block").agg(
                F.count(F.lit(1)).alias("_n_b"))
            keep = (dfreq.join(block_sz, "block")
                    .where(F.col("_df") <= F.greatest(
                        F.lit(1000), F.ceil(F.sqrt("_n_b")).cast("long")))
                    .select("block", "s"))
        else:
            keep = (dfreq.where(F.col("_df") <= df_cap)
                    .select("block", "s"))
        ex = ex.join(keep, ["block", "s"])
        a, b = ex.alias("a"), ex.alias("b")
        # min_shared > 1 prunes pairs linked only by a single (viral)
        # shingle at GENERATION time — the candidate set a hot stock
        # phrase emits is postings^2 even under the cap.  least(na, nb)
        # keeps tiny docs exact: a 1-shingle excerpt can never share 2.
        cand = (
            a.join(b, ["block", "s"])
            .where(F.col("a.%s" % id_col) < F.col("b.%s" % id_col))
            .groupBy(F.col("a.%s" % id_col).alias("doc_a"),
                     F.col("b.%s" % id_col).alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("_shared"),
                 F.first("a.n_sh").alias("_na"),
                 F.first("b.n_sh").alias("_nb"))
            .where(F.col("_shared") >= F.least(
                F.lit(min_shared), F.col("_na"), F.col("_nb")))
            .select("doc_a", "doc_b")
        )
        # capped postings under-count intersections, so re-verify
        # survivors on the full arrays — exact jaccard for every pair
        return _verify_pairs(cand, base, id_col, threshold)

    a, b = ex.alias("a"), ex.alias("b")
    co = (
        a.join(b, ["block", "s"])
        .where(F.col("a.%s" % id_col) < F.col("b.%s" % id_col))
        .groupBy(F.col("a.%s" % id_col).alias("doc_a"),
                 F.col("b.%s" % id_col).alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"),
             F.first("a.n_sh").alias("na"), F.first("b.n_sh").alias("nb"))
    )
    return (
        co.select(
            "doc_a", "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
             ).alias("jaccard"))
        .where(F.col("jaccard") > threshold)
    )


def _verify_pairs(cand: DataFrame, base: DataFrame, id_col: str,
                  threshold: float) -> DataFrame:
    """Exact Jaccard on (doc_a, doc_b) candidates from full hashed-shingle
    arrays; touches only the candidate set, never all pairs."""
    sh = base.select(F.col(id_col), F.col("sh"))
    pairs = (
        cand.join(sh.withColumnRenamed(id_col, "doc_a")
                  .withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed(id_col, "doc_b")
              .withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.select("doc_a", "doc_b",
                     (inter / union).alias("jaccard"))
        .where(F.col("jaccard") > threshold)
    )


def md5_hash64(col: Column, bits: int = 60) -> Column:
    """Word hash DuckDB can replicate exactly: first 15 hex chars of md5
    parsed as a 60-bit long.  Production paths use xxhash64 (faster,
    JVM-native); this variant exists so oracle-facing queries keep full
    value parity — DuckDB: ('0x' || substr(md5(w),1,15))::bigint."""
    return F.conv(F.substring(F.md5(col), 1, bits // 4), 16, 10).cast("long")


def simhash_votes(text: Column, bits: int = 64, hash_fn=None) -> Column:
    """Per-bit majority votes for SimHash, one pass over the words.

    aggregate(words) with an array<long> accumulator: each word's hash
    contributes +1/-1 per bit (bit positions are Python literals, so
    every shift amount is a constant — shiftright requires that).
    ``hash_fn`` swaps the word hash (default xxhash64; md5_hash64 for
    oracle parity)."""
    words = normalized_words(text)
    hash_fn = hash_fn or F.xxhash64

    def _sign_bits(h: Column) -> Column:
        return F.array(*[
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1).cast("long")).otherwise(F.lit(-1).cast("long"))
            for b in range(bits)
        ])

    return F.aggregate(
        F.transform(words, lambda w: hash_fn(w)),
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, _sign_bits(h), lambda a, v: a + v),
    )


def pack_simhash(votes: Column, bits: int = 64) -> Column:
    """votes array<long> -> packed 64-bit SimHash (sign bit via shiftleft
    wrap, staying in long range)."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(votes[b] > 0,
                           F.shiftleft(F.lit(1).cast("long"), b)
                           ).otherwise(F.lit(0).cast("long"))
    return out


def simhash_col(text: Column, bits: int = 64, hash_fn=None) -> Column:
    """Convenience single-expression SimHash.  Prefer the two-step
    (simhash_votes as a named column, then pack_simhash) in real plans —
    it keeps the vote aggregate from being duplicated per bit."""
    return pack_simhash(simhash_votes(text, bits, hash_fn), bits)


def simhash_table(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """(id, simhash) via explode -> groupBy with flat per-bit vote sums —
    same values as simhash_votes/pack_simhash, but vectorized hash-agg
    instead of per-row lambda-tree evaluation (same lesson as
    minhash_signatures)."""
    ex = docs.select(id_col, F.explode(normalized_words(F.col(text_col))).alias("w"))
    ex = ex.withColumn("h", F.xxhash64("w"))
    aggs = [
        F.sum(F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias("v%d" % b)
        for b in range(bits)
    ]
    votes = ex.groupBy(id_col).agg(*aggs)
    packed = F.lit(0).cast("long")
    for b in range(bits):
        packed = packed + F.when(F.col("v%d" % b) > 0,
                                 F.shiftleft(F.lit(1).cast("long"), b)
                                 ).otherwise(F.lit(0).cast("long"))
    sigs = votes.select(id_col, packed.alias("simhash"))
    return docs.select(id_col).join(sigs, id_col, "left").select(
        id_col, F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup pairs: block on 16-bit prefix bands, verify by
    popcount of xor (bit_count native)."""
    sh = simhash_table(docs, text_col, id_col)
    banded = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for i in range(4)
        ])).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.%s" % id_col) < F.col("b.%s" % id_col))
        .select(F.col("a.%s" % id_col).alias("doc_a"),
                F.col("b.%s" % id_col).alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# --- Bloom-filter seen-set (incremental crawl dedup) ----------------------

def bloom_positions(col: Column, m: int, k: int) -> Column:
    """array<int> of k bit positions in [0, m) for a key — md5-derived
    (the DuckDB-replicable hash family; each of the k hashes salts the
    key with ':i').  Pure Columns, no UDF."""
    return F.array(*[
        (F.conv(F.substring(F.md5(F.concat(col.cast("string"),
                                           F.lit(":%d" % i))), 1, 15),
                16, 10).cast("long") % m).cast("int")
        for i in range(k)
    ])


def bloom_build(seen: DataFrame, key_col: str = "url",
                m: int = 1 << 20, k: int = 5) -> DataFrame:
    """Materialize a Bloom filter over ``seen[key_col]`` as a compact
    bitmap table (chunk_id, bits): 32 bits per row via bit_or partial
    aggregation, so the build is ONE shuffle whose output is m/32 rows
    (a 10^10-bit filter -> ~300M rows / ~2.5 GB — broadcastable in
    chunks or storable as the crawl frontier's seen-set snapshot).
    Incremental maintenance is a union + the same groupBy: bit_or is
    idempotent and associative."""
    pos = seen.select(
        F.explode(bloom_positions(F.col(key_col), m, k)).alias("pos"))
    # shiftleft's python wrapper needs a literal shift; expr() takes a column
    return (pos
            .groupBy((F.col("pos") / 32).cast("int").alias("chunk_id"))
            .agg(F.bit_or(F.expr("shiftleft(1, pos % 32)")).alias("bits")))


def bloom_probe(incoming: DataFrame, bloom: DataFrame,
                key_col: str = "url", m: int = 1 << 20,
                k: int = 5) -> DataFrame:
    """Probe incoming keys against a built filter: (key, maybe_seen).
    maybe_seen=1 -> key is possibly in the seen set (false-positive
    rate ~(1-e^{-kn/m})^k); maybe_seen=0 -> DEFINITELY new, safe to
    crawl.  The probe explodes each key to its k positions and
    broadcast-joins the bitmap — the incoming scan shuffles once on the
    key for the final all-bits-set groupBy."""
    pos = incoming.select(
        key_col,
        F.posexplode(bloom_positions(F.col(key_col), m, k))
        .alias("i", "pos"))
    hit = (pos
           .join(F.broadcast(bloom),
                 (F.col("pos") / 32).cast("int") == F.col("chunk_id"),
                 "left")
           .select(key_col,
                   F.when(F.col("bits").isNotNull() &
                          (F.col("bits")
                           .bitwiseAND(F.expr("shiftleft(1, pos % 32)"))
                           != 0),
                          1).otherwise(0).alias("bit_set")))
    return (hit.groupBy(key_col)
            .agg((F.min("bit_set") == 1).cast("int").alias("maybe_seen")))


# --- Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
# --- Data Makes Language Models Better" — the ExactSubstr variant) ------

def _pos_ngrams(words: Column, n: int) -> Column:
    """All n-word grams in order (index i = gram starting at word i,
    0-based) — same zipped-slice shape as word_shingles, but POSITIONED:
    the output array index IS the start offset."""
    k = F.size(words) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(words, 1 + j, k) for j in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(grams)


def substring_dedup_spans(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 50,
                          key_fn=None, giant_words: int = 20_000) -> DataFrame:
    """Maximal duplicated word spans per document: every n-gram that
    occurs >= 2 times ANYWHERE in the corpus marks its [pos, pos+n)
    interval; overlapping/adjacent intervals merge into maximal spans
    (doc_id, span_start, span_end, n_grams), positions in the
    normalized-word sequence.

    This is suffix-array ExactSubstr dedup re-expressed relationally:
    instead of one giant suffix array, duplicated length-n windows are
    found with a count-over-hash window (any >= n-word duplicate
    substring contains a duplicated n-window, so maximal-span recall is
    identical for duplicates of length >= n).

    Scale: exactly TWO exchanges — (1) the count window on the gram
    hash (key cardinality ~ corpus token count, uniform — no skew
    beyond genuinely viral spans, which are precisely the rows kept),
    (2) the per-doc island merge, whose window and groupBy share one
    hash partitioning on doc_id.  No self-join, no pairs² term.
    ``key_fn`` defaults to xxhash64 (64-bit collisions are negligible
    next to n=50 semantic windows); pass md5 for engine-parity tests.

    Giant-doc routing: the zipped-slice gram builder holds n slices of
    the doc's word array in ONE row buffer (n x doc blow-up — a 10 MB
    doc at n=50 is a 500 MB row).  Docs with >= ``giant_words`` words
    instead explode to per-word rows and build the IDENTICAL gram
    strings from n-1 window leads (per-row memory bounded by n words;
    the per-doc window sort spills).  Same gram text on both routes,
    so duplicates pair up across them.
    """
    key_fn = key_fn or F.xxhash64
    base = docs.select(
        id_col, normalized_words(F.col(text_col)).alias("_w"))
    small = base.where(F.size("_w") < giant_words)
    giant = base.where(F.size("_w") >= giant_words)
    small_g = small.select(
        id_col, F.posexplode(_pos_ngrams(F.col("_w"), n)).alias("pos", "gram"))
    lead_w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("_w0")] + [F.lead("_w0", j).over(lead_w)
                              for j in range(1, n)]
    giant_g = (giant
               .select(id_col, F.posexplode("_w").alias("pos", "_w0"))
               .select(id_col, "pos",
                       F.concat_ws(" ", *leads).alias("gram"),
                       leads[-1].alias("_last"))
               .where(F.col("_last").isNotNull())
               .drop("_last"))
    grams = small_g.unionByName(giant_g)
    dup_w = Window.partitionBy("k")
    flagged = (grams
               .select(id_col, "pos", key_fn(F.col("gram")).alias("k"))
               .withColumn("cnt", F.count(F.lit(1)).over(dup_w))
               .where(F.col("cnt") > 1))
    doc_w = Window.partitionBy(id_col).orderBy("pos")
    return (flagged
            .withColumn("new_isl",
                        F.when(F.col("pos") - F.lag("pos").over(doc_w) > n,
                               1).otherwise(0))
            .withColumn("isl", F.sum("new_isl").over(doc_w))
            .groupBy(id_col, "isl")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + n).alias("span_end"),
                 F.count(F.lit(1)).alias("n_grams"))
            .drop("isl"))


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", key_fn=None) -> DataFrame:
    """CCNet-style paragraph dedup: split each document on blank lines,
    keep only the corpus-wide FIRST occurrence of each normalized
    paragraph (first = lowest (doc_id, position)), and reassemble
    surviving paragraphs in document order.  Returns (doc_id,
    clean_text, n_paras, n_removed_paras).

    Normalization before hashing mirrors CCNet: lowercase, digits
    dropped, whitespace collapsed — so boilerplate that differs only in
    counters/dates still collapses to one survivor.

    Scale: exactly TWO exchanges — (1) a row_number window on the
    paragraph hash (uniform key, cardinality ~ distinct paragraphs;
    viral boilerplate keys are exactly the rows the window exists to
    rank), (2) the per-doc reassembly groupBy.  No join back to the
    docs table: the paragraph rows carry everything.  ``key_fn``
    defaults to xxhash64; pass md5 for engine-parity tests.
    """
    key_fn = key_fn or F.xxhash64
    paras = F.filter(
        F.transform(F.split(F.col(text_col), r"\n\s*\n"),
                    lambda p: F.trim(p)),
        lambda p: F.length(p) > 0)
    norm = lambda p: F.regexp_replace(  # noqa: E731
        F.regexp_replace(F.lower(p), r"[0-9]+", ""), r"\s+", " ")
    exploded = docs.select(
        id_col, F.posexplode(F.coalesce(
            paras, F.array().cast("array<string>"))).alias("pos", "para"))
    first_w = (Window.partitionBy("k")
               .orderBy(F.col(id_col).asc(), F.col("pos").asc()))
    kept = (exploded
            .withColumn("k", key_fn(norm(F.col("para"))))
            .withColumn("rk", F.row_number().over(first_w)))
    return (kept
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_paras"),
                 F.sum((F.col("rk") > 1).cast("int"))
                 .alias("n_removed_paras"),
                 F.concat_ws(
                     "\n\n",
                     F.transform(
                         F.array_sort(F.collect_list(F.when(
                             F.col("rk") == 1,
                             F.struct("pos", "para")))),
                         lambda s: s["para"])).alias("clean_text"))
            .select(id_col, "clean_text", "n_paras", "n_removed_paras"))


# ---- duplicate-cluster resolution (connected components) ---------------

def connected_components(edges: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iters: int = 30) -> DataFrame:
    """Connected components over an undirected edge list ->
    (node, cluster_id) where cluster_id is the component's minimum node
    id.  This is the cluster-resolution step every banded dedup
    pipeline needs after MinHash/SimHash pair generation: pairs only
    say "a duplicates b"; keeping one survivor per *transitive* group
    requires components.

    Algorithm: min-label propagation with pointer jumping.  Each round
    does (1) lbl(x) <- min(lbl(x), min over neighbours' lbl) — one
    groupBy shuffle keyed on node — then (2) lbl(x) <- lbl(lbl(x)) — a
    self-join that halves remaining path lengths, so convergence takes
    O(log diameter) rounds instead of O(diameter).  Dup clusters are
    near-cliques in practice (diameter 2-3), and adversarial chains
    still finish in ~log2(n) rounds.  The loop is ``reach_min`` over
    the symmetrized edges, seeded with each node's min-neighbour label.

    Scale notes: per round the data volume is |V| label rows + |E|
    edge rows — never pairs-squared; every shuffle keys on node ids
    (uniform after banding).  Lineage is truncated each round with an
    eager localCheckpoint so the plan doesn't grow with iterations; on
    a real cluster point spark.checkpoint.dir at durable storage and
    swap in checkpoint() for executor-loss tolerance.  Convergence is
    detected with one count per round (labels only ever decrease, so
    zero changes == fixpoint).
    """
    # sym joins into EVERY round: materialize it once (narrow 2-long
    # frame) or the edge list's full upstream plan — at worst an entire
    # curation pipeline (gates -> url dedup -> minhash) — re-executes
    # per iteration (measured: 92 s vs 12 s for curate_e2e at sf0.1)
    # Node ids may be numeric (doc ids — normalized to long) or strings
    # (hosts/urls — min-label works lexicographically, no cast).
    from pyspark.sql import types as T

    numeric = isinstance(edges.schema[a_col].dataType, T.NumericType)
    _id = (lambda c: c.cast("long")) if numeric else (lambda c: c)
    sym = (edges.select(_id(F.col(a_col)).alias("src"),
                        _id(F.col(b_col)).alias("dst"))
           .union(edges.select(_id(F.col(b_col)).alias("src"),
                               _id(F.col(a_col)).alias("dst")))
           .distinct()
           .localCheckpoint(eager=True))
    labels = (sym.groupBy(F.col("src").alias("node"))
              .agg(F.min(F.least(F.col("dst"), F.col("src"))).alias("lbl")))
    return (reach_min(sym, init=labels, max_iters=max_iters)
            .select("node", F.col("lbl").alias("cluster_id")))


def reach_min(edges: DataFrame, nodes: DataFrame | None = None,
              init: DataFrame | None = None,
              max_iters: int = 30) -> DataFrame:
    """Directed min-label reachability fixpoint over (src, dst) edges ->
    (node, lbl) where lbl(v) = min label among {v} ∪ {u : u reaches v}
    (labels default to the ``nodes`` ids themselves; pass ``init``
    (node, lbl) to seed, e.g. a sentinel below every real id for
    set-reachability).  Over symmetrized edges this is undirected CC.

    Pointer jumping is SOUND here even though edges are directed:
    lbl(v) reaches v and lbl(lbl(v)) reaches lbl(v), so the
    composition reaches v — each round halves remaining label-chain
    lengths, giving O(log diameter) rounds.  Per round: one groupBy
    keyed on dst + one label self-join, both on node ids; lineage
    truncated with eager localCheckpoints.  Labels only decrease, so
    zero changes == fixpoint (one count per round)."""
    labels = (init if init is not None
              else nodes.select("node", F.col("node").alias("lbl"))) \
        .localCheckpoint(eager=True)
    for _ in range(max_iters):
        nbr = (edges.join(labels.select(F.col("node").alias("src"),
                                        F.col("lbl").alias("nl")), "src")
               .groupBy(F.col("dst").alias("node"))
               .agg(F.min("nl").alias("lbl")))
        new = (labels.union(nbr)
               .groupBy("node").agg(F.min("lbl").alias("lbl")))
        # pointer jump: follow the label one hop (the left join misses
        # only when lbl is not itself a labelled node; then keep lbl)
        new = (new.join(labels.select(F.col("node").alias("lbl"),
                                      F.col("lbl").alias("ll")),
                        "lbl", "left")
               .select("node",
                       F.least(F.col("lbl"), F.coalesce("ll", "lbl"))
                       .alias("lbl"))
               .localCheckpoint(eager=True))
        changed = (new.join(labels.withColumnRenamed("lbl", "old"), "node")
                   .where(F.col("lbl") != F.col("old")).count())
        labels = new
        if changed == 0:
            break
    return labels


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id", a_col: str = "doc_a",
                   b_col: str = "doc_b",
                   max_iters: int = 30) -> DataFrame:
    """Resolve dup pairs into clusters over the full corpus ->
    (doc_id, cluster_id, is_survivor).  Docs in no pair are their own
    singleton cluster; the survivor is the minimum doc_id of each
    component (the same min-id survivor rule as the ``exact_dedup_groups``
    query).  The components table is tiny relative to the corpus (only
    docs that appear in some pair), so the final join broadcasts at any scale
    where dups are a minority."""
    cc = connected_components(pairs, a_col, b_col, max_iters)
    out = (docs.select(id_col)
           .join(F.broadcast(cc.withColumnRenamed("node", id_col)),
                 id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("cluster_id", F.col(id_col))
                   .alias("cluster_id")))
    return out.withColumn(
        "is_survivor",
        (F.col("cluster_id") == F.col(id_col)).cast("int"))


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      block_col: str = "lang", threshold: float = 0.9,
                      df_cap: int | None | str = "derived",
                      candidates: DataFrame | None = None,
                      min_shared: int = 2) -> DataFrame:
    """Asymmetric shingle containment C(a|b) = |S(a) ∩ S(b)| / |S(a)|
    (Broder's resemblance companion): a short excerpt inside a longer
    page scores ~1.0 on the excerpt side while symmetric Jaccard
    dilutes below any useful threshold — the signal for
    quote-inclusion and boilerplate-extended near-dups.

    Candidate generation reuses ngram_jaccard_pairs' bounded inverted
    index, by default requiring ``min_shared=2`` surviving shingles per
    pair (relaxed to the doc's own shingle count for 1-shingle
    excerpts) — one viral shingle shared by k docs would otherwise
    emit all k^2/2 pairs into exact verification.  Survivors are
    verified exactly on the full hashed-shingle arrays with BOTH
    directions reported, kept when either containment reaches
    ``threshold``.  Same 100 TB story as the Jaccard verifier: posting
    lists capped in-plan, verification touches candidates only.  A
    pair whose shared shingles number below ``min_shared`` after
    capping can be missed; for the oracle-exhaustive variant pass
    ``df_cap=None`` (uncapped co-count generation, min_shared
    inapplicable)."""
    sh = word_shingles(F.col(text_col), n)
    base = docs.select(
        F.col(id_col),
        F.transform(sh, lambda s: F.xxhash64(s)).alias("sh"))
    if candidates is None:
        candidates = (ngram_jaccard_pairs(
            docs, text_col=text_col, id_col=id_col, n=n,
            block_col=block_col, threshold=0.0, df_cap=df_cap,
            min_shared=min_shared)
            .select("doc_a", "doc_b"))
    pairs = (candidates
             .join(base.withColumnRenamed(id_col, "doc_a")
                   .withColumnRenamed("sh", "sh_a"), "doc_a")
             .join(base.withColumnRenamed(id_col, "doc_b")
                   .withColumnRenamed("sh", "sh_b"), "doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    c_a = F.when(F.size("sh_a") > 0,
                 inter / F.size("sh_a")).otherwise(F.lit(0.0))
    c_b = F.when(F.size("sh_b") > 0,
                 inter / F.size("sh_b")).otherwise(F.lit(0.0))
    return (pairs.select(
        "doc_a", "doc_b",
        F.round(c_a, 6).alias("containment_a"),
        F.round(c_b, 6).alias("containment_b"))
        .where(F.greatest(F.col("containment_a"),
                          F.col("containment_b")) >= threshold))


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

def cdc_chunks(text: str, k: int = 8, mask: int = 16,
               raw: bool = False) -> list[str]:
    """Content-defined chunk digests: cut wherever the base-257
    rolling k-gram hash (mod 2^61-1, the winnowing kernel's hash) is
    divisible by ``mask`` — boundaries depend only on local content,
    so an insertion early in a document shifts ONE chunk instead of
    re-aligning every fixed-size block (the rsync/LBFS trick, Muthitacharoen
    et al. SOSP 2001).  Returns the md5 hex digest per chunk, in order."""
    import hashlib

    if not text:
        return []
    B, M = 257, (1 << 61) - 1
    h = 0
    power = pow(B, k - 1, M)
    cuts = []
    for i, ch in enumerate(text):
        h = (h * B + ord(ch)) % M
        if i >= k:
            h = (h - ord(text[i - k]) * power * B) % M
        if i >= k - 1 and h % mask == 0:
            cuts.append(i + 1)
    if not cuts or cuts[-1] != len(text):
        cuts.append(len(text))
    out, start = [], 0
    for c in cuts:
        chunk = text[start:c]
        out.append(chunk if raw
                   else hashlib.md5(chunk.encode("utf-8")).hexdigest())
        start = c
    return out


def cdc_chunk_udf(k: int = 8, mask: int = 16):
    def _batch(s):
        return s.map(lambda t: cdc_chunks(t or "", k=k, mask=mask))

    return F.pandas_udf(_batch, "array<string>")


def cdc_chunk_stats(docs: DataFrame, text_col: str = "text",
                    group_col: str = "source", k: int = 8,
                    mask: int = 16) -> DataFrame:
    """Per-group CDC dedup report -> (group, n_chunks,
    n_distinct_chunks, dup_ratio): how much of each source's text is
    chunk-level duplicated — the storage-dedup / sub-document-overlap
    signal fixed-size blocking misses under insertions (boilerplate
    headers, syndicated passages, near-identical revisions).

    Shape: chunking is an Arrow-batched map over the scan; digests
    (32-byte hex, never chunk text) feed ONE groupBy exchange on the
    group key with a distinct-count aggregate.  At corpus scale swap
    the exact count_distinct for approx_count_distinct the same way
    anchor_text_profile parameterizes it."""
    ch = docs.select(F.col(group_col).alias("grp"),
                     F.explode(cdc_chunk_udf(k, mask)(F.col(text_col)))
                     .alias("h"))
    return (ch.groupBy(F.col("grp").alias(group_col))
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.countDistinct("h").alias("n_distinct_chunks"))
            .withColumn("dup_ratio",
                        F.round(F.lit(1.0)
                                - F.col("n_distinct_chunks")
                                / F.col("n_chunks"), 6)))


def minhash_accuracy(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 8,
                     bands: int = 4, hash_fn=None) -> DataFrame:
    """MinHash estimator audit over the LSH candidate pairs ->
    (doc_a, doc_b, n_match, est_jaccard, exact_jaccard, abs_err).

    The sketch-accuracy report completing the audit family
    (quantized_recall / pq_recall / bloom_probe): the MinHash estimate
    ĵ = (matching signature components) / k is what the banded join
    ACTS on at corpus scale; this report quantifies it against the
    exact shingle Jaccard on the candidate set, where exactness is
    still affordable.  Integer match counts keep the estimate
    engine-exact.  Shape: the candidate join (already banded/bounded)
    plus two signature attachments — no new all-pairs term."""
    pairs = lsh_candidate_pairs(docs, text_col, id_col, k=k,
                                bands=bands, hash_fn=hash_fn)
    sig = minhash_signatures(docs, text_col, id_col, k=k,
                             hash_fn=hash_fn).select(id_col, "sig")
    j = (pairs
         .join(sig.select(F.col(id_col).alias("doc_a"),
                          F.col("sig").alias("sa")), "doc_a")
         .join(sig.select(F.col(id_col).alias("doc_b"),
                          F.col("sig").alias("sb")), "doc_b"))
    n_match = F.expr(
        "aggregate(zip_with(sa, sb, (x, y) -> if(x = y, 1, 0)),"
        " 0, (acc, v) -> acc + v)")
    est = n_match.cast("double") / k
    exact = F.round("jaccard", 6)
    return j.select("doc_a", "doc_b",
                    n_match.cast("long").alias("n_match"),
                    F.round(est, 6).alias("est_jaccard"),
                    exact.alias("exact_jaccard"),
                    F.round(F.abs(est - exact), 6).alias("abs_err"))


def delta_dedup(new_docs: DataFrame, corpus_docs: DataFrame,
                text_col: str = "text", id_col: str = "doc_id",
                k: int = 16, bands: int = 4, threshold: float = 0.5,
                hash_fn=None, store: DataFrame | None = None) -> DataFrame:
    """Incremental near-dedup of a NEW batch against an EXISTING corpus
    -> one row per new doc: (doc_id, dup_of, jaccard, is_new).

    The corpus-maintenance shape: a daily crawl must dedup against
    100 TB of history WITHOUT rescanning it.  Three prunes make that
    cheap: (1) the corpus side joins through its (band, bucket)
    signature table — pass ``store`` to reuse a persisted one (write
    it bucket-partitioned and the join prunes file reads, the same
    pbucket layout streaming ingest uses); (2) only bucket-COLLIDING
    old docs are candidates; (3) exact shingle verification rescans
    only candidate old docs (a semi-join-pruned corpus scan), never
    the corpus.  New-batch work is O(batch), corpus work is
    O(collisions).

    ``dup_of`` is the best old match (highest exact Jaccard >=
    threshold, smallest old id on ties); ``is_new`` = no such match.
    Intra-batch duplicates are out of scope — run the regular banded
    dedup within the batch first."""
    nb = minhash_band_buckets(new_docs, text_col, id_col, k, bands,
                              hash_fn)
    sb = store if store is not None else minhash_band_buckets(
        corpus_docs, text_col, id_col, k, bands, hash_fn)
    cand = (sb.withColumnRenamed(id_col, "old_id")
            .join(nb.withColumnRenamed(id_col, "new_id"),
                  ["band", "bucket"])
            .select("new_id", "old_id").distinct())
    sh_old = (corpus_docs
              .join(cand.select(F.col("old_id").alias(id_col))
                    .distinct(), id_col)
              .select(F.col(id_col).alias("old_id"),
                      word_shingles(F.col(text_col)).alias("sh_o")))
    sh_new = new_docs.select(F.col(id_col).alias("new_id"),
                             word_shingles(F.col(text_col))
                             .alias("sh_n"))
    inter = F.size(F.array_intersect("sh_n", "sh_o"))
    union = F.size("sh_n") + F.size("sh_o") - inter
    ver = (cand.join(sh_old, "old_id").join(sh_new, "new_id")
           .select("new_id", "old_id",
                   (inter / union).alias("jaccard"))
           .where(F.col("jaccard") >= F.lit(float(threshold))))
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"),
                                             F.asc("old_id"))
    best = (ver.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1).drop("_r"))
    base = new_docs.select(F.col(id_col).alias("new_id"))
    return (base.join(best, "new_id", "left")
            .select(F.col("new_id").alias(id_col),
                    F.col("old_id").alias("dup_of"),
                    F.round("jaccard", 6).alias("jaccard"),
                    F.col("old_id").isNull().alias("is_new")))


def ngram_novelty(old_docs: DataFrame, new_docs: DataFrame,
                  text_col: str = "text", part_col: str = "source",
                  n: int = 8, use_md5: bool = False) -> DataFrame:
    """Cross-snapshot n-gram novelty: the share of a new crawl
    snapshot's distinct word n-grams that no document of the previous
    snapshot contains — the content-level freshness measure next to
    snapshot_delta's digest-level churn (a recrawl that refetches
    boilerplate scores high on digest churn but near-zero here).

    Returns per partition: (part, n_grams_new, n_novel, novelty).
    Exactness: distinct counts are bigints, novelty is one division.
    Scale shape: both sides reduce to DISTINCT gram-hash sets (xxhash64
    of the joined window — never gram strings) partitioned by the same
    key; the anti-join and the counts shuffle on gram hash; no
    cross-snapshot doc-level term.  ``use_md5`` swaps the production
    xxhash64 key for md5 (the engine-portable oracle twin, same
    convention as the md5/xxhash dedup pairs)."""
    _hash = F.md5 if use_md5 else F.xxhash64

    def _grams(d: DataFrame, with_part: bool) -> DataFrame:
        words = F.split(F.lower(F.col(text_col)), r"\s+")
        # sequence(0, -1) silently DESCENDS (the chrF phantom-n-gram
        # trap) — short docs must yield an empty index array instead
        idx = F.when(F.size(words) >= n,
                     F.sequence(F.lit(0), F.size(words) - n)) \
            .otherwise(F.array().cast("array<int>"))
        cols = [F.col(part_col).alias("part")] if with_part else []
        return (d.select(*cols,
                         F.explode(F.transform(
                             idx, lambda i: _hash(F.concat_ws(
                                 " ", F.slice(words, i + 1, n)))))
                         .alias("g")))

    new_g = _grams(new_docs, True).distinct()
    old_g = _grams(old_docs, False).select("g").distinct()
    marked = (new_g.join(old_g.withColumn("seen", F.lit(1)), "g", "left"))
    return (marked.groupBy("part")
            .agg(F.count(F.lit(1)).alias("n_grams_new"),
                 F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
                 .cast("long").alias("n_novel"))
            .select(F.col("part").alias(part_col),
                    F.col("n_grams_new").cast("long").alias("n_grams_new"),
                    "n_novel",
                    F.when(F.col("n_grams_new") > 0,
                           F.col("n_novel").cast("double")
                           / F.col("n_grams_new")).alias("novelty")))
