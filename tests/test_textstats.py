"""Text-analysis operators (token counts, lang ID, quality, fingerprints)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from deepseek_ocr_omnidocbench_spark.operators.textstats import (
    fingerprint_udf,
    lang_id_col,
    token_count_cols,
    trailing_repeats,
    winnow_fingerprint,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_token_counts_match_duckdb(spark, docs):
    got = docs.select("doc_id", *[v.alias(k) for k, v in
                                  token_count_cols(F.col("text")).items()])
    want = duckdb.sql(f"""
        select doc_id,
          len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) ws,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) bpe
        from read_parquet('{SF_DIR}/documents.parquet') order by doc_id
    """).fetchall()
    got_rows = {r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"]) for r in got.collect()}
    for doc_id, ws, bpe in want:
        assert got_rows[doc_id] == (ws, bpe), doc_id


def test_lang_id_basics(spark):
    df = spark.createDataFrame(
        [("the cat is on the mat and that is that",),
         ("der hund ist nicht mit der katze",),
         ("数据处理分布式系统文档提取标题段落表格公式",),
         ("el gato corre por el parque con su dueño y los perros",),
         ("le chat est dans la maison et les chiens courent avec leur maître",),
         ("",)],
        ["text"])
    rows = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]
    assert rows == ["en", "de", "zh", "es", "fr", "unknown"]


def test_lang_id_extended_profiles(spark):
    """One unit sentence per round-3 profile (it/pt/nl/sv/pl/tr/id via
    stopwords; ja/ko/ru/ar/hi via script density)."""
    cases = [
        ("il gatto che corre sono anche questo nella casa ma di gli", "it"),
        ("uma casa mais bonita foi pelo caminho e isso os leva em paz", "pt"),
        ("het huis is een niet zo groot maar ook voor zijn vrienden", "nl"),
        ("och det som har att vara av till vid ett hus inte", "sv"),
        ("nie jest jak ale czy tak przez tego jego juz dom", "pl"),
        ("bir ev ve bu olarak daha gibi sonra kadar ancak yok", "tr"),
        ("yang dan dengan untuk dari ini itu tidak pada adalah", "id"),
        ("これは日本語のテキストです、漢字も混ざっています", "ja"),
        ("안녕하세요 한국어 문서입니다 감사합니다", "ko"),
        ("это русский текст для проверки определения языка", "ru"),
        ("هذا نص باللغة العربية للاختبار", "ar"),
        ("यह हिंदी में एक परीक्षण वाक्य है", "hi"),
        ("数据处理分布式系统文档提取标题段落表格公式", "zh"),
        ("qwz brx vlk pzt", "unknown"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], ["text"])
    rows = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]
    assert rows == [want for _, want in cases]


def test_lang_id_round4_profiles(spark):
    """One unit sentence per round-4 profile (ro/da/fi/cs/hu/ca via
    stopwords; th/he/el/bn/ta/te/ka/hy via script density)."""
    cases = [
        ("acest text este din care pentru sau dupa si cu a fost scris",
         "ro"),
        ("jeg kan ikke se hvad der skal ske hvis og hvor vi er efter",
         "da"),
        ("ei mutta kun oli joka etta ovat kuin niin mita talo", "fi"),
        ("je se jsou jsem byl bylo ktery vsak muze pouze dum", "cs"),
        ("hogy nem egy az meg mar csak volt vagy mint haz", "hu"),
        ("amb els dels aquest tambe aquesta seva fins aixo com", "ca"),
        ("ข้อความภาษาไทยสำหรับการทดสอบ", "th"),
        ("זהו טקסט בעברית לבדיקה", "he"),
        ("αυτό είναι ένα ελληνικό κείμενο", "el"),
        ("এটি একটি বাংলা পরীক্ষার বাক্য", "bn"),
        ("இது ஒரு தமிழ் சோதனை வாக்கியம்", "ta"),
        ("ఇది ఒక తెలుగు పరీక్ష వాక్యం", "te"),
        ("ეს არის ქართული ტექსტი", "ka"),
        ("սա հայերեն տեքստ է", "hy"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], ["text"])
    rows = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]
    assert rows == [want for _, want in cases]


def test_lang_profiles_disjoint():
    """The strictly-greater cascade is order-stable only if no stopword
    appears in two profiles."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import LATIN_PROFILES

    seen: dict[str, str] = {}
    for lang, ws in LATIN_PROFILES:
        for w in ws:
            assert w not in seen, (w, lang, seen.get(w))
            assert w == w.lower() and w.isascii() and w.isalpha(), w
            seen[w] = lang


def test_gates_count_each_text_once(spark):
    """lang_id_col, quality_cols and seo_spam_cols count their text with
    one Python UDF (text_counts_col), and Spark evaluates it once for
    all three over the same text: one ArrowEvalPython holding one UDF,
    also in curation_pipeline, which mixes two of them with Column
    gates over its coalesced text."""
    from deepseek_ocr_omnidocbench_spark.operators.curation import (
        curation_pipeline)
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        quality_cols, seo_spam_cols)

    df = spark.createDataFrame([(1, "the free pdf and of")],
                               "doc_id int, text string")
    t = F.col("text")
    cols = {"lang": lang_id_col(t), **quality_cols(t), **seo_spam_cols(t)}
    for out in (df.select(*[v.alias(k) for k, v in cols.items()]),
                curation_pipeline(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
        assert len(nodes) == 1, plan
        assert nodes[0].count("pythonUDF") == 1, plan
        out.collect()


def test_lang_id_oracle_sql_matches_spark(spark, docs):
    """The generated DuckDB CASE must agree with lang_id_col (the
    same-table guarantee, checked end to end) on mixed multilingual
    rows, the sf0.001 documents and the adversarial rows: NULL,
    case-mapping and glued-stopword strings."""
    import duckdb

    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        lang_id_oracle_sql)

    texts = [
        "the cat is on the mat", "der hund ist nicht mit",
        "il gatto che sono anche", "uma casa mais foi pelo",
        "het huis een niet zijn", "och det som har att",
        "nie jest jak ale czy", "bir ve bu olarak daha",
        "yang dan dengan untuk dari", "le chat est dans les",
        "el gato por el con su", "これは日本語です",
        "안녕하세요 한국어", "это русский текст", "هذا نص عربي",
        "यह हिंदी है", "数据处理分布式系统", "", "zz qq xx",
    ]
    texts += [r["text"] for r in docs.select("text").collect()] + _ADVERSARIAL
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    got = [r[0] for r in df.orderBy("i").select(
        lang_id_col(F.col("text"))).collect()]
    con = duckdb.connect()
    con.execute("create table t(i int, text varchar)")
    con.executemany("insert into t values (?, ?)", list(enumerate(texts)))
    want = [r[0] for r in con.sql(
        "select %s from t order by i" % lang_id_oracle_sql("text")).fetchall()]
    assert got == want


def test_winnow_fingerprint_properties():
    fp1 = winnow_fingerprint("the quick brown fox jumps over the lazy dog")
    assert fp1
    assert fp1 == winnow_fingerprint("the quick brown fox jumps over the lazy dog")
    assert winnow_fingerprint("ab") == []
    # local change only perturbs nearby hashes: most of fp shared
    fp2 = winnow_fingerprint("the quick brown fox jumps over the lazy cat")
    shared = len(set(fp1) & set(fp2))
    assert shared >= len(fp1) // 2


def test_trailing_repeats():
    assert trailing_repeats("abcabcabc", max_ngram=3) >= 3
    assert trailing_repeats("xyz") == 1
    assert trailing_repeats("") == 0
    assert trailing_repeats("aaaa") == 4


def test_udfs_run_on_spark(spark):
    df = spark.createDataFrame([("hello hello hello",), ("short",)], ["text"])
    out = df.select(
        fingerprint_udf()(F.col("text")).alias("fp"),
    ).collect()
    assert isinstance(out[0]["fp"], list)


def test_gopher_rules_each_rule_fires(spark):
    """Each Gopher rule trips on a document crafted to violate only it
    (Rae et al. 2021 A1.1 bounds)."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        gopher_rules_cols,
    )

    good = ("the quick brown fox jumps over the lazy dog and runs far away "
            * 10)
    rows = [
        ("good", good),
        ("short", "the cat sat on the mat"),                    # < 50 words
        ("longwords", " ".join(["the", "and"] + ["extraordinarily"] * 60)),
        ("symbols", "the " + "# " * 40 + " ".join(["word"] * 60)),
        ("bullets", "\n".join("- the item %d here" % i for i in range(60))),
        ("numeric", "the and " + " ".join(str(i) for i in range(80))),
        ("nostops", " ".join("wordy%d alpha beta gamma" % i
                             for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "name string, text string")
    cols = gopher_rules_cols(F.col("text"))
    out = {r["name"]: r for r in df.select(
        "name", *[v.alias(k) for k, v in cols.items()]).collect()}
    assert out["good"]["gopher_pass"]
    assert not out["short"]["r_word_count"]
    assert not out["longwords"]["r_mean_word_len"]
    assert not out["symbols"]["r_symbol_ratio"]
    assert not out["bullets"]["r_bullet_ratio"]
    assert not out["numeric"]["r_alpha_words"]
    assert not out["nostops"]["r_stopwords"]


def test_repetition_stats_planted(spark):
    """Gopher repetition gate: planted duplicate lines and a dominating
    2-gram produce the hand-computed fractions."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        repetition_stats,
    )

    rows = [
        # 4 lines, "same line" twice: dup_line_frac = 1 - 3/4
        (1, "same line\nsame line\nother one\nlast bit"),
        # one line, "ab cd" 2-gram appears 3x among 6 words
        (2, "ab cd ab cd ab cd"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["dup_line_frac"] == pytest.approx(0.25)
    # chars on duplicated lines: 2*9 over 2*9+9+8
    assert out[1]["dup_line_char_frac"] == pytest.approx(18 / 35)
    # "ab cd" covers 3 occurrences * 4 word-chars over 12 total word chars
    assert out[2]["top2gram_char_frac"] == pytest.approx(1.0)
    assert out[2]["top3gram_char_frac"] == pytest.approx(2 * 6 / 12)
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top2gram_char_frac"] == 0.0


def test_pack_documents_layout(spark):
    """Deterministic token-stream packing: offsets are cumulative within
    a group and bins chop every `budget` tokens."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        pack_documents,
    )

    rows = [(1, "en", "a " * 10), (2, "en", "b " * 10), (3, "en", "c " * 10),
            (4, "de", "d " * 25)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r["doc_id"]: r for r in pack_documents(df, budget=16).collect()}
    assert out[1]["start_offset"] == 0 and out[1]["bin"] == 0
    assert out[2]["start_offset"] == 10 and out[2]["bin"] == 0  # straddles
    assert out[3]["start_offset"] == 20 and out[3]["bin"] == 1
    assert out[4]["start_offset"] == 0 and out[4]["bin"] == 0  # own group


def test_lang_id_round5_profiles(spark):
    """One unit sentence per round-5 profile (vi/no/sk/hr/sr/lt/lv/et/
    sl/ms/af/sw/tl/eu/sq/cy/is) — toneless web Vietnamese and Latin
    Serbian included, since the ASCII word splitter drops diacritics."""
    cases = [
        ("khong co nguoi nao trong nha duoc nhung ngay truoc viec hoac",
         "vi"),
        ("noen ganger vil bare vaere hvordan mye denne selv etter blir noe",
         "no"),
        ("alebo to bolo ktore potom teda vsetko mozno tiez preto ked",
         "sk"),
        ("to nije dom koji ili koja samo vrlo jos moze biti sve", "hr"),
        ("takodje gde je posle ovde uvek nesto veoma zbog sada bez", "sr"),
        ("kad yra buvo kaip taip labai dar jau tik bet namas", "lt"),
        ("nav tikai ari gan tapec kur vel pec lidz vini maja", "lv"),
        ("ning kui aga seda voi koik ainult samuti juba siis maja", "et"),
        ("tudi lahko vendar zelo kjer nekaj veliko torej zdaj brez", "sl"),
        ("anda boleh kerana sahaja tetapi iaitu hendak amat pula sebab",
         "ms"),
        ("ons het hierdie baie want hulle geword sodat daardie asook vir",
         "af"),
        ("kwamba lakini wakati sana pia hivyo kama yake katika mwaka",
         "sw"),
        ("ang mga ito hindi naman lang kung ako siya ngayon bahay", "tl"),
        ("eta dira izan ere baina egin duela horrek gabe oso etxe", "eu"),
        ("dhe sepse nuk jane kjo nga edhe sipas ketu shume shtepi", "sq"),
        ("bod wedi ond mae hyn iawn eto rhai dim hefyd ty", "cy"),
        ("sem hann eru vera einnig fyrir milli sidan verid honum hus",
         "is"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], ["text"])
    rows = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]
    assert rows == [want for _, want in cases]


def test_lang_id_adversarial_inputs(spark):
    """The combined-alternation regex must survive degenerate inputs
    (empty, punctuation-only, huge token, regex-hostile bytes, long
    repetitive doc) without raising, agreeing with the DuckDB oracle."""
    import duckdb

    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        lang_id_oracle_sql,
    )

    texts = [
        "",
        "!!! ??? ... ###",
        "a" * 50_000,
        "the " * 20_000,
        "((((between|the|and))))" * 50,
        "thė anḋ of to in is that",   # combining marks
        "éé the café and of to in is that",
        "der die das und ist nicht mit ein eine zu den",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]

    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"text": texts}))
    want = [r[0] for r in con.execute(
        "select %s from t" % lang_id_oracle_sql("text")).fetchall()]
    assert got == want, list(zip(got, want))


def test_lang_id_round5_second_pass_profiles(spark):
    """One unit sentence per round-5 second-pass profile: +5 Latin
    stopword tables (ga/mt/zu/ha/so), +11 single-language script blocks
    (kn/ml/gu/pa/or/si/my/km/lo/am/bo), +9 marker-letter languages
    inside shared Cyrillic/Arabic (ur/ps/fa/kk/mn/uk/be/mk and Cyrillic
    sr) — plus plain-Cyrillic/plain-Arabic fall-through to ru/ar."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        MARKER_PROFILES)

    cases = [
        ("agus ach seo chun freisin bheith raibh anseo gach arsa", "ga"),
        ("huwa hija iktar ukoll jista dwar biex qabel kienet lill", "mt"),
        ("ukuthi futhi ngoba kodwa lokhu kanye noma ngesikhathi "
         "njengoba abantu", "zu"),
        ("amma wannan domin wata suka kuma wani daga cikin yana", "ha"),
        ("waxaa inuu iyo laakiin markii sidoo kale ayaa dhan isaga", "so"),
        ("ಇದು ಕನ್ನಡ ಪರೀಕ್ಷಾ ವಾಕ್ಯ", "kn"),
        ("ഇത് ഒരു മലയാളം വാക്യം ആണ്", "ml"),
        ("આ એક ગુજરાતી વાક્ય છે", "gu"),
        ("ਇਹ ਇੱਕ ਪੰਜਾਬੀ ਵਾਕ ਹੈ", "pa"),
        ("ଏହା ଏକ ଓଡ଼ିଆ ବାକ୍ୟ ଅଟେ", "or"),
        ("මෙය සිංහල වාක්‍යයකි", "si"),
        ("ဤသည်မှာ မြန်မာစာ ဖြစ်သည်", "my"),
        ("នេះជាប្រយោគភាសាខ្មែរ", "km"),
        ("ນີ້ແມ່ນປະໂຫຍກພາສາລາວ", "lo"),
        ("ይህ የአማርኛ ዓረፍተ ነገር ነው", "am"),
        ("འདི་བོད་ཡིག་ཡིན།", "bo"),
        ("یہ اردو زبان کا ایک جملہ ہے", "ur"),
        ("دا د پښتو ژبې جمله ده", "ps"),
        ("این یک جمله فارسی است پر از پنیر", "fa"),
        ("бұл қазақ тілінің мәтіні және ұлттық", "kk"),
        ("энэ бол монгол хэл дээрх өгүүлбэр юм", "mn"),
        ("це український текст із літерами її та є", "uk"),
        ("гэта беларускі тэкст з літарай ў тут", "be"),
        ("ова е македонски текст со буквите ѓ и ќ", "mk"),
        ("ово је српски текст са словима ђ и ћ", "sr"),
        # no marker letters anywhere -> base-script fall-through
        ("это русский текст для проверки определения", "ru"),
        ("هذا نص باللغة العربية للاختبار فقط", "ar"),
    ]
    # marker sanity baked into the fixtures: each marker sentence
    # contains at least one of its own language's marker letters and
    # none of any EARLIER profile's (cascade order is load-bearing for
    # fa-after-ur/ps and mn-after-kk).
    order = [m[0] for m in MARKER_PROFILES]
    marks = {m[0]: set(m[4]) for m in MARKER_PROFILES}
    for text, want in cases:
        if want in marks:
            assert set(text) & marks[want], want
            for earlier in order[:order.index(want)]:
                assert not set(text) & marks[earlier], (want, earlier)
    df = spark.createDataFrame([(t,) for t, _ in cases], ["text"])
    rows = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]
    assert rows == [want for _, want in cases]


def test_marker_profiles_consistent():
    """Marker letters sit inside their base-script range and are unique
    within each shared range (so cascade order only matters where one
    alphabet genuinely contains another's markers)."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        MARKER_PROFILES)

    seen: dict[tuple[int, int, str], str] = {}
    for lang, lo, hi, thr, marks in MARKER_PROFILES:
        assert marks
        for c in marks:
            assert lo <= ord(c) <= hi, (lang, hex(ord(c)))
            key = (lo, hi, c)
            assert key not in seen, (lang, seen[key], hex(ord(c)))
            seen[key] = lang


def test_lang_id_oracle_sql_matches_spark_second_pass(spark):
    """Spark vs DuckDB parity over the round-5 second-pass languages
    (markers + new scripts + new Latin profiles), mixed with fall-
    through rows."""
    import duckdb

    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        lang_id_oracle_sql)

    texts = [
        "agus ach seo chun freisin gach", "huwa hija iktar ukoll jista",
        "ukuthi futhi ngoba kodwa lokhu", "amma wannan domin wata suka",
        "waxaa inuu iyo laakiin markii", "ಇದು ಕನ್ನಡ ಪರೀಕ್ಷಾ ವಾಕ್ಯ",
        "ഇത് ഒരു മലയാളം വാക്യം", "یہ اردو کا جملہ ہے",
        "دا د پښتو جمله ده", "این جمله فارسی است پر",
        "бұл қазақ мәтіні ұлттық", "энэ монгол өгүүлбэр юм",
        "це український текст є", "гэта беларускі тэкст ў",
        "ова македонски текст ѓ", "ово српски текст ђ",
        "это русский текст для", "هذا نص عربي فقط",
        "ይህ የአማርኛ ዓረፍተ ነገር ነው", "འདི་བོད་ཡིག་ཡིན།", "", "zz qq xx",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]
    con = duckdb.connect()
    con.execute("create table t(text varchar)")
    con.executemany("insert into t values (?)", [(t,) for t in texts])
    want = [r[0] for r in con.sql(
        "select %s from t" % lang_id_oracle_sql("text")).fetchall()]
    assert got == want


def test_zipf_stats_hand_checked(spark):
    """zipf_stats on a corpus with a planted frequency ladder: exact
    token/vocab/hapax counts, and a pure power-law ladder regresses to
    its exact slope."""
    import math

    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        zipf_stats)

    # term_i appears floor(64 / i) times -> ln f = ln 64 - ln rank
    # (slope -1) up to floor() distortion; plus two hapaxes
    words = []
    freqs = [64, 32, 21, 16, 12]
    terms = ["alpha", "beta", "gamma", "delta", "eps"]
    for t, f in zip(terms, freqs):
        words += [t] * f
    words += ["uniqone", "uniqtwo"]
    # split across 4 docs so the half-corpus has a smaller vocabulary
    chunks = [words[i::4] for i in range(4)]
    df = spark.createDataFrame(
        [(i, " ".join(c)) for i, c in enumerate(chunks)],
        ["doc_id", "text"])
    r = zipf_stats(df, top_r=5).collect()[0]
    assert r["n_tokens"] == sum(freqs) + 2
    assert r["vocab"] == 7
    assert r["hapax_frac"] == round(2 / 7, 6)
    # top_r=5 caps the "top-10" numerator at the 5 ladder terms
    assert r["top10_coverage"] == round(sum(freqs) / (sum(freqs) + 2), 6)
    # OLS slope over the exact ladder
    xs = [math.log(i + 1) for i in range(5)]
    ys = [math.log(f) for f in freqs]
    n = 5.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert r["zipf_slope"] == pytest.approx(want, abs=1e-6)
    assert -1.1 < r["zipf_slope"] < -0.8
    # heaps: 0 < beta < 1 for any growing vocabulary
    assert 0.0 < r["heaps_beta"] < 1.0
    assert r["heaps_k"] > 0.0


def test_pmi_collocations_hand_computed(spark):
    """PMI on a tiny corpus matches the closed form computed by hand,
    min_count filters, and rank order is (pmi desc, w1, w2)."""
    import math

    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        pmi_collocations,
    )

    docs = spark.createDataFrame(
        [(0, "red fish blue fish"), (1, "red fish red fish"),
         (2, "blue sky"), (3, ""), (4, "one")],
        ["doc_id", "text"])
    rows = pmi_collocations(docs, min_count=2, top_k=10).collect()
    got = {(r["w1"], r["w2"]): r for r in rows}
    # corpus: tokens T=11, bigram slots B=3+3+1=7
    # "red fish" occurs 3x (doc0 once, doc1 twice); c(red)=3, c(fish)=4
    assert set(got) == {("red", "fish")}
    r = got[("red", "fish")]
    assert (r["c12"], r["c1"], r["c2"]) == (3, 3, 4)
    want = math.log2((3 / 7) / ((3 / 11) * (4 / 11)))
    assert r["pmi"] == pytest.approx(round(want, 6), abs=1e-9)
    assert r["rank"] == 1


def test_pmi_collocations_ranking_and_edges(spark):
    """Cross-doc bigrams never form (row-local construction), and the
    ranking tie-breaks deterministically on (w1, w2)."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        pmi_collocations,
    )

    # "aa bb" and "cc dd" have identical counts -> identical PMI
    docs = spark.createDataFrame(
        [(0, "aa bb x cc dd"), (1, "aa bb y cc dd"), (2, "bb"), (3, "cc")],
        ["doc_id", "text"])
    rows = (pmi_collocations(docs, min_count=2, top_k=10)
            .orderBy("rank").collect())
    pairs = [(r["w1"], r["w2"]) for r in rows]
    assert ("bb", "cc") not in pairs  # never a cross-token bridge? no:
    # bb x / x cc DO form within doc0 but occur once each < min_count
    assert pairs[0] == ("aa", "bb") and pairs[1] == ("cc", "dd")
    assert rows[0]["pmi"] == rows[1]["pmi"]
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_readability_cols(spark):
    """Flesch / FK against hand-computed values of the documented
    heuristic (words = letter runs, sentences = [.!?]+ runs, syllables
    = vowel-group runs floored at words)."""
    from pyspark.sql import functions as F

    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        readability_cols,
    )

    texts = ["The cat sat. The dog ran!", "", "xyz qrs", "Hello?!  Bye."]
    docs = spark.createDataFrame(list(enumerate(texts)), ["i", "text"])
    cols = readability_cols(F.col("text"))
    got = {r["i"]: r for r in docs.select(
        "i", *[v.alias(k) for k, v in cols.items()]).collect()}

    import re
    for i, t in enumerate(texts):
        words = len(re.findall(r"[A-Za-z]+", t))
        sents = len(re.findall(r"[.!?]+", t))
        syll = max(len(re.findall(r"[aeiouy]+", t.lower())), words)
        w, s = max(words, 1), max(sents, 1)
        flesch = 206.835 - 1.015 * (w / s) - 84.6 * (syll / w)
        fk = 0.39 * (w / s) + 11.8 * (syll / w) - 15.59
        assert got[i]["n_words"] == words
        assert got[i]["n_sentences"] == sents
        assert got[i]["n_syllables"] == syll
        assert got[i]["flesch_ease"] == pytest.approx(flesch, abs=1e-9)
        assert got[i]["fk_grade"] == pytest.approx(fk, abs=1e-9)
    # sanity: "xyz qrs" has no vowels -> syllable floor = word count
    assert got[2]["n_syllables"] == 2


def test_fingerprint_pairs_planted_copy(spark):
    """A verbatim-copied passage is caught; unrelated docs are not; a
    boilerplate substring shared by everyone is df-capped out."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        fingerprint_pairs,
    )

    boiler = "COPYRIGHT FOOTER TEXT SHARED BY EVERY PAGE. "
    passage = ("the quick brown fox jumps over the lazy dog "
               "while the band plays on and the crowd cheers loudly")
    rows = [
        (1, boiler + passage + " alpha ending one"),
        (2, boiler + passage + " beta ending two"),     # copies 1's passage
        (3, boiler + "completely different material about volcanoes "
            "and the geology of basalt columns in iceland"),
        (4, boiler + "another unrelated text on sourdough hydration "
            "ratios and proofing schedules for rye"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_a, r.doc_b): r.n_shared
           for r in fingerprint_pairs(df, min_shared=3, df_cap=3).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 3
    assert all(k == (1, 2) for k in got), got


class TestSourceEntropy:
    def test_uniform_and_skewed(self, spark):
        import math
        from deepseek_ocr_omnidocbench_spark.operators.textstats import (
            source_entropy,
        )
        docs = spark.createDataFrame(
            [("u", "aa bb cc dd"),          # uniform over 4 -> H=2 bits
             ("s", "aa aa aa aa aa aa bb"),  # skewed
             ("one", "zz zz zz")],           # single type -> H=0
            "source string, text string")
        got = {r["source"]: r for r in
               source_entropy(docs).collect()}
        assert got["u"]["entropy_bits"] == 2.0
        assert got["u"]["eff_vocab"] == 4.0
        assert got["u"]["ttr"] == 1.0
        h = -(6 / 7 * math.log2(6 / 7) + 1 / 7 * math.log2(1 / 7))
        assert got["s"]["entropy_bits"] == round(h, 6)
        assert got["one"]["entropy_bits"] == 0.0
        assert got["one"]["eff_vocab"] == 1.0
        assert got["one"]["n_tokens"] == 3 and got["one"]["n_types"] == 1


def test_host_concentration(spark):
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        host_concentration)

    rows = ([("s1", "h1")] * 6 + [("s1", "h2")] * 3 + [("s1", "h3")]
            + [("s2", "only")] * 4)
    d = spark.createDataFrame(rows, ["source", "host"])
    out = {r.source: r for r in host_concentration(d).collect()}
    s1 = out["s1"]
    assert s1.n_hosts == 3 and s1.total == 10
    assert s1.hhi == pytest.approx((36 + 9 + 1) / 100)
    assert s1.top_share == pytest.approx(0.6)
    assert s1.effective_hosts == pytest.approx(100 / 46)
    # monopoly partition: hhi = 1, effective hosts = 1
    assert out["s2"].hhi == pytest.approx(1.0)
    assert out["s2"].effective_hosts == pytest.approx(1.0)


def test_code_detect(spark):
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        code_detect)

    py = ("def add(a, b):\n    return a + b;\n"
          "def mul(a, b):\n    return a * b;\n")
    prose = ("The meeting went well and everyone agreed to come back "
             "next week for a longer discussion of the plan.")
    braces_only = "{}{}{}{}{}{}"  # symbols but no keywords/lines
    rows = [(1, py), (2, prose), (3, braces_only)]
    out = {r.doc_id: r for r in code_detect(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].is_code is True
    assert out[1].n_kw >= 4           # 2x 'def ' + 2x 'return '
    assert out[1].n_indent == 2
    assert out[2].is_code is False and out[2].n_sym == 0
    # symbol-dense but line endings: '}' ends its only line -> the
    # ender branch fires even with zero keywords
    assert out[3].is_code is True


def test_host_boilerplate_lines(spark):
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        host_boilerplate_lines)

    rows = []
    for i in range(4):
        rows.append((i, "h1", f"MENU\nreal content {i}\nCOPYRIGHT"))
    # h1 doc where the template line also repeats mid-doc
    rows.append((4, "h1", "MENU\nMENU\nunique tail"))
    # tiny host: nothing removed despite identical lines
    rows.append((5, "h2", "MENU\nx"))
    rows.append((6, "h2", "MENU\ny"))
    d = spark.createDataFrame(rows, ["doc_id", "host", "text"])
    out = {r.doc_id: r for r in
           host_boilerplate_lines(d, min_share=0.5, min_docs=3)
           .collect()}
    assert out[0].clean_text == "real content 0"
    assert out[0].n_removed == 2 and out[0].n_lines == 3
    # BOTH occurrences of a boilerplate line are removed
    assert out[4].clean_text == "unique tail"
    assert out[4].n_removed == 2
    # below min_docs: untouched
    assert out[5].n_removed == 0 and out[5].clean_text == "MENU\nx"


def test_login_page_scan(spark):
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        login_page_scan)

    rows = [
        (1, 'Email <form action="/login"> Password: Remember me'),
        (2, "Sign in with your password. Forgot password? Sign up!"),
        # 'password' mentioned in prose without auth context
        (3, "the password hashing article discusses bcrypt at length"),
        (4, "ordinary page about gardening"),
    ]
    out = {r.doc_id: r for r in login_page_scan(
        spark.createDataFrame(rows, ["doc_id", "text"])).collect()}
    assert out[1].is_login is True and out[1].has_form is True
    assert out[2].is_login is True      # 4 markers, no form
    assert out[3].is_login is False     # password but only 1 marker
    assert out[4].is_login is False


def test_truncation_loss(spark):
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        truncation_loss)

    # token counts: 'w ' * k gives k bpe tokens for plain words
    rows = [("s", "alpha " * 100), ("s", "beta " * 600),
            ("s", "gamma " * 3000)]
    d = spark.createDataFrame(rows, ["source", "text"])
    out = truncation_loss(d, budgets=(128, 512, 2048)).collect()[0]
    assert out.n_docs == 3 and out.n_tokens == 3700
    assert out.n_over_128 == 2
    assert out.lost_128 == (600 - 128) + (3000 - 128)
    assert out.n_over_2048 == 1 and out.lost_2048 == 952
    assert out.lost_share_512 == pytest.approx(
        ((600 - 512) + (3000 - 512)) / 3700)


def test_md_structure(spark):
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        md_structure)

    md = ("# Title\n\npara\n\n## Sub\n- a\n- b\n* c\n"
          "| h | h |\n| - | - |\n| 1 | 2 |\n```\ncode\n```")
    out = md_structure(spark.createDataFrame(
        [(1, "s", md)], ["doc_id", "source", "text"])).collect()[0]
    assert out.n_headings == 2
    assert out.n_bullets == 3
    assert out.n_table_rows == 3
    assert out.n_code_fence == 2


def test_sample_audit(spark):
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        sample_audit)

    pop = spark.createDataFrame(
        [("en",)] * 60 + [("de",)] * 30 + [("fr",)] * 10, ["lang"])
    # perfectly proportional sample -> every chi2 term 0
    samp = spark.createDataFrame(
        [("en",)] * 6 + [("de",)] * 3 + [("fr",)] * 1, ["lang"])
    out = {r.lang: r for r in sample_audit(samp, pop).collect()}
    assert all(r.chi2_term == pytest.approx(0.0) for r in out.values())
    assert out["en"].expected == pytest.approx(6.0)
    # skewed sample: missing stratum gets obs 0 with a positive term
    samp2 = spark.createDataFrame([("en",)] * 10, ["lang"])
    out2 = {r.lang: r for r in sample_audit(samp2, pop).collect()}
    assert out2["fr"].obs == 0
    # term for fr: exp = 1.0, (0 - 1)^2 / 1 = 1
    assert out2["fr"].chi2_term == pytest.approx(1.0)
    # en: exp 6, obs 10 -> (4)^2/6
    assert out2["en"].chi2_term == pytest.approx(16 / 6)


# ---- regex word counts vs the word-array forms they replaced -------------

# Strings where the two tokenizations could part: NULL/empty, characters
# whose lowercase is ASCII (Kelvin sign -> 'k', U+0130 -> 'i' + combining
# dot), stopwords glued to accented letters or digits, '-'/'_' joins,
# one run made of repeated stopwords, CJK mixed with ASCII.
_ADVERSARIAL = [
    None, "", "\u212a", "\u212a free of", "\u0130stanbul", "the\u00e9 and",
    "\u00e9the of", "the1and2of", "free-free_free", "the" * 50,
    "the " * 50, "\u6570\u636e the and \u5904\u7406 free pdf",
    "FREE PDF Download Ebook The", "And\nTHE\tof,to;in",
]


def _word_array_counts(t):
    """The higher-order forms quality_cols/seo_spam_cols used before
    the regex counts: word total, EN-stopword hits, SEO-word hits."""
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        EN_STOPWORDS, SEO_WORDS, _word_array)

    words = _word_array(t)
    return (F.size(words),
            F.size(F.filter(words, lambda w: w.isin(EN_STOPWORDS))),
            F.size(F.filter(words, lambda w: w.isin(SEO_WORDS))))


def _parity_frame(spark, docs):
    return docs.select("text").unionByName(
        spark.createDataFrame([(t,) for t in _ADVERSARIAL], "text string"))


def test_quality_and_seo_match_word_array_forms(spark, docs):
    """quality_cols, seo_spam_cols and page_quality_keep
    give the cells the word-array forms gave, NULL text included: NULL
    counts, and the 'unknown' language of an empty text."""
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        page_quality_keep, runaway_generation)
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        SPAM_THRESHOLD, quality_cols, seo_spam_cols)

    t = F.col("text")
    n_words, stop_hits, seo_hits = _word_array_counts(t)
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    seo_ratio = F.when(n_words > 0, seo_hits / n_words).otherwise(F.lit(0.0))
    want = {
        "alpha_ratio": F.when(F.length(t) > 0, alpha / F.length(t))
        .otherwise(F.lit(0.0)),
        "digit_chars": F.length(F.regexp_replace(t, r"[^0-9]", "")),
        "punct_ratio": F.when(F.length(t) > 0, F.length(F.regexp_replace(
            t, r"[A-Za-z0-9\s]", "")) / F.length(t)).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_words > 0, stop_hits / n_words)
        .otherwise(F.lit(0.0)),
        "mean_word_len": F.when(n_words > 0, alpha / n_words)
        .otherwise(F.lit(0.0)),
        "seo_hits": seo_hits, "word_total": n_words, "seo_ratio": seo_ratio,
        "is_spam": seo_ratio > SPAM_THRESHOLD,
        "keep": ~(seo_ratio > SPAM_THRESHOLD) & ~runaway_generation(t),
    }
    q, s = quality_cols(t), seo_spam_cols(t)
    got = {**{k: q[k] for k in ("alpha_ratio", "digit_chars", "punct_ratio",
                                "stopword_ratio", "mean_word_len")},
           **s, "keep": page_quality_keep(t, s["is_spam"])}
    rows = _parity_frame(spark, docs).select(
        "text", lang_id_col(t).alias("lang"),
        *[got[k].alias("g_" + k) for k in want],
        *[v.alias("w_" + k) for k, v in want.items()]).collect()
    assert len(rows) > len(_ADVERSARIAL)
    for r in rows:
        for k in want:
            assert r["g_" + k] == r["w_" + k], (k, (r["text"] or "")[:80])
    by_text = {r["text"]: r for r in rows}
    assert by_text[None]["g_seo_hits"] is None
    assert by_text[None]["g_word_total"] is None
    assert by_text[None]["lang"] == by_text[""]["lang"] == "unknown"
    assert by_text["the1and2of"]["g_word_total"] == 3
    assert by_text["free-free_free"]["g_seo_hits"] == 3
    assert by_text["the" * 50]["g_word_total"] == 1


# Rows for the gate-mirror parity test: overlapping literal markers,
# upper case, U+FFFD and mojibake, a code snippet, bullets, quotes, a
# marker inside a longer word, an SEO ratio exactly at the threshold.
_GATE_ROWS = [
    "......", ".....", "passwordpassword", "aaaa", "aaa",
    "PASSWORD Sign In <FORM action=x> Remember Me",
    "THE AND OF FREE PDF DOWNLOAD", "��", "Ã©tÃ©",
    "def f(a, b):\n    return a + b;\nimport os\n#include <x>\n{a=1};\n",
    "# title\n- item one\n* item two\n• three\n... and more...",
    "Error 404: page not found. Coming soon", "it's the 'end'",
    "password information form", "free " + "the " * 249,
]


def test_gate_mirrors_match_spark(spark, docs):
    """Every per-document gate's DuckDB mirror (``*_oracle_sql``) has
    the keys of its Column builder and equals it cell for cell (value
    and Python type), and
    ``substr_count`` equals its SQL twin, on the sf0.001 docs plus NULL,
    "" and adversarial rows."""
    from deepseek_ocr_omnidocbench_spark.operators.encoding import (
        encoding_health_cols, encoding_health_oracle_sql, fix_mojibake,
        fix_mojibake_oracle_sql)
    from deepseek_ocr_omnidocbench_spark.operators.filters import (
        soft404_cols, soft404_oracle_sql)
    from deepseek_ocr_omnidocbench_spark.operators.textstats import (
        code_detect_cols, code_detect_oracle_sql, gopher_rules_cols,
        gopher_rules_oracle_sql, login_page_cols, login_page_oracle_sql,
        quality_cols, quality_oracle_sql, seo_spam_cols, seo_spam_oracle_sql,
        substr_count, substr_count_oracle_sql)

    t = F.col("text")
    markers = ["#", "...", "aa", "password", "<form", "�",
               "Ã©", "'", "def "]
    gates = {
        "substr_count": ({m: substr_count(t, m) for m in markers},
                         {m: substr_count_oracle_sql("text", m)
                          for m in markers}),
        "quality": (quality_cols(t), quality_oracle_sql("text")),
        "seo_spam": (seo_spam_cols(t), seo_spam_oracle_sql("text")),
        "gopher": (gopher_rules_cols(t), gopher_rules_oracle_sql("text")),
        "code_detect": (code_detect_cols(t), code_detect_oracle_sql("text")),
        "login": (login_page_cols(t), login_page_oracle_sql("text")),
        "soft404": (soft404_cols(t), soft404_oracle_sql("text")),
        "encoding": (encoding_health_cols(t),
                     encoding_health_oracle_sql("text")),
        "fix_mojibake": ({"fixed": fix_mojibake(t)},
                         {"fixed": fix_mojibake_oracle_sql("text")}),
    }
    cells = []
    for g, (cols, sql) in gates.items():
        assert list(sql) == list(cols), g
        cells += [(g, k, cols[k], sql[k]) for k in cols]

    frame = docs.select("text").unionByName(spark.createDataFrame(
        [(x,) for x in _ADVERSARIAL + _GATE_ROWS], "text string"))
    rows = frame.select("text", *[c.alias("c%d" % i) for i, (_, _, c, _)
                                  in enumerate(cells)]).collect()
    assert len(rows) > len(_ADVERSARIAL + _GATE_ROWS)
    con = duckdb.connect()
    con.execute("create table t(i int, text varchar)")
    con.executemany("insert into t values (?, ?)",
                    [(i, r["text"]) for i, r in enumerate(rows)])
    want = con.sql("select %s from t order by i" % ", ".join(
        sql for _, _, _, sql in cells)).fetchall()
    bad = [(g, k, r["text"][:40], r["c%d" % i], w[i])
           for r, w in zip(rows, want, strict=True)
           for i, (g, k, _, _) in enumerate(cells)
           if (type(r["c%d" % i]), r["c%d" % i]) != (type(w[i]), w[i])]
    # the one known engine difference: Spark's lower('\u0130') is 'i' +
    # U+0307 (two [a-z] runs in "\u0130stanbul"), DuckDB's is 'i' (one)
    assert bad == [("quality", "mean_word_len", "\u0130stanbul", 3.5, 7.0),
                   ("seo_spam", "word_total", "\u0130stanbul", 2, 1)], bad
    by_text = {r["text"]: r for r in rows}
    n = {(g, k): "c%d" % i for i, (g, k, _, _) in enumerate(cells)}
    assert by_text["......"][n["substr_count", "..."]] == 2
    assert by_text["passwordpassword"][n["login", "n_password"]] == 2
    assert by_text["aaaa"][n["substr_count", "aa"]] == 2
    assert by_text[None][n["substr_count", "#"]] is None
    # one SEO word in 250: exactly at the threshold, not spam
    assert by_text["free " + "the " * 249][n["seo_spam", "is_spam"]] is False
