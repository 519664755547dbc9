"""Scalar function libraries: math null semantics (MathTransformers
NaN/Inf->None), text ops, date periods, map ops."""
import math

import pytest
from pyspark.sql import functions as F

from transmogrifai_spark.functions import dates as D
from transmogrifai_spark.functions import maps as M
from transmogrifai_spark.functions import math as X
from transmogrifai_spark.functions import text as TX


def _one(spark, expr, schema="x double", row=(1.0,)):
    return spark.createDataFrame([row], schema).select(expr.alias("r")).first()["r"]


def test_divide_by_zero_is_null(spark):
    df = spark.createDataFrame([(1.0, 0.0), (6.0, 2.0), (None, 2.0)], "a double, b double")
    rows = df.select(X.divide(F.col("a"), F.col("b")).alias("r")).collect()
    assert [r["r"] for r in rows] == [None, 3.0, None]


def test_nan_inf_guards(spark):
    # 0/0 -> NaN -> None; exp(1000) -> Inf -> None; sqrt(-1) -> NaN -> None
    df = spark.createDataFrame([(0.0,)], "x double")
    assert df.select(X.divide(F.col("x"), F.col("x")).alias("r")).first()["r"] is None
    assert df.select(X.exp(F.col("x") + 1000).alias("r")).first()["r"] is None
    assert df.select(X.sqrt(F.col("x") - 1).alias("r")).first()["r"] is None


def test_log_nonpositive_null(spark):
    assert _one(spark, X.log(F.col("x")), row=(0.0,)) is None
    assert abs(_one(spark, X.log(F.col("x")), row=(math.e,)) - 1.0) < 1e-12


def test_ceil_floor_round_types(spark):
    assert _one(spark, X.ceil(F.col("x")), row=(1.2,)) == 2
    assert _one(spark, X.floor(F.col("x")), row=(1.8,)) == 1
    assert _one(spark, X.round_(F.col("x")), row=(2.5,)) == 3  # HALF_UP


def test_tokenize_and_lengths(spark):
    r = _one(spark, TX.tokenize(F.col("x"), min_token_length=2),
             "x string", ("Hello, wide world! a",))
    assert r == ["hello", "wide", "world"]
    assert _one(spark, TX.text_len(F.col("x")), "x string", (None,)) == 0


def test_ngrams(spark):
    r = _one(spark, TX.ngrams(F.split(F.col("x"), " "), 2), "x string", ("a b c",))
    assert r == ["a b", "b c"]
    r1 = _one(spark, TX.ngrams(F.split(F.col("x"), " "), 3), "x string", ("a b",))
    assert r1 == []


def test_char_ngrams(spark):
    assert _one(spark, TX.char_ngrams(F.col("x"), 2), "x string", ("abc",)) == ["ab", "bc"]


def test_jaccard(spark):
    df = spark.createDataFrame([(["a", "b"], ["b", "c"])], "a array<string>, b array<string>")
    assert df.select(TX.jaccard_similarity(F.col("a"), F.col("b")).alias("r")).first()["r"] \
        == pytest.approx(1 / 3)


def test_ngram_set_similarity(spark):
    df = spark.createDataFrame([("abcd", "bcde"), ("abc", ""), ("Abc", "abc")],
                               "a string, b string")
    got = [r["r"] for r in df.select(
        TX.ngram_set_similarity(F.col("a"), F.col("b"), 2).alias("r")).collect()]
    # {ab,bc,cd} vs {bc,cd,de}: 2 shared of 4; an empty side is 0.0;
    # char n-grams are lowercased first
    assert got == [pytest.approx(0.5), 0.0, 1.0]


def test_email_parsing(spark):
    good = _one(spark, TX.email_domain(F.col("x")), "x string", ("bob@corp.io",))
    bad = _one(spark, TX.is_valid_email(F.col("x")), "x string", ("not-an-email",))
    assert good == "corp.io" and bad is False


def test_phone_validation(spark):
    assert _one(spark, TX.is_valid_phone_us(F.col("x")), "x string", ("(415) 555-2671",)) is True
    assert _one(spark, TX.is_valid_phone_us(F.col("x")), "x string", ("12345",)) is False


def test_time_periods(spark):
    df = spark.createDataFrame([("2024-03-15 13:45:00",)], "s string") \
        .select(F.col("s").cast("timestamp").alias("ts"))
    row = df.select(
        D.time_period(F.col("ts"), "DayOfMonth").alias("dom"),
        D.time_period(F.col("ts"), "HourOfDay").alias("hod"),
        D.time_period(F.col("ts"), "MonthOfYear").alias("moy"),
    ).first()
    assert (row["dom"], row["hod"], row["moy"]) == (15, 13, 3)


def test_time_period_list_and_map(spark):
    # 2024-03-15 13:45 UTC and 2024-12-01 00:00 UTC as epoch millis
    ms = [1710510300000, 1733011200000]
    df = spark.createDataFrame([(ms, {"a": ms[0], "b": ms[1]})],
                               "l array<long>, m map<string,long>")
    row = df.select(D.time_period_list(F.col("l"), "MonthOfYear").alias("l"),
                    D.time_period_map(F.col("m"), "HourOfDay").alias("m")
                    ).first()
    assert row["l"] == [3, 12]
    assert row["m"] == {"a": 13, "b": 0}


def test_unit_circle_inverse(spark):
    df = spark.createDataFrame([("2024-03-15 06:00:00",)], "s string") \
        .select(F.col("s").cast("timestamp").alias("ts"))
    s, c = D.unit_circle(F.col("ts"), "HourOfDay")
    row = df.select(s.alias("s"), c.alias("c")).first()
    # hour 6 of 24 -> quarter circle -> sin=1, cos~0
    assert row["s"] == pytest.approx(1.0) and row["c"] == pytest.approx(0.0, abs=1e-12)


def test_filter_stages(spark):
    """operators/filters.py stages: Filter / Exists / ToOccur / Replace /
    Substring / Alias / FilterMap, each evaluated through its stage."""
    from transmogrifai_spark.feature import from_dataframe
    from transmogrifai_spark.operators import filters as FL
    df = spark.createDataFrame(
        [(5.0, "Spark", "I like spark", {"a": "1", "b": "2"}),
         (None, "x", None, {"b": "3"}),
         (-1.0, None, "text", {})],
        "v double, needle string, hay string, m map<string,string>")
    fs = from_dataframe(df, overrides={"needle": "Text", "hay": "Text",
                                       "m": "TextMap"})
    outs = [FL.filter_value(fs["v"], lambda c: c > 0, default=0.0),
            FL.exists(fs["v"], lambda c: c > 0),
            FL.to_occur(fs["v"]),
            FL.replace(fs["needle"], "x", "y"),
            FL.substring_of(fs["needle"], fs["hay"]),
            FL.alias(fs["v"], "v2"),
            FL.filter_map(fs["m"], block=["b"])]
    got = df.select(*[o.origin_stage.expr() for o in outs]).collect()
    cols = [o.name for o in outs]
    assert [tuple(r[c] for c in cols) for r in got] == [
        (5.0, True, 1.0, "Spark", True, 5.0, {"a": "1"}),
        (0.0, False, 0.0, "y", False, None, {}),
        (0.0, False, 1.0, None, False, -1.0, {})]


def test_filter_map_keys(spark):
    df = spark.createDataFrame([({"a": "1", "b": "2", "C x": "3"},)], "m map<string,string>")
    r = df.select(M.filter_map_keys(F.col("m"), block=["b"], clean_keys=True).alias("r")).first()["r"]
    assert r == {"a": "1", "cx": "3"}


def test_parse_json_map(spark):
    df = spark.createDataFrame([('{"k": 5}',)], "s string")
    assert df.select(M.parse_json_map(F.col("s"), "bigint").alias("m")).first()["m"] == {"k": 5}


# -- language-aware analysis (TextTokenizer language routing parity) --

def test_analyze_per_language(spark):
    """Analyzer chain parity over 3+ languages: stopwords of THAT language
    removed, light suffix stemming applied, unknown lang = plain tokenize."""
    from transmogrifai_spark.functions.text import analyze, tokenize
    df = spark.createDataFrame(
        [("the cats are running quickly",),
         ("der hunden und die katzen laufen",),
         ("les fleurs des jardins sont belles",)], "t string")
    en, de, fr, und = [
        df.select(analyze(F.col("t"), lg).alias("a")).collect()
        for lg in ("en", "de", "fr", "zz")]
    # en: stopwords the/are dropped, FULL Porter stemming (r9: the
    # Lucene EnglishAnalyzer chain is PorterStemFilter, not minimal-s)
    assert en[0]["a"] == ["cat", "run", "quickli"]
    # de: der/und/die dropped, -en stripped
    assert "der" not in de[1]["a"] and "und" not in de[1]["a"]
    assert "hund" in de[1]["a"]
    # fr: les/des/sont dropped, -s stripped
    assert "les" not in fr[2]["a"]
    assert "fleur" in fr[2]["a"]
    # unknown language: plain tokenizer, nothing dropped
    plain = df.select(tokenize(F.col("t")).alias("p")).collect()
    assert und[0]["a"] == plain[0]["p"]


@pytest.mark.slow
def test_analyze_auto_routes_by_detected_language(spark):
    from transmogrifai_spark.functions.text import analyze, analyze_auto
    df = spark.createDataFrame(
        [(1, "the cats are running in the garden with the dogs"),
         (2, "der hund und die katze sind mit einem ball im garten"),
         (3, "xyzzy plugh qwerty")], "i long, t string")
    auto = {r["i"]: r["a"] for r in
            df.select("i", analyze_auto(F.col("t")).alias("a")).collect()}
    en = {r["i"]: r["a"] for r in
          df.select("i", analyze(F.col("t"), "en").alias("a")).collect()}
    de = {r["i"]: r["a"] for r in
          df.select("i", analyze(F.col("t"), "de").alias("a")).collect()}
    assert auto[1] == en[1]          # detected en -> english chain
    assert auto[2] == de[2]          # detected de -> german chain
    assert auto[3] == en[3]          # undetermined -> default (en)


def test_analyze_never_mangles_short_tokens(spark):
    from transmogrifai_spark.functions.text import analyze
    # en rides Porter now, whose guard is length<=2 (strings of 1-2
    # letters pass through untouched — the reference implementation's
    # rule); the min-stem guards still protect the light-stemmer chains
    df = spark.createDataFrame([("ox el gnu",)], "t string")
    out = df.select(analyze(F.col("t"), "en").alias("a")).first()["a"]
    assert "ox" in out and "el" in out
    de = spark.createDataFrame([("bus mes",)], "t string")
    out_de = de.select(analyze(F.col("t"), "de").alias("a")).first()["a"]
    assert "bus" in out_de and "mes" in out_de


def test_parse_phone_multi_region(spark):
    """Metadata-driven multi-region parse (libphonenumber re-expression):
    international prefix routing, trunk stripping, per-region validation."""
    from transmogrifai_spark.functions.text import parse_phone
    cases = [
        ("+1 650-253-0000", "US", "+16502530000", True),
        ("(650) 253-0000", "US", "+16502530000", True),
        ("1-650-253-0000", "US", "+16502530000", True),   # NANP trunk '1'
        ("650-153-0000", "US", None, False),               # exchange starts 1
        ("011 44 7911 123456", "US", "+447911123456", True),  # NANP intl prefix
        ("+44 7911 123456", "US", "+447911123456", True),
        ("0044 7911 123456", "US", "+447911123456", True),
        ("+91 98765 43210", "US", "+919876543210", True),
        ("+91 12345 43210", "US", None, False),            # IN mobiles lead 6-9
        ("+852 2345 6789", "US", "+85223456789", True),    # 3-digit cc
        ("+86 139 1099 8888", "US", "+8613910998888", True),
        (None, "US", None, None),
    ]
    df = spark.createDataFrame([(s,) for s, *_ in cases], "p string")
    out = df.select(parse_phone(F.col("p")).alias("r")).collect()
    for (s, _reg, e164, valid), r in zip(cases, out):
        got = r["r"]
        if s is None:
            assert got is None
            continue
        assert got["e164"] == e164, s
        assert got["valid"] == valid, s


def test_parse_phone_national_default_region(spark):
    """National numbers route through default_region's trunk rules."""
    from transmogrifai_spark.functions.text import is_valid_phone, parse_phone
    df = spark.createDataFrame(
        [("07911 123456",), ("01632 960983",), ("791112345",)], "p string")
    out = df.select(parse_phone(F.col("p"), "GB").alias("r")).collect()
    assert out[0]["r"]["e164"] == "+447911123456"   # trunk 0 stripped
    assert out[0]["r"]["valid"] is True
    assert out[1]["r"]["e164"] == "+441632960983"
    assert out[2]["r"]["valid"] is True             # 9-digit GB ok without trunk
    # FR national: 9 digits after trunk 0
    df2 = spark.createDataFrame([("06 12 34 56 78",), ("061234567",)], "p string")
    v = df2.select(is_valid_phone(F.col("p"), "FR").alias("v")).collect()
    assert [r["v"] for r in v] == [True, False]  # 10-digit-less-trunk=9 ok; 9-digit with no trunk stays 9 but leading 0 stripped -> 8 -> invalid


def test_parse_phone_extended_regions(spark):
    """Round-4 metadata breadth: the extended region table routes and
    validates; unknown country codes stay valid=NULL (never false)."""
    from transmogrifai_spark.functions.text import parse_phone
    cases = [
        ("+351 912 345 678", "+351912345678", True),    # PT
        ("+420 601 123 456", "+420601123456", True),    # CZ
        ("+972 50-123-4567", "+972501234567", True),    # IL
        ("+66 81 234 5678", "+66812345678", True),      # TH
        ("+254 712 345678", "+254712345678", True),     # KE
        ("+45 32 12 34 56", "+4532123456", True),       # DK
        ("+45 02 12 34 56", None, False),               # DK lead 0 invalid
        ("+371 21234567", "+37121234567", True),        # LV (lead 2)
        ("+998 90 123 4567", "+998901234567", True),    # UZ (session-4 add)
        ("+299 32 34 56", "+299323456", True),          # GL (round-5 add)
        ("+881 6123456", None, None),                   # satellite: not in table
    ]
    df = spark.createDataFrame([(s,) for s, *_ in cases], "p string")
    out = df.select(parse_phone(F.col("p")).alias("r")).collect()
    for (s, e164, valid), r in zip(cases, out):
        assert r["r"]["e164"] == e164, s
        assert r["r"]["valid"] == valid, s


@pytest.mark.slow
def test_analyze_round4_languages(spark):
    """it/pt/nl/sv analyzer chains: that language's stopwords drop and its
    light-stemmer endings strip."""
    from transmogrifai_spark.functions.text import analyze
    cases = [
        ("it", "il gatto e i gatti sono nella stagione delle informazioni",
         {"gatt"}, {"il", "e", "i", "sono"}),
        # pt rides the FULL Snowball chain since r11: gatos -> gat
        # (residual-suffix step), informações -> inform (aço~es in R2)
        ("pt", "o gato e os gatos de casa para as informações",
         {"gat", "inform"}, {"o", "e", "os", "de", "para", "as"}),
        # nl rides the FULL Snowball chain since r10: katten -> kat
        # (en-deletion + tt undouble; the light subset stopped at katt)
        ("nl", "de katten en de honden zijn bij het huis",
         {"kat", "hond"}, {"de", "en", "zijn", "het"}),
        ("sv", "katterna och hundarna är med en bil",
         {"katt", "hund"}, {"och", "är", "med", "en"}),
    ]
    for lang, text, want_in, want_out in cases:
        df = spark.createDataFrame([(text,)], "t string")
        out = set(df.select(analyze(F.col("t"), lang).alias("a")).first()["a"])
        assert want_in <= out, (lang, out)
        assert not (want_out & out), (lang, out)


@pytest.mark.slow
def test_analyze_auto_reaches_extended_languages(spark):
    """analyze_auto routes via the EXTENDED detection profiles, so an
    Italian sentence gets the Italian chain (not the en default)."""
    from transmogrifai_spark.functions.text import analyze, analyze_auto
    t = "il gatto e il cane sono che un per del testo di casa"
    df = spark.createDataFrame([(t,)], "t string")
    auto = df.select(analyze_auto(F.col("t")).alias("a")).first()["a"]
    it = df.select(analyze(F.col("t"), "it").alias("a")).first()["a"]
    assert auto == it


@pytest.mark.slow
def test_analyze_session4_languages(spark):
    """no/da/fi/ru/ro/hu analyzer chains: that language's stopwords drop and
    its light-stemmer endings strip (Lucene *LightStemmer behavior subset)."""
    from transmogrifai_spark.functions.text import analyze
    cases = [
        ("no", "kattene og hundene er ikke med bilene",
         {"katt", "hund", "bil"}, {"og", "er", "ikke", "med"}),
        # da rides the FULL Snowball chain since r10: kattene -> kat
        # (the danish undouble step — the light subset stopped at katt)
        ("da", "kattene og hundene er ikke med husene",
         {"kat", "hund", "hus"}, {"og", "er", "ikke", "med"}),
        # fi/ro/hu ride the FULL Snowball chains since r11
        ("fi", "talossa ja autolla ei kirjasta kaupungille",
         {"talo", "auto", "kirj", "kaupung"}, {"ja", "ei"}),
        ("ru", "кошками и собаками не в домах красивый",
         {"кошк", "собак", "дом", "красив"}, {"и", "не", "в"}),
        # oraş: the ro chain folds comma-below ș/ț to the cedilla forms
        # its rule tables use (the modern-Snowball ad-hoc extension)
        ("ro", "pisicile și câinii nu sunt în casele orașului",
         {"pisic", "câin", "cas", "oraş"}, {"și", "nu", "sunt"}),
        ("hu", "a macskáknak és a kutyáknak nem van házakban",
         {"macska", "kutya", "ház"}, {"a", "és", "nem", "van"}),
    ]
    for lang, text, want_in, want_out in cases:
        df = spark.createDataFrame([(text,)], "t string")
        out = set(df.select(analyze(F.col("t"), lang).alias("a")).first()["a"])
        assert want_in <= out, (lang, out)
        assert not (want_out & out), (lang, out)


@pytest.mark.slow
def test_analyze_auto_routes_cyrillic_to_russian(spark):
    """With the ru detection profile added, a Russian sentence takes the
    Russian analyzer chain through analyze_auto, not the en default."""
    from transmogrifai_spark.functions.text import analyze, analyze_auto
    t = "кошка и собака не в доме что это по для"
    df = spark.createDataFrame([(t,)], "t string")
    auto = df.select(analyze_auto(F.col("t")).alias("a")).first()["a"]
    ru = df.select(analyze(F.col("t"), "ru").alias("a")).first()["a"]
    assert auto == ru


def test_parse_phone_session4_regions(spark):
    """Spot-check the widened region table: international forms resolve
    region + validity; unknown regions still yield valid=NULL."""
    from transmogrifai_spark.functions.text import parse_phone
    cases = [
        ("+98 912 345 6789", "IR", True),       # 10 national digits
        ("+994 50 123 45 67", "AZ", True),      # 9 digits in [8,9]
        ("+973 3600 1234", "BH", True),
        ("+598 9123 4567", "UY", True),
        ("+256 772 123456", "UG", True),
        ("+95 9 1234", "MM", False),            # 5 national digits < 8
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in cases], "p string")
    rows = df.select(parse_phone(F.col("p")).alias("r")).collect()
    for (t, region, valid), r in zip(cases, rows):
        assert r["r"]["region"] == region, t
        assert r["r"]["valid"] == valid, t


def test_analyze_session4b_languages(spark):
    """pl/cs/tr/el/bg/ar/id analyzer chains: stopwords drop and the light
    suffix (and for ar/id prefix) rules strip."""
    from transmogrifai_spark.functions.text import analyze
    cases = [
        ("pl", "i koty w domach nie ptakami dla miastach",
         {"kot", "dom", "ptak", "miast"}, {"i", "w", "nie", "dla"}),
        ("cs", "a kočky v domech je pro městech",
         {"kočk", "dom", "měst"}, {"a", "v", "je", "pro"}),
        ("tr", "ve kediler bu arabalar için şehirlerin",
         {"kedi", "araba", "şehir"}, {"ve", "bu", "için"}),
        ("el", "και οι γάτες με τα σπίτια για ανθρώπους",
         {"γάτ", "σπίτι", "ανθρώπ"}, {"και", "οι", "με", "τα", "για"}),
        ("bg", "и котките на къщата не са градът",
         {"котк", "къщ", "град"}, {"и", "на", "не", "са"}),
        ("ar", "في البيوت والكتاب من المدرسة كتابها",
         {"بيوت", "كتاب", "مدرس"}, {"في", "من"}),
        ("id", "yang kucing di rumahnya dan membacakan untuk makanan",
         {"kucing", "rumah", "baca", "makan"}, {"yang", "di", "dan", "untuk"}),
    ]
    for lang, text, want_in, want_out in cases:
        df = spark.createDataFrame([(text,)], "t string")
        out = set(df.select(analyze(F.col("t"), lang).alias("a")).first()["a"])
        assert want_in <= out, (lang, out)
        assert not (want_out & out), (lang, out)


@pytest.mark.slow
def test_analyze_auto_routes_greek_and_arabic(spark):
    from transmogrifai_spark.functions.text import analyze, analyze_auto
    for lang, t in [("el", "και το σπίτι της γάτας με τα παιδιά για που"),
                    ("ar", "في البيت من المدرسة على أن هذا مع الكتاب")]:
        df = spark.createDataFrame([(t,)], "t string")
        auto = df.select(analyze_auto(F.col("t")).alias("a")).first()["a"]
        direct = df.select(analyze(F.col("t"), lang).alias("a")).first()["a"]
        assert auto == direct, lang


def test_analyze_round5_languages(spark):
    """ca/fa/lt/lv analyzer chains (round-5 additions mirroring Lucene's
    Catalan/Persian/Lithuanian/Latvian analyzers): stopwords drop, light
    endings strip; Persian is normalization + stopwords ONLY (Lucene ships
    no Persian stemmer) with Arabic yeh/kaf normalized to Persian forms."""
    from transmogrifai_spark.functions.text import analyze
    cases = [
        ("ca", "les cases dels pobles i de la ciutat són grans",
         {"cas", "pobl", "ciutat", "gran"}, {"les", "dels", "de", "la", "són", "i"}),
        ("lt", "katės ir šunys yra namuose bet ne mieste",
         {"kat", "šun", "nam", "miest"}, {"ir", "yra", "bet"}),
        ("lv", "kaķiem un suņiem ir mājas bet ne pilsētas",
         {"kaķ", "suņ", "māj", "pilsēt"}, {"un", "ir", "bet"}),
    ]
    for lang, text, want_in, want_out in cases:
        df = spark.createDataFrame([(text,)], "t string")
        out = set(df.select(analyze(F.col("t"), lang).alias("a")).first()["a"])
        assert want_in <= out, (lang, out)
        assert not (want_out & out), (lang, out)
    # Persian: stopwords removed, yeh normalized, tokens otherwise intact
    t = "این کتاب و قلم از علي است"
    df = spark.createDataFrame([(t,)], "t string")
    out = set(df.select(analyze(F.col("t"), "fa").alias("a")).first()["a"])
    assert "کتاب" in out and "قلم" in out, out
    assert "علی" in out, out          # ي -> ی normalization applied
    assert not ({"این", "و", "از", "است"} & out), out


@pytest.mark.slow
def test_analyze_cjk_bigrams(spark):
    """CJK chain (Lucene CJKAnalyzer/CJKBigramFilter re-expression): runs
    of Han/kana/Hangul emit OVERLAPPING bigrams, an isolated CJK char
    emits itself, embedded Latin words tokenize normally; analyze_auto
    routes by script ratio (zh/ja/ko have no stopword profiles)."""
    from transmogrifai_spark.functions.text import analyze, analyze_auto
    cases = [
        ("中文文本分析", ["中文", "文文", "文本", "本分", "分析"]),
        ("日本語の processing テスト",
         ["日本", "本語", "語の", "processing", "テス", "スト"]),
        ("한국어", ["한국", "국어"]),
        ("漢", ["漢"]),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [r["a"] for r in
           df.select(analyze(F.col("t"), "cjk").alias("a")).collect()]
    for (t, want), g in zip(cases, got):
        assert g == want, (t, g)
    auto = [r["a"] for r in
            df.select(analyze_auto(F.col("t")).alias("a")).collect()]
    for (t, want), g in zip(cases, auto):
        assert g == want, ("auto", t, g)
    # pure-Latin input must NOT take the CJK chain
    en = spark.createDataFrame([("the cats and dogs",)], "t string")
    out = en.select(analyze_auto(F.col("t")).alias("a")).first()["a"]
    assert "cat" in out and "the" not in out


def test_detect_charset(spark):
    """Charset sniff: BOMs, the UTF-8 encode(decode)==raw validity law,
    aligned-pair ascii check, single-byte fallback."""
    import base64
    from transmogrifai_spark.operators.categorical import detect_charset
    cases = [
        (b"\xef\xbb\xbfhello", "utf-8"),           # BOM
        (b"\xff\xfeh\x00i\x00", "utf-16le"),
        (b"\xfe\xff\x00h\x00i", "utf-16be"),
        (b"plain ascii text", "us-ascii"),
        ("héllo wörld".encode(), "utf-8"),         # valid UTF-8, no BOM
        (b"caf\xe9 latin1", "windows-1252"),       # invalid as UTF-8
        (b"\x18\x10ascii ctl", "us-ascii"),        # 0x18: hex pair '18' must
                                                   # not misread as >=0x80
    ]
    df = spark.createDataFrame(
        [(base64.b64encode(b).decode(),) for b, _ in cases], "b string")
    got = [r["c"] for r in
           df.select(detect_charset(F.col("b")).alias("c")).collect()]
    assert got == [w for _, w in cases], got


def test_detect_mime_containers(spark):
    """Container inspection (Tika parity step): OOXML zips resolve to the
    concrete member type via the [Content_Types].xml first entry + payload
    path; ODF/EPUB resolve via the mandated stored 'mimetype' first entry;
    a plain zip stays application/zip."""
    import base64
    import io
    import zipfile
    from transmogrifai_spark.operators.categorical import detect_mime_type

    def make_zip(entries, first_stored=None):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            if first_stored:
                name, data = first_stored
                z.writestr(zipfile.ZipInfo(name), data,
                           compress_type=zipfile.ZIP_STORED)
            for name, data in entries:
                z.writestr(name, data)
        return buf.getvalue()

    docx = make_zip([("[Content_Types].xml", b"<Types/>"),
                     ("word/document.xml", b"<doc/>")])
    xlsx = make_zip([("[Content_Types].xml", b"<Types/>"),
                     ("xl/workbook.xml", b"<wb/>")])
    pptx = make_zip([("[Content_Types].xml", b"<Types/>"),
                     ("ppt/presentation.xml", b"<p/>")])
    odt = make_zip([("content.xml", b"<c/>")],
                   first_stored=("mimetype",
                                 b"application/vnd.oasis.opendocument.text"))
    epub = make_zip([("OEBPS/content.opf", b"<p/>")],
                    first_stored=("mimetype", b"application/epub+zip"))
    plain = make_zip([("readme.txt", b"hi")])
    cases = [
        (docx, "application/vnd.openxmlformats-officedocument"
               ".wordprocessingml.document"),
        (xlsx, "application/vnd.openxmlformats-officedocument"
               ".spreadsheetml.sheet"),
        (pptx, "application/vnd.openxmlformats-officedocument"
               ".presentationml.presentation"),
        (odt, "application/vnd.oasis.opendocument.text"),
        (epub, "application/epub+zip"),
        (plain, "application/zip"),
    ]
    df = spark.createDataFrame(
        [(base64.b64encode(b).decode(),) for b, _ in cases], "b string")
    got = [r["m"] for r in
           df.select(detect_mime_type(F.col("b")).alias("m")).collect()]
    assert got == [w for _, w in cases], got


def test_parse_phone_subrange_injection(spark):
    """r8 PARITY delta 4a hook: caller-supplied sub-range number-plan
    rules (the libphonenumber per-region XML tier as data). A listed
    region's number must ALSO match some (prefix, min_len, max_len) rule;
    unlisted regions keep the base behavior; invalidated numbers lose
    their e164 too."""
    from transmogrifai_spark.functions.text import parse_phone

    ranges = {"US": [("212", 10, 10), ("415", 10, 10)],
              "GB": [("7", 10, 10)]}   # GB mobiles only
    cases = [
        ("+1 212-253-0000", "+12122530000", True),    # in-range
        ("+1 650-253-0000", None, False),             # valid len, no rule
        ("+44 7911 123456", "+447911123456", True),   # GB mobile ok
        ("+44 1911 123456", None, False),             # GB landline cut
        ("+91 98765 43210", "+919876543210", True),   # IN unlisted: base
    ]
    df = spark.createDataFrame([(s,) for s, *_ in cases], "p string")
    out = df.select(parse_phone(F.col("p"), ranges=ranges).alias("r")).collect()
    for (s, e164, valid), r in zip(cases, out):
        assert r["r"]["e164"] == e164, s
        assert r["r"]["valid"] == valid, s
    # and without ranges, behavior is unchanged
    base = df.select(parse_phone(F.col("p")).alias("r")).collect()
    assert all(b["r"]["valid"] for b in base[:4])


def test_analyze_round9_languages(spark):
    """eu/ga/gl/hy/et analyzer chains (round-9: the five Lucene-covered
    languages previously absent — PARITY delta 1c): stopwords drop,
    light endings strip; Irish additionally strips the t-/n- prothesis
    and d'/m'/b' elision BEFORE tokenization (IrishLowerCaseFilter +
    ElisionFilter analogue — the tokenizer splits on -/' and would
    strand single-letter noise tokens otherwise)."""
    from transmogrifai_spark.functions.text import analyze
    cases = [
        ("eu", "etxeetan eta mendiak ez dira lagunekin",
         {"etxe", "mendi", "lagun"}, {"eta", "ez", "dira"}),
        ("ga", "an t-athair agus na madraí le d'fhear",
         {"athair", "madr", "fhear"}, {"an", "agus", "na", "le", "t", "d"}),
        ("gl", "as cancións e as casas do pobo",
         {"can", "casa", "pobo"}, {"as", "e", "do"}),
        ("hy", "գրքերը և տները մեջ",
         {"գրք", "տներ"}, {"և", "մեջ"}),
        ("et", "majades ja metsades on suured",
         {"maja", "metsa", "suure"}, {"ja", "on"}),
    ]
    for lang, text, want_in, want_out in cases:
        df = spark.createDataFrame([(text,)], "t string")
        out = set(df.select(analyze(F.col("t"), lang).alias("a")).first()["a"])
        assert want_in <= out, (lang, out)
        assert not (want_out & out), (lang, out)


def test_format_phone_injected_patterns(spark):
    """PARITY delta 4b as data-only: caller-supplied libphonenumber-style
    numberFormat (pattern, $-group replacement) pairs format the parsed
    national number; first matching rule wins; unlisted regions, no-match
    numbers, and invalid parses stay NULL."""
    from transmogrifai_spark.functions.text import format_phone, parse_phone
    fmts = {
        "US": [(r"(\d{3})(\d{3})(\d{4})", r"($1) $2-$3")],
        "FR": [(r"(\d)(\d{2})(\d{2})(\d{2})(\d{2})",
                r"0$1 $2 $3 $4 $5")],
        "DE": [(r"(\d{2,5})(\d+)", r"0$1/$2")],
    }
    df = spark.createDataFrame(
        [(0, "+1 212 555 0123"), (1, "+33 6 12 34 56 78"),
         (2, "+44 20 7946 0018"),  # GB: no format rules supplied
         (3, "not a phone"), (4, None)], "i long, t string")
    p = parse_phone(F.col("t"))
    out = {r["i"]: (r["n"], r["x"]) for r in df.select(
        "i",
        format_phone(p, fmts).alias("n"),
        format_phone(p, fmts, style="international").alias("x")).collect()}
    assert out[0] == ("(212) 555-0123", "+1 (212) 555-0123")
    assert out[1] == ("06 12 34 56 78", "+33 06 12 34 56 78")
    assert out[2] == (None, None)   # region valid but no rules supplied
    assert out[3] == (None, None)
    assert out[4] == (None, None)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="style"):
        format_phone(p, fmts, style="rfc3966")


def test_is_short_code_injected_tables(spark):
    """PARITY delta 4c as data-only: per-region short-code regex tables;
    listed regions return true/false, unlisted NULL (unknown)."""
    from transmogrifai_spark.functions.text import is_short_code
    codes = {"US": [r"[2-9]11", r"[2-9]\d{4,5}"]}
    df = spark.createDataFrame(
        [(0, "911"), (1, "411"), (2, "1234"), (3, "86753"), (4, None)],
        "i long, t string")
    us = {r["i"]: r["s"] for r in df.select(
        "i", is_short_code(F.col("t"), "US", codes).alias("s")).collect()}
    assert us == {0: True, 1: True, 2: False, 3: True, 4: False}
    de = df.select(is_short_code(F.col("t"), "DE", codes).alias("s")) \
        .first()["s"]
    assert de is None


def test_analyze_df_equals_analyze(spark):
    """analyze_df (type-level stemming via distinct_element_transform)
    tokenizes exactly like analyze across stemmer tiers: full Snowball
    (pt), full Porter (en), light-chain with normalization (el), no
    stemmer (unknown lang), and the CJK whole-text route."""
    from transmogrifai_spark.functions.text import analyze, analyze_df
    rows = [(1, "as casas e os gatos de informações administrativas"),
            (2, "felizmente comeu a proposição"),
            (3, ""), (4, None), (5, "the foxes were running quickly")]
    df = spark.createDataFrame(rows, "i long, t string")
    for lang in ("pt", "en", "el", "zz", "zh"):
        direct = {r["i"]: (r["a"] or []) for r in df.select(
            "i", analyze(F.col("t"), lang).alias("a")).collect()}
        via = {r["i"]: (r["tokens"] or []) for r in
               analyze_df(df, "t", lang, "i")
               .select("i", "tokens").collect()}
        assert via == direct, lang


def test_analyze_df_null_and_duplicate_id_raise(spark):
    """analyze_df rides distinct_element_transform's join-back, so its
    NULL/duplicate id guard applies: a NULL id on a token-bearing row
    and duplicate ids both raise instead of silently mis-answering
    (VERDICT r11 'What's wrong' #1)."""
    import pytest
    from transmogrifai_spark.functions.text import analyze_df
    df = spark.createDataFrame([(1, "as casas"), (None, "os gatos")],
                               "i long, t string")
    with pytest.raises(Exception, match="NULL in id_col"):
        analyze_df(df, "t", "pt", "i").collect()
    dup = spark.createDataFrame([(1, "as casas"), (1, "os gatos")],
                                "i long, t string")
    with pytest.raises(Exception, match="duplicate values in id_col"):
        analyze_df(dup, "t", "pt", "i").collect()
    # NULL id on a token-free row stays allowed
    ok = spark.createDataFrame([(None, ""), (None, None), (2, "casas")],
                               "i long, t string")
    got = {r["i"]: r["tokens"] for r in
           analyze_df(ok, "t", "pt", "i").select("i", "tokens").collect()}
    from transmogrifai_spark.functions.text import analyze
    direct = ok.select(analyze(F.col("t"), "pt").alias("a")) \
        .where(F.col("t") == "casas").first()["a"]
    assert got[None] == [] and got[2] == direct


@pytest.mark.slow
def test_analyze_auto_df_equals_analyze_auto(spark):
    """analyze_auto_df (type-level stemming per (language, token)
    pair) tokenizes exactly like analyze_auto across routed languages
    (en -> Porter, de/ru -> full Snowball via the step backend,
    el -> light chain, undetermined -> default, CJK -> bigram route)
    and empty/NULL rows."""
    from transmogrifai_spark.functions.text import (analyze_auto,
                                                    analyze_auto_df)
    rows = [
        (1, "the cats are running in the garden with the dogs"),
        (2, "der hund und die katze sind mit einem ball im garten"),
        (3, "xyzzy plugh qwerty"),
        (4, ""), (5, None),
        (6, "это книги и женщины на собрании в городе"),
        (7, "中国人民銀行"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    direct = {r["i"]: (r["a"] or []) for r in
              df.select("i", analyze_auto(F.col("t")).alias("a"))
              .collect()}
    via = {r["i"]: (r["tokens"] or []) for r in
           analyze_auto_df(df, "t", "i").select("i", "tokens")
           .collect()}
    assert via == direct
    # stem=False short-circuit equals analyze_auto's pre-stem shape...
    nostem = {r["i"]: (r["tokens"] or []) for r in
              analyze_auto_df(df, "t", "i", stem=False)
              .select("i", "tokens").collect()}
    pre = {r["i"]: (r["a"] or []) for r in
           df.select("i", analyze_auto(F.col("t"), stem=False)
                     .alias("a")).collect()}
    assert nostem == pre


@pytest.mark.slow
def test_analyze_auto_df_id_guards(spark):
    """NULL ids on machinery token-bearing rows raise; duplicate ids
    with DIFFERENT texts regroup independently via the (id,
    text-hash) key and stay CORRECT; exact-duplicate (id, text) rows
    raise; a NULL id on a CJK-routed row skips the machinery and
    stays allowed."""
    import pytest
    from transmogrifai_spark.functions.text import (analyze,
                                                    analyze_auto_df)
    df = spark.createDataFrame(
        [(1, "the cats are running"), (None, "the dogs were seen")],
        "i long, t string")
    with pytest.raises(Exception, match="NULL in id_col"):
        analyze_auto_df(df, "t", "i").collect()
    # duplicate ids, different texts: each row keeps ITS OWN tokens
    dup = spark.createDataFrame(
        [(1, "the cats are running"), (1, "der hund und die katze")],
        "i long, t string")
    got = sorted(list(r["tokens"]) for r in
                 analyze_auto_df(dup, "t", "i").collect())
    want_en = dup.where(F.col("t").startswith("the")).select(
        analyze(F.col("t"), "en").alias("a")).first()["a"]
    want_de = dup.where(~F.col("t").startswith("the")).select(
        analyze(F.col("t"), "de").alias("a")).first()["a"]
    assert got == sorted([list(want_en), list(want_de)])
    # exact-duplicate (id, text) rows would interleave: raise
    xdup = spark.createDataFrame(
        [(1, "the cats are running"), (1, "the cats are running")],
        "i long, t string")
    with pytest.raises(Exception, match="duplicate \\(id, text\\)"):
        analyze_auto_df(xdup, "t", "i").collect()
    ok = spark.createDataFrame([(None, "中国人民銀行"), (2, "the cats")],
                               "i long, t string")
    got = {r["i"]: r["tokens"] for r in
           analyze_auto_df(ok, "t", "i").select("i", "tokens")
           .collect()}
    assert got[None] and got[2]


def test_analyze_auto_df_languages_allowlist(spark):
    """languages=: stem chains build only for the declared corpus
    languages — declared languages stem exactly as analyze would,
    routed languages OUTSIDE the list keep stop-filtered unstemmed
    tokens, and unknown codes raise."""
    import time

    import pytest
    from transmogrifai_spark.functions.text import (analyze,
                                                    analyze_auto_df)
    rows = [(1, "the cats are running in the garden with the dogs"),
            (2, "der hund und die katze sind mit einem ball im garten")]
    df = spark.createDataFrame(rows, "i long, t string")
    t0 = time.time()
    out = {r["i"]: list(r["tokens"]) for r in
           analyze_auto_df(df, "t", "i", languages=["en"])
           .select("i", "tokens").collect()}
    en_build = time.time() - t0
    want_en = df.where(F.col("i") == 1).select(
        analyze(F.col("t"), "en").alias("a")).first()["a"]
    want_de_nostem = df.where(F.col("i") == 2).select(
        analyze(F.col("t"), "de", stem=False).alias("a")).first()["a"]
    assert out[1] == list(want_en)          # declared: full en chain
    assert out[2] == list(want_de_nostem)   # undeclared: stop, no stem
    with pytest.raises(ValueError, match="unknown languages"):
        analyze_auto_df(df, "t", "i", languages=["en", "xx"])
    # the allowlist should make the build far cheaper than all-30 —
    # sanity bound only (generous: full build measured ~17 s)
    assert en_build < 60, en_build
