"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

Extension surface (BASELINE.json north star). All pure Catalyst expressions:
regex + array higher-order functions, JVM-side, fused into the document scan
— the shape that holds at 100 TB (no shuffle, no Python, columnar parquet in,
narrow metrics out).

The reference's language detection wraps Optimaize
(core/.../utils/text/OptimaizeLanguageDetector.scala) and its analyzers wrap
Lucene (utils/.../text/LuceneTextAnalyzer.scala); this module's heuristics
(stopword-profile scores, n-gram stats) are the dependency-free rebuild, and
a library-backed pandas-UDF detector can slot in where the environment has
one.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..util import cached, ensure_parallelism

# Compact stopword profiles (top function words) — deterministic language-ID
# heuristic: score(text, lang) = fraction of tokens in the profile.
STOPWORD_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"],
    "fr": ["le", "la", "les", "et", "est", "de", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "de", "un", "una", "que"],
}

# BPE-ish word-piece pattern: runs of letters, runs of digits, or single
# punctuation — the standard pre-tokenizer shape (cf. GPT-2's regex).
TOKEN_PATTERN = r"[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]"


def token_count(c: Column) -> Column:
    """Whitespace+punctuation-aware token count via the BPE-ish pattern."""
    return F.coalesce(F.regexp_count(c, F.lit(TOKEN_PATTERN)), F.lit(0)).cast("long")


def stopword_ratio_tokens(toks: Column, stopwords: list[str]) -> Column:
    """``stopword_ratio`` over a pre-tokenized array — pass an attribute
    (e.g. a materialized token column) so the token array is not
    re-derived per reference."""
    sw = F.array(*[F.lit(w) for w in stopwords])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n == 0, F.lit(0.0)).otherwise(hits.cast("double") / n.cast("double"))


def stopword_ratio(c: Column, stopwords: list[str]) -> Column:
    from ..util import bind_once
    return bind_once(tokenize(c),
                     lambda toks: stopword_ratio_tokens(toks, stopwords))


def punct_ratio(c: Column) -> Column:
    n = F.length(c)
    p = F.length(F.regexp_replace(c, r"[\p{L}\p{N}\s]", ""))
    return F.when(F.coalesce(n, F.lit(0)) == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def digit_ratio(c: Column) -> Column:
    n = F.length(c)
    d = n - F.length(F.regexp_replace(c, r"[\p{N}]", ""))
    return F.when(F.coalesce(n, F.lit(0)) == 0, F.lit(0.0)).otherwise(d.cast("double") / n.cast("double"))


def mean_token_length_tokens(toks: Column) -> Column:
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n.cast("double"))


def quality_score(c: Column, stopwords: list[str] | None = None) -> Column:
    """Composite quality heuristic in [0,1] (Gopher/C4-style signals):
    penalizes empty text, extreme punctuation/digit density, missing
    stopwords, degenerate token lengths. Weights fixed and documented so the
    score is stable across versions."""
    from ..util import bind_once
    return bind_once(tokenize(c),
                     lambda toks: quality_score_tokens(c, toks, stopwords))


def quality_score_tokens(c: Column, toks: Column,
                         stopwords: list[str] | None = None) -> Column:
    """``quality_score`` with the token-based signals read from a
    pre-tokenized array (attribute or bound lambda variable)."""
    sw = stopwords or STOPWORD_PROFILES["en"]
    ln = F.coalesce(F.length(c), F.lit(0))
    len_ok = F.when((ln >= 50) & (ln <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) <= 0.2, 1.0).otherwise(0.0)
    digit_ok = F.when(digit_ratio(c) <= 0.3, 1.0).otherwise(0.0)
    sw_ok = F.when(stopword_ratio_tokens(toks, sw) >= 0.01, 1.0) \
        .otherwise(0.0)
    mtl = mean_token_length_tokens(toks)
    tok_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), 1.0).otherwise(0.0)
    # sum the 0/1 signals first (exact in double), scale once — a single
    # float rounding, deterministic across engines
    return (len_ok + punct_ok + digit_ok + sw_ok + tok_ok) * F.lit(0.2)


def language_id(c: Column, profiles: dict[str, list[str]] | None = None) -> Column:
    """Deterministic stopword-profile language guess; 'und' (undetermined)
    when no profile scores > 0. Ties break by language code ascending.

    Winner selection is array_max over (score, -index) structs — NOT a
    running best_lang/best_score when-chain: that chain references itself
    twice per language, doubling the expression tree each step (2^n nodes —
    OOMs Catalyst past ~15 profiles). Struct comparison is lexicographic,
    so equal scores fall to max(-index) = the earliest (ascending) code —
    identical tie semantics to the strict-> chain this replaces."""
    from ..util import bind_once

    # bind the token array once: each language's ratio otherwise re-ran
    # the regex tokenizer (N tokenizes per row for N profiles); the
    # argmax winner is bound once more inside language_id_tokens
    return bind_once(tokenize(c),
                     lambda toks: language_id_tokens(toks, profiles))


def language_id_tokens(toks: Column,
                       profiles: dict[str, list[str]] | None = None) -> Column:
    """``language_id`` over a pre-tokenized array (attribute) — the
    text_metrics single-tokenize form. Same argmax/tie semantics."""
    from ..util import bind_once
    profiles = profiles or STOPWORD_PROFILES
    langs = sorted(profiles)
    lang_arr = F.array(*[F.lit(l) for l in langs])
    entries = F.array(*[
        F.struct(F.coalesce(stopword_ratio_tokens(toks, profiles[l]),
                            F.lit(0.0)).alias("s"),
                 F.lit(-i).alias("ni"))
        for i, l in enumerate(langs)])
    return bind_once(
        F.array_max(entries),
        lambda best: F.when(
            best["s"] > 0.0,
            F.element_at(lang_arr, (-best["ni"] + 1).cast("int"))) \
        .otherwise(F.lit("und")))


# extended Latin-script detection profiles. Detection-only surface: the
# 4-language core STOPWORD_PROFILES feeds oracle SQL and stays frozen.
STOPWORD_PROFILES_EXTENDED: dict[str, list[str]] = {
    **STOPWORD_PROFILES,
    "it": ["il", "la", "di", "che", "e", "un", "per", "sono", "con", "del"],
    "pt": ["o", "a", "de", "que", "e", "um", "uma", "para", "com", "os"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "op", "te", "met"],
    "sv": ["och", "att", "det", "som", "en", "på", "är", "av", "för", "med"],
    "pl": ["i", "w", "na", "z", "do", "że", "się", "jest", "nie", "to"],
    "tr": ["ve", "bir", "bu", "da", "de", "için", "ile", "olarak", "çok", "en"],
    "id": ["yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini",
           "dari", "akan"],
    "ro": ["și", "de", "în", "la", "cu", "este", "un", "o", "pentru", "care"],
    "cs": ["a", "se", "na", "je", "že", "do", "pro", "jako", "ale", "by"],
    "hu": ["a", "az", "és", "hogy", "nem", "is", "egy", "van", "volt", "meg"],
    "fi": ["ja", "on", "ei", "että", "oli", "hän", "se", "mutta", "kun", "niin"],
    "da": ["og", "i", "at", "det", "en", "den", "til", "er", "som", "på"],
    "no": ["og", "i", "det", "som", "en", "til", "er", "av", "at", "på"],
    "ru": ["и", "в", "не", "на", "с", "что", "он", "как", "это", "по"],
    "vi": ["và", "của", "là", "có", "được", "trong", "cho", "không", "này",
           "những"],
    # non-Latin-script languages the analyzer table now covers: Greek is
    # unambiguous by script, but a stopword profile lets the argmax router
    # pick it without the script pass; bg disambiguates from ru within
    # Cyrillic by function words
    "el": ["και", "το", "την", "της", "του", "με", "για", "είναι", "από",
           "που"],
    "bg": ["на", "се", "да", "за", "от", "че", "като", "са", "това", "при"],
    "ar": ["في", "من", "على", "أن", "إلى", "عن", "مع", "هذا", "التي",
           "الذي"],
    # round-5 analyzer additions: Catalan (disambiguates from es by
    # function words), Persian (disambiguates from ar within Arabic
    # script), Lithuanian, Latvian
    "ca": ["els", "les", "amb", "per", "és", "com", "dels", "una", "que",
           "més"],
    "fa": ["و", "در", "به", "از", "که", "این", "را", "با", "است", "برای"],
    "lt": ["ir", "yra", "kad", "į", "iš", "su", "bet", "tai", "kaip",
           "bei"],
    "lv": ["un", "ir", "ka", "ar", "uz", "no", "par", "bet", "kā", "pēc"],
    # r6: shared Bosnian/Croatian/Serbian(latin) function words — routes
    # BCS text into the confusable-group refinement below, which then
    # separates the three standards by discriminator lexicon
    "hr": ["je", "i", "u", "se", "na", "za", "su", "od", "da", "kao"],
}

# Confusable same-script language groups (r6): the stopword profiles are
# near-identical within each group, so the argmax router alone cannot
# separate them. Small DISCRIMINATOR lexicons — function words and
# orthography pairs documented in the public dialectology literature
# (Norwegian/Danish spelling doublets like av/af, etter/efter,
# språk/sprog; Indonesian/Malay karena/kerana, uang/wang, bisa/boleh;
# BCS ijekavica/ekavica and lexical doublets tjedan/nedelja/sedmica,
# kava/kafa/kahva, tisuća/hiljada) — re-route the base guess inside the
# group. Keyed by the group's trigger labels (what the base router can
# emit); each inner dict maps candidate language -> its marker words.
# The sets are DISJOINT within a group; ties (equal nonzero hits) fall to
# ascending language code; zero hits keep the base guess.
CONFUSABLE_DISCRIMINATORS: dict[tuple[str, ...], dict[str, list[str]]] = {
    ("no", "da"): {
        "no": ["av", "etter", "mellom", "noen", "bare", "hva", "språk",
               "gjennom", "nå", "vært", "fram", "sammen"],
        "da": ["af", "efter", "mellem", "nogle", "kun", "hvad", "sprog",
               "gennem", "nu", "været", "frem", "måske"],
    },
    ("id", "ms"): {
        "id": ["karena", "bisa", "uang", "kalian", "butuh", "senin",
               "maret", "kantor", "nggak", "hanya"],
        "ms": ["kerana", "boleh", "wang", "awak", "isnin", "mac",
               "pejabat", "sahaja", "macam", "hendak"],
    },
    ("hr", "sr", "bs"): {
        "hr": ["tjedan", "tisuća", "točno", "uvjet", "vlak", "kruh",
               "siječanj", "povijest", "otok", "glazba", "kava",
               "zrakoplov"],
        "sr": ["nedelja", "hiljade", "tačno", "uslov", "voz", "hleb",
               "januar", "istorija", "ostrvo", "muzika", "kafa",
               "avion"],
        "bs": ["sedmica", "kahva", "mahala", "čaršija", "hefta",
               "sevdah", "merak", "ćejf"],
    },
}

# Unicode script blocks -> language guess for scripts that identify a
# language (or near enough) by themselves — far stronger signal than
# stopwords, and O(1) regexp_count passes per script.
_SCRIPT_RANGES: list[tuple[str, str]] = [
    ("kana", r"[぀-ヿ]"),        # hiragana+katakana -> ja
    ("han", r"[一-鿿]"),         # han without kana -> zh
    ("hangul", r"[가-힯]"),      # -> ko
    ("cyrillic", r"[Ѐ-ӿ]"),    # -> ru (closest single guess)
    ("arabic", r"[؀-ۿ]"),      # -> ar
    ("devanagari", r"[ऀ-ॿ]"),  # -> hi
    ("greek", r"[Ͱ-Ͽ]"),       # -> el
    ("thai", r"[฀-๿]"),        # -> th
    ("hebrew", r"[֐-׿]"),      # -> he
    ("bengali", r"[ঀ-৿]"),     # -> bn
    ("tamil", r"[஀-௿]"),       # -> ta
    ("telugu", r"[ఀ-౿]"),      # -> te
    ("kannada", r"[ಀ-೿]"),     # -> kn
    ("malayalam", r"[ഀ-ൿ]"),   # -> ml
    ("gujarati", r"[઀-૿]"),    # -> gu
    ("gurmukhi", r"[਀-੿]"),    # -> pa
    ("sinhala", r"[඀-෿]"),     # -> si
    ("myanmar", r"[က-႟]"),     # -> my
    ("khmer", r"[ក-៿]"),       # -> km
    ("lao", r"[຀-໿]"),         # -> lo
    ("georgian", r"[Ⴀ-ჿ]"),    # -> ka
    ("armenian", r"[԰-֏]"),    # -> hy
    ("ethiopic", r"[ሀ-፿]"),    # -> am
]
_SCRIPT_LANG = {"kana": "ja", "han": "zh", "hangul": "ko", "cyrillic": "ru",
                "arabic": "ar", "devanagari": "hi", "greek": "el",
                "thai": "th", "hebrew": "he", "bengali": "bn", "tamil": "ta",
                "telugu": "te", "kannada": "kn", "malayalam": "ml",
                "gujarati": "gu", "gurmukhi": "pa", "sinhala": "si",
                "myanmar": "my", "khmer": "km", "lao": "lo", "georgian": "ka",
                "armenian": "hy", "ethiopic": "am"}


def language_id_extended(c: Column, min_script_ratio: float = 0.3) -> Column:
    """Script-first language ID: when a non-Latin script covers >=
    ``min_script_ratio`` of the letters, its language wins (kana outranks
    han so Japanese text with kanji reads ja, not zh); otherwise the
    extended Latin stopword profiles decide, and confusable same-script
    groups (no/da, id/ms, hr/sr/bs) are re-routed by their discriminator
    lexicons (CONFUSABLE_DISCRIMINATORS — zero discriminator hits keep
    the base guess). Deterministic, pure expressions, one projection.

    The token array and the base guess are each bound once (util.
    bind_once): the old chain re-tokenized per marker filter, and its
    ``out = when(out.isin(group), refined).otherwise(out)`` step
    referenced the running expression 3× per group — the base language_id
    (30 profile scans) was embedded 2^k times for k confusable groups.
    The groups are DISJOINT language sets and a group's refinement only
    yields languages of that group, so the nested chain flattens to one
    when-chain keyed on the BASE guess — identical routing."""
    from ..util import bind_once
    letters = F.regexp_count(c, F.lit(r"\p{L}"))

    def ratio(rng: str) -> Column:
        return F.when(letters > 0,
                      F.regexp_count(c, F.lit(rng)).cast("double")
                      / letters.cast("double")).otherwise(F.lit(0.0))

    def refine(toks: Column, base: Column) -> Column:
        def marker_hits(words: list[str]) -> Column:
            # unary-lambda factory: a default-arg lambda would be treated
            # by F.filter as (element, index) — see minhash_signature
            ws = F.array(*[F.lit(w) for w in words])
            return F.size(F.filter(toks, lambda t: F.array_contains(ws, t)))

        def picker(lang_arr: Column):
            # unary-lambda factory again: bind_once's transform would read
            # a two-parameter lambda as (element, index)
            return lambda best: F.when(
                best["h"] > 0,
                F.element_at(lang_arr, (-best["ni"] + 1).cast("int"))) \
                .otherwise(base)

        out = base
        for group, markers in CONFUSABLE_DISCRIMINATORS.items():
            langs = sorted(markers)
            entries = F.array(*[
                F.struct(marker_hits(markers[l]).alias("h"),
                         F.lit(-i).alias("ni"))
                for i, l in enumerate(langs)])
            lang_arr = F.array(*[F.lit(l) for l in langs])
            refined = bind_once(F.array_max(entries), picker(lang_arr))
            out = F.when(base.isin(*group), refined).otherwise(out)
        return out

    out = bind_once(tokenize(c),
                    lambda toks: bind_once(
                        language_id_tokens(toks, STOPWORD_PROFILES_EXTENDED),
                        lambda base: refine(toks, base)))
    # reversed: kana (listed first) ends up the outermost/winning WHEN
    for name, rng in reversed(_SCRIPT_RANGES):
        out = F.when(ratio(rng) >= min_script_ratio,
                     F.lit(_SCRIPT_LANG[name])).otherwise(out)
    return out


def fingerprint_tokens(toks: Column) -> Column:
    """``fingerprint`` over a pre-tokenized array."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def fingerprint(c: Column) -> Column:
    """Locality-insensitive document fingerprint: sorted distinct tokens
    joined and hashed (the classic key-collision / clustering fingerprint).
    Word order and duplication do not change the fingerprint."""
    return fingerprint_tokens(tokenize(c))


def winnow_fingerprints(c: Column, k: int = 5, w: int = 4,
                        portable: bool = False) -> Column:
    """Rolling-hash document fingerprints by WINNOWING (Schleimer, Wilkerson,
    Aiken, SIGMOD 2003 — the MOSS algorithm; public): hash every k-gram of
    the normalized text, slide a window of ``w`` consecutive k-gram hashes,
    keep each window's minimum. Guarantees: any shared substring of length
    >= k + w - 1 between two documents yields at least one shared
    fingerprint, so partial overlap is detectable where whole-document
    hashes miss it.

    Pure column expressions — normalize, ``sequence`` over positions,
    ``substring`` k-grams, 64-bit ``xxhash64`` per gram, ``array_min`` over
    each window slice — all inside whole-stage codegen, no Python. Cost is
    O(len x w) vectorized ops per document; dedupe by exploding the array
    and bucket-joining on fingerprint values (each fingerprint is a join
    key, the same shape as the MinHash band buckets)."""
    norm = F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))),
                            r"[^\p{L}\p{N}]+", " ")
    norm = F.trim(norm)
    n_grams = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(0))
    if portable:
        # md5-derived 60-bit hash, bit-identical in DuckDB (see
        # llm/dedup.portable_hash64) — the oracle-gated instantiation
        from .dedup import portable_hash64

        def gram_hash(s):
            return portable_hash64(s)
    else:
        def gram_hash(s):
            return F.xxhash64(s)
    grams = F.when(n_grams > 0, F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: gram_hash(norm.substr(i, F.lit(k)))
    )).otherwise(F.array().cast("array<bigint>"))

    # bind grams as a TRANSFORM LAMBDA VARIABLE: referencing it directly
    # inside the window sweep re-evaluates the whole k-gram hash array per
    # window element — O(len^2) hashing per document (catastrophic with
    # the md5-based portable hash); the lambda variable is computed once
    def windows(g):
        n_windows = F.greatest(F.size(g) - F.lit(w - 1), F.lit(0))
        return F.when(n_windows > 0, F.array_distinct(F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(g, i, w))
        ))).otherwise(F.array_distinct(g))

    return F.transform(F.array(grams), windows)[0]


def winnow_overlap_pairs(df: DataFrame, id_col: str, text_col: str,
                         k: int = 5, w: int = 4,
                         min_shared: int = 2,
                         max_fingerprint_freq: int = 200) -> DataFrame:
    """Partial-overlap candidate pairs via shared winnowing fingerprints:
    explode fingerprints -> inverted index -> self-join on the fingerprint
    value -> count shared per pair. The same scale shape as the n-gram /
    MinHash dedup paths: linear explode + bucket equi-join, with
    ``max_fingerprint_freq`` capping degenerate fingerprints (boilerplate
    shared by thousands of docs) exactly like max_doc_freq caps hot
    shingles."""
    from ..util import ensure_parallelism

    fps = (ensure_parallelism(df)
           .select(F.col(id_col).alias("doc"),
                   F.explode(winnow_fingerprints(F.col(text_col), k, w))
                   .alias("fp")))
    fps = cached(fps)
    hot = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > max_fingerprint_freq))
    idx = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = idx.select(F.col("fp"), F.col("doc").alias("id1"))
    b = idx.select(F.col("fp"), F.col("doc").alias("id2"))
    pairs = (a.join(b, "fp").where(F.col("id1") < F.col("id2"))
             .groupBy("id1", "id2")
             .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
             .where(F.col("shared_fingerprints") >= min_shared))
    return pairs


def text_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass per-document metric table.

    Two stacked projections over the scan: the first materializes the
    token array ONCE per document, the second derives every token-based
    metric from that attribute. The single-projection form re-ran the
    regex tokenizer per metric column (≈10 tokenizes per row, each an
    interpreted HOF eval with a fresh java.util.regex compile);
    CollapseProject keeps the two projections separate because the token
    column is a non-trivial alias referenced many times."""
    c = F.col(text_col)
    toks = F.col("_tm_toks")
    return ensure_parallelism(df) \
        .withColumn("_tm_toks", tokenize(c)) \
        .select(
            F.col(id_col),
            F.coalesce(F.length(c), F.lit(0)).cast("long").alias("n_chars"),
            F.size(toks).cast("long").alias("n_tokens"),
            token_count(c).alias("n_tokens_bpe"),
            mean_token_length_tokens(toks).alias("mean_token_len"),
            punct_ratio(c).alias("punct_ratio"),
            digit_ratio(c).alias("digit_ratio"),
            stopword_ratio_tokens(toks, STOPWORD_PROFILES["en"])
            .alias("stopword_ratio_en"),
            quality_score_tokens(c, toks).alias("quality"),
            language_id_tokens(toks).alias("lang_guess"),
            fingerprint_tokens(toks).alias("fingerprint"),
        )


# ---------------------------------------------------------------------------
# Unicode normalization (the CCNet/C4 pre-hash step)
# ---------------------------------------------------------------------------

# 1:1 foldings as a translate() pair (single JVM pass): accented Latin,
# curly quotes/dashes, exotic spaces (generated from codepoints so the
# table survives any editor/encoding roundtrip)
_FOLD_SRC = 'áÁàÀâÂäÄãÃåÅāĀăĂąĄéÉèÈêÊëËēĒĕĔėĖęĘěĚíÍìÌîÎïÏĩĨīĪĭĬįĮóÓòÒôÔöÖõÕōŌŏŎőŐúÚùÙûÛüÜũŨūŪŭŬůŮçÇćĆĉĈčČñÑńŃņŅňŇýÝÿŸźŹżŻžŽ‘’‚“”„–—−\xa0\u2009\u202f\u3000'
_FOLD_DST = 'aAaAaAaAaAaAaAaAaAeEeEeEeEeEeEeEeEeEiIiIiIiIiIiIiIiIoOoOoOoOoOoOoOoOuUuUuUuUuUuUuUuUcCcCcCcCnNnNnNnNyYyYzZzZzZ\'\',"""---    '
# multi-char expansions + zero-width removals (translate is 1:1 only)
_FOLD_MULTI = (("\u2026", "..."), ("\u0153", "oe"), ("\u0152", "OE"),
               ("\u00e6", "ae"), ("\u00c6", "AE"), ("\ufb01", "fi"),
               ("\ufb02", "fl"), ("\u00df", "ss"),
               ("\u200b", ""), ("\u200c", ""), ("\u200d", ""),
               ("\ufeff", ""))


def ascii_fold(c: Column) -> Column:
    """Cheap ASCII folding for dedup/hash robustness: accents stripped,
    curly quotes/dashes/NBSP canonicalized, ligatures expanded,
    zero-widths removed — ONE ``translate`` plus a short replace chain,
    all JVM-side (the hot-path subset of NFKC; full normalization =
    ``normalize_unicode``). Idempotent (law-tested)."""
    out = F.translate(c, _FOLD_SRC, _FOLD_DST)
    for src, dst in _FOLD_MULTI:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return out


def normalize_unicode(df: DataFrame, col: str, form: str = "NFKC",
                      out_col: str | None = None) -> DataFrame:
    """Full Unicode normalization via ``unicodedata`` in an Arrow-batched
    pandas UDF — the documented Python boundary (same class as multimodal
    decode): use when exact NFC/NFKC/NFD/NFKD semantics matter (e.g.
    hashing parity with a CPython-normalizing pipeline); use
    :func:`ascii_fold` in expression-only hot paths."""
    import pandas as pd  # noqa: F401 (signature requires pandas at runtime)
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def _norm(s):
        import unicodedata
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize(form, x))

    return df.withColumn(out_col or col, _norm(F.col(col)))
