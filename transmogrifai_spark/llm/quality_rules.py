"""Corpus quality-filter rule sets from the public literature: the Gopher
rules (Rae et al. 2021, "Scaling Language Models: ... Gopher", Appendix A)
and the C4 cleaning heuristics (Raffel et al. 2020, "Exploring the Limits of
Transfer Learning", §2.2). These are the standard pre-training document
filters a large-scale pipeline runs before dedup/mixing.

Everything is column expressions over the text (split/filter/transform/
aggregate higher-order functions) — one projection per document inside
whole-stage codegen, no Python, no shuffle. The repetition metrics that need
within-document n-gram counts (top-ngram fraction, duplicate-ngram fraction)
use a per-document explode + groupBy — linear rows, one shuffle, the same
shape as the dedup paths.

Each rule emits its measured value plus a boolean, so downstream can audit
WHY a document was dropped (the reports the curation loop needs), and
``keep`` is the conjunction. Thresholds are the published defaults,
overridable per call.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..util import bind_sql, cached, sql_str_lit

# words = whitespace tokens, per both papers
_WS = r"\s+"


def _words(c: Column) -> Column:
    return F.filter(F.split(c, _WS), lambda w: F.length(w) > 0)


def _nonblank_sql(arr: str) -> str:
    """SQL text keeping the elements of ``arr`` that are not blank."""
    return f"filter({arr}, x -> length(trim(x)) > 0)"


def _dup_fraction_sql(arr: str) -> str:
    """SQL text of 1 - distinct/total over a non-empty array (0.0 for
    empty)."""
    return (f"CASE WHEN size({arr}) > 0 THEN 1.0D - size(array_distinct({arr}))"
            f" / CAST(size({arr}) AS DOUBLE) ELSE 0.0D END")


def _dup_char_fraction_sql(arr: str) -> str:
    """SQL text of the fraction of characters inside elements that are
    repeats of an earlier-seen element (the Gopher 'duplicate
    line/paragraph character fraction'): total chars minus chars of the
    distinct set, over total. The two length folds are bound once:
    ``total`` is referenced three times, and HOF folds re-evaluate per
    reference."""
    def chars(a: str) -> str:
        return f"aggregate(transform({a}, x -> length(x)), 0, (n, x) -> n + x)"
    return (f"transform(array(named_struct('total', {chars(arr)}, 'uniq', "
            f"{chars(f'array_distinct({arr})')})), c -> CASE WHEN c.total > 0 "
            "THEN (c.total - c.uniq) / CAST(c.total AS DOUBLE) ELSE 0.0D END)[0]")


def _num_sql(x) -> str:
    """A threshold as a SQL literal of the type ``F.lit`` would give it."""
    return repr(float(x)) + "D" if isinstance(x, float) else str(int(x))


GOPHER_DEFAULTS = {
    "min_words": 50, "max_words": 100_000,
    "min_mean_word_len": 3.0, "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,       # '#' or '...' per word
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,         # words containing >=1 alphabetic char
    "min_stop_words": 2,                # distinct required stop words present
    "max_dup_line_frac": 0.3,
    "max_dup_para_frac": 0.3,
    "max_dup_line_char_frac": 0.2,
    "max_dup_para_char_frac": 0.2,
}

#: Gopher's required-word list ("must contain >= 2 of these")
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(text: Column, **overrides) -> Column:
    """The Gopher document-quality rule struct (Rae et al. 2021 App. A):
    measured values + per-rule booleans + ``keep`` conjunction, one
    expression tree. Repetition here covers the line/paragraph families;
    n-gram repetition (which needs within-doc grouping) is
    :func:`repetition_metrics`.

    The tree is one parsed SQL text bound to ``text`` (util.bind_sql; built
    node by node it cost ~0.5 s of py4j round-trips per call), with two
    bind levels inside (HOFs are CodegenFallback — an expression
    referenced N times evaluates N times): first the three split+filter
    arrays (words/lines/paras — an unbound body re-split the text ~10x per
    row), then every measured metric (each is referenced twice: its rule
    boolean + its output field). Identical values, each computed exactly
    once."""
    p = {**GOPHER_DEFAULTS, **overrides}
    t = "coalesce(gt, '')"
    lines = sql_str_lit(r"\n")
    paras = sql_str_lit(r"\n\n+")
    arrays = (f"named_struct('w', filter(split({t}, {sql_str_lit(_WS)}), "
              "x -> length(x) > 0), "
              f"'l', {_nonblank_sql(f'split({t}, {lines})')}, "
              f"'p', {_nonblank_sql(f'split({t}, {paras})')})")
    nw = "CASE WHEN size(s.w) > 0 THEN CAST(size(s.w) AS DOUBLE) ELSE 1.0D END"
    n_lines = ("CASE WHEN size(s.l) > 0 THEN CAST(size(s.l) AS DOUBLE) "
               "ELSE 1.0D END")
    bullet = sql_str_lit(r"^([-*•‣▪◦])")
    ellipsis = sql_str_lit(r"(\.\.\.|…)$")
    alpha = sql_str_lit(r"\p{L}")
    stops = ", ".join(sql_str_lit(w) for w in GOPHER_STOP_WORDS)
    metrics = {
        "n_words": "size(s.w)",
        "mean_wl": "aggregate(transform(s.w, x -> length(x)), 0, "
                   f"(n, x) -> n + x) / {nw}",
        "symbol_ratio": "(size(filter(s.w, x -> contains(x, '#'))) + "
                        "size(filter(s.w, x -> contains(x, '...')))) / " + nw,
        "bullet_frac": f"size(filter(s.l, x -> trim(x) RLIKE {bullet})) "
                       f"/ {n_lines}",
        "ellipsis_frac": f"size(filter(s.l, x -> trim(x) RLIKE {ellipsis})) "
                         f"/ {n_lines}",
        "alpha_frac": f"size(filter(s.w, x -> x RLIKE {alpha})) / {nw}",
        "stops": "size(array_intersect(array_distinct(transform(s.w, "
                 f"x -> lower(x))), array({stops})))",
        "dup_line": _dup_fraction_sql("s.l"),
        "dup_para": _dup_fraction_sql("s.p"),
        "dup_line_chars": _dup_char_fraction_sql("s.l"),
        "dup_para_chars": _dup_char_fraction_sql("s.p"),
    }

    def within(v: str, lo: str, hi: str) -> str:
        return f"m.{v} >= {_num_sql(p[lo])} AND m.{v} <= {_num_sql(p[hi])}"

    def at_most(v: str, key: str) -> str:
        return f"m.{v} <= {_num_sql(p[key])}"

    checks = {
        "word_count_ok": within("n_words", "min_words", "max_words"),
        "mean_word_len_ok": within("mean_wl", "min_mean_word_len",
                                   "max_mean_word_len"),
        "symbol_ratio_ok": at_most("symbol_ratio", "max_symbol_word_ratio"),
        "bullet_frac_ok": at_most("bullet_frac", "max_bullet_line_frac"),
        "ellipsis_frac_ok": at_most("ellipsis_frac", "max_ellipsis_line_frac"),
        "alpha_frac_ok": f"m.alpha_frac >= {_num_sql(p['min_alpha_word_frac'])}",
        "stop_words_ok": f"m.stops >= {_num_sql(p['min_stop_words'])}",
        "dup_line_ok": at_most("dup_line", "max_dup_line_frac"),
        "dup_para_ok": at_most("dup_para", "max_dup_para_frac"),
        "dup_line_chars_ok": at_most("dup_line_chars", "max_dup_line_char_frac"),
        "dup_para_chars_ok": at_most("dup_para_chars", "max_dup_para_char_frac"),
    }
    outputs = {"n_words": "n_words", "mean_word_len": "mean_wl",
               "symbol_word_ratio": "symbol_ratio",
               "bullet_line_frac": "bullet_frac",
               "ellipsis_line_frac": "ellipsis_frac",
               "alpha_word_frac": "alpha_frac", "n_stop_words": "stops",
               "dup_line_frac": "dup_line", "dup_para_frac": "dup_para",
               "dup_line_char_frac": "dup_line_chars",
               "dup_para_char_frac": "dup_para_chars"}
    fields = [f"'{k}', m.{v}" for k, v in outputs.items()]
    fields += [f"'{k}', ({c})" for k, c in checks.items()]
    fields.append("'keep', " + " AND ".join(f"({c})" for c in checks.values()))
    metric_struct = "named_struct(" + ", ".join(
        f"'{k}', {v}" for k, v in metrics.items()) + ")"
    return bind_sql(text, "gt", (
        f"transform(array({arrays}), s -> transform(array({metric_struct}), "
        f"m -> named_struct({', '.join(fields)}))[0])[0]"))


C4_BAD_SUBSTRINGS = ["lorem ipsum", "{", "javascript"]


def c4_rules(text: Column, min_sentence_words: int = 3,
             min_sentences: int = 3) -> Column:
    """C4 cleaning struct (Raffel et al. 2020 §2.2), line-level semantics
    folded per document:

    - ``clean_text``: only lines ending in terminal punctuation with >=
      ``min_sentence_words`` words and no policy phrase, re-joined,
    - per-rule booleans (enough sentences, no lorem ipsum, no code brace,
      no 'javascript' line) + ``keep``.
    """
    t = F.coalesce(text, F.lit(""))
    lines = F.split(t, r"\n")
    kept_lines = F.filter(lines, lambda l: (
        F.trim(l).rlike(r'[.!?"”]$')
        & (F.size(_words(l)) >= F.lit(min_sentence_words))
        & ~F.lower(l).contains("javascript")
        & ~F.lower(l).contains("lorem ipsum")
        & ~l.contains("{")))
    n_sentences = F.size(F.filter(
        F.split(t, r"[.!?]"), lambda s: F.length(F.trim(s)) > 0))
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    checks = {
        "sentences_ok": n_sentences >= min_sentences,
        "no_lorem_ipsum": ~has_lorem,
        "no_code_brace": ~has_brace,
    }
    keep = None
    for c in checks.values():
        keep = c if keep is None else (keep & c)
    return F.struct(
        F.array_join(kept_lines, "\n").alias("clean_text"),
        n_sentences.alias("n_sentences"),
        *[v.alias(k) for k, v in checks.items()],
        keep.alias("keep"))


def repetition_metrics(df: DataFrame, id_col: str, text_col: str,
                       top_ngram: tuple[int, ...] = (2, 3, 4),
                       dup_ngram: tuple[int, ...] = (5, 10)) -> DataFrame:
    """Gopher n-gram repetition metrics, the within-document kind:

    - ``top{n}gram_char_frac``: characters in the single most frequent
      word n-gram, over document characters (Gopher drops at > 0.20/0.18/
      0.16 for n=2/3/4),
    - ``dup{n}gram_word_frac``: fraction of words covered by n-grams that
      occur more than once (approximated as the standard count-based form:
      words in non-first occurrences over total words).

    Shape: explode per-document word n-grams once per n -> groupBy
    (doc, gram) -> per-doc aggregate — linear in corpus tokens with one
    shuffle per n, then broadcast-free joins back on the id. Use AFTER the
    cheap expression rules pruned the obvious junk."""
    from ..util import ensure_parallelism

    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        _words(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias("ws"))
    base = base.withColumn("n_words", F.size("ws")) \
        .withColumn("n_chars", F.length(F.array_join("ws", " ")))
    base = cached(base)
    out = base.select("doc", "n_words", "n_chars")
    for n, kind in [(n, "top") for n in top_ngram] + \
                   [(n, "dup") for n in dup_ngram]:
        grams = base.select(
            "doc", "n_words", "n_chars",
            F.explode(F.when(F.size("ws") >= n, F.transform(
                F.sequence(F.lit(1), F.size("ws") - F.lit(n - 1)),
                lambda i: F.array_join(F.slice("ws", i, n), " "))
            ).otherwise(F.array().cast("array<string>"))).alias("g"))
        counts = grams.groupBy("doc", "n_words", "n_chars", "g").agg(
            F.count(F.lit(1)).alias("cnt"))
        if kind == "top":
            best = F.max(F.struct(F.col("cnt"), F.length("g").alias("len")))
            per_doc = counts.groupBy("doc").agg(
                F.least(F.lit(1.0),
                        best.getField("len").cast("double")
                        * best.getField("cnt")
                        / F.greatest(F.first("n_chars"),
                                     F.lit(1)).cast("double")
                        ).alias(f"top{n}gram_char_frac"))
        else:
            per_doc = counts.groupBy("doc").agg(
                F.least(F.lit(1.0),
                        F.sum(F.when(F.col("cnt") > 1,
                                     F.col("cnt") * n).otherwise(0))
                        / F.greatest(F.first("n_words"),
                                     F.lit(1)).cast("double")
                        ).alias(f"dup{n}gram_word_frac"))
        out = out.join(per_doc, "doc", "left")
    fill = {c: 0.0 for c in out.columns if c.endswith("_frac")}
    return out.fillna(fill).withColumnRenamed("doc", id_col)


def quality_filter(df: DataFrame, id_col: str, text_col: str,
                   rules: str = "gopher", **overrides) -> DataFrame:
    """Apply a rule set and return (id, metrics struct, keep) — the
    composable filter step: ``.where("q.keep")`` downstream."""
    c = F.col(text_col)
    q = gopher_rules(c, **overrides) if rules == "gopher" else c4_rules(c)
    return (df.select(F.col(id_col), q.alias("q"))
            .withColumn("keep", F.col("q.keep")))


def blocklist_hits(text: Column, words: list[str]) -> Column:
    """Count of blocklisted words in a document (exact whole-word matches,
    case-insensitive) as a column expression. C4's "bad words" page filter
    (Raffel et al. 2020 §2.2 drops any page with a listed word) is
    ``blocklist_hits(text, words) == 0``; the list itself is deployment-
    supplied (C4 uses an external public list, not reproduced here).

    Expression form: distinct document tokens intersected with a literal
    array — fine to a few hundred words (the literal rides the plan). For
    larger lists use ``blocklist_filter(..., large=True)``.
    """
    toks = F.array_distinct(_words(F.lower(F.coalesce(text, F.lit("")))))
    lits = F.array(*[F.lit(w.lower()) for w in words])
    return F.size(F.array_intersect(toks, lits))


def blocklist_filter(df: DataFrame, text_col: str, words: list[str],
                     max_hits: int = 0, large: bool = False,
                     id_col: str | None = None) -> DataFrame:
    """Drop documents with more than ``max_hits`` blocklisted words.

    ``large=False``: pure expression (list rides the plan as a literal).
    ``large=True``: the 100k-word form — distinct document tokens explode
    once and probe a BROADCAST blocklist table; hit counts come back via
    one groupBy and a left join on a row id. Both paths agree (law-tested);
    pick by list size, not corpus size (the corpus passes once either way).

    The row id for the large path is ``id_col`` when the caller has one
    (must be unique per row — ``curate_corpus`` passes its ``doc_id``);
    otherwise a DETERMINISTIC xxhash64 over every column. It must never be
    ``monotonically_increasing_id``: that is order-dependent, and the two
    branches of the self-join may recompute the input with different
    partition-internal row orders (e.g. post-shuffle), silently
    mis-matching ids. The hash is stable under recomputation; identical
    rows share a hash, which is harmless here because they also share the
    same token set (hit counts are computed once per id from a
    deduplicated token source, and the left join is 1:N back onto the
    original rows).
    """
    if not large:
        return df.where(blocklist_hits(F.col(text_col), words) <= max_hits)
    spark = df.sparkSession
    bl = spark.createDataFrame([(w.lower(),) for w in set(words)],
                               "word string")
    if id_col is not None:
        with_id = df.withColumn("__rid", F.col(id_col))
    else:
        with_id = df.withColumn(
            "__rid", F.xxhash64(*[F.col(c) for c in df.columns]))
    toks = with_id.select(
        "__rid",
        F.array_distinct(
            _words(F.lower(F.coalesce(F.col(text_col), F.lit("")))))
        .alias("__toks")) \
        .dropDuplicates(["__rid"]) \
        .select("__rid", F.explode("__toks").alias("word"))
    hits = (toks.join(F.broadcast(bl), "word")
            .groupBy("__rid").agg(F.count(F.lit(1)).alias("__hits")))
    return (with_id.join(hits, "__rid", "left")
            .where(F.coalesce(F.col("__hits"), F.lit(0)) <= max_hits)
            .drop("__rid", "__hits"))
