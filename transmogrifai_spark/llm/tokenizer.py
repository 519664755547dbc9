"""Byte-pair-encoding tokenizer: distributed fit + distributed encode.

A large-scale training-data pipeline needs *real* token counts (mixture
budgets, packing, per-source token accounting), not just the regex
approximation in ``textqual.token_count``. This module implements classic
BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units" — public algorithm; merge-loop shape as in the GPT-2 public
code) with the split that survives 100 TB:

  1. ``word_frequencies`` — the only data-sized pass: pre-tokenize with the
     same ``\\p{L}+|\\p{N}+|punct`` pattern as ``textqual.TOKEN_PATTERN``
     and hash-aggregate word counts (map-side partial combine; words are
     Zipf-skewed but a count agg is already partial-aggregated, so no salt
     needed). The result is vocabulary-bounded, not data-bounded.
  2. ``learn_bpe`` — merge learning on the *aggregated* (word, count) table
     driver-side. The heavy-tail cap (``max_words``, default 1M) bounds
     driver memory; this is the standard industrial split (SentencePiece
     trains on a bounded sample/vocab the same way). Incremental pair-count
     maintenance, deterministic ties (count desc, pair lexicographic).
  3. ``bpe_encode`` — a single distributed map pass, no shuffle: the merge
     ranks broadcast as a plain dict inside an Arrow-batched pandas UDF
     with a per-batch word->pieces cache (Zipf again: cache hit ratio on
     natural text is ~90%+, so the merge loop runs once per *distinct* word
     per batch). UDF is the documented slow path, but tokenization is
     inherently per-word iterative — this is case (b) of the custom-operator
     ladder, and it's Arrow-vectorized, never per-row py4j.

Reference surface: TransmogrifAI tokenizes via Lucene analyzers
(core/.../impl/feature/TextTokenizer.scala); subword tokenization is beyond
its scope — this module is part of the LLM-pipeline extension set.
"""
from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..util import bind_sql, sql_str_lit
from .textqual import TOKEN_PATTERN

# Python-re equivalent of textqual.TOKEN_PATTERN (Java \p{L}/\p{N} classes):
# letter runs, digit runs, single non-word-non-space char, underscore.
PY_TOKEN_RE = re.compile(r"[^\W\d_]+|\d+|[^\w\s]|_", re.UNICODE)

END_OF_WORD = "</w>"
UNK = "<unk>"


# ---------------------------------------------------------------- fit side

def word_frequencies(df: DataFrame, text_col: str = "text",
                     lowercase: bool = True,
                     max_words: int = 1_000_000) -> DataFrame:
    """(word, count) hash-aggregate over the corpus — the data-sized pass.

    ``max_words`` keeps the table heavy-tail-bounded (count desc, word asc
    for a deterministic cut). One shuffle (partial-aggregated); the output
    is small enough to collect for driver-side merge learning.
    """
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    words = df.select(F.explode(
        F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), F.lit(0))).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("count"))
    if not max_words:
        return counts
    # sort+limit compiles to TakeOrderedAndProject — a distributed top-K
    # (per-partition heaps merged on the driver), not a single-reducer sort
    return counts.orderBy(F.col("count").desc(), F.col("word").asc()) \
        .limit(max_words)


def learn_bpe(word_counts: list[tuple[str, int]], num_merges: int = 1000,
              min_pair_count: int = 2) -> dict:
    """Classic BPE merge learning over an aggregated (word, count) table.

    Pure driver-side python on the bounded vocab (not the corpus).
    Incremental pair-count maintenance: each merge touches only the words
    containing the merged pair (indexed), so learning is
    O(num_merges * words_containing_pair), not O(num_merges * vocab).
    Deterministic: ties on pair count break lexicographically.

    Returns the model dict used by ``bpe_encode``:
      {"merges": [(a, b), ...], "vocab": [...piece...], "end_of_word": str}
    """
    # word -> (symbol tuple, count); symbols end with the end-of-word marker
    words: dict[int, tuple[list[str], int]] = {}
    for i, (w, n) in enumerate(word_counts):
        if not w:
            continue
        words[i] = (list(w) + [END_OF_WORD], int(n))

    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, (syms, n) in words.items():
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += n
            pair_words.setdefault((a, b), set()).add(i)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        # deterministic argmax: count desc, then pair lexicographic asc
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < min_pair_count:
            break
        merges.append(best)
        merged = best[0] + best[1]
        for i in list(pair_words.get(best, ())):
            syms, n = words[i]
            # remove old pair contributions for this word, rebuild after merge
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] -= n
                if pair_counts[(a, b)] <= 0:
                    del pair_counts[(a, b)]
                s = pair_words.get((a, b))
                if s is not None:
                    s.discard(i)
                    if not s:
                        del pair_words[(a, b)]
            out: list[str] = []
            j = 0
            while j < len(syms):
                if j < len(syms) - 1 and (syms[j], syms[j + 1]) == best:
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = (out, n)
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] += n
                pair_words.setdefault((a, b), set()).add(i)

    vocab = set()
    for syms, _ in words.values():
        vocab.update(syms)
    for a, b in merges:
        vocab.update((a, b, a + b))
    return {"merges": merges, "vocab": [UNK] + sorted(vocab),
            "end_of_word": END_OF_WORD}


def train_bpe(df: DataFrame, text_col: str = "text", num_merges: int = 1000,
              lowercase: bool = True, max_words: int = 1_000_000,
              min_pair_count: int = 2) -> dict:
    """Distributed count -> driver-side learn. The collect is of the
    aggregated vocab table (bounded by ``max_words``), never the corpus."""
    rows = word_frequencies(df, text_col, lowercase, max_words).collect()
    counts = sorted(((r["word"], r["count"]) for r in rows),
                    key=lambda t: (-t[1], t[0]))
    model = learn_bpe(counts, num_merges, min_pair_count)
    model["lowercase"] = lowercase
    return model


# ------------------------------------------------------------- apply side

def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """GPT-2-style greedy merge loop: repeatedly apply the lowest-rank
    (earliest-learned) merge present in the word."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        pairs = [(ranks.get((a, b), 1 << 60), k)
                 for k, (a, b) in enumerate(zip(syms, syms[1:]))]
        rank, k = min(pairs)
        if rank >= 1 << 60:
            break
        syms[k:k + 2] = [syms[k] + syms[k + 1]]
    return syms


def encode_text(text: str, model: dict,
                cache: dict | None = None) -> list[str]:
    """Pure-python encode of one document (also the serving/local form)."""
    if text is None:
        return []
    if model.get("lowercase", True):
        text = text.lower()
    ranks = model.get("_ranks")
    if ranks is None:
        ranks = {tuple(p): i for i, p in enumerate(model["merges"])}
        model["_ranks"] = ranks
    out: list[str] = []
    for w in PY_TOKEN_RE.findall(text):
        if cache is not None:
            hit = cache.get(w)
            if hit is None:
                hit = _encode_word(w, ranks)
                cache[w] = hit
            out.extend(hit)
        else:
            out.extend(_encode_word(w, ranks))
    return out


# per-WORKER BPE state (guide §4.5): the word->pieces cache and the
# precomputed ranks dict live in a module-level global so a REUSED Python
# worker (spark.python.worker.reuse, the default) keeps them across Arrow
# batches AND across tasks — the pre-r13 cache was rebuilt per batch, so
# every task re-paid the merge loop for the corpus' head words. PID-guarded:
# a fresh/forked worker never sees a stale parent entry. This works because
# the cache lives in an importable module (cloudpickle serializes the
# closure's reference to this module by name); a __main__-defined global
# would be pickled by value and reset per task. The cache is bounded: past
# _BPE_CACHE_MAX distinct words it is cleared (Zipf: the refilled head
# covers most tokens again within one batch).
_BPE_STATE: dict = {}
_BPE_CACHE_MAX = 1_000_000


def _bpe_state(fp: str, merges, lowercase: bool) -> dict:
    import os
    pid = os.getpid()
    st = _BPE_STATE.get(fp)
    if st is None or st["pid"] != pid:
        st = {"pid": pid, "cache": {},
              "model": {"merges": merges, "lowercase": lowercase,
                        "_ranks": {tuple(p): i
                                   for i, p in enumerate(merges)}}}
        _BPE_STATE[fp] = st
    elif len(st["cache"]) > _BPE_CACHE_MAX:
        st["cache"].clear()
    return st


def _bpe_fingerprint(merges, lowercase: bool) -> str:
    import hashlib
    h = hashlib.md5(repr((merges, lowercase)).encode()).hexdigest()
    return f"{h}:{len(merges)}"


def bpe_encode(c: Column, model: dict) -> Column:
    """array<string> BPE pieces for a text column. Arrow-batched pandas UDF
    with a per-WORKER word cache — the merge loop runs once per distinct
    word per worker process (Zipf: most tokens are cache hits), persisting
    across batches and tasks under worker reuse (guide §4.5)."""
    merges = [tuple(p) for p in model["merges"]]
    lowercase = bool(model.get("lowercase", True))
    fp = _bpe_fingerprint(merges, lowercase)

    @pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        st = _bpe_state(fp, merges, lowercase)
        m, cache = st["model"], st["cache"]
        return s.map(lambda t: encode_text(t, m, cache))

    return _enc(c)


def bpe_ids(c: Column, model: dict) -> Column:
    """array<int> token ids (vocab order; unknown pieces -> id 0 = <unk>).
    The piece->id map rides inside the same Arrow batch UDF; the word
    cache is the same per-worker state as ``bpe_encode``."""
    merges = [tuple(p) for p in model["merges"]]
    lowercase = bool(model.get("lowercase", True))
    vocab_ids = {p: i for i, p in enumerate(model["vocab"])}
    fp = _bpe_fingerprint(merges, lowercase)

    @pandas_udf("array<int>")
    def _ids(s: pd.Series) -> pd.Series:
        st = _bpe_state(fp, merges, lowercase)
        m, cache = st["model"], st["cache"]
        return s.map(lambda t: [vocab_ids.get(p, 0)
                                for p in encode_text(t, m, cache)])

    return _ids(c)


def bpe_token_count(c: Column, model: dict) -> Column:
    return F.size(bpe_encode(c, model)).cast("long")


def bpe_decode_pieces(pieces: list[str]) -> str:
    """Inverse of ``encode_text`` up to whitespace: pieces -> space-joined
    pre-tokens (BPE is lossless within words; inter-word whitespace is not
    preserved by design — same contract as the reference's tokenizer)."""
    text = "".join(pieces)
    return " ".join(w for w in text.split(END_OF_WORD) if w)


def tokenize_corpus(df: DataFrame, model: dict, text_col: str = "text",
                    out_col: str = "tokens") -> DataFrame:
    """Corpus-wide encode: one map pass, no shuffle. Adds ``out_col``
    (array<string>) and ``{out_col}_count``."""
    enc = bpe_encode(F.col(text_col), model)
    return df.withColumn(out_col, enc) \
        .withColumn(f"{out_col}_count", F.size(F.col(out_col)).cast("long"))


# ------------------------------------------------- unigram (SentencePiece)

SPM_SPACE = "▁"  # ▁ — the public SentencePiece whitespace marker


def load_sentencepiece_vocab(spark, path: str,
                             drop_control: bool = True) -> DataFrame:
    """Load a vocabulary in the PUBLIC SentencePiece export format (the
    ``spm_export_vocab`` / HuggingFace ``*.vocab`` layout: one
    ``<piece>\\t<log_prob>`` line per piece, the piece id implicit in
    the line order) as a lexicon DataFrame ``(piece, cost, piece_id)``
    with ``cost = -log_prob`` — ready for the broadcast-join Viterbi
    (``unigram_tokenize``): maximizing Σ log p(piece) IS minimizing the
    dp's Σ cost. ``drop_control`` removes ``<...>``-bracketed control
    symbols (<unk>/<s>/</s>/<pad> head entries) — they never match raw
    text and must not enter the segmentation lexicon. The whole file is
    vocabulary-sized (32-256k lines), read driver-side in one pass.
    Raises ValueError on lines without a tab or a numeric score."""
    rows = []
    with open(path, encoding="utf-8") as f:
        for i, ln in enumerate(f):
            ln = ln.rstrip("\n")
            if not ln:
                continue
            if "\t" not in ln:
                raise ValueError(
                    f"line {i + 1} is not '<piece>\\t<log_prob>': {ln!r}")
            piece, score = ln.rsplit("\t", 1)
            try:
                lp = float(score)
            except ValueError:
                raise ValueError(
                    f"line {i + 1} has a non-numeric score: {ln!r}")
            if drop_control and piece.startswith("<") and \
                    piece.endswith(">"):
                continue
            rows.append((piece, -lp, i))
    if not rows:
        raise ValueError(f"{path!r} contains no usable vocab pieces")
    return spark.createDataFrame(
        rows, "piece string, cost double, piece_id long")


def _spm_pretokenize(c: Column) -> Column:
    """The default SentencePiece normalizer subset this engine can do
    expression-side: collapse/trim whitespace runs, mark the remaining
    separators and the word-start boundary with ▁ (add_dummy_prefix).
    Full NFKC normalization is assumed upstream (documented delta — no
    Unicode-normalization expression without a UDF)."""
    squeezed = F.trim(F.regexp_replace(F.coalesce(c, F.lit("")),
                                       r"\s+", " "))
    marked = F.translate(squeezed, " ", SPM_SPACE)
    return F.when(F.length(marked) == 0, marked) \
        .otherwise(F.concat(F.lit(SPM_SPACE), marked))


def unigram_tokenize(df: DataFrame, text_col: str, vocab_df: DataFrame,
                     out_col: str = "pieces",
                     unknown_cost: float | None = None,
                     id_col: str | None = None) -> DataFrame:
    """SentencePiece-unigram tokenization at corpus scale: the vocab is
    DATA (a broadcast DataFrame from ``load_sentencepiece_vocab``) and
    the decoder is the engine's existing broadcast-join Viterbi
    (``operators/segmentation.lexicon_segment_join``) — unigram-LM
    tokenization (Kudo 2018) is EXACTLY least-cost dictionary
    segmentation with cost = -log p(piece), so the 400k-dictionary
    machinery (candidate-span explode, one broadcast hash join, arc dp)
    is the tokenizer. Adds ``out_col`` (array<string> of pieces, ▁
    marking word starts).

    ``unknown_cost`` prices single-character fallback arcs for
    characters outside the vocab (SentencePiece's unk pieces); when
    omitted it is max(cost)+10 over the vocab (one 1-row aggregate —
    the spm min_score-minus-penalty convention), so unknowns never beat
    a real piece. Byte-fallback vocabs are not decomposed to bytes
    (documented delta: unknown characters stay single-char pieces).

    ``id_col``: forwarded to the join segmenter — REQUIRED shape for
    long documents so the shuffle keys on the id, never the text."""
    if unknown_cost is None:
        unknown_cost = float(
            vocab_df.agg(F.max("cost")).head()[0]) + 10.0
    from ..operators.segmentation import lexicon_segment_join
    pre = f"_spm_pre_{out_col}"
    staged = df.withColumn(pre, _spm_pretokenize(F.col(text_col)))
    out = lexicon_segment_join(staged, pre, vocab_df, out_col=out_col,
                               word_col="piece", cost_col="cost",
                               unknown_cost=unknown_cost, id_col=id_col)
    return out.drop(pre)


def unigram_tokenize_df(df: DataFrame, text_col: str,
                        vocab_df: DataFrame, id_col: str,
                        out_col: str = "pieces",
                        unknown_cost: float | None = None) -> DataFrame:
    """SentencePiece-unigram tokenization via a DISTINCT-WORD Viterbi —
    the ``wordpiece_tokenize_df`` economics applied to the unigram
    path: whitespace-pretokenize each document into ▁-prefixed words,
    run the broadcast-join Viterbi ONCE per word TYPE (the
    ``lexicon_segment_join`` default path dedupes by text value — the
    words ARE the short distinct texts it was built for), join the
    piece lists back and reassemble per document in word order. Under
    a Zipfian corpus the heavy per-position dp runs once per type
    instead of once per token instance.

    Decomposition soundness: in ``unigram_tokenize`` the dp runs over
    the whole ▁-marked text, but any arc covering a ▁ must start AT it
    when no vocab piece contains ▁ past position 0 (SentencePiece's
    ``split_by_whitespace=true`` training default — pieces never span
    words), so every ▁ is a forced path boundary and the document dp
    decomposes into independent per-word dps: same arcs, same costs,
    same (cost, earlier-start) tie-break. The one delta vs the
    whole-text form is the float OFFSET under which ties are compared
    (the whole-text dp compares costs carrying the accumulated prefix
    sum; the per-word dp compares from 0.0), so an adversarial
    near-tie within 1 ulp of the document prefix sum may tie-break
    differently — real -log-prob vocabs are far from that edge
    (law-tested piece-equal). Vocabs WITH internal-▁ pieces
    (``split_by_whitespace=false`` training) are detected with one
    bounded probe and routed to the whole-text form unchanged —
    correctness over speed.

    ``id_col`` must be non-NULL and unique per row — the regroup joins
    back on it; NULL ids on word-bearing rows and duplicate ids raise
    at evaluation time (the ``lexicon_segment_join`` guard), never
    silently returning a wrong piece list."""
    internal = vocab_df.where(
        F.locate(SPM_SPACE, F.col("piece"), 2) > 0).limit(1).count()
    if internal:
        return unigram_tokenize(df, text_col, vocab_df, out_col,
                                unknown_cost, id_col)
    if unknown_cost is None:
        unknown_cost = float(
            vocab_df.agg(F.max("cost")).head()[0]) + 10.0
    from ..operators.segmentation import lexicon_segment_join
    marked = _spm_pretokenize(F.col(text_col))
    # every ▁ (including literal input ▁, which the whole-text dp also
    # boundary-forces) opens a word; empty segments (▁ runs) stay as
    # bare-▁ words so the piece stream matches the whole-text form
    segs = F.split(marked, SPM_SPACE)
    words = F.transform(F.slice(segs, 2, F.size(segs) - 1),
                        lambda x: F.concat(F.lit(SPM_SPACE), x))
    staged = df.withColumn("_ug_words", words)
    ex = staged.select(F.col(id_col).alias("_ug_id"),
                       F.posexplode("_ug_words").alias("_pos", "_w"))
    segged = lexicon_segment_join(ex, "_w", vocab_df,
                                  out_col="_ug_pieces",
                                  word_col="piece", cost_col="cost",
                                  unknown_cost=unknown_cost)
    regrouped = (segged.groupBy("_ug_id").agg(
        F.flatten(F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("_pos").alias("p"),
                         F.col("_ug_pieces").alias("pc")))),
            lambda s: s["pc"])).alias(out_col),
        # word count carried back so duplicate-id merges (which
        # inflate it past the row's own word count) fail loudly
        F.count(F.lit(1)).alias("_ug_n")))
    out = (staged.join(regrouped,
                       staged[id_col] == regrouped["_ug_id"], "left")
           .drop("_ug_id", "_ug_words")
           .withColumn(out_col,
                       F.coalesce(F.col(out_col),
                                  F.array().cast("array<string>"))))
    nwords = F.greatest(F.size(F.split(marked, SPM_SPACE)) - 1,
                        F.lit(0))
    guarded = (
        F.when(out[id_col].isNull() & (nwords > 0),
               F.raise_error(F.lit(
                   f"unigram_tokenize_df: NULL in id_col {id_col!r} "
                   "(ids must be unique and non-null)"))
               .cast("array<string>"))
        .when(F.col("_ug_n").isNotNull() & (F.col("_ug_n") != nwords),
              F.raise_error(F.lit(
                  f"unigram_tokenize_df: duplicate values in id_col "
                  f"{id_col!r} merged piece lists across rows "
                  "(ids must be unique and non-null)"))
              .cast("array<string>"))
        .otherwise(F.col(out_col)))
    return out.withColumn(out_col, guarded).drop("_ug_n")


def unigram_ids(df: DataFrame, text_col: str, vocab_df: DataFrame,
                id_col: str, out_col: str = "piece_ids",
                unk_id: int = 0) -> DataFrame:
    """Piece-id encoding for training-shard export: ``unigram_tokenize``
    then pieces -> ids via posexplode + ONE broadcast join + an ordered
    re-collect keyed on ``id_col`` (required: the regroup must never key
    on document text). Unknown pieces (single-char fallbacks outside the
    vocab) take ``unk_id`` — SentencePiece's unk id convention. Rows
    with no pieces (empty/NULL text) get an empty array. Cost shape at
    100 TB: the explode triples row count but carries only (id, pos,
    piece); the join is broadcast; the single shuffle is the groupBy on
    the unique id. Since r12 the tokenization rides the distinct-WORD
    form (``unigram_tokenize_df`` — Viterbi once per word type;
    piece-equal by the ▁ decomposition law, with the internal-▁ vocab
    probe falling back to the whole-text form)."""
    toks = unigram_tokenize_df(df, text_col, vocab_df, id_col,
                               out_col="_pieces")
    ex = toks.select(id_col, F.posexplode_outer("_pieces")
                     .alias("_pos", "_piece"))
    joined = ex.join(F.broadcast(vocab_df.select(
        F.col("piece").alias("_piece"), "piece_id")), "_piece", "left")
    ids = joined.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("_pos", "piece_id")))
        .alias("_o"))
    ids = ids.select(
        id_col,
        F.transform(
            F.filter(F.col("_o"), lambda s: s["_pos"].isNotNull()),
            lambda s: F.coalesce(s["piece_id"], F.lit(unk_id)))
        .alias(out_col))
    return toks.drop("_pieces").join(ids, id_col, "left")


# ---------------------------------------------------- WordPiece (BERT)

_WP_BUCKETS = 64


def load_wordpiece_vocab(path: str) -> dict:
    """Load the PUBLIC BERT ``vocab.txt`` format (one piece per line,
    the piece id implicit in the line order, continuation pieces
    ``##``-prefixed) into a WordPiece model dict: ``{"vocab": {piece:
    id}, "unk": "[UNK]", "max_piece_len": N}``. Raises ValueError on an
    empty file or a vocabulary without the [UNK] piece (the algorithm
    cannot represent failure without it)."""
    vocab: dict[str, int] = {}
    with open(path, encoding="utf-8") as f:
        for i, ln in enumerate(f):
            piece = ln.rstrip("\n")
            if piece:
                vocab.setdefault(piece, i)
    if not vocab:
        raise ValueError(f"{path!r} contains no vocab pieces")
    if "[UNK]" not in vocab:
        raise ValueError(f"{path!r} has no [UNK] piece")
    return {"vocab": vocab, "unk": "[UNK]",
            "max_piece_len": max(len(p) for p in vocab)}


def _wp_table_expr(model: dict) -> Column:
    """The vocabulary as ONE parsed bucketed literal
    map<int, map<string, int>> (piece -> id), crc32-bucketed exactly
    like the nbmodel tables (probe-side expression and build-side
    python agree on the bucket)."""
    import zlib

    from ..nbmodel import _sql_str
    buckets: dict[int, list[tuple[str, int]]] = {}
    for piece, pid in sorted(model["vocab"].items()):
        b = zlib.crc32(piece.encode("utf-8")) % _WP_BUCKETS
        buckets.setdefault(b, []).append((piece, pid))
    parts = []
    for b in sorted(buckets):
        inner = ",".join(f"{_sql_str(p)},{int(i)}"
                         for p, i in buckets[b])
        parts.append(f"{b},map({inner})")
    return F.expr("map(" + ",".join(parts) + ")")


def _wp_probe_sql(tab: str, cand: str) -> str:
    """SQL text probing the bucketed table ``tab`` for the piece ``cand``:
    its id, or NULL."""
    return (f"try_element_at(try_element_at({tab}, CAST(crc32(encode({cand}, "
            f"'UTF-8')) % {_WP_BUCKETS} AS INT)), {cand})")


# BasicTokenizer's split shape: CJK chars isolated, letter/digit runs
# kept (CJK EXCLUDED from runs via Java class intersection — a greedy
# \p{L}+ would swallow a CJK char glued to a Latin run), every other
# visible char its own token. Ranges = BERT's _is_chinese_char EXACTLY
# (r10, closing the r9 ADVICE delta): CJK Unified Ideographs + ext A,
# compatibility ideographs, and the supplementary-plane extensions
# B-E + compat supplement (literal astral chars — both Java Pattern
# and Python re treat them as single code points in classes). Kana,
# Hangul and radicals are NOT isolated — BERT keeps them inside runs.
_WP_CJK = ("㐀-䶿一-鿿豈-﫿"
           "\U00020000-\U0002A6DF\U0002A700-\U0002CEAF"
           "\U0002F800-\U0002FA1F")
_WP_PRE_RE = (f"([{_WP_CJK}]|[\\p{{L}}\\p{{N}}&&[^{_WP_CJK}]]+"
              "|[^\\p{L}\\p{N}\\s])")
# the published max_input_chars_per_word guard: longer words are [UNK]
# without scanning (also bounds the per-word aggregate)
_WP_MAX_WORD = 200


def wordpiece_tokenize(c: Column, model: dict,
                       lowercase: bool = True) -> Column:
    """BERT WordPiece tokenization as pure expressions: the published
    greedy longest-match-first algorithm (repeatedly take the longest
    vocabulary piece at the cursor, continuations ``##``-prefixed; if
    some position matches nothing the WHOLE word becomes [UNK]).
    Pre-tokenization is the BasicTokenizer shape — lowercase (uncased
    models), punctuation split into single-char tokens, CJK characters
    isolated; accent-stripping (NFD) is assumed upstream, the same
    normalization delta as the unigram path.

    Plan shape: the vocabulary rides as ONE parsed bucketed literal
    bound once per row and shared by every word; each word's scan is an
    aggregate over its character positions with a longest-first probe
    chain (max_piece_len deep) per cursor stop — comfortable to ~10^5
    pieces (the lexicon_segment plan-literal bound; BERT vocabs are
    ~30k)."""
    text = F.coalesce(c, F.lit(""))
    if lowercase:
        text = F.lower(text)
    words = F.regexp_extract_all(text, F.lit(_WP_PRE_RE), 1)
    out = bind_sql(
        F.named_struct(F.lit("tab"), _wp_table_expr(model),
                       F.lit("words"), words), "wp",
        f"flatten(transform(wp.words, w -> {_wp_scan_sql('w', 'wp.tab', model)}))")
    return F.when(F.length(text) == 0,
                  F.array().cast("array<string>")).otherwise(out)


def _wp_scan_sql(w: str, tab: str, model: dict) -> str:
    """SQL text of the pieces of ONE pre-tokenized word ``w`` (a string
    text) against the bound table ``tab``: the published greedy
    longest-match cursor scan as an aggregate over character positions
    (shared by the per-row column form and the distinct-word df form).
    Words over ``_WP_MAX_WORD`` characters are [UNK] without a scan."""
    unk = sql_str_lit(model["unk"])
    max_len = int(model["max_piece_len"])
    # longest-first probe at the cursor (## for continuations): the first
    # length whose candidate is a vocabulary piece wins
    probes = []
    for ln in range(max_len, 0, -1):
        raw = f"substring({w}, acc.pos, {ln})"
        cand = f"CASE WHEN acc.pos > 1 THEN concat('##', {raw}) ELSE {raw} END"
        probes.append(f"WHEN length({raw}) = {ln} AND "
                      f"{_wp_probe_sql(tab, cand)} IS NOT NULL THEN {cand}")
    best = "CASE " + " ".join(probes) + " END"
    # step: a dead state (bad, or past the end) stays; otherwise the best
    # piece, bound once, advances the cursor, and no piece marks the word bad
    step = (f"CASE WHEN acc.bad OR acc.pos > length({w}) THEN acc "
            f"ELSE transform(array({best}), best -> CASE "
            "WHEN best IS NOT NULL THEN named_struct("
            "'pos', acc.pos + length(best) - "
            "CASE WHEN acc.pos > 1 THEN 2 ELSE 0 END, "
            "'pieces', concat(acc.pieces, array(best)), 'bad', false) "
            "ELSE named_struct('pos', acc.pos, 'pieces', acc.pieces, "
            "'bad', true) END)[0] END")
    init = ("named_struct('pos', 1, 'pieces', CAST(array() AS ARRAY<STRING>), "
            "'bad', false)")
    return (f"CASE WHEN length({w}) > {_WP_MAX_WORD} THEN array({unk}) ELSE "
            f"aggregate(sequence(1, length({w})), {init}, (acc, i) -> {step}, "
            f"st -> CASE WHEN st.bad THEN array({unk}) ELSE st.pieces END) END")


def wordpiece_tokenize_df(df: DataFrame, text_col: str, model: dict,
                          id_col: str, out_col: str = "pieces",
                          lowercase: bool = True) -> DataFrame:
    """WordPiece at corpus scale via a DISTINCT-WORD scan: explode the
    pre-tokenized words, run the greedy cursor scan ONCE per distinct
    word, join the pieces back, and reassemble per document in word
    order. Equal to ``wordpiece_tokenize`` by construction (law-tested)
    — the scan is the same ``_wp_scan_sql`` aggregate — but under a
    Zipfian corpus the heavy per-character scan runs once per TYPE
    instead of once per TOKEN instance (the same economics the BPE
    pandas-UDF path gets from its per-batch word cache).

    Plan shape: one distinct on the 8-byte-ish word keys, one join back
    on the same keys (AQE broadcasts the scanned table when the type
    count is small), one groupBy on ``id_col`` with an array_sort
    regroup — the shuffle never keys on document text.

    ``id_col`` must be non-NULL and unique per row — the regroup joins
    back on it, so a NULL id could never equi-join its pieces and a
    duplicate id would merge piece lists across rows. Both are detected
    at evaluation time and raise (the ``lexicon_segment_join`` guard),
    never silently returning a wrong piece list."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    staged = df.withColumn(
        "_wp_words", F.regexp_extract_all(text, F.lit(_WP_PRE_RE), 1))
    ex = staged.select(
        F.col(id_col).alias("_wid"),
        F.posexplode("_wp_words").alias("_pos", "_w"))
    distinct = ex.select("_w").distinct()

    scanned = distinct.withColumn(
        "_pieces", bind_sql(_wp_table_expr(model), "tab",
                            _wp_scan_sql("_w", "tab", model)))
    regrouped = (
        ex.join(scanned, "_w")
        .groupBy("_wid")
        .agg(F.flatten(F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("_pos").alias("p"),
                         F.col("_pieces").alias("pc")))),
            lambda s: s["pc"])).alias(out_col),
             # word count carried back so duplicate-id merges (which
             # inflate it past the row's own word count) fail loudly
             F.count(F.lit(1)).alias("_wp_n")))
    out = (staged.join(regrouped,
                       staged[id_col] == regrouped["_wid"], "left")
           .drop("_wid", "_wp_words")
           .withColumn(out_col,
                       F.coalesce(F.col(out_col),
                                  F.array().cast("array<string>"))))
    nwords = F.size(F.regexp_extract_all(text, F.lit(_WP_PRE_RE), 1))
    guarded = (
        F.when(out[id_col].isNull() & (nwords > 0),
               F.raise_error(F.lit(
                   f"wordpiece_tokenize_df: NULL in id_col {id_col!r} "
                   "(ids must be unique and non-null)"))
               .cast("array<string>"))
        .when(F.col("_wp_n").isNotNull() & (F.col("_wp_n") != nwords),
              F.raise_error(F.lit(
                  f"wordpiece_tokenize_df: duplicate values in id_col "
                  f"{id_col!r} merged piece lists across rows "
                  "(ids must be unique and non-null)"))
              .cast("array<string>"))
        .otherwise(F.col(out_col)))
    return out.withColumn(out_col, guarded).drop("_wp_n")


def wordpiece_ids(c: Column, model: dict,
                  lowercase: bool = True) -> Column:
    """Piece-id encoding: ``wordpiece_tokenize`` then one probe per
    piece against the same bound table ([UNK] included — it is in the
    vocabulary by the loader's contract)."""
    pieces = wordpiece_tokenize(c, model, lowercase=lowercase)
    return bind_sql(
        F.named_struct(F.lit("tab"), _wp_table_expr(model),
                       F.lit("pieces"), pieces), "wp",
        f"transform(wp.pieces, p -> {_wp_probe_sql('wp.tab', 'p')})")


def wordpiece_tokenize_py(text: str, model: dict,
                          lowercase: bool = True) -> list[str]:
    """Pure-Python mirror of the published algorithm (the law-test
    partner)."""
    import re as _re
    if text is None:
        return []
    if lowercase:
        text = text.lower()
    vocab = model["vocab"]
    out: list[str] = []
    # python-re equivalent of _WP_PRE_RE ([^\W_\s] = \p{L}\p{N})
    py_re = (f"[{_WP_CJK}]|[^\\W_\\s{_WP_CJK}]+|[^\\w\\s]|_")
    for w in _re.findall(py_re, text, _re.UNICODE):
        if len(w) > _WP_MAX_WORD:
            out.append(model["unk"])
            continue
        start, pieces, bad = 0, [], False
        while start < len(w):
            end = len(w)
            cur = None
            while start < end:
                sub = w[start:end]
                if start > 0:
                    sub = "##" + sub
                if sub in vocab:
                    cur = sub
                    break
                end -= 1
            if cur is None:
                bad = True
                break
            pieces.append(cur)
            start = end
        out.extend([model["unk"]] if bad else pieces)
    return out
