"""Seeded input generators, one per workload.

Each generator writes parquet (and, for ``curate``, a WordPiece vocabulary
file) under a directory it is given and returns the planted ground truth the
checks need. The program under test only ever sees the written files; the
truth stays in the benchmark process. The same seed gives byte-identical
files (numpy's PCG64 stream plus pyarrow's deterministic writer).
"""
from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = [f"seg_{c}" for c in "abcdefgh"]
N_HOT_SEGMENTS = 2      # the first two segments raise the label propensity
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000

# Gopher's required stop words ride at the top of the Zipf vocabulary, so
# every clean document carries several of them, as natural text does.
STOP_WORDS = ["the", "of", "and", "to", "that", "with", "have", "be"]
_CONSONANTS = "bcdfghklmnprstvz"
_VOWELS = "aeiou"
SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]

# model traffic: keys the readers see, and raw rows scored per key
MODEL_KEYS = 10_000
RAW_ROWS_PER_KEY = 10
RAW_FILES = 4

# curate traffic. These shares are chosen, not measured from a corpus (see
# perfbench/README.md): shares of the clean document count, and group
# counts per CLEAN_DOCS clean documents.
CLEAN_DOCS = 2_000
LOW_FRAC = 0.08        # planted low-quality docs
EXACT_FRAC = 0.05      # exact copies, in EXACT_GROUPS groups
EXACT_GROUPS = 60
NEAR_FRAC = 0.05       # near copies, in NEAR_CHAINS chains
NEAR_CHAINS = 10
WORDS_PER_EDIT = 36    # a near copy replaces one word of its parent per 36
VEC_FRAC = 0.03        # planted near-duplicate embedding pairs
VOCAB_SIZE = 5_000
EMB_DIM = 32


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """Write ``table`` as ``parts`` equal parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="none", use_dictionary=["segment", "kind"])


def tree_digest(root: str, suffix: str = "") -> str:
    """sha256 over every file under ``root`` whose name ends in ``suffix``
    (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(f for f in filenames if f.endswith(suffix)):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def table_sizes(root: str) -> dict:
    """Row count of every parquet file (line count of any other file)."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                n = pq.ParquetFile(fh).metadata.num_rows \
                    if f.endswith(".parquet") else sum(1 for _ in fh)
            out[os.path.relpath(p, root)] = n
    return out


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def _customer_columns(rng: np.random.Generator, n: int) -> dict:
    """Customer attributes plus the latent propensity the label follows."""
    seg_idx = rng.integers(0, len(SEGMENTS), n)
    seg_null = rng.random(n) < 0.05
    balance = rng.normal(1000.0, 400.0, n)
    bal_null = rng.random(n) < 0.10
    tenure = rng.poisson(24, n).astype(np.int64)
    signup_day = 17_000 + rng.integers(0, 2_000, n, dtype=np.int64)
    hot = seg_idx < N_HOT_SEGMENTS
    z = (1.4 * hot + 0.9 * np.where(bal_null, 0.0, (balance - 1000.0) / 400.0)
         + 0.04 * (tenure - 24) + rng.logistic(0.0, 0.7, n))
    segment = pa.DictionaryArray.from_arrays(
        pa.array(seg_idx, pa.int32(), mask=seg_null),
        pa.array(SEGMENTS)).cast(pa.string())
    return {"segment": segment, "balance": np.where(bal_null, np.nan, balance),
            "balance_null": bal_null, "tenure": tenure,
            "signup_day": signup_day, "z": z}


# ---------------------------------------------------------------- model

@dataclass
class ModelTruth:
    n_customers: int
    n_events: int
    n_with_condition: int
    positive_frac: float
    n_raw: int
    raw_files: int


def model_inputs(root: str, seed: int, n_keys: int = MODEL_KEYS) -> ModelTruth:
    """Customers plus a keyed event table with a planted label signal, and
    a raw frame of ``RAW_ROWS_PER_KEY * n_keys`` rows to score.

    Every customer but ~3% has one ``visit`` event: the per-key cutoff of
    the conditional reader. Clicks before the cutoff grow with the latent
    propensity; a ``purchase`` after the cutoff is the label.
    """
    rng = _rng(seed, 1)
    c = _customer_columns(rng, n_keys)
    ids = np.arange(1, n_keys + 1, dtype=np.int64)
    label = np.zeros(n_keys, dtype=bool)
    label[np.argsort(c["z"])[n_keys * 65 // 100:]] = True
    _write(pa.table({
        "cust_id": ids,
        "segment": c["segment"],
        "balance": pa.array(c["balance"], pa.float64(),
                            mask=c["balance_null"]),
        "tenure": c["tenure"], "signup_day": c["signup_day"]}),
        os.path.join(root, "customers"))

    cutoff = EPOCH_2024_US + rng.integers(30, 300, n_keys) * DAY_US \
        + rng.integers(0, DAY_US, n_keys)
    # counts are drawn with fixed totals, so every seed gives tables of the
    # same sizes
    has_visit = np.zeros(n_keys, dtype=bool)
    has_visit[rng.permutation(n_keys)[:n_keys * 97 // 100]] = True
    w = 1.0 + 5.0 * _sigmoid(c["z"])
    n_click = rng.multinomial(4 * n_keys, w / w.sum())
    n_pre_buy = rng.multinomial(n_keys * 6 // 10, np.full(n_keys, 1.0 / n_keys))
    n_post_click = rng.multinomial(n_keys, np.full(n_keys, 1.0 / n_keys))
    parts = []

    def emit(counts, kind, lo_days, hi_days, amount):
        """``counts[i]`` events of ``kind`` for customer i, at offsets in
        [lo_days, hi_days) from its cutoff."""
        key = np.repeat(ids, counts)
        base = np.repeat(cutoff, counts)
        off = rng.uniform(lo_days, hi_days, key.size) * DAY_US
        amt = (rng.lognormal(3.0, 0.8, key.size) if amount
               else np.full(key.size, np.nan))
        parts.append((key, (base + off).astype(np.int64),
                      np.full(key.size, kind, dtype=object), amt))

    emit(has_visit.astype(np.int64), "visit", 0.0, 0.0, False)
    emit(n_click, "click", -30.0, -0.001, False)
    emit(n_pre_buy, "purchase", -30.0, -0.001, True)
    emit(n_post_click, "click", 0.001, 10.0, False)
    emit(label.astype(np.int64), "purchase", 0.001, 10.0, True)
    key = np.concatenate([p[0] for p in parts])
    ts = np.concatenate([p[1] for p in parts])
    kind = np.concatenate([p[2] for p in parts])
    amt = np.concatenate([p[3] for p in parts])
    order = rng.permutation(key.size)
    _write(pa.table({
        "cust_id": key[order],
        "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        "kind": pa.array(kind[order], pa.string()),
        "amount": pa.array(amt[order], pa.float64(),
                           mask=np.isnan(amt[order]))}),
        os.path.join(root, "events"), parts=4)
    n_raw = RAW_ROWS_PER_KEY * n_keys
    _write(feature_table(rng, n_raw, 10_000_000), os.path.join(root, "raw"),
           parts=RAW_FILES)
    return ModelTruth(n_keys, int(key.size), int(has_visit.sum()),
                      float(label[has_visit].mean()), n_raw, RAW_FILES)


def feature_table(rng: np.random.Generator, n: int, first_key: int) -> pa.Table:
    """Rows already in the joined-feature shape the readers produce, with
    the same planted signal, for scoring at volume."""
    c = _customer_columns(rng, n)
    label = (c["z"] > 0.9).astype(np.float64)
    clicks = rng.poisson(1.0 + 5.0 * _sigmoid(c["z"]))
    spend = rng.lognormal(3.0, 0.8, n)
    spend_null = rng.random(n) < 0.45
    last_day = 19_700 + rng.integers(0, 300, n, dtype=np.int64)
    keys = pa.array(np.arange(first_key, first_key + n, dtype=np.int64))
    return pa.table({
        "key": keys.cast(pa.string()),
        "segment": c["segment"],
        "balance": pa.array(c["balance"], pa.float64(),
                            mask=c["balance_null"]),
        "tenure": c["tenure"], "signup_day": c["signup_day"],
        "n_clicks": clicks.astype(np.int64),
        "spend": pa.array(spend, pa.float64(), mask=spend_null),
        "last_day": last_day, "label": label})


# ---------------------------------------------------------------- curate

@dataclass
class CurateTruth:
    n_docs: int
    low_quality: list = field(default_factory=list)   # doc ids
    exact_groups: list = field(default_factory=list)  # [orig, copy, ...]
    # [orig, c1, c2, ...]: each near copy is made from the one before it
    near_chains: list = field(default_factory=list)
    vec_pairs: list = field(default_factory=list)     # [a, b] cos ~ 0.999
    distinct_word_frac: float = 0.0


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words = list(STOP_WORDS)
    seen = set(words)
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_words(rng, vocab, cdf, n: int) -> list[str]:
    return [vocab[i] for i in np.searchsorted(cdf, rng.random(n))]


def _clean_doc(rng, vocab, cdf) -> list[list[list[str]]]:
    """paragraphs -> lines -> words, Gopher-passing by construction."""
    paras = []
    for _ in range(int(rng.integers(3, 6))):
        paras.append([_zipf_words(rng, vocab, cdf, int(rng.integers(9, 16)))
                      for _ in range(int(rng.integers(2, 4)))])
    paras[0][0][:2] = ["the", "of"]
    return paras


def _render(paras) -> str:
    return "\n\n".join("\n".join(" ".join(ln) + "." for ln in para)
                       for para in paras)


def _split(rng: np.random.Generator, total: int, parts: int) -> np.ndarray:
    """``parts`` sizes of at least 1 summing to ``total``, with seeded,
    widely spread shares (a flat Dirichlet), so every seed gives the same
    document count but other group sizes."""
    return 1 + rng.multinomial(total - parts, rng.dirichlet(np.ones(parts)))


def _near_copy(rng, vocab, doc) -> list[list[list[str]]]:
    """``doc`` with one word per WORDS_PER_EDIT replaced by a non-stop word,
    so a copy keeps about the same word-3-shingle Jaccard with its parent
    whatever the document's length."""
    d = [[list(ln) for ln in para] for para in doc]
    lines = [ln for para in d for ln in para]
    n_words = sum(len(ln) for ln in lines)
    for _ in range(max(1, round(n_words / WORDS_PER_EDIT))):
        ln = lines[int(rng.integers(0, len(lines)))]
        ln[int(rng.integers(0, len(ln)))] = \
            vocab[int(rng.integers(len(STOP_WORDS), len(vocab)))]
    return d


def curate_inputs(root: str, seed: int,
                  n_clean: int = CLEAN_DOCS) -> CurateTruth:
    """Gopher-passing documents over a Zipf vocabulary plus planted
    low-quality docs, groups of exact copies, chains of near copies (each
    made from the one before it by a few word edits, so a chain's
    near-duplicate graph has a diameter above 1) and one embedding per doc
    with planted near-duplicate vector pairs. Group and chain sizes are
    drawn from the seed; copies get larger ids than their originals and
    than the copies they were made from."""
    rng = _rng(seed, 3)
    vocab = _vocabulary(rng, VOCAB_SIZE)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / ranks)
    cdf /= cdf[-1]
    docs = [_clean_doc(rng, vocab, cdf) for _ in range(n_clean)]
    texts = [_render(d) for d in docs]
    truth = CurateTruth(n_docs=0)

    n_low = int(n_clean * LOW_FRAC)
    for j in range(n_low):
        kind = j % 3
        if kind == 0:      # too short
            n = int(rng.integers(10, 40))
            text = " ".join(_zipf_words(rng, vocab, cdf, n))
        elif kind == 1:    # hashtag spam: symbol-to-word ratio far above 0.1
            d = _clean_doc(rng, vocab, cdf)
            for para in d:
                for ln in para:
                    for k in range(0, len(ln), 3):
                        ln[k] = "#" + ln[k]
            text = _render(d)
        else:              # one line repeated: duplicate-line fraction > 0.3
            d = _clean_doc(rng, vocab, cdf)
            line = d[0][0]
            text = _render([[line] * 8] + d)
        truth.low_quality.append(len(texts))
        texts.append(text)

    n_exact_groups = max(1, EXACT_GROUPS * n_clean // CLEAN_DOCS)
    n_chains = max(1, NEAR_CHAINS * n_clean // CLEAN_DOCS)
    originals = rng.permutation(n_clean)
    exact_orig = originals[:n_exact_groups]
    chain_orig = originals[n_exact_groups:n_exact_groups + n_chains]
    for orig, size in zip(exact_orig, _split(rng, int(n_clean * EXACT_FRAC),
                                             n_exact_groups)):
        group = [int(orig)]
        for _ in range(size):
            group.append(len(texts))
            texts.append(texts[orig])
        truth.exact_groups.append(group)
    for orig, depth in zip(chain_orig, _split(rng, int(n_clean * NEAR_FRAC),
                                              n_chains)):
        chain, d = [int(orig)], docs[orig]
        for _ in range(depth):
            d = _near_copy(rng, vocab, d)
            chain.append(len(texts))
            texts.append(_render(d))
        truth.near_chains.append(chain)

    n = len(texts)
    emb = rng.normal(0.0, 1.0, (n, EMB_DIM))
    # vector near-duplicates among clean docs that no copy touches, so both
    # ends survive curation
    free = originals[n_exact_groups + n_chains:]
    n_vec = int(n_clean * VEC_FRAC)
    for a, b in zip(free[:n_vec], free[n_vec:2 * n_vec]):
        emb[b] = emb[a] + rng.normal(0.0, 0.05, EMB_DIM)
        truth.vec_pairs.append(sorted([int(a), int(b)]))

    tokens = [w for t in texts for w in t.split()]
    truth.distinct_word_frac = len(set(tokens)) / len(tokens)
    truth.n_docs = n
    order = rng.permutation(n)
    _write(pa.table({
        "doc_id": pa.array(order.astype(np.int64)),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "emb": pa.array([emb[i].tolist() for i in order],
                        pa.list_(pa.float64()))}),
        os.path.join(root, "docs"), parts=4)

    pieces = ["[PAD]", "[UNK]", ".", "#"] + list("abcdefghijklmnopqrstuvwxyz")
    pieces += ["##" + ch for ch in "abcdefghijklmnopqrstuvwxyz"]
    pieces += SYLLABLES + ["##" + s for s in SYLLABLES] + vocab[:2_000]
    with open(os.path.join(root, "vocab.txt"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(dict.fromkeys(pieces)) + "\n")
    return truth

