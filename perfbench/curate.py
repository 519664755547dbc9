"""``curate``: the LLM-data path over generated documents.

``curate_corpus(rules="gopher", dedup="minhash")``, then
``wordpiece_tokenize_df`` over the survivors, then
``embedding_near_dup_pairs_lsh``. Shuffle- and interpreted-expression-heavy,
with the iterative connected-components loop; it uses neither ``workflow``
nor ``ml``. Traced, the curation runs as its separate public calls (quality
rules, MinHash candidates, clusters) so that each gets a span.
"""
from __future__ import annotations

import json
import os
import re
import statistics

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transmogrifai_spark.llm.dedup import (duplicate_clusters,
                                           embedding_near_dup_pairs_lsh,
                                           exact_dedup, minhash_lsh_candidates)
from transmogrifai_spark.llm.pipeline import curate_corpus
from transmogrifai_spark.llm.quality_rules import quality_filter
from transmogrifai_spark.llm.tokenizer import (load_wordpiece_vocab,
                                               wordpiece_tokenize_df,
                                               wordpiece_tokenize_py)

from .gen import EMB_DIM, curate_inputs
from .trace import EventLog, Tracer

VEC_THRESHOLD = 0.95
NEAR_RECALL_FLOOR = 0.95
VEC_RECALL_FLOOR = 0.95
TOKENIZE_SAMPLE = 25
# a candidate pair is useful when its word 3-shingle Jaccard reaches this
USEFUL_JACCARD = 0.5
_TOKEN_SPLIT = re.compile(r"[^\w]+|_")


def _shingles(text: str, n: int = 3) -> set:
    toks = [t for t in _TOKEN_SPLIT.split(text.lower()) if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 0.0


def _dist(values) -> dict:
    """``{value: how many}``, in ascending order of value."""
    counts: dict = {}
    for v in values:
        counts[v] = counts.get(v, 0) + 1
    return dict(sorted(counts.items()))


def _components(pairs) -> tuple[list[int], list[int]]:
    """Size and diameter (longest shortest path, by BFS from every node) of
    each connected component of the graph with edges ``pairs``."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def bfs(src):
        dist, frontier = {src: 0}, [src]
        for x in frontier:
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    frontier.append(y)
        return dist

    sizes, diameters, seen = [], [], set()
    for v in adj:
        if v not in seen:
            comp = bfs(v)
            seen.update(comp)
            sizes.append(len(comp))
            diameters.append(max(max(bfs(u).values()) for u in comp))
    return sizes, diameters


class Curate:
    name = "curate"
    generate = staticmethod(curate_inputs)
    warm_size = 300            # clean documents of the warm-up inputs

    def __init__(self, inputs: str, work: str, truth, record: str | None):
        self.inputs, self.work, self.truth = inputs, work, truth
        self.record = record and record + "-survivors.json"
        self.docs_dir = os.path.join(inputs, "docs")
        self.survivor_counts: list[int] = []
        self.near_recall: list[float] = []
        self.vec_recall: list[float] = []
        self.layer: dict[str, list] = {}
        # the generated texts and vectors, for the output checks
        t = pq.read_table(self.docs_dir).to_pydict()
        self.texts = dict(zip(t["doc_id"], t["text"]))
        self.emb = {i: np.asarray(v) for i, v in zip(t["doc_id"], t["emb"])}

    def _pipeline(self, docs: DataFrame, vocab: dict, tracer: Tracer):
        """The three calls into the program. Returns the persisted curated
        frame, its WordPiece frame and the embedding near-duplicate pairs."""
        if tracer.traced:
            cur = self._curate_traced(docs, tracer)
        else:
            with tracer.span("llm", "curate_corpus"):
                cur = curate_corpus(docs, "doc_id", "text", rules="gopher",
                                    dedup="minhash").persist()
                cur.count()
        with tracer.span("llm", "tokenize"):
            toks = wordpiece_tokenize_df(cur, "text", vocab, "doc_id")
            toks.agg(F.sum(F.size("pieces"))).first()
        with tracer.span("llm", "vec_neardup"):
            pairs = embedding_near_dup_pairs_lsh(
                cur, "doc_id", "emb", dim=EMB_DIM,
                threshold=VEC_THRESHOLD, bands=4, planes_per_band=8).collect()
        return cur, toks, pairs

    def setup(self, spark: SparkSession, tracer: Tracer) -> None:
        with tracer.span("llm", "load_vocab"):
            self.vocab = load_wordpiece_vocab(
                os.path.join(self.inputs, "vocab.txt"))

    def report(self) -> dict:
        t = self.truth
        n_exact = sum(len(g) - 1 for g in t.exact_groups)
        n_near = sum(len(c) - 1 for c in t.near_chains)
        return {"properties": {
            "docs": t.n_docs,
            "exact_dup_share": n_exact / t.n_docs,
            "near_dup_share": n_near / t.n_docs,
            "exact_group_sizes": _dist(len(g) for g in t.exact_groups),
            "near_chain_sizes": _dist(len(c) for c in t.near_chains),
            "low_quality_share": len(t.low_quality) / t.n_docs,
            "vec_pair_share": 2 * len(t.vec_pairs) / t.n_docs,
            "distinct_word_frac": t.distinct_word_frac,
            "gopher_pass_share_planted": 1 - len(t.low_quality) / t.n_docs,
            # measured by the traced run's separate quality-rules call
            "gopher_pass_share": self.layer.get("kept_frac", [None])[-1],
            # measured on the traced run's MinHash candidate graph: size
            # and diameter of each connected component (the rounds the
            # connected-components loop needs grow with the diameter)
            "candidate_cluster_sizes": self.layer.get("cluster_sizes", [None])[-1],
            "candidate_cluster_diameters":
                self.layer.get("cluster_diameters", [None])[-1]},
            "survivors": self.survivor_counts,
            "neardup_recall": self.near_recall, "vec_recall": self.vec_recall}

    def _record(self, key: str, value) -> None:
        self.layer.setdefault(key, []).append(value)

    def _curate_traced(self, docs: DataFrame, tracer: Tracer) -> DataFrame:
        """The steps of ``curate_corpus(rules="gopher", dedup="minhash")``
        as separate public calls, one span each."""
        with tracer.span("llm", "quality"):
            kept = quality_filter(docs, "doc_id", "text", rules="gopher") \
                .where("keep").select("doc_id")
            q = docs.join(kept, "doc_id", "left_semi").persist()
            self._record("kept_frac", q.count() / self.truth.n_docs)
        with tracer.span("llm", "exact_dedup"):
            exact_dedup(q, "doc_id", "text").where("dup_count > 1").count()
        with tracer.span("llm", "minhash_candidates"):
            pairs = minhash_lsh_candidates(q, "doc_id", "text",
                                           num_hashes=32, bands=8).persist()
            cand = pairs.collect()
        self._record("candidate_pairs", len(cand))
        shingles = {}
        useful = 0
        for a, b in cand:
            for i in (a, b):
                if i not in shingles:
                    shingles[i] = _shingles(self.texts[i])
            useful += _jaccard(shingles[a], shingles[b]) >= USEFUL_JACCARD
        self._record("useful_pair_frac", useful / len(cand) if cand else 1.0)
        sizes, diameters = _components(cand)
        self._record("cluster_sizes", _dist(sizes))
        self._record("cluster_diameters", _dist(diameters))
        with tracer.span("llm", "clusters"):
            clusters = duplicate_clusters(pairs)
            drop = clusters.where(F.col("doc") != F.col("cluster_id")) \
                .select(F.col("doc").alias("doc_id"))
            out = q.join(drop, "doc_id", "left_anti").persist()
            out.count()
        pairs.unpersist()
        q.unpersist()
        return out

    def quality(self) -> float:
        """Share of planted near copies that curation removed."""
        return statistics.median(self.near_recall)

    def op(self, spark: SparkSession, tracer: Tracer) -> dict:
        cur, toks, pairs = self._pipeline(spark.read.parquet(self.docs_dir),
                                          self.vocab, tracer)
        survivors = {r[0] for r in cur.select("doc_id").collect()}
        sample = sorted(survivors)[::max(1, len(survivors) // TOKENIZE_SAMPLE)]
        pieces = dict(toks.where(F.col("doc_id").isin(sample))
                      .select("doc_id", "pieces").collect())
        cur.unpersist()
        return {"curate": self._check_curate(survivors),
                "tokenize": [f"doc {i}: pieces differ from the reference"
                             for i in sample if list(pieces.get(i) or []) !=
                             wordpiece_tokenize_py(self.texts[i], self.vocab)],
                "vec_neardup": self._check_vec(pairs, survivors)}

    def _check_curate(self, survivors: set) -> list[str]:
        t, bad = self.truth, []
        if kept := [i for i in t.low_quality if i in survivors]:
            bad.append(f"{len(kept)} low-quality docs survived")
        if kept := [c for g in t.exact_groups for c in g[1:] if c in survivors]:
            bad.append(f"{len(kept)} exact duplicates survived")
        copies = [c for chain in t.near_chains for c in chain[1:]]
        recall = sum(c not in survivors for c in copies) / len(copies)
        self.near_recall.append(recall)
        if recall < NEAR_RECALL_FLOOR:
            bad.append(f"near-duplicate recall {recall:.4f} < "
                       f"{NEAR_RECALL_FLOOR}")
        n = len(survivors)
        self.survivor_counts.append(n)
        # kept per seed, input digest and program revision (see run.py);
        # the warm-up inputs keep none
        if self.record and os.path.exists(self.record):
            with open(self.record) as fh:
                if (was := json.load(fh)["survivors"]) != n:
                    bad.append(f"{n} survivors, an earlier run of these "
                               f"inputs and program kept {was}")
        elif self.record:
            with open(self.record, "w") as fh:
                json.dump({"survivors": n}, fh)
        if n != self.survivor_counts[0]:
            bad.append(f"{n} survivors, the first operation kept "
                       f"{self.survivor_counts[0]}")
        return bad

    def _check_vec(self, pairs, survivors: set) -> list[str]:
        bad = []
        for a, b, cos in pairs:
            x, y = self.emb[a], self.emb[b]
            ref = float(x @ y / np.sqrt((x @ x) * (y @ y)))
            if ref < VEC_THRESHOLD - 1e-9 or abs(ref - cos) > 1e-6:
                bad.append(f"pair ({a}, {b}) cosine {cos} vs {ref}")
        found = {(a, b) for a, b, _ in pairs}
        want = [tuple(p) for p in self.truth.vec_pairs
                if p[0] in survivors and p[1] in survivors]
        recall = sum(p in found for p in want) / len(want) if want else 1.0
        self.vec_recall.append(recall)
        if recall < VEC_RECALL_FLOOR:
            bad.append(f"vector near-duplicate recall {recall:.4f} < "
                       f"{VEC_RECALL_FLOOR}")
        return bad

    def traced_report(self, tracer: Tracer, log: EventLog,
                      n_ops: int) -> dict:
        """Workload-specific detail of a traced run, for the report."""
        clusters = [s for s in tracer.spans if s.group.endswith("/clusters")]
        return {
            "quality_kept_frac": statistics.median(self.layer["kept_frac"]),
            "candidate_pairs": statistics.median(self.layer["candidate_pairs"]),
            "useful_pair_frac":
                statistics.median(self.layer["useful_pair_frac"]),
            "clusters_jobs_per_op": sum(s.jobs for s in clusters) / n_ops,
            "distinct_word_frac": self.truth.distinct_word_frac}
