#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the machine's core count). Prints ONE
JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed with a count()/collect() action after a warm-up of the
session (one trivial job) so JVM startup isn't attributed to the first query.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

# headline set: relational rollups, joins, event aggregation, LLM-pipeline
# ops, streaming, and the full ML spine
HEADLINE = [
    "pricing_summary",
    "multiway_broadcast",
    "join_left_agg",
    "agg_reader_cutoff",
    "conditional_reader",
    "date_ops",
    "text_quality",
    "dedup_exact",
    "dedup_near_ngram_capped",   # scale path: frequency-capped shingles
    "similarity_topk",
    "streaming_window",
    "ml_train_score",
]


def main() -> None:
    from pyspark.sql import functions as F

    from transmogrifai_spark import session
    from transmogrifai_spark.driver_queries import (SPARK_QUERIES,
                                                    q_agg_reader_cutoff_base,
                                                    q_conditional_reader,
                                                    q_ml_train_score)
    from transmogrifai_spark.llm import dedup
    from transmogrifai_spark.sources.tables import load_table

    spark = session(cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).select(F.sum("id")).collect()  # warm up JVM/codegen
    # warm up the Python-datasource executor workers too (same rationale
    # as the JVM warm-up above: the first Python DataSource task pays
    # ~5-10 s of worker + Arrow spin-up that would otherwise be
    # attributed to whichever registry query touches WARC first)
    try:
        import tempfile

        from transmogrifai_spark.sources.warc import read_warc, register_warc
        register_warc(spark)
        _wd = tempfile.mkdtemp(prefix="bench_warc_warm_")
        spark.createDataFrame(
            [("response", "https://w/0", 200, "text/plain", b"x")],
            "warc_type string, target_uri string, http_status int, "
            "http_content_type string, body binary") \
            .write.format("warc").option("path", _wd) \
            .mode("overwrite").save()
        read_warc(spark, _wd).count()
    except Exception as e:
        print(f"bench warc warm-up skipped: {e}", file=sys.stderr)

    def near_ngram_capped(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                         threshold=0.5, max_doc_freq=200,
                                         hash_shingles=True)

    def brute_topk(spark, sf_dir):
        # the registry query additionally runs IVF-at-full-probe for the
        # correctness gate; the bench keeps measuring what BASELINE.md
        # recorded: the brute-force top-k scan itself
        from transmogrifai_spark.llm import similarity
        emb = load_table(spark, sf_dir, "embeddings")
        out = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 20),
                                          "vec_id", "embedding", k=5)
        return out.select("query_id", "neighbor_id", "rank",
                          F.round(F.col("cosine"), 6).alias("cosine6"))

    def text_quality_base(spark, sf_dir):
        # the registry query additionally computes portable-md5 winnowing
        # fingerprints for the correctness gate; the bench keeps measuring
        # what BASELINE.md recorded: the metric expression set itself
        from transmogrifai_spark.llm import textqual
        docs = load_table(spark, sf_dir, "documents")
        return textqual.text_metrics(docs, "doc_id", "text")

    def dedup_exact_base(spark, sf_dir):
        # the registry query additionally drives the persisted incremental
        # digest registry (CowSnapshot writes) for the correctness gate;
        # the bench keeps measuring what BASELINE.md recorded: the
        # hash-groupBy dedup itself
        docs = load_table(spark, sf_dir, "documents")
        return dedup.exact_dedup(docs, "doc_id", "text")

    def join_left_base(spark, sf_dir):
        # the registry query additionally carries the part='inner'
        # skew_join arm (r7 merged the old join_inner_agg row into it);
        # the bench keeps measuring what BASELINE.md recorded: the
        # LeftOuter JoinedAggregateReader itself
        from transmogrifai_spark.sources.joins import (JoinedAggregateReader,
                                                       JoinedReader)
        from transmogrifai_spark.sources.readers import AggSpec, DataReader
        jr = JoinedReader(left=DataReader(path=f"{sf_dir}/customer.parquet"),
                          right=DataReader(path=f"{sf_dir}/orders.parquet"),
                          left_key="c_custkey", right_key="o_custkey",
                          join_type="left")
        ja = JoinedAggregateReader(
            joined=jr, key_col="c_custkey",
            specs=[AggSpec("n_orders",
                           "case when o_orderkey is not null then 1 end",
                           "sum"),
                   AggSpec("total_spend", "o_totalprice", "sum_exact"),
                   AggSpec("max_order", "o_totalprice", "max")])
        return ja.generate(spark)

    # fixed-cost calibration probe (r12, VERDICT r11 #6): a constant
    # 100M-row codegen hash-sum whose cost depends only on the box, not
    # the engine — BENCH totals are only comparable across rounds after
    # normalizing by this (r11's +22% "regression" was pure machine
    # load, proven by an A/B of the r10 commit on the same box). Taken
    # once after warm-up and once after the full sweep so within-run
    # drift (page cache, thermal, co-tenant load) is visible too.
    def calibrate() -> float:
        samples = []
        for _ in range(3):
            t0 = time.time()
            spark.range(0, 100_000_000, 1, CPUS).select(
                F.expr("bit_xor(xxhash64(id))")).collect()
            samples.append(round(time.time() - t0, 3))
        return sorted(samples)[1]

    calibration: dict[str, float] = {"start": calibrate()}

    runners = dict(SPARK_QUERIES)
    runners["dedup_near_ngram_capped"] = near_ngram_capped
    runners["similarity_topk"] = brute_topk
    runners["text_quality"] = text_quality_base
    runners["dedup_exact"] = dedup_exact_base
    runners["join_left_agg"] = join_left_base
    # r9 registry re-seat merged conditional_reader into agg_reader_cutoff
    # and model_selection into ml_train_score (driver 50-row cap); the
    # bench keeps measuring the BASELINE-recorded base forms
    runners["agg_reader_cutoff"] = q_agg_reader_cutoff_base
    runners["conditional_reader"] = q_conditional_reader
    runners["ml_train_score"] = q_ml_train_score

    # median of N repeats per query: single runs at this scale have 10-20%
    # run-to-run noise (JIT, page cache, GC), which made round-over-round
    # deltas unattributable. Median (not mean) discards one-off GC spikes.
    # ml_train_score is the noisiest query (2.97-3.44 s spread across r4
    # same-session runs, LBFGS iteration count + GC), so it gets 5 repeats
    # and a per-phase breakdown (reader / transmogrify fit / LR fit /
    # metrics) in the JSON, making a real regression distinguishable from
    # iteration noise.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    noisy_reps = {"ml_train_score": max(reps, 5)}
    times: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = runners[name]
        samples: list[float] = []
        for _ in range(noisy_reps.get(name, reps)):
            t0 = time.time()
            try:
                df = fn(spark, SF_DIR)
                df.count()
                samples.append(round(time.time() - t0, 3))
            except Exception as e:  # record failures as -1, keep benching
                print(f"bench error in {name}: {e}", file=sys.stderr)
                samples.append(-1.0)
                break
        runs[name] = samples
        good = sorted(t for t in samples if t >= 0)
        times[name] = good[len(good) // 2] if good else -1.0

    # one instrumented ml_train_score run for phase attribution (the
    # instrumented plan forces the reader once, so phase sums can slightly
    # exceed the headline median — attribution, not the scored number)
    phases: dict[str, dict[str, float]] = {}
    try:
        ml_phases: dict[str, float] = {}
        t0 = time.time()
        q_ml_train_score(spark, SF_DIR, timings=ml_phases).count()
        ml_phases["metrics"] = round(
            time.time() - t0 - sum(ml_phases.values()), 3)
        phases["ml_train_score"] = ml_phases
    except Exception as e:
        print(f"bench error in ml_train_score phases: {e}", file=sys.stderr)

    # honesty key: the REGISTRY forms of the substituted queries (heavier —
    # they also drive oracle-gated machinery: winnowing fingerprints, the
    # IVF/SQ union, persisted incremental dedup indexes). Timed once each so
    # the gated plans have a tracked perf number; NOT part of the
    # BASELINE-comparable headline total.
    registry_times: dict[str, float] = {}
    for name in ("similarity_topk", "text_quality", "dedup_exact",
                 "dedup_clusters", "sketch_quantiles", "join_left_agg",
                 "embedding_near_dup", "retrieval_indexed"):
        t0 = time.time()
        try:
            SPARK_QUERIES[name](spark, SF_DIR).count()
            registry_times[name] = round(time.time() - t0, 3)
        except Exception as e:
            print(f"bench error in registry-form {name}: {e}",
                  file=sys.stderr)
            registry_times[name] = -1.0

    # r10: tracked medians for the heavy text aggregate-scan paths
    # (WordPiece greedy scan, unigram broadcast-join Viterbi, dictionary
    # segmentation) — r9 had one-off numbers only; a regression in these
    # per-word/per-position aggregate scans is invisible in the headline
    # set, so they get their own median-of-3 rows here and a scaling
    # table in BASELINE.md. Fixtures are fixed (corpus-independent):
    # single-char coverage + common-suffix pieces, so every word
    # tokenizes and the scans do full work.
    text_scale: dict[str, float] = {}
    try:
        from transmogrifai_spark.llm.tokenizer import (unigram_tokenize,
                                                       wordpiece_tokenize)
        from transmogrifai_spark.operators.segmentation import \
            lexicon_segment_join
        letters = "abcdefghijklmnopqrstuvwxyz0123456789"
        wp_pieces = (["[UNK]"] + list(letters) +
                     ["##" + c for c in letters] +
                     ["the", "and", "ing", "tion", "er", "in", "re",
                      "##ing", "##tion", "##er", "##ed", "##s", "##ly"])
        wp_model = {"vocab": {p: i for i, p in enumerate(wp_pieces)},
                    "unk": "[UNK]",
                    "max_piece_len": max(len(p) for p in wp_pieces)}
        sp_rows = ([("▁" + c, 5.0) for c in letters] +
                   [(c, 5.5) for c in letters] +
                   [("▁the", 1.0), ("▁and", 1.0), ("▁of", 1.0),
                    ("ing", 2.0), ("ed", 2.0), ("s", 2.5), ("er", 2.0),
                    ("tion", 1.5)])
        lex_words = (["the", "and", "of", "to", "in", "is", "it",
                      "that", "for", "on", "with", "as", "at", "this",
                      "but", "by", "from", "they", "we", "her", "she",
                      "or", "an", "will", "my", "one", "all", "would",
                      "there", "their"] + list(letters))

        def ts_wordpiece(spark, sf_dir):
            docs = load_table(spark, sf_dir, "documents")
            return docs.select(F.sum(F.size(wordpiece_tokenize(
                F.col("text"), wp_model))).alias("n"))

        def ts_wordpiece_df(spark, sf_dir):
            # the distinct-word form (r11): scan once per word TYPE,
            # join back — the Zipf-exploiting scale path
            from transmogrifai_spark.llm.tokenizer import \
                wordpiece_tokenize_df
            docs = load_table(spark, sf_dir, "documents")
            out = wordpiece_tokenize_df(docs, "text", wp_model,
                                        "doc_id")
            return out.select(F.sum(F.size("pieces")).alias("n"))

        def ts_snowball(spark, sf_dir):
            # one language is enough for the regression row: the pt
            # chain (r11) as a pure projection over a CONTROLLED token
            # volume (20k synthetic morphology-rich words — the 12-step
            # chain exceeds whole-stage codegen, so per-row interpreted
            # cost is what this row tracks; the raw corpus would cost
            # ~80-120 s and track document length, not the expression)
            from transmogrifai_spark.functions.snowball import \
                snowball_stem
            roots = ["abandon", "quilométr", "felic", "lóg", "amor",
                     "propos", "gener", "administrat", "espéc", "com"]
            tails = ["", "s", "a", "o", "icos", "amento", "ação",
                     "amente", "idades", "aram", "ássemos", "ão"]
            w = F.concat(
                F.element_at(F.array(*[F.lit(r) for r in roots]),
                             (F.col("id") % 10 + 1).cast("int")),
                F.element_at(F.array(*[F.lit(t) for t in tails]),
                             (F.floor(F.col("id") / 10) % 12 + 1)
                             .cast("int")))
            return spark.range(20_000).select(
                F.sum(F.length(snowball_stem(w, "pt"))).alias("n"))

        def ts_snowball_df(spark, sf_dir):
            # the TYPE-level scale path: stem every document token via
            # distinct_element_transform (explode -> distinct -> stem
            # once per type -> join back) — the Zipf economics row
            from transmogrifai_spark.functions.snowball import \
                snowball_stem
            from transmogrifai_spark.functions.text import tokenize
            from transmogrifai_spark.util import \
                distinct_element_transform
            docs = load_table(spark, sf_dir, "documents") \
                .withColumn("_toks", tokenize(F.col("text")))
            out = distinct_element_transform(
                docs, "_toks", lambda t: snowball_stem(t, "pt"),
                "doc_id", "stems")
            return out.select(F.sum(F.size("stems")).alias("n"))

        def ts_beam(spark, sf_dir):
            # width-3 beam tagging (r11 gate) over real document tokens
            from transmogrifai_spark.functions.text import tokenize
            from transmogrifai_spark.operators.maxent import \
                maxent_beam_tag
            bm = {"type": "GIS",
                  "outcomes": ["other", "ent-start", "ent-cont"],
                  "labels": ["other", "ent-start", "ent-cont"],
                  "weights": {"wc=ic": {"ent-start": 1.5},
                              "wc=lc": {"other": 1.5},
                              "pd=ent-start": {"ent-cont": 1.0},
                              "pd=ent-cont": {"ent-cont": 0.4}},
                  "correction_constant": 1, "correction_param": 0.0,
                  "context": False}
            docs = load_table(spark, sf_dir, "documents")
            toks = F.slice(tokenize(F.col("text")), 1, 16)
            return docs.select(F.sum(F.size(
                maxent_beam_tag(toks, bm))).alias("n"))

        def ts_unigram(spark, sf_dir):
            docs = load_table(spark, sf_dir, "documents")
            vocab_df = spark.createDataFrame(sp_rows,
                                             "piece string, cost double")
            out = unigram_tokenize(docs, "text", vocab_df,
                                   id_col="doc_id")
            return out.select(F.sum(F.size("pieces")).alias("n"))

        def ts_unigram_df(spark, sf_dir):
            # the distinct-WORD form (r12): Viterbi once per word TYPE
            # — the wordpiece_tokenize_df economics on the unigram path
            from transmogrifai_spark.llm.tokenizer import \
                unigram_tokenize_df
            docs = load_table(spark, sf_dir, "documents")
            vocab_df = spark.createDataFrame(sp_rows,
                                             "piece string, cost double")
            out = unigram_tokenize_df(docs, "text", vocab_df,
                                      id_col="doc_id")
            return out.select(F.sum(F.size("pieces")).alias("n"))

        def ts_lexjoin(spark, sf_dir):
            docs = load_table(spark, sf_dir, "documents")
            lex_df = spark.createDataFrame(
                [(w, 1.0) for w in lex_words], "word string, cost double")
            out = lexicon_segment_join(docs, "text", lex_df,
                                       unknown_cost=2.0, id_col="doc_id")
            return out.select(F.sum(F.size("tokens")).alias("n"))

        for name, fn in (("wordpiece_tokenize", ts_wordpiece),
                         ("wordpiece_tokenize_df", ts_wordpiece_df),
                         ("unigram_tokenize", ts_unigram),
                         ("unigram_tokenize_df", ts_unigram_df),
                         ("lexicon_segment_join", ts_lexjoin),
                         ("snowball_stem", ts_snowball),
                         ("snowball_stem_df", ts_snowball_df),
                         ("maxent_beam_tag", ts_beam)):
            samples = []
            for _ in range(reps):
                t0 = time.time()
                fn(spark, SF_DIR).collect()
                samples.append(round(time.time() - t0, 3))
            text_scale[name] = sorted(samples)[len(samples) // 2]
    except Exception as e:
        print(f"bench error in text_scale: {e}", file=sys.stderr)

    calibration["end"] = calibrate()

    total = round(sum(t for t in times.values() if t >= 0), 3)
    # r13 (VERDICT r12 Next #1): emit calibration-NORMALIZED values next to
    # the raw seconds so cross-round comparison consumes the probe instead
    # of ignoring it (r12's 12/12 "regression" was a 2.3x slower box, proven
    # by the probe + the 8-core artifact). Unit: seconds-at-calibration-1.0
    # (raw seconds divided by the run's calibration median — the fixed
    # 100M-row hash fold, ~0.16 s on the r11-era box). Raw values stay; the
    # calibrated ones are additions only.
    # two probes (start/end of the sweep): their mean is the fairest
    # estimate of box speed DURING the timed region (each probe is itself
    # a median-of-3)
    cal_med = sum(calibration.values()) / max(len(calibration), 1)
    cal = cal_med if cal_med > 0 else 1.0
    times_cal = {k: (round(v / cal, 3) if v >= 0 else v)
                 for k, v in times.items()}
    total_cal = round(sum(t for t in times_cal.values() if t >= 0), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "value_calibrated": total_cal,
        "queries_calibrated": times_cal,
        "queries": times,
        # per-query raw samples (median is the scored number) — lets the
        # verdict separate machine-load inflation from real regressions
        # (r6 and r8 both burned analysis time on load-noise deltas)
        "runs": runs,
        "queries_registry_form": registry_times,
        "text_scale": text_scale,
        "phases": phases,
        # box-speed normalizer: divide cross-round totals by the ratio
        # of calibration medians before reading a delta as real
        "calibration": calibration,
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
