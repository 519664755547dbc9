"""Deduplication operators for large-scale training-data pipelines.

These extend the reference's surface (BASELINE.json north star): exact,
MinHash+LSH, SimHash, and n-gram-Jaccard near-duplicate detection over a
document table. Designed for 100 TB:

  * exact dedup      — one hash-groupBy on a digest of the text. The shuffle
    carries (digest, id) pairs, never the documents themselves.
  * n-gram Jaccard   — shingle -> inverted-index self-join -> pair counting.
    The join is on the shingle key: at scale, frequency-cap the shingles
    (drop shingles appearing in > max_doc_freq docs — they generate O(n²)
    candidate pairs and carry no signal). ``max_doc_freq`` does this.
  * MinHash + LSH    — k seeded xxhash64 min-signatures; band -> bucket join
    so candidate generation is linear in documents, never all-pairs.
  * SimHash          — 64-bit signature per doc; near-dups = signatures equal
    (or banded by prefix for hamming<=r). One pass, no join for signature
    computation.

All signatures use Spark's native xxhash64 / md5 — JVM-side, deterministic
across runs and cluster layouts. Every hashing operator also has a
``portable=True`` mode that derives the hash from md5 hex prefixes
(``portable_hash64``): the same value is computable in ANSI SQL / DuckDB
(``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``), which is what lets the
driver's SQL oracle replicate the banded LSH plans exactly. The plan shape
(shingle -> signature -> band -> bucket join) is identical in both modes —
only the hash family changes — so verifying the portable instantiation
verifies the operator.
"""
from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..sources.layout import (compact_batch_dirs, read_batches,
                              read_sidecar, stream_batches, write_atomic,
                              write_batch)
from ..util import (bind_sql, cache_scope, cached, ensure_parallelism,
                    observed_metrics, scoped_conf, snapshot)


def text_digest(c: Column) -> Column:
    """Stable 128-bit content digest (md5 hex) for exact dedup."""
    return F.md5(c)


def portable_hash64(c: Column, seed: int | None = None) -> Column:
    """60-bit deterministic hash shared bit-for-bit with DuckDB and Python:
    ``int(md5(s [+ '#seed'])[:15], 16)``. 15 hex chars = 60 bits, so the value
    always fits a signed 64-bit integer in every engine. Slower than
    ``xxhash64`` (md5 + string slice) — use for oracle-gated paths and
    portability; xxhash64 remains the throughput default."""
    c = c.cast("string")
    if seed is not None:
        c = F.concat(c, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, id_col: str, text_col: str,
                normalize: bool = False) -> DataFrame:
    """Exact duplicate groups: one row per distinct content, representative =
    min id, with the duplicate count. ``normalize`` lowercases + collapses
    whitespace first (near-exact)."""
    c = F.col(text_col)
    if normalize:
        c = F.regexp_replace(F.lower(c), r"\s+", " ")
    return (
        df.select(text_digest(c).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("representative"),
             F.count(F.lit(1)).alias("dup_count"))
    )


def word_shingles(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text."""
    from ..functions.text import ngrams
    return F.array_distinct(ngrams(tokenize(c), n))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.8,
                        max_doc_freq: int | None = None,
                        hash_shingles: bool = False) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard >= threshold.

    Plan: distinct shingle arrays once (set size taken from the array — no
    extra aggregation) -> explode -> (optional) drop ultra-common shingles ->
    inverted-index self-join on shingle -> count common shingles per
    (id1<id2) pair -> jaccard = common / (|A| + |B| - common). Each step is a
    hash aggregate/join on a bounded key; no all-pairs product ever forms.

    Scale knobs:
      * ``max_doc_freq`` drops shingles occurring in more than N docs — they
        generate O(df²) candidate pairs and carry no near-dup signal; at
        100 TB this cap is what keeps the join linear-ish.
      * ``hash_shingles`` replaces shingle strings with xxhash64 — the
        shuffle carries 8-byte keys instead of n-word strings (the scale
        path; leave off when hash-free semantics are needed, e.g. the SQL
        oracle gate).
    """
    df = ensure_parallelism(df)
    sh_arr = df.select(F.col(id_col).alias("_id"),
                       word_shingles(F.col(text_col), n).alias("_shs"))
    # set sizes straight from the array — a narrow projection, no aggregation
    sizes = sh_arr.select("_id", F.size("_shs").alias("_sz"))
    sh = sh_arr.select("_id", F.explode("_shs").alias("_sh"))
    if hash_shingles:
        sh = sh.withColumn("_sh", F.xxhash64("_sh"))
    # persist: the shingle table feeds 2-3 plan branches (frequency pass +
    # both sides of the self-join); without it Spark recomputes the regex
    # tokenize + n-gram expressions per branch — measured 3-4x the whole
    # query's cost. At cluster scale this is the stage you'd checkpoint or
    # write as a bucketed temp table (bucketed by _sh to pre-shuffle the join).
    sh = cached(sh)
    if max_doc_freq is not None:
        # Broadcast the OVER-cap (hot) shingle set and anti-join it away.
        # The hot set is bounded by construction (few ultra-common shingles
        # clear the cap), while the under-cap set is nearly ALL distinct
        # shingles in the corpus — broadcasting that side would build an
        # unbounded driver-side table at 100 TB. Same pattern as the hot-set
        # anti-joins in exact_substring_spans / winnowing below.
        freq = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
        hot = freq.where(F.col("_df") > max_doc_freq).select("_sh")
        sh = sh.join(F.broadcast(hot), "_sh", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    # the join rows stay (8B, 8B[, 8B]) narrow; sizes attach AFTER the pair
    # aggregation, when only one row per surviving candidate pair remains
    common = (
        a.join(b, (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sz1 = sizes.select(F.col("_id").alias("id1"), F.col("_sz").alias("sz1"))
    sz2 = sizes.select(F.col("_id").alias("id2"), F.col("_sz").alias("sz2"))
    # no broadcast hint: sizes is per-doc (unbounded at scale); AQE promotes
    # the join to broadcast when the runtime size allows
    return (
        common.join(sz1, "id1").join(sz2, "id2")
        .withColumn("jaccard",
                    F.col("common").cast("double") /
                    (F.col("sz1") + F.col("sz2") - F.col("common")).cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "common", "jaccard")
    )


def minhash_signature(c: Column, n: int = 3, num_hashes: int = 32,
                      portable: bool = False) -> Column:
    """MinHash signature: for seed i, min over shingles of hash(sh, i).
    Hash family: seeded xxhash64 (default) or ``portable_hash64`` (md5-based,
    SQL-oracle-replicable).

    The per-seed hasher MUST be a unary lambda built by a closure factory:
    a two-parameter ``lambda s, i=i`` is treated by F.transform as
    (element, INDEX) — the seed default is silently shadowed by the array
    index Column, collapsing the hash family (and, via the seed literal's
    f-string, embedding the lambda variable's repr, which carries a
    global counter — so two plan constructions of the "same" signature
    disagreed). Found by the r6 incremental-LSH oracle gate: index-build
    and probe plans hashed with different families and matched nothing.

    The shingle array is bound ONCE per row (util.bind_once): the
    ``num_hashes`` seed transforms each embedded the whole
    tokenize→ngram→distinct subtree, so one signature evaluated the
    shingle pipeline 16-32× per row in interpreted HOF mode (measured
    464 s for a 500-doc portable scan at sf0.01; ~1 s bound)."""
    from ..util import bind_once

    def hasher(seed: int):
        if portable:
            return lambda s: portable_hash64(s, seed)
        return lambda s: F.xxhash64(s, F.lit(seed))

    return bind_once(word_shingles(c, n), lambda sh: F.array(*[
        F.array_min(F.transform(sh, hasher(i)))
        for i in range(num_hashes)
    ]))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, num_hashes: int = 32,
                       portable: bool = False) -> DataFrame:
    """(id, _sig) signature frame — the expensive step of every MinHash
    path, exposed so one computation can feed several consumers.

    At 100 TB the signature scan dominates LSH end-to-end (md5/xxhash64 ×
    num_hashes × shingles per doc); a pipeline that (a) mines one-shot
    candidate pairs AND (b) persists the batch into the incremental index
    should compute signatures ONCE, persist/checkpoint this frame, and
    pass it to ``minhash_lsh_candidates(signatures=...)`` /
    ``build_lsh_index(signatures=...)`` instead of paying the scan per
    consumer. Docs with no shingles (shorter than n tokens) are dropped
    here — an empty shingle set has no MinHash.

    The no-shingle drop is a CHEAP pre-filter on the token count
    (``ngrams`` is empty iff the text has < n tokens, exactly when every
    per-seed ``array_min`` is NULL): filtering on ``_sig`` after the
    projection let the optimizer substitute the whole signature tree into
    the pushed-down predicate and evaluate it twice per row."""
    src = ensure_parallelism(df).where(
        F.size(tokenize(F.col(text_col))) >= n)
    return src.select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col(text_col), n, num_hashes,
                          portable=portable).alias("_sig"))


def _minhash_bands(sig: Column, bands: int, rows: int,
                   portable: bool) -> Column:
    """array<struct<band, bucket>> of a MinHash signature: band b's bucket
    hashes signature entries b*rows .. b*rows+rows-1, joined by "_", with
    seed b. The one band builder of the one-shot candidates and of the
    persisted index's build and probe sides: an index built and probed
    with different band keys matches nothing (the r6 seed-binding bug)."""
    bucket_hash = portable_hash64 if portable else (
        lambda c, seed: F.xxhash64(c, F.lit(seed)))
    return F.array(*[
        F.struct(F.lit(b).alias("band"),
                 bucket_hash(F.concat_ws("_", *[
                     F.element_at(sig, b * rows + r + 1).cast("string")
                     for r in range(rows)]), b).alias("bucket"))
        for b in range(bands)])


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           n: int = 3, num_hashes: int = 32,
                           bands: int = 8, portable: bool = False,
                           max_bucket: int | None = None,
                           signatures: DataFrame | None = None) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket-join.

    rows_per_band = num_hashes // bands; docs sharing any band bucket become
    candidates. Bucket join is linear + per-bucket quadratic; ultra-hot
    buckets should be capped upstream via shingle frequency capping.

    Documents with no shingles (shorter than n tokens) are excluded — an
    empty shingle set has no MinHash and would otherwise collide into one
    giant all-pairs bucket.

    Identical documents have identical signatures, hence share every band:
    exact duplicates are ALWAYS candidates (the determinism law the tests
    assert); near-duplicates are candidates with probability
    1-(1-j^rows)^bands for Jaccard j.
    """
    if signatures is None:
        sig = minhash_signatures(df, id_col, text_col, n, num_hashes,
                                 portable=portable)
        sig = sig.select(F.col("id").alias("_id"), "_sig")
        # persist: signatures feed both sides of the bucket self-join;
        # minhash signatures are the most expensive expression here
        sig = cached(sig)
    else:
        # caller-supplied (id, _sig) frame (minhash_signatures) — computed
        # once, shared with build_lsh_index & friends; the caller owns its
        # persistence, a second cache copy here would double the storage
        sig = signatures.select(F.col("id").alias("_id"), "_sig")
    banded = sig.select("_id", F.explode(_minhash_bands(
        F.col("_sig"), bands, num_hashes // bands, portable)).alias("bb"))
    if max_bucket is not None:
        # the LSH skew guard: a bucket of m docs yields m(m-1)/2 candidate
        # pairs — one pathological bucket (boilerplate pages, empty-ish
        # docs sharing a band) can dominate the whole job. Cap like
        # ngram_jaccard_pairs' max_doc_freq: buckets beyond the cap are
        # dropped; docs that near-duplicate each other still collide in
        # their OTHER (b-1) bands with high probability.
        ok = (banded.groupBy("bb").agg(F.count(F.lit(1)).alias("_m"))
              .where(F.col("_m") <= max_bucket).select("bb"))
        banded = banded.join(ok, "bb")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.bb") == F.col("b.bb")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )


def simhash64(c: Column, portable: bool = False) -> Column:
    """64-bit SimHash over tokens: per bit, sum +1/-1 by token-hash bit, sign
    -> bit. One pass: a single ``aggregate`` folds every token hash into a
    64-slot bit-count array, then the signature is assembled with literal
    masks. Pure expressions: no UDF, no shuffle; empty/null text -> 0.

    ``portable=True`` draws the 64 token-hash bits from the md5 hex digest
    (bits 0-59 from hex chars 1-15, bits 60-63 from hex char 16) so a SQL
    oracle can recompute the signature exactly."""
    if portable:
        # one md5 per token (hashing dominates signature cost): materialize the
        # digest array first, then slice lo = hex chars 1-15 (60 bits, ==
        # portable_hash64) and hi = hex char 16 (4 bits) from the same digest
        digests = F.transform(tokenize(c), lambda t: F.md5(t.cast("string")))
        hashes = F.transform(
            digests,
            lambda d: F.struct(
                F.conv(F.substring(d, 1, 15), 16, 10).cast("long").alias("lo"),
                F.conv(F.substring(d, 16, 1), 16, 10).cast("long").alias("hi")))

        def bit(h, p):
            return F.when(p < 60, F.getbit(h["lo"], p)).otherwise(F.getbit(h["hi"], p - 60))
    else:
        hashes = F.transform(tokenize(c), lambda t: F.xxhash64(t))

        def bit(h, p):
            return F.getbit(h, p)
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(63)),
            lambda a, p: a + F.when(bit(h, p) == 1, 1).otherwise(-1),
        ),
    )

    # bind the folded bit-count array once (util.bind_once): the 64-OR
    # assembly references it per bit, and each element_at would otherwise
    # re-run the whole token-hash fold — 64 full signature folds per row
    def assemble(cts: Column) -> Column:
        sig = F.lit(0).cast("long")
        for b in range(64):
            mask = (1 << b) if b < 63 else -(1 << 63)  # bit 63 = sign bit
            sig = sig.bitwiseOR(
                F.when(F.element_at(cts, b + 1) > 0,
                       F.lit(mask).cast("long"))
                .otherwise(F.lit(0).cast("long")))
        return sig

    from ..util import bind_once
    return bind_once(counts, assemble)


def simhash_groups(df: DataFrame, id_col: str, text_col: str,
                   portable: bool = False) -> DataFrame:
    """Documents grouped by identical SimHash (extend with prefix-banding for
    hamming-distance near-dups)."""
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), simhash64(F.col(text_col), portable=portable).alias("simhash"))
        .groupBy("simhash")
        .agg(F.min(id_col).alias("representative"), F.count(F.lit(1)).alias("dup_count"))
    )


def _simhash_bands(sig: Column) -> Column:
    """array<struct<band, bits>>: the four 16-bit bands of a 64-bit
    signature (pigeonhole: any pair within hamming <= 3 shares at least
    one band exactly). The one band builder of the one-shot search and of
    the SimHash index's build and probe sides."""
    return F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftrightunsigned(sig, b * 16)
                 .bitwiseAND(F.lit(0xFFFF)).alias("bits"))
        for b in range(4)])


def sig_near_dup_pairs(df: DataFrame, id_col: str, sig_col,
                       max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs within a hamming radius over ANY 64-bit
    signature column/expression — the banded search factored out of the
    SimHash path so other 64-bit perceptual signatures compose with it
    (r9: `multimodal.bmp_dhash` image hashes ride this directly): band
    into 4 x 16-bit keys (pigeonhole: any pair within hamming<=3 shares
    at least one exact band), bucket-join candidates, exact
    bit_count verify."""
    sig = df.select(F.col(id_col).alias("_id"),
                    (F.col(sig_col) if isinstance(sig_col, str)
                     else sig_col).alias("_sig"))
    sig = cached(ensure_parallelism(sig))
    banded = sig.select("_id", "_sig",
                        F.explode(_simhash_bands(F.col("_sig"))).alias("bb"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.bb") == F.col("b.bb")) & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"),
                    F.col("a._sig").alias("s1"), F.col("b._sig").alias("s2"))
            .distinct())
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (cand.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming"))


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3, portable: bool = False) -> DataFrame:
    """SimHash near-duplicates within a hamming radius: the banded
    64-bit search (``sig_near_dup_pairs``) over ``simhash64`` text
    signatures — all native expressions."""
    return sig_near_dup_pairs(
        df, id_col, simhash64(F.col(text_col), portable=portable),
        max_hamming=max_hamming)


# CC loop partitioning: one shuffle partition per this many edges, clamped
# to the session value (see duplicate_clusters)
_CC_EDGES_PER_PARTITION = 1_000_000


def duplicate_clusters(pairs: DataFrame, id1: str = "id1", id2: str = "id2",
                       max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs: every document gets
    the minimum reachable id as its ``cluster_id`` (the canonical
    representative), so pair-level dedup becomes group-level dedup.

    Plan: iterative label propagation with pointer jumping — each round
    joins current labels to the (symmetrized) edge list, takes the min
    neighbor label, then hops each label to its own label; stops when a
    round changes nothing. Rounds needed = O(log diameter) (near-dup
    clusters are shallow; the cap is a safety bound). Edges and each
    round's labels are lineage-truncating ``util.snapshot``s, not just
    persisted: persist still nests round k-1's plan inside round k's, so
    on deeper graphs (diameter ~10+) the analyzed plan grows exponentially
    and the DRIVER dies in plan analysis long before any executor works —
    found when the SemDeDup gate OOMed an 8 GB driver on a 171-edge graph
    whose leaf plan carried 64-dim fold expressions. ``labels`` is rebound
    each round, so at most two rounds of snapshots are alive at a time
    (the storage contract is ``util.snapshot``'s)."""
    spark = pairs.sparkSession
    edges = (pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
             .union(pairs.select(F.col(id2).alias("src"), F.col(id1).alias("dst")))
             .distinct())
    # the edge count rides the snapshot's own job (observed metrics, not a
    # second count job): a distinct-count sketch, idempotent if the plan
    # runs twice, where a count would double (util.observed_metrics)
    sized = edges.observe("cc_edges", F.approx_count_distinct(
        F.struct("src", "dst"), 0.01).alias("n"))
    edges = snapshot(sized)
    # Scale-adaptive loop machinery (guide §2/§6, the streaming
    # state-partition pattern): the edge frame is materialized, so its
    # size is KNOWN before the loop runs. Each round is join + groupBy +
    # join — three exchanges — and on a near-dup graph of a few thousand
    # edges the default session partitioning turns every round into a
    # fixed-cost task storm, with AQE re-planning each tiny query stage
    # on the driver (measured at sf0.1: 5,242 edges, 13 rounds, ~4.4 s
    # of pure machinery -> ~1.8 s with 1-partition shuffles and AQE
    # paused). Partitions derive from EDGE COUNT, not core count — the
    # same inputs give the same plan at any core count — and clamp to
    # the session value, so a genuinely large graph keeps the session
    # partitioning AND its AQE (the conf is only scoped in the provably
    # small regime, where there is nothing to coalesce or skew-split).
    # Partitioning cannot change a min() fixpoint.
    n_edges = observed_metrics(sized, "cc_edges")["n"]
    sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_parts = max(1, min(-(-n_edges // _CC_EDGES_PER_PARTITION), sess_parts))
    pin: dict = {}
    if n_parts < sess_parts:
        pin = {"spark.sql.shuffle.partitions": str(n_parts),
               "spark.sql.adaptive.enabled": "false"}
        edges = edges.coalesce(n_parts)
    with scoped_conf(spark, pin):
        labels = snapshot(edges.select(F.col("src").alias("node")).distinct()
                          .withColumn("lbl", F.col("node")))
        for _ in range(max_iter):
            neighbor_min = (edges.join(labels, edges.dst == labels.node)
                            .groupBy("src").agg(F.min("lbl").alias("nlbl")))
            # the changed flag rides the SAME materialization — one job
            # per round instead of a separate join-and-count against the
            # old labels (the flag never leaves the loop)
            stepped = (
                labels.join(neighbor_min, labels.node == neighbor_min.src,
                            "left")
                .select(F.col("node"),
                        F.least(F.col("lbl"),
                                F.coalesce(F.col("nlbl"), F.col("lbl")))
                        .alias("lbl"),
                        (F.coalesce(F.col("nlbl"), F.col("lbl"))
                         < F.col("lbl")).alias("_chg")))
            # pointer jumping (r13): lbl <- min(lbl, lbl(lbl)). Every lbl
            # value IS a node id of the same component (labels start as
            # the node and only ever take other ids reachable from it),
            # so the hop stays inside the component and is monotone
            # non-increasing — the loop converges to the SAME unique
            # min-id fixpoint in O(log diameter) rounds instead of
            # O(diameter) (measured: 13 -> 8 rounds on the sf0.1 graphs,
            # and each round is fixed-cost machinery). One extra tiny
            # self-join per round; the per-round small subtree computing
            # `stepped` is evaluated twice, both sides reading only the
            # snapshotted edges/labels.
            parent = stepped.select(F.col("node").alias("_pn"),
                                    F.col("lbl").alias("_pl"))
            # the round's changed flag is observed on its snapshot job: one
            # job per round
            hopped = (
                stepped.join(parent, stepped.lbl == parent._pn, "left")
                .select(F.col("node"),
                        F.least(F.col("lbl"),
                                F.coalesce(F.col("_pl"), F.col("lbl")))
                        .alias("lbl"),
                        (F.col("_chg")
                         | (F.coalesce(F.col("_pl"), F.col("lbl"))
                            < F.col("lbl"))).alias("_chg"))
                .observe("cc_round", F.bool_or("_chg").alias("changed")))
            # rebinding drops the last handle on the old round's snapshot
            labels = snapshot(hopped)
            if not observed_metrics(hopped, "cc_round")["changed"]:
                break
    return labels.select(F.col("node").alias("doc"), F.col("lbl").alias("cluster_id"))


def select_cluster_representatives(docs: DataFrame, clusters: DataFrame,
                                   id_col: str, quality_col: str,
                                   doc_col: str = "doc") -> DataFrame:
    """Cluster-level dedup with a QUALITY survivor policy: keep the
    highest-``quality_col`` document of each duplicate cluster (ties by
    min id — deterministic) instead of duplicate_clusters' min-id
    representative; documents outside every cluster pass through
    unchanged. This is how production pipelines actually resolve
    near-dup clusters — the min-id copy is arbitrary, the best-quality
    copy is what you want to train on.

    Plan: one window over cluster_id on the CLUSTERED docs only (the
    clustered subset is tiny relative to the corpus), plus a left_anti
    for the untouched majority — no shuffle of unclustered rows beyond
    the id probe."""
    cl = clusters.select(F.col(doc_col).alias("__doc"),
                         F.col("cluster_id").alias("__cid"))
    w = Window.partitionBy("__cid").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc())
    reps = (docs.join(cl, docs[id_col] == cl["__doc"])
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(*[docs[c] for c in docs.columns]))
    outside = docs.join(cl, docs[id_col] == cl["__doc"], "left_anti")
    return outside.unionByName(reps)


def semantic_dedup_pairs(df: DataFrame, id_col: str, vec_col: str,
                         n_clusters: int = 16, eps: float = 0.95,
                         seed: int = 42, fit_sample: float | None = None,
                         max_cell: int | None = None,
                         centroids: list[list[float]] | None = None):
    """SemDeDup-style semantic duplicate mining (Abbas et al. 2023,
    arXiv:2303.09540): k-means coarse clusters over the embeddings, exact
    pairwise cosine WITHIN each cluster only — the clustering turns the
    global O(n²) into per-cluster quadratics, each bounded by cluster
    size (pick n_clusters so clusters fit an executor; the paper uses
    50k clusters for web scale).

    Returns ``(pairs, assigned)``: pairs = (id1, id2, cosine) with
    cosine >= eps, both ids in the same cluster; assigned = (id, _cell,
    centroid_sim) where centroid_sim is each doc's cosine to its OWN
    cluster centroid — the ranking the 'edge' survivor policy uses.

    ``max_cell`` is the skew guard: clusters larger than the cap are
    EXCLUDED from pair mining (their docs all pass through dedup
    untouched) — conservative, never quadratic-blowup. At scale prefer
    raising n_clusters; the cap is the backstop.

    ``centroids`` (r7) injects EXPLICIT centroid vectors and skips the
    KMeans fit entirely — the paper's production shape (centroids come
    from an external kmeans over a sample, e.g. faiss) and the oracle
    gate's portable mode: assignment becomes a pure nearest-centroid
    expression (squared euclidean, ties to the lower cell id — the IVF
    probe rule), so the whole pipeline is SQL-replicable. Without it,
    KMeans is seeded Spark ML (deterministic per seed) but not
    SQL-expressible — that form is law-tested (n_clusters=1 equals
    brute-force pairs; identical vectors always co-cluster) rather than
    oracle-gated."""
    from .similarity import (cosine_prenormed, cosine_similarity,
                             explicit_assignments, ivf_assignments, l2_norm)

    if centroids is not None:
        assigned = explicit_assignments(df, id_col, vec_col, centroids)
    elif n_clusters == 1:
        # Spark ML KMeans requires k >= 2; one cluster is just the global
        # mean (used only for centroid_sim ranking — pair mining is the
        # full pairwise pass either way)
        mean_row = (df.select(F.posexplode(F.col(vec_col)).alias("_p", "_x"))
                    .groupBy("_p").agg(F.avg("_x").alias("_m"))
                    .orderBy("_p").collect())
        centroids = [[float(r["_m"]) for r in mean_row]]
        assigned = ensure_parallelism(df).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
            F.lit(0).alias("_cell"))
    else:
        assigned, centroids = ivf_assignments(df, id_col, vec_col,
                                              n_lists=n_clusters, seed=seed,
                                              fit_sample=fit_sample)
    # one literal centroid matrix indexed by cell — constant plan depth
    # (the parse_phone lesson: no per-cell when-chains); built from one
    # parsed SQL expression, not per-element py4j calls (r8)
    from .similarity import _lit_matrix
    ctr_mat = _lit_matrix(centroids)
    # the per-row vector norm is computed ONCE here (and persisted with
    # the frame): the within-cell pair mining below is quadratic per
    # cell, and cosine_prenormed keeps its per-pair cost to the single
    # dot fold instead of re-folding both norms per pair
    assigned = assigned.select(
        F.col("neighbor_id").alias("id"), F.col("_cv").alias("_v"), "_cell",
        cosine_similarity(F.col("_cv"),
                          F.element_at(ctr_mat, F.col("_cell") + 1))
        .alias("centroid_sim"),
        l2_norm(F.col("_cv")).alias("_n"))
    assigned = cached(assigned)
    mined = assigned
    if max_cell is not None:
        ok = (assigned.groupBy("_cell").agg(F.count(F.lit(1)).alias("_m"))
              .where(F.col("_m") <= max_cell).select("_cell"))
        mined = mined.join(F.broadcast(ok), "_cell")
    a = mined.select(F.col("id").alias("id1"), F.col("_v").alias("v1"),
                     F.col("_n").alias("n1"), "_cell")
    b = mined.select(F.col("id").alias("id2"), F.col("_v").alias("v2"),
                     F.col("_n").alias("n2"), "_cell")
    pairs = (a.join(b, ["_cell"])
             .where(F.col("id1") < F.col("id2"))
             .withColumn("cosine", cosine_prenormed(
                 F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2")))
             .where(F.col("cosine") >= eps)
             .select("id1", "id2", "cosine"))
    return pairs, assigned.select("id", "_cell", "centroid_sim")


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   n_clusters: int = 16, eps: float = 0.95, seed: int = 42,
                   keep: str = "edge", quality_col: str | None = None,
                   fit_sample: float | None = None,
                   max_cell: int | None = None,
                   centroids: list[list[float]] | None = None,
                   quantize: int | None = None) -> DataFrame:
    """End-to-end semantic dedup: mine within-cluster cosine pairs, form
    duplicate groups (connected components), keep ONE doc per group:

    * ``keep='edge'`` — the member with the LOWEST cosine to its cluster
      centroid (the SemDeDup paper's rule: retain the least-typical
      example, drop the redundant core; ties by min id).
    * ``keep='quality'`` — the highest-``quality_col`` member
      (select_cluster_representatives' policy).

    Returns ``df``'s rows minus dropped semantic duplicates (columns
    unchanged). Docs in no duplicate group pass through untouched.

    The assignment frame is ``cached``: run the call and materialize its
    result inside a ``util.cache_scope`` to release it (loops should);
    without one the session holds it.

    ``centroids`` passes explicit centroid vectors through to
    ``semantic_dedup_pairs`` (skips the KMeans fit). ``quantize`` rounds
    ``centroid_sim`` to that many decimals before the 'edge' ranking
    (ties then break by id) — the BM25 determinism contract: the cosine
    is libm math, and 6-dp rounding makes the survivor CHOICE
    engine-portable/SQL-replicable."""
    pairs, assigned = semantic_dedup_pairs(
        df, id_col, vec_col, n_clusters=n_clusters, eps=eps, seed=seed,
        fit_sample=fit_sample, max_cell=max_cell, centroids=centroids)
    clusters = duplicate_clusters(pairs)
    return semantic_dedup_keep(df, id_col, clusters, assigned, keep=keep,
                               quality_col=quality_col, quantize=quantize)


def semantic_dedup_keep(df: DataFrame, id_col: str, clusters: DataFrame,
                        assigned: DataFrame, keep: str = "edge",
                        quality_col: str | None = None,
                        quantize: int | None = None) -> DataFrame:
    """Apply the SemDeDup survivor policy to PRECOMPUTED duplicate
    clusters (``duplicate_clusters`` output) and assignment frame
    (``semantic_dedup_pairs``'s second return). The composition point
    that lets ONE mine+connected-components run feed both cluster
    reporting and the kept-set — ``semantic_dedup`` previously had to
    recompute the whole pipeline when a caller already held both (the
    r8 gate-cost shave; the driver gate now derives its 'semclu' and
    'semkeep' arms from the same frames). Semantics identical to
    ``semantic_dedup``'s keep step, including the ``quantize``-then-rank
    order for the 'edge' rule."""
    if quantize is not None:
        assigned = assigned.withColumn(
            "centroid_sim", F.round(F.col("centroid_sim"), quantize))
    if keep == "quality":
        if not quality_col:
            raise ValueError("keep='quality' requires quality_col")
        out = select_cluster_representatives(df, clusters, id_col,
                                             quality_col)
    elif keep == "edge":
        cl = clusters.select(F.col("doc").alias("__doc"),
                             F.col("cluster_id").alias("__cid"))
        sim = assigned.select(F.col("id").alias("__sid"), "centroid_sim")
        w = Window.partitionBy("__cid").orderBy(
            F.col("centroid_sim").asc(), F.col(id_col).asc())
        reps = (df.join(cl, df[id_col] == cl["__doc"])
                .join(sim, df[id_col] == F.col("__sid"))
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(*[df[c] for c in df.columns]))
        outside = df.join(cl, df[id_col] == cl["__doc"], "left_anti")
        out = outside.unionByName(reps)
    else:
        raise ValueError(f"unknown keep policy {keep!r}")
    return out


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT small-data fallback.

    This is an O(n²) crossJoin: use only when the corpus fits comfortably on
    one executor (debugging, oracle cross-checks at tiny SF). The scale path
    is ``embedding_near_dup_pairs_lsh`` (bucket equi-join, linear candidate
    generation), which is also the driver-verified path."""
    from .similarity import cosine_prenormed, l2_norm
    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"),
                  l2_norm(F.col(vec_col)).alias("n1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"),
                  l2_norm(F.col(vec_col)).alias("n2"))
    return (
        a.crossJoin(b).where(F.col("id1") < F.col("id2"))
        .withColumn("cosine", cosine_prenormed(
            F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2")))
        .where(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def embedding_near_dup_pairs_lsh(df: DataFrame, id_col: str, vec_col: str,
                                 dim: int, threshold: float = 0.95,
                                 bands: int = 4, planes_per_band: int = 4,
                                 seed: int = 42) -> DataFrame:
    """Embedding near-duplicate pairs, scale path: banded random-hyperplane
    LSH (OR-construction) — candidates are pairs sharing ANY band bucket
    (equi-join on (band, bucket) — linear candidate generation, never
    all-pairs), then filtered by exact cosine >= threshold.

    Per Charikar-2002 SRP, a pair at angle theta shares one band with
    probability (1 - theta/pi)^planes_per_band; ``bands`` independent bands
    raise recall to 1-(1-p)^bands while each extra band costs only one more
    exploded row per doc. True near-duplicates (theta ~ 0) are found with
    near-certainty. Planes are the md5-derived ±1 "signs" family with
    fixed-point dots, so the whole plan is SQL-oracle-replicable."""
    from .similarity import cosine_prenormed, l2_norm, sign_buckets_sql
    # every band's (band, bucket) struct from ONE parsed text bound to the
    # vector (util.bind_sql): built node by node, the bands x planes x dim
    # fixed-point folds cost ~1 s of py4j round-trips per call
    ppb = planes_per_band
    band_buckets = bind_sql(F.col(vec_col), "v", "array(" + ", ".join(
        f"named_struct('band', {b}, 'bucket', "
        f"{sign_buckets_sql('v', dim, range(b * ppb, (b + 1) * ppb), seed)})"
        for b in range(bands)) + ")")
    # the row norm rides the banded projection (computed once per doc,
    # below the explode Generate) so candidate scoring is one dot fold
    # per pair; _n is norm-of-_v, so adding it to the candidate distinct
    # key cannot split any (id1, id2, v1, v2) group
    bk = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
                   l2_norm(F.col(vec_col)).alias("_n"),
                   F.explode(band_buckets).alias("_bb"))
    # persist: the banded projection feeds both sides of the self-join and
    # bucket computation is ~bands*planes_per_band*dim fused multiplies/row
    bk = cached(ensure_parallelism(bk))
    a, c = bk.alias("a"), bk.alias("b")
    cand = (a.join(c, (F.col("a._bb") == F.col("b._bb")) &
                   (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"),
                    F.col("a._v").alias("_v1"), F.col("b._v").alias("_v2"),
                    F.col("a._n").alias("_n1"), F.col("b._n").alias("_n2"))
            .distinct())
    return (cand
            .select("id1", "id2",
                    cosine_prenormed(F.col("_v1"), F.col("_v2"),
                                     F.col("_n1"), F.col("_n2"))
                    .alias("cosine"))
            .where(F.col("cosine") >= threshold))


def remove_common_paragraphs(df: DataFrame, id_col: str, text_col: str,
                             min_doc_freq: int = 2,
                             min_paragraph_chars: int = 20,
                             out_col: str | None = None) -> DataFrame:
    """Boilerplate removal at PARAGRAPH granularity: drop every paragraph
    whose (trimmed) content appears in >= ``min_doc_freq`` distinct
    documents, keeping the documents themselves — the complement of
    document-level dedup (headers, footers, cookie banners, license
    blocks survive doc-level near-dup because the surrounding text
    differs).

    Shape: explode paragraphs once with their position, count DISTINCT
    docs per paragraph digest (md5 — the shuffle carries 16-byte digests,
    not paragraph text), anti-join the hot digests back, reassemble in
    original order via sort_array of (pos, text) structs. Two shuffles
    (digest count + per-doc regroup), both linear. Paragraphs shorter
    than ``min_paragraph_chars`` are never removed (quotes, headings —
    short strings repeat naturally).

    Cites: C4's line-level dedup (Raffel et al. 2020 §2.2 removes any
    three-sentence span occurring more than once) — this is the
    paragraph-granular, frequency-thresholded variant.
    """
    out_col = out_col or text_col
    paras = (df.select(
        F.col(id_col).alias("__pid"),
        F.posexplode(F.split(F.col(text_col), r"\n\s*\n")).alias("__pos", "__para")))
    paras = paras.withColumn("__trim", F.trim(F.col("__para")))
    paras = paras.withColumn("__dig", F.md5(F.col("__trim")))
    hot = (paras.filter(F.length("__trim") >= min_paragraph_chars)
           .groupBy("__dig")
           .agg(F.count_distinct("__pid").alias("__df"))
           .filter(F.col("__df") >= min_doc_freq)
           .select("__dig"))
    kept = paras.join(F.broadcast(hot), "__dig", "left_anti")
    rebuilt = (kept.groupBy("__pid")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("__pos"), F.col("__para")))),
                       lambda s: s["__para"]),
                   "\n\n").alias("__rebuilt")))
    return (df.join(rebuilt, F.col(id_col) == F.col("__pid"), "left")
            .withColumn(out_col, F.coalesce("__rebuilt", F.lit("")))
            .drop("__pid", "__rebuilt"))


def duplicated_spans(df: DataFrame, id_col: str, text_col: str,
                     min_len: int = 20, portable: bool = False) -> DataFrame:
    """EXACT SUBSTRING deduplication, span level (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    suffix-array ExactSubstr operation, re-expressed for Spark): find
    every token span of length >= ``min_len`` that occurs MORE THAN ONCE
    corpus-wide, keep its FIRST occurrence (min (doc_id, position)), and
    return the merged cut intervals covering all other occurrences.

    Output: (doc_id, span_start, span_end) — token-index intervals
    [start, end) per document, non-overlapping, sorted; remove them with
    ``remove_duplicated_spans``.

    Plan (no suffix array — that is a single-machine structure): every
    length-``min_len`` token window becomes one (hash, doc, pos) row; a
    window over hash ordered by (doc, pos) marks all but the first
    occurrence of each duplicated window as cut starts; per-doc interval
    merging (classic running-max-end + break-flag cumulative sum, two
    analytic windows) coalesces overlapping/adjacent windows into maximal
    spans. Any duplicated substring of length L >= min_len is the union
    of its length-min_len windows, all duplicated, so the merged
    intervals cover exactly the same tokens the suffix-array method cuts
    (keep-first differs from Lee et al.'s arbitrary-survivor rule only in
    WHICH copy survives — ours is deterministic).

    Shuffle budget: one exchange on the window hash (8-byte keys) + one
    on doc_id for the merge — both linear in corpus token count.
    ``portable`` swaps xxhash64 for the md5-based portable_hash64 so a
    SQL oracle can replicate every hash."""
    gram = F.array_join(F.slice(F.col("__toks"), F.col("__i"), min_len), " ")
    h = portable_hash64(gram) if portable else F.xxhash64(gram)
    grams = (df.select(F.col(id_col).alias("__doc"),
                       tokenize(F.col(text_col)).alias("__toks"))
             # guard BEFORE sequence(): Spark's sequence(1, n) with n < 1
             # generates a DESCENDING sequence, not an empty one
             .where(F.size("__toks") >= min_len)
             .select("__doc", F.explode(
                 F.sequence(F.lit(1), F.size("__toks") - min_len + 1))
                 .alias("__i"), F.col("__toks"))
             .select("__doc", "__i", h.alias("__h")))
    grams = ensure_parallelism(grams)
    w = Window.partitionBy("__h").orderBy(F.col("__doc").asc(),
                                          F.col("__i").asc())
    cuts = (grams.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > 1)
            .select("__doc", (F.col("__i") - 1).alias("__s"),
                    (F.col("__i") - 1 + min_len).alias("__e")))
    mw = Window.partitionBy("__doc").orderBy(F.col("__s").asc(),
                                             F.col("__e").asc())
    prev_max = F.max("__e").over(
        mw.rowsBetween(Window.unboundedPreceding, -1))
    merged = (cuts
              .withColumn("__brk", F.when(
                  F.col("__s") <= F.coalesce(prev_max, F.lit(-1)), F.lit(0))
                  .otherwise(F.lit(1)))
              .withColumn("__g", F.sum("__brk").over(
                  mw.rowsBetween(Window.unboundedPreceding, 0)))
              .groupBy("__doc", "__g")
              .agg(F.min("__s").alias("span_start"),
                   F.max("__e").alias("span_end"))
              .select(F.col("__doc").alias(id_col), "span_start",
                      "span_end"))
    return merged


def remove_duplicated_spans(df: DataFrame, spans: DataFrame, id_col: str,
                            text_col: str,
                            out_col: str | None = None) -> DataFrame:
    """Apply ``duplicated_spans`` cut lists: rebuild each document's text
    from the tokens OUTSIDE its cut intervals (first occurrences stay
    intact). Documents without spans pass through unchanged. One
    broadcast-sized aggregation of intervals per doc + a pure array
    expression — no second corpus shuffle beyond the span join."""
    out_col = out_col or text_col
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("span_start").alias("s"),
                                F.col("span_end").alias("e"))).alias("__iv"))
    joined = df.join(per_doc, id_col, "left")
    toks = tokenize(F.col(text_col))
    idx = F.sequence(F.lit(0), F.size(toks) - 1)
    kept = F.filter(idx, lambda p: ~F.exists(
        F.col("__iv"), lambda iv: (p >= iv["s"]) & (p < iv["e"])))
    rebuilt = F.array_join(
        F.transform(kept, lambda p: F.element_at(toks, (p + 1).cast("int"))),
        " ")
    return joined.withColumn(
        out_col,
        F.when(F.col("__iv").isNull(), F.col(text_col)).otherwise(rebuilt)) \
        .drop("__iv")


# ---------------------------------------------------------------------------
# Persisted LSH index — INCREMENTAL dedup (new batch vs an existing corpus)
# ---------------------------------------------------------------------------

def _lsh_banded(df: DataFrame, id_col: str, text_col: str, *, n: int,
                num_hashes: int, bands: int, portable: bool,
                n_shards: int,
                signatures: DataFrame | None = None) -> DataFrame:
    """(id, band, bucket, _shard) rows — the banded-bucket form both the
    index builder and the query side compute with identical parameters."""
    if signatures is None:
        sig = minhash_signatures(df, id_col, text_col, n, num_hashes,
                                 portable=portable)
    else:
        sig = signatures.select("id", "_sig")
    banded = sig.select("id", F.explode(_minhash_bands(
        F.col("_sig"), bands, num_hashes // bands, portable)).alias("bb"))
    return banded.select("id", F.col("bb.band").alias("band"),
                         F.col("bb.bucket").alias("bucket"),
                         F.pmod("bb.bucket", F.lit(n_shards)).alias("_shard"))


def build_lsh_index(df: DataFrame, id_col: str, text_col: str, path: str, *,
                    n: int = 3, num_hashes: int = 32, bands: int = 8,
                    portable: bool = False, n_shards: int = 64,
                    batch_id: int = 0,
                    signatures: DataFrame | None = None) -> dict:
    """Persist a MinHash-LSH dedup index: banded bucket rows written
    PARTITIONED BY ``_shard`` (= pmod(bucket, n_shards)) + a JSON sidecar
    with the hash parameters. The point at 100 TB: deduplicating a new
    ingest batch against an existing corpus must not recompute (or even
    rescan) the corpus — a small batch probes only the shard DIRECTORIES
    its buckets hash into, so the index read scales with the batch, not
    the corpus.

    Each batch writes ``bands/batch=<batch_id>/`` with overwrite, so an
    at-least-once ingestion pipeline that replays a batch converges (the
    same guard as stream_rollup_partials / CowSnapshot)."""
    banded = _lsh_banded(df, id_col, text_col, n=n, num_hashes=num_hashes,
                         bands=bands, portable=portable, n_shards=n_shards,
                         signatures=signatures)
    write_batch(banded, os.path.join(path, "bands"), batch_id, "_shard")
    meta = {"n": n, "num_hashes": num_hashes, "bands": bands,
            "portable": portable, "n_shards": n_shards}
    os.makedirs(path, exist_ok=True)
    write_atomic(os.path.join(path, "_LSH_INDEX.json"), json.dumps(meta))
    return meta


def append_lsh_index(spark, path: str, df: DataFrame, id_col: str,
                     text_col: str, batch_id: int) -> None:
    """Add a document batch to an existing index (same parameters, read
    from the sidecar). Overwrites this batch's own subdirectory —
    replay-idempotent."""
    meta = read_sidecar(os.path.join(path, "_LSH_INDEX.json"))
    banded = _lsh_banded(df, id_col, text_col, n=meta["n"],
                         num_hashes=meta["num_hashes"], bands=meta["bands"],
                         portable=meta["portable"],
                         n_shards=meta["n_shards"])
    write_batch(banded, os.path.join(path, "bands"), batch_id, "_shard")


def lsh_dedup_incremental(spark, path: str, new_docs: DataFrame,
                          id_col: str, text_col: str,
                          within_batch: bool = True,
                          max_bucket: int | None = None,
                          exclude_batches: list[int] | None = None,
                          signatures: DataFrame | None = None,
                          signature_params: dict | None = None) -> DataFrame:
    """Near-duplicate candidates of a NEW batch: (new) x (indexed corpus)
    pairs plus — when ``within_batch`` — (new) x (new) pairs, WITHOUT
    touching corpus text. Returns (id1, id2, within) where ``within``
    distinguishes within-batch pairs (id1 < id2) from cross pairs (which
    keep (corpus_id, new_id) order — id2 is always the NEW doc), distinct.

    ``exclude_batches`` removes index subdirectories (``batch=<id>``
    partition values, a directory-pruning predicate) from the cross
    probe — a replaying micro-batch excludes its OWN registered subdir so
    its docs never collide with their prior selves. The batch's banded
    frame is ``cached``; a long-lived streaming session materializes the
    result inside a ``util.cache_scope`` so it is released per batch.

    Scale shape: the new batch's banded rows are computed once and are
    small; the index side is filtered to the batch's DISTINCT shards (a
    partition-column predicate -> directory pruning), then equi-joined on
    (band, bucket). Never all-pairs, never a corpus rescan.

    ``signatures`` (r7): a precomputed ``minhash_signatures`` frame for
    THIS batch (same hash params as the index) skips the signature scan
    — the production ingest shape when the same batch is probed and then
    registered (``append_lsh_index`` already takes it). The driver gate
    deliberately does NOT pass it on the cross-probe path, so the
    cross-plan hash-family consistency that caught the r6 seed-binding
    bug stays under test.

    A precomputed ``signatures`` frame MUST have been built with the
    index's hash params — a mismatch silently yields wrong buckets and
    false-negative dedup (the r6 seed-binding failure class). Two guards:
    pass ``signature_params`` (the dict you gave ``minhash_signatures``:
    n / num_hashes / portable) and it is compared field-by-field against
    the index sidecar (the read_dsir_counts contract); independently, one
    sample row's signature length is checked against the sidecar's
    num_hashes (catches the most common mismatch even without params)."""
    params = (signature_params or {}) if signatures is not None else {}
    meta = read_sidecar(os.path.join(path, "_LSH_INDEX.json"),
                        **{k: params.get(k)
                           for k in ("n", "num_hashes", "portable")})
    if signatures is not None:
        probe = signatures.select(F.size("_sig").alias("_w")).head(1)
        if probe and probe[0]["_w"] != meta["num_hashes"]:
            raise ValueError(
                f"precomputed signature width {probe[0]['_w']} != index "
                f"num_hashes {meta['num_hashes']} at {path} — wrong hash "
                "params would silently miss duplicates")
    nb = _lsh_banded(new_docs, id_col, text_col, n=meta["n"],
                     num_hashes=meta["num_hashes"], bands=meta["bands"],
                     portable=meta["portable"], n_shards=meta["n_shards"],
                     signatures=signatures)
    nb = cached(nb)
    shards = sorted(r["_shard"] for r in nb.select("_shard").distinct().collect())
    # an index built over an EMPTY frame (the streaming-ingest pattern) has
    # no batch to read yet: its empty side takes the batch's own banded
    # shape, so the id type matches the caller's id column
    idx = read_batches(spark, os.path.join(path, "bands"),
                       nb.withColumn("batch", F.lit(0))) \
        .where(F.col("_shard").isin(shards))
    if exclude_batches:
        idx = idx.where(~F.col("batch").isin(list(exclude_batches)))
    if max_bucket is not None:
        # skew guard on the INDEX side: drop ultra-hot (band, bucket)
        # groups before the join (same rationale as minhash_lsh_candidates)
        ok = (idx.groupBy("band", "bucket")
              .agg(F.count(F.lit(1)).alias("_m"))
              .where(F.col("_m") <= max_bucket).select("band", "bucket"))
        idx = idx.join(ok, ["band", "bucket"])
    cross = (idx.join(nb.select(F.col("id").alias("_nid"), "band", "bucket"),
                      ["band", "bucket"])
             .where(F.col("id") != F.col("_nid"))
             .select(F.col("id").alias("id1"), F.col("_nid").alias("id2"))
             .distinct()
             .withColumn("within", F.lit(False)))
    if not within_batch:
        return cross
    a = nb.select(F.col("id").alias("id1"), "band", "bucket")
    b = nb.select(F.col("id").alias("id2"), "band", "bucket")
    within = (a.join(b, ["band", "bucket"])
              .where(F.col("id1") < F.col("id2"))
              .select("id1", "id2").distinct()
              .withColumn("within", F.lit(True)))
    return cross.unionByName(within).distinct()


def stream_lsh_index(stream: DataFrame, path: str, id_col: str,
                     text_col: str, checkpoint: str | None = None,
                     available_now: bool = True,
                     batch_id_base: int = 0):
    """Maintain the LSH index from a document STREAM: each micro-batch's
    banded rows land in their own ``batch=<id>/`` subdirectory (overwrite
    — replay-idempotent, the stream_rollup_partials guard). Pair with
    ``lsh_dedup_incremental`` inside the same foreachBatch to drop a
    batch's near-duplicates before they are written anywhere. If the
    index was BOOTSTRAPPED with real data (build over an initial corpus
    at batch 0), pass ``batch_id_base=1`` — stream micro-batch ids start
    at 0 and would silently overwrite ``batch=0`` (the stream_ivf_index
    clobber trap)."""
    return stream_batches(
        stream,
        lambda sp, b, bid: append_lsh_index(sp, path, b, id_col, text_col,
                                            batch_id=bid),
        checkpoint, available_now, batch_id_base)


def exact_dedup_incremental(spark, registry_path: str, new_docs: DataFrame,
                            id_col: str, text_col: str,
                            batch_id: int | None = None,
                            n_buckets: int = 64) -> DataFrame:
    """Incremental EXACT dedup: drop new documents whose content digest is
    already registered, keep one representative per digest within the
    batch, and register the survivors — all without ever scanning prior
    document text. The registry is a CowSnapshot keyed on the digest, so
    a batch reads/writes only the digest BUCKETS it touches (cost scales
    with the batch, not the corpus) and replays of the same ``batch_id``
    are skipped exactly-once.

    Returns the deduplicated batch (the rows that were registered). The
    batch's representative frame is ``cached`` (released by the caller's
    ``util.cache_scope``)."""
    from ..sources.cow_snapshot import CowSnapshot, bucket_of

    snap = CowSnapshot(registry_path, ["digest"], "first_id",
                       n_buckets=n_buckets)
    with_digest = new_docs.withColumn("digest", text_digest(F.col(text_col)))
    # one representative per digest within the batch (min id, deterministic)
    w = Window.partitionBy("digest").orderBy(F.col(id_col).asc())
    batch_rep = cached(with_digest
                       .withColumn("_rn", F.row_number().over(w))
                       .where(F.col("_rn") == 1).drop("_rn"))
    # probe ONLY the buckets this batch's digests hash to
    buckets = sorted({r["b"] for r in batch_rep.select(
        bucket_of(["digest"], n_buckets).alias("b")).distinct().collect()})
    seen = snap.read(spark, buckets=buckets)
    if seen is not None:
        fresh = batch_rep.join(seen.select("digest"), "digest", "left_anti")
    else:
        fresh = batch_rep
    # first-wins registration: only digests NOT yet registered go in, so a
    # later batch can never displace the original representative
    snap.apply(fresh.select("digest",
                            F.col(id_col).cast("long").alias("first_id")),
               batch_id=batch_id)
    # the kept set is defined by the REGISTRY, not by this invocation's
    # left_anti: a row survives iff it IS the registered representative of
    # its digest. Replays (batch_id skipped) therefore return the same
    # rows instead of an empty frame.
    reg = snap.read(spark, buckets=buckets)
    kept = batch_rep.join(
        reg.withColumnRenamed("first_id", "_reg_id"), "digest")         .where(F.col("_reg_id") == F.col(id_col).cast("long"))         .drop("_reg_id", "digest")
    return kept


def build_simhash_index(df: DataFrame, id_col: str, text_col: str,
                        path: str, *, portable: bool = False,
                        n_shards: int = 64, batch_id: int = 0) -> dict:
    """Persist a SimHash near-dup index: (band, bits, id, sig) rows
    sharded by pmod(bits, n_shards) — the cheapest incremental-dedup
    signature (one 64-bit value per doc, no shingle explosion). The 4 x
    16-bit pigeonhole bands guarantee any pair within hamming <= 3 shares
    a band; probing a new batch is a shard-pruned equi-join plus an exact
    bit_count filter. Same batch=<id>/ overwrite layout as the LSH index
    (replay-idempotent); same JSON sidecar pattern."""
    sig = df.select(F.col(id_col).alias("id"),
                    simhash64(F.col(text_col), portable=portable).alias("sig"))
    banded = sig.select("id", "sig",
                        F.explode(_simhash_bands(F.col("sig"))).alias("bb")) \
        .select("id", "sig", F.col("bb.band").alias("band"),
                F.col("bb.bits").alias("bits"),
                F.pmod("bb.bits", F.lit(n_shards)).alias("_shard"))
    write_batch(banded, os.path.join(path, "bands"), batch_id, "_shard")
    meta = {"portable": portable, "n_shards": n_shards}
    os.makedirs(path, exist_ok=True)
    write_atomic(os.path.join(path, "_SIMHASH_INDEX.json"), json.dumps(meta))
    return meta


def simhash_dedup_incremental(spark, path: str, new_docs: DataFrame,
                              id_col: str, text_col: str,
                              max_hamming: int = 3,
                              within_batch: bool = True,
                              append_batch_id: int | None = None,
                              max_bucket: int | None = None,
                              exclude_batches: list[int] | None = None
                              ) -> DataFrame:
    """Near-duplicates of a NEW batch against the SimHash index (plus
    within-batch pairs): compute the batch's 64-bit signatures, probe only
    the shard directories its band bits hash into, verify candidates with
    exact hamming distance. With ``append_batch_id`` the batch is also
    registered into the index (overwrite subdir — replay-idempotent).
    ``max_bucket`` is the skew guard (same rationale as the LSH index):
    index-side (band, bits) groups larger than the cap — near-zero
    signatures from boilerplate/empty-ish docs — are dropped before the
    join rather than generating m x batch candidate rows.
    ``exclude_batches`` removes index subdirectories from the cross probe
    (mirrors ``lsh_dedup_incremental``); ``append_batch_id`` is ALWAYS
    self-excluded, so an at-least-once replay that already registered this
    batch cannot pair its docs against their prior selves."""
    meta = read_sidecar(os.path.join(path, "_SIMHASH_INDEX.json"))
    excluded = set(exclude_batches or [])
    if append_batch_id is not None:
        excluded.add(append_batch_id)
    sig = new_docs.select(
        F.col(id_col).alias("nid"),
        simhash64(F.col(text_col), portable=meta["portable"]).alias("nsig"))
    nb = sig.select("nid", "nsig",
                    F.explode(_simhash_bands(F.col("nsig"))).alias("bb")) \
        .select("nid", "nsig", F.col("bb.band").alias("band"),
                F.col("bb.bits").alias("bits"),
                F.pmod("bb.bits", F.lit(meta["n_shards"])).alias("_shard"))
    nb = cached(nb)
    shards = sorted(r["_shard"] for r in nb.select("_shard").distinct().collect())
    # bootstrap (an index built over an empty frame): the empty side takes
    # the batch's own banded shape, as in lsh_dedup_incremental
    idx = read_batches(spark, os.path.join(path, "bands"),
                       nb.select(F.col("nid").alias("id"),
                                 F.col("nsig").alias("sig"), "band", "bits",
                                 "_shard", F.lit(0).alias("batch"))) \
        .where(F.col("_shard").isin(shards))
    if excluded:
        idx = idx.where(~F.col("batch").isin(sorted(excluded)))
    if max_bucket is not None:
        ok = (idx.groupBy("band", "bits")
              .agg(F.count(F.lit(1)).alias("_m"))
              .where(F.col("_m") <= max_bucket).select("band", "bits"))
        idx = idx.join(ok, ["band", "bits"])
    cross = (idx.join(nb.select("nid", "nsig", "band", "bits"),
                      ["band", "bits"])
             .where(F.col("id") != F.col("nid"))
             .select(F.col("id").alias("id1"), F.col("nid").alias("id2"),
                     F.bit_count(F.col("sig").bitwiseXOR(F.col("nsig")))
                     .alias("hamming"))
             .where(F.col("hamming") <= max_hamming).distinct())
    out = cross
    if within_batch:
        a = nb.select(F.col("nid").alias("id1"), F.col("nsig").alias("s1"),
                      "band", "bits")
        b = nb.select(F.col("nid").alias("id2"), F.col("nsig").alias("s2"),
                      "band", "bits")
        within = (a.join(b, ["band", "bits"])
                  .where(F.col("id1") < F.col("id2"))
                  .select("id1", "id2",
                          F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
                          .alias("hamming"))
                  .where(F.col("hamming") <= max_hamming).distinct())
        out = cross.unionByName(within).distinct()
    if append_batch_id is not None:
        write_batch(nb.withColumnRenamed("nid", "id")
                    .withColumnRenamed("nsig", "sig"),
                    os.path.join(path, "bands"), append_batch_id, "_shard")
    return out


def stream_dedup_ingest(stream: DataFrame, index_path: str, out_path: str,
                        id_col: str, text_col: str,
                        checkpoint: str | None = None,
                        max_bucket: int | None = None,
                        available_now: bool = True):
    """The complete streaming ingestion-dedup pipeline, composed from the
    incremental pieces: per micro-batch (1) probe the persisted LSH index
    for near-duplicates of the batch against everything ingested so far,
    (2) drop the batch's duplicates (docs that collide with the corpus,
    plus all-but-the-min-id doc of each within-batch candidate pair),
    (3) register the SURVIVORS in the index, (4) append the survivors to
    ``out_path`` — each write into a per-batch subdirectory with
    overwrite, so at-least-once replays converge end to end.

    The index must exist (``build_lsh_index`` — possibly over an empty
    frame — fixes the hash parameters). Cost per batch: the batch's
    signatures + a shard-pruned index probe; the corpus is never
    re-scanned."""

    def do_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        with cache_scope():
            # exclude THIS batch's own registered subdir (batch_id + 1 —
            # see append below) from the cross probe: on an at-least-once
            # replay the batch's kept docs are already in the index, and
            # probing them would pair batch docs against their prior selves
            pairs = cached(lsh_dedup_incremental(
                spark, index_path, batch, id_col, text_col, within_batch=True,
                max_bucket=max_bucket, exclude_batches=[batch_id + 1]))
            # id2 is ALWAYS the doc to drop: cross pairs are (corpus_id,
            # new_id) — the new doc loses to the already-ingested corpus
            # doc regardless of id ordering — and within pairs are
            # canonicalized (id1 < id2), so keep-the-min == drop id2
            drop = pairs.select(F.col("id2").alias(id_col)).distinct()
            kept = cached(batch.join(drop, id_col, "left_anti"))
            append_lsh_index(spark, index_path, kept, id_col, text_col,
                             batch_id=batch_id + 1)  # batch=0 is the build
            kept.write.mode("overwrite") \
                .parquet(f"{out_path}/batch={batch_id}")

    writer = stream.writeStream.foreachBatch(do_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_lsh_index(spark, path: str, upto_batch: int) -> dict:
    """Merge the LSH index's ``bands/batch=<id>`` subdirectories with
    ``id <= upto_batch`` (and prior compactions) into one consolidated
    negative-id directory — sources/layout.compact_batch_dirs over this
    index's layout. Probe results are unchanged (law-tested): candidates
    are ``distinct``-collapsed, so even the crash window's transient
    duplication is correctness-neutral. Run only for batches below the
    stream's replay frontier."""
    return compact_batch_dirs(spark, os.path.join(path, "bands"), upto_batch)


def compact_simhash_index(spark, path: str, upto_batch: int) -> dict:
    """SimHash-index counterpart of :func:`compact_lsh_index` (identical
    ``bands/batch=<id>/_shard=<s>`` layout)."""
    return compact_batch_dirs(spark, os.path.join(path, "bands"), upto_batch)
