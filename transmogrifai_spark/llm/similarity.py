"""Similarity search over embedding columns (array<float>).

Extension surface (BASELINE.json north star): brute-force cosine top-k as the
correctness baseline; LSH-bucketed (random hyperplane) as the scale path.

Physical notes:
  * Dot products are ``zip_with`` + ``aggregate`` folds — native Catalyst
    higher-order functions, JVM-side, no Python. Accumulation in double.
  * Brute-force top-k is a broadcast of the (small) query set against the
    corpus — the corpus is scanned once, never shuffled; top-k per query via
    window rank with a deterministic tie-break.
  * At 100 TB the corpus side must be bucketed: ``hyperplane_lsh_topk``
    restricts the scan to matching LSH buckets (probe multiple buckets for
    recall). Two deterministic hyperplane families, chosen by ``planes``:
    "uniform" (the default — seeded xxhash64 components in [-1, 1], the
    throughput path) and "signs" (±1 Rademacher components derived from md5,
    SQL-oracle-replicable; plane-bit dots accumulate in fixed-point so the bit
    is independent of float fold order). Both are reproducible from a seed with
    no stored model.
"""
from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.layout import (compact_batch_dirs, read_batches,
                              read_sidecar, stream_batches, write_atomic,
                              write_batch)
from ..util import bind_sql, cache_scope, cached, ensure_parallelism, vec_sql


def _pair(**cols: Column) -> Column:
    """The named struct ``bind_sql`` binds when a body reads several
    columns (fields ``p.<name>``)."""
    return F.named_struct(*[x for k, c in cols.items() for x in (F.lit(k), c)])


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the double dot product of the array texts ``a``, ``b``
    (products summed left to right)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
            "CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)")


def _dot_fixed_sql(a: str, b: str, scale: int = 15) -> str:
    """SQL text of :func:`dot_fixed` over the array texts ``a``, ``b``."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(round(CAST(x AS "
            f"DOUBLE) * CAST(y AS DOUBLE) * {float(10 ** scale)!r}D) AS "
            "BIGINT)), 0L, (acc, x) -> acc + x)")


def _l2_sql(a: str) -> str:
    """SQL text of :func:`l2_norm` over the array text ``a``."""
    return (f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
            "CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x))")


def dot(a: Column, b: Column) -> Column:
    return bind_sql(_pair(a=a, b=b), "p", _dot_sql("p.a", "p.b"))


def dot_fixed(a: Column, b: Column, scale: int = 15) -> Column:
    """Dot product in fixed-point: each IEEE product (identical in every
    engine) is rounded to ``scale`` decimal places and accumulated as a scaled
    64-bit integer. Integer addition is exact and associative, so the result
    does not depend on fold/partition/SQL aggregation order — a DuckDB oracle
    computing ``SUM(CAST(round(x*y*1e15) AS BIGINT))`` lands on the identical
    integer. Used for LSH plane bits (sign tests), where a last-ulp
    fold-order difference would otherwise flip a bucket. Headroom: |dot| must
    stay < 2^63 / 10^scale (~9200 at scale 15) — embedding-scale data."""
    return bind_sql(_pair(a=a, b=b), "p", _dot_fixed_sql("p.a", "p.b", scale))


def l2_norm(a: Column) -> Column:
    return bind_sql(a, "v", _l2_sql("v"))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array columns. The three vector folds (both norms,
    the dot) are bound ONCE: the old ``denom`` was referenced twice (zero
    test + divisor), so each call evaluated FIVE interpreted folds per row
    — HOFs are CodegenFallback and an expression referenced N times
    evaluates N times. Same doubles, combined in the same order ->
    bit-identical results.

    Pair-scoring joins should not even pay the three folds: hoist the
    per-row norms to each SIDE of the join (one ``l2_norm`` per input row
    instead of per pair) and score with :func:`cosine_prenormed` — the
    per-pair cost drops to the single dot fold."""
    return bind_sql(
        _pair(a=a, b=b), "p",
        f"transform(array(named_struct('na', {_l2_sql('p.a')}, "
        f"'nb', {_l2_sql('p.b')}, 'd', {_dot_sql('p.a', 'p.b')})), "
        "s -> CASE WHEN s.na * s.nb = 0 THEN 0.0D "
        "ELSE s.d / (s.na * s.nb) END)[0]")


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine_similarity(a, b)`` with the norms supplied as (attribute)
    columns computed per INPUT row rather than per pair. ``na``/``nb``
    must be ``l2_norm(a)`` / ``l2_norm(b)`` — then the value is
    bit-identical to ``cosine_similarity`` (same doubles, same multiply
    order) while the join's per-pair work is one dot fold."""
    return bind_sql(
        _pair(a=a, b=b, na=na, nb=nb), "p",
        "CASE WHEN p.na * p.nb = 0 THEN 0.0D "
        f"ELSE {_dot_sql('p.a', 'p.b')} / (p.na * p.nb) END")


def brute_force_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbors for each query over the corpus.

    ``queries`` is broadcast (query sets are small relative to the corpus);
    self-matches are excluded; ties broken by neighbor id ascending for
    determinism. Norms are computed once per input row (cosine_prenormed),
    so the O(|corpus| x |queries|) pair stage pays one dot fold per pair,
    not five."""
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col).alias("_qv"))
                    .withColumn("_qn", l2_norm(F.col("_qv"))))
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")) \
        .withColumn("_cn", l2_norm(F.col("_cv")))
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_prenormed(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplane_sql(dim: int, plane: int, seed: int) -> str:
    """SQL text of a deterministic pseudo-random hyperplane: component j of
    plane p = xxhash64(p, j, seed) mapped to [-1, 1]."""
    return "array(" + ", ".join(
        f"CAST(xxhash64({plane}, {j}, {seed}) AS DOUBLE) / {float(2 ** 63)!r}D"
        for j in range(dim)) + ")"


def rademacher_signs(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic ±1 (Rademacher) hyperplane components: sign(p, j) = +1
    iff md5('hp#seed#p#j') has an odd low hex-prefix value. Signed random
    projections with ±1 entries are a standard SRP family (Charikar 2002 uses
    Gaussian; ±1 entries preserve the collision-probability guarantee up to
    constants and need no RNG). The same formula is computable in ANSI
    SQL / DuckDB (md5 + hex-prefix parse), so LSH plans built from these
    planes are SQL-oracle-replicable."""
    import hashlib
    return [
        1.0 if int(hashlib.md5(f"hp#{seed}#{plane}#{j}".encode()).hexdigest()[:15], 16) & 1
        else -1.0
        for j in range(dim)
    ]


def _sign_bit_sql(v: str, dim: int, plane: int, seed: int) -> str:
    """SQL text of the sign test of :func:`plane_bits` for one plane."""
    signs = vec_sql(rademacher_signs(dim, plane, seed))
    return f"{_dot_fixed_sql(v, signs)} >= 0"


def sign_buckets_sql(v: str, dim: int, planes: range, seed: int = 42) -> str:
    """SQL text of the bucket id (BIGINT) packing the sign bits of the
    array text ``v`` against the Rademacher planes ``planes``: bit k is
    plane ``planes[k]`` — the packing ``hyperplane_bucket(planes="signs")``
    and the LSH bands of ``embedding_near_dup_pairs_lsh`` share."""
    return " + ".join(
        [f"CASE WHEN {_sign_bit_sql(v, dim, p, seed)} THEN {1 << k}L ELSE 0L END"
         for k, p in enumerate(planes)] or ["0L"])


def plane_bits(vec: Column, dim: int, num_planes: int, seed: int = 42) -> list[Column]:
    """Sign bits of <v, s_p> for each Rademacher plane p (1 if dot >= 0).
    Dots accumulate in fixed-point (``dot_fixed``) so the bit does not depend
    on float fold order — a SQL oracle summing the same per-component
    products in any order lands on the identical bit."""
    return [bind_sql(vec, "v", f"CASE WHEN {_sign_bit_sql('v', dim, p, seed)} "
                               "THEN 1 ELSE 0 END")
            for p in range(num_planes)]


_PLANE_FAMILIES = ("uniform", "signs")


def hyperplane_bucket(vec: Column, dim: int, num_planes: int = 8, seed: int = 42,
                      planes: str = "uniform") -> Column:
    """Random-hyperplane LSH bucket id: sign bits of <v, h_p> packed to long.

    ``planes``: "uniform" (default) = seeded xxhash64-derived components in
    [-1, 1] (throughput path); "signs" = deterministic ±1 Rademacher
    components, portable to the SQL oracle (opt in at oracle-gated sites)."""
    if planes not in _PLANE_FAMILIES:
        raise ValueError(f"planes must be one of {_PLANE_FAMILIES}, got {planes!r}")
    if planes == "signs":
        return bind_sql(vec, "v", sign_buckets_sql("v", dim, range(num_planes), seed))
    # the uniform bits keep their int shiftleft (plane 31 sets the sign bit)
    return bind_sql(vec, "v", " | ".join(
        [f"CASE WHEN {_dot_sql('v', _hyperplane_sql(dim, p, seed))} >= 0 "
         f"THEN CAST(shiftleft(1, {p}) AS BIGINT) ELSE 0L END"
         for p in range(num_planes)] or ["0L"]))


def hyperplane_lsh_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                        vec_col: str, dim: int, k: int = 5,
                        num_planes: int = 8, seed: int = 42,
                        planes: str = "uniform",
                        n_flip: int = 0) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    The corpus is bucketed once (a cheap narrow projection — at scale this is
    the column you'd persist/bucket-by in storage); the join is an equi-join
    on bucket, so candidate generation is linear, not all-pairs.

    ``n_flip`` (r8) is MULTI-PROBE LSH (Lv et al., VLDB 2007): each query
    additionally probes the buckets at hamming distance 1 obtained by
    flipping each of the first ``n_flip`` plane bits — the near-miss
    buckets a true neighbor most likely fell into. The expansion is an
    ``explode`` of n_flip+1 bucket ids on the (small, broadcast) QUERY
    side only; the corpus side, the equi-join, and the rank window are
    UNCHANGED — recall rises at the cost of probing n_flip more buckets
    per query, never of rebucketing or rescanning the corpus. No
    duplicate guard is needed: a corpus vector lives in exactly ONE
    bucket and the probed ids are pairwise distinct, so a (query,
    neighbor) pair matches at most once."""
    cb = ensure_parallelism(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
                       hyperplane_bucket(F.col(vec_col), dim, num_planes, seed, planes).alias("_bucket")) \
        .withColumn("_cn", l2_norm(F.col("_cv")))
    base = hyperplane_bucket(F.col(vec_col), dim, num_planes, seed, planes)
    if n_flip:
        probes = F.array(*([base] + [
            base.bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(min(n_flip, num_planes))]))
        bucket = F.explode(probes).alias("_bucket")
    else:
        bucket = base.alias("_bucket")
    qb = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        bucket).withColumn("_qn", l2_norm(F.col("_qv"))))
    scored = (
        cb.join(qb, "_bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_prenormed(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def explicit_assignments(df: DataFrame, id_col: str, vec_col: str,
                         centroids: list[list[float]]) -> DataFrame:
    """The explicit-centroid injection contract shared by semantic_dedup,
    pq_encode and diversity_sample: ``(neighbor_id, _cell)`` (+``_cv``)
    via the pure nearest-centroid expression — squared euclidean over
    centroid literals, ties to the LOWER cell (the IVF probe rule). One
    scan, no fit, SQL-replicable."""
    return ensure_parallelism(df).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        F.element_at(_probe_cells(F.col(vec_col), centroids, 1), 1)
        .alias("_cell"))


# partition count of the KMeans fit input (see ivf_assignments)
_FIT_PARTITIONS = 8


def ivf_assignments(corpus: DataFrame, id_col: str, vec_col: str,
                    n_lists: int = 16, seed: int = 42,
                    max_iter: int = 10,
                    fit_sample: float | None = None,
                    centroids: list[list[float]] | None = None):
    """IVF coarse quantizer: KMeans over the corpus embeddings.

    Returns (assigned_corpus, centroids): the corpus with a ``_cell`` column
    and the centroid list (plain python floats). At 100 TB the KMeans fit
    runs on ``fit_sample`` (centroid positions converge on a tiny fraction
    of the data; the sample is a per-id hash draw) while assignment stays
    a full single pass. The same rows give the same centroids and cells
    whatever the input's partitioning.

    Pass ``centroids`` to SKIP the fit entirely (the pq/opq
    explicit-model injection contract extended to the coarse tier):
    assignment becomes a pure nearest-centroid expression over the
    literals — the production shape when the quantizer was trained
    elsewhere, and a gate-cost shave (the full-probe == brute law holds
    for ANY centroid set, r10)."""
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    if centroids is not None:
        if len(centroids) != n_lists:
            raise ValueError(
                f"injected centroid count {len(centroids)} != n_lists "
                f"{n_lists}")
        assigned = c.withColumn(
            "_cell", F.element_at(
                _probe_cells(F.col("_cv"), centroids, 1), 1))
        return assigned, [[float(x) for x in v] for v in centroids]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # KMeans' k-means|| init seeds per partition and walks rows in order,
    # so the fit input gets a canonical layout: a per-id hash sample (no
    # layout-dependent Bernoulli draw, no shuffle of the unsampled rows),
    # hash-partitioned on the id into a fixed count, sorted within
    # partitions. The centroids then depend only on the rows, never on
    # the caller's partitioning or the core count (ARCHITECTURE rule 3).
    fit_on = c
    if fit_sample:
        fit_on = fit_on.where(
            F.pmod(F.xxhash64(F.lit(seed), F.col("neighbor_id")),
                   F.lit(1 << 30)) < F.lit(int(fit_sample * (1 << 30))))
    fit_on = (fit_on.repartition(_FIT_PARTITIONS, "neighbor_id")
              .sortWithinPartitions("neighbor_id"))
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_fv",
                predictionCol="_cell")
    model = km.fit(fit_on.withColumn("_fv", array_to_vector(F.col("_cv"))))
    assigned = model.transform(c.withColumn("_fv", array_to_vector(F.col("_cv")))) \
        .select("neighbor_id", "_cv", "_cell")
    centroids = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    return assigned, centroids


def _sq_dist_cols(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def _probe_cells(vec: Column, centroids: list[list[float]], n_probe: int) -> Column:
    """Explodable list of the ``n_probe`` nearest centroid ids for a query
    vector. Centroid coords are plan literals — no second join; ties broken
    by cell id ascending via the struct sort. The two-param transform
    lambda is INTENTIONAL here: the second argument is the array index,
    which IS the cell id."""
    cells = F.transform(
        _lit_matrix(centroids),
        lambda ctr, i: F.struct(_sq_dist_cols(vec, ctr).alias("d"),
                                i.alias("cell")))
    probe = F.slice(F.array_sort(cells), 1, min(n_probe, len(centroids)))
    return F.transform(probe, lambda s: s["cell"])


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
             k: int = 5, n_lists: int = 16, n_probe: int = 2, seed: int = 42,
             max_iter: int = 10, fit_sample: float | None = None,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other classic ANN scale
    path beside LSH: a KMeans coarse quantizer partitions the corpus into
    ``n_lists`` cells; each query probes only its ``n_probe`` nearest
    centroids, so the scan covers ~n_probe/n_lists of the corpus.

    Plan shape: corpus assigned once (persist/bucket that column at scale),
    query->cell fan-out is an explode of the n_probe nearest centroids
    (centroids are plan literals — no second join), then a cell equi-join +
    per-query top-k window. ``n_probe == n_lists`` degenerates to exact
    brute force (every cell scanned) — the law the tests pin."""
    assigned, centroids = ivf_assignments(corpus, id_col, vec_col, n_lists,
                                          seed, max_iter, fit_sample,
                                          centroids)
    # n_probe nearest centroids per query, centroid coords inlined as literals
    qb = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_qn", l2_norm(F.col("_qv")))
        .withColumn("_cell", F.explode(_probe_cells(F.col("_qv"), centroids, n_probe))))
    scored = (
        assigned.withColumn("_cn", l2_norm(F.col("_cv")))
        .join(qb, "_cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_prenormed(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# shared parsed-expression literal builders (util.lit_vec/lit_matrix);
# kept under the module-private names every call site here uses
from ..util import lit_matrix as _lit_matrix  # noqa: E402
from ..util import lit_vec as _lit_vec  # noqa: E402


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str, dim: int,
              n_lists: int = 16, m: int = 4, k_codes: int = 16,
              seed: int = 42, max_iter: int = 10,
              fit_sample: float | None = None,
              model: dict | None = None):
    """IVF-PQ encoder (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): after the IVF coarse quantizer, the
    residual (vec - cell centroid) is split into ``m`` subvectors and each
    subspace gets its own ``k_codes``-word KMeans codebook. A vector is then
    stored as (cell, m codes, reconstruction norm) — m bytes of payload
    instead of ``dim`` floats, which is what makes a 100 TB corpus fit the
    memory/scan budget of the query tier.

    Returns ``(encoded, model)``: ``encoded`` has columns
    (neighbor_id, _cell, _codes array<int>, _rnorm double); ``model`` is
    ``{"centroids": [...], "codebooks": [per-subspace [codeword vectors]]}``
    (plain floats — persistable as JSON, inlined as plan literals at query
    time). Fit runs on ``fit_sample`` at scale; encoding is one full pass of
    pure Catalyst expressions (argmin over codeword literals), no Python.

    ``model`` (r7) injects explicit centroids + codebooks and skips every
    fit — externally trained quantizers (faiss) or the oracle gate's
    hash-chosen deterministic ones (the semantic_dedup ``centroids=``
    contract). Cell assignment then uses the same nearest-centroid
    expression as ``append_ivf_index`` (squared euclidean, ties to the
    lower cell)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    if model is not None:
        # validate the injected model's shape UP FRONT: a mismatched
        # external model (wrong m, wrong subvector width, wrong centroid
        # dim) would otherwise silently mis-encode — zip_with over
        # unequal-length arrays yields nulls, not errors
        if len(model["codebooks"]) != m:
            raise ValueError(
                f"model has {len(model['codebooks'])} codebooks but m={m}")
        for j, cb in enumerate(model["codebooks"]):
            bad = [len(cw) for cw in cb if len(cw) != sub_d]
            if bad:
                raise ValueError(
                    f"codebook {j} has codeword dim {bad[0]}, expected "
                    f"dim/m = {sub_d}")
        bad = [len(ct) for ct in model["centroids"] if len(ct) != dim]
        if bad:
            raise ValueError(
                f"model centroid dim {bad[0]} != corpus dim {dim}")
        centroids = model["centroids"]
        assigned = explicit_assignments(corpus, id_col, vec_col, centroids)
    else:
        assigned, centroids = ivf_assignments(corpus, id_col, vec_col,
                                              n_lists, seed, max_iter,
                                              fit_sample)
    ctr_mat = _lit_matrix(centroids)
    residual = F.zip_with(F.col("_cv"),
                          F.element_at(ctr_mat, F.col("_cell") + 1),
                          lambda x, y: x.cast("double") - y)
    assigned = assigned.withColumn("_res", residual)

    if model is not None:
        codebooks = model["codebooks"]
    else:
        # cache the residual frame ONLY for the m KMeans fits that rescan
        # it (the injection path has no fits — a persist there is pure
        # overhead, r7 review finding); released after the fits, since the
        # returned encode plan recomputes residuals in its own single pass
        codebooks = []
        with cache_scope():
            assigned = cached(assigned)
            for i in range(m):
                sl = assigned.select(array_to_vector(
                    F.slice(F.col("_res"), i * sub_d + 1, sub_d)).alias("_fv"))
                fit_on = sl.sample(fit_sample, seed=seed + i) if fit_sample else sl
                km = KMeans(k=k_codes, seed=seed + i, maxIter=max_iter,
                            featuresCol="_fv", predictionCol="_code")
                codebooks.append([[float(x) for x in c]
                                  for c in km.fit(fit_on).clusterCenters()])

    def argmin_code(res_slice: Column, book: list[list[float]]) -> Column:
        # two-param transform lambda intentional: the index IS the code.
        # array_min, not array_sort(...)[0] (r13): the same least struct
        # under the same (d, code) ordering — ties by lowest code — in
        # one O(k) pass instead of an O(k log k) sort + copy, and encode
        # runs per CORPUS row (the 100 TB-volume path).
        cands = F.transform(
            _lit_matrix(book),
            lambda cw, c: F.struct(_sq_dist_cols(res_slice, cw).alias("d"),
                                   c.alias("code")))
        return F.array_min(cands)["code"]

    codes = F.array(*[
        argmin_code(F.slice(F.col("_res"), i * sub_d + 1, sub_d), codebooks[i])
        for i in range(m)])
    # reconstruction = cell centroid + concat of chosen codewords; its norm is
    # the only full-precision scalar the query tier needs for cosine
    recon = F.concat(*[
        F.zip_with(
            F.slice(F.element_at(ctr_mat, F.col("_cell") + 1), i * sub_d + 1, sub_d),
            F.element_at(_lit_matrix(codebooks[i]), F.element_at(F.col("_codes"), i + 1) + 1),
            lambda x, y: x + y)
        for i in range(m)])
    encoded = (assigned
               .withColumn("_codes", codes)
               .withColumn("_rnorm", l2_norm(recon))
               .select("neighbor_id", "_cell", "_codes", "_rnorm"))
    return encoded, {"centroids": centroids, "codebooks": codebooks}


def pq_adc_score(qv: Column, model: dict) -> Column:
    """Asymmetric-distance (ADC) approximate dot product of a query against a
    PQ-encoded row (needs ``_cell`` and ``_codes`` in scope):
    dot(q, recon) = dot(q, centroid[cell]) + sum_i LUT_i[code_i], where
    LUT_i[c] = dot(q_sub_i, codebook_i[c]). The LUT is a per-query array
    expression over codeword literals — the corpus vectors are never read."""
    centroids = model["centroids"]
    codebooks = model["codebooks"]
    m = len(codebooks)
    sub_d = len(codebooks[0][0])
    score = dot(qv, F.element_at(_lit_matrix(centroids), F.col("_cell") + 1))
    # unary closure factory, NOT a defaulted two-param lambda: F.transform
    # treats a second parameter as the array INDEX (the minhash_signature
    # seed-shadowing landmine)
    def lut_for(i: int):
        return lambda cw: dot(F.slice(qv, i * sub_d + 1, sub_d), cw)

    for i in range(m):
        lut = F.transform(_lit_matrix(codebooks[i]), lut_for(i))
        score = score + F.element_at(lut, F.element_at(F.col("_codes"), i + 1) + 1)
    return score


def pq_adc_tables(qv: Column, model: dict) -> tuple[Column, Column]:
    """The two per-QUERY tables behind :func:`pq_adc_score`, as columns to
    materialize on the query side of a pair join (r13; guide §4 — the
    cosine_prenormed hoist applied to ADC):

      * ``cdots[c]``  = dot(q, centroids[c])
      * ``luts[j][k]`` = dot(q_sub_j, codebooks[j][k])

    ``pq_adc_score`` embeds these expressions per PAIR row, so every
    candidate re-evaluates ~m·k_codes interpreted dot folds that depend
    only on the query vector (measured: the pq_adc/opq gate arms spent
    ~2 s each re-deriving LUTs for 20-40k pairs). Computed once per query
    row on the broadcast side, the per-pair work drops to m+1
    ``element_at`` picks and m+1 additions. The entries are built from
    the IDENTICAL dot/slice expressions in the identical order, and
    :func:`pq_adc_score_from_tables` combines the picked entries in
    :func:`pq_adc_score`'s exact addition order, so the score is
    bit-identical (law-pinned)."""
    codebooks = model["codebooks"]
    sub_d = len(codebooks[0][0])
    cdots = F.transform(_lit_matrix(model["centroids"]),
                        lambda ct: dot(qv, ct))

    # unary closure factory, NOT a defaulted two-param lambda (see
    # pq_adc_score): F.transform's second parameter is the array INDEX
    def lut_for(i: int):
        return lambda cw: dot(F.slice(qv, i * sub_d + 1, sub_d), cw)

    luts = F.array(*[F.transform(_lit_matrix(codebooks[i]), lut_for(i))
                     for i in range(len(codebooks))])
    return cdots, luts


def pq_adc_score_from_tables(cdots: Column, luts: Column, m: int) -> Column:
    """ADC score from :func:`pq_adc_tables` columns (needs ``_cell`` and
    ``_codes`` in scope, like ``pq_adc_score``): the same
    ``centroid-dot + sum_j LUT_j[code_j]`` left-to-right addition chain,
    each term an ``element_at`` pick instead of a re-derived fold."""
    score = F.element_at(cdots, F.col("_cell") + 1)
    for i in range(m):
        score = score + F.element_at(F.element_at(luts, i + 1),
                                     F.element_at(F.col("_codes"), i + 1) + 1)
    return score


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, dim: int, k: int = 5, n_lists: int = 16,
                n_probe: int = 2, m: int = 4, k_codes: int = 16,
                seed: int = 42, max_iter: int = 10,
                fit_sample: float | None = None,
                model: dict | None = None,
                quantize: int | None = None) -> DataFrame:
    """IVF-PQ approximate top-k: IVF restricts the scan to ``n_probe`` cells,
    PQ-ADC scores candidates from m-byte codes without touching the stored
    vectors. Same output shape as the other top-k operators; ``cosine`` is
    the PQ approximation dot(q, recon)/(|q|·|recon|). Plan: encoded corpus
    (persist/bucket it at scale) equi-joined to the broadcast exploded query
    probes — identical shuffle shape to ``ivf_topk`` but the scanned payload
    per row is m codes + one norm, not ``dim`` floats. ``model`` injects
    explicit centroids/codebooks (see pq_encode) and skips every fit.

    ``quantize`` rounds the cosine to that many decimals BEFORE the rank
    window (ties then break by neighbor id) — the BM25 determinism
    contract. The ADC decomposition sums dot(q, recon) in a different
    IEEE association than a direct reconstruction dot, so ranks compared
    against any re-derivation (another engine, a decode-then-score path)
    are only stable on the rounded value; the oracle gate runs at
    quantize=6."""
    encoded, model = pq_encode(corpus, id_col, vec_col, dim, n_lists, m,
                               k_codes, seed, max_iter, fit_sample,
                               model=model)
    _cd, _lut = pq_adc_tables(F.col("_qv"), model)
    qb = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_qn", l2_norm(F.col("_qv")))
        .withColumn("_cdots", _cd).withColumn("_luts", _lut)
        .withColumn("_cell", F.explode(_probe_cells(F.col("_qv"), model["centroids"], n_probe))))
    # _qn (and the ADC tables) per query ROW, not per pair: denom is
    # referenced twice (zero test + divisor), so an inline l2_norm would
    # fold the query vector twice per candidate pair — and the ADC
    # LUT/centroid dots depend only on the query, so they ride the
    # broadcast side (pq_adc_tables) instead of re-deriving per candidate.
    # Built below the probe explode, each query's tables are computed once
    # but the broadcast carries n_probe copies of them (n_probe x (n_lists
    # + m*k_codes) doubles per query), which is small for query batches and
    # cheaper than a second join to attach them above the explode.
    denom = F.col("_qn") * F.col("_rnorm")
    cos = F.when(denom == 0, F.lit(0.0)) \
        .otherwise(pq_adc_score_from_tables(F.col("_cdots"), F.col("_luts"),
                                            len(model["codebooks"])) / denom)
    if quantize is not None:
        cos = F.round(cos, quantize)
    scored = (
        encoded.join(qb, "_cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# -- OPQ: optimized product quantization (rotation refinement) --------------

def rotate_vector(vec: Column, rotation: list[list[float]]) -> Column:
    """``R^T x`` as a pure expression: ONE ``transform`` over the
    rotation's column-major literal matrix, a ``dot`` fold per output
    dimension. O(d²) lambda steps per vector — fine for query sides and
    ingest passes; at 100 TB apply it once in the encode job, never per
    probe. The single-transform form keeps the expression tree O(d²) in
    LITERALS but O(1) in operator nodes — 64 separate fold expressions
    made analysis+codegen the dominant gate cost (r8)."""
    cols = [[rotation[i][j] for i in range(len(rotation))]
            for j in range(len(rotation[0]))]
    return F.transform(_lit_matrix(cols), lambda col: dot(vec, col))


def _np_kmeans(x, k: int, seed: int, iters: int = 10):
    """Tiny seeded Lloyd's k-means (driver-side, fit samples only).
    Deterministic: numpy RandomState(seed) picks initial rows; empty
    clusters re-seed to DISTINCT farthest points — when several clusters
    empty in one iteration, each takes the next point in descending
    distance-to-assigned-centroid order, so no two reseeded clusters get
    the same centroid (duplicate centroids waste codewords and never
    separate again)."""
    import numpy as np
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(x), size=min(k, len(x)), replace=False)
    c = x[np.sort(idx)].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        empties = []
        for j in range(len(c)):
            members = x[a == j]
            if len(members):
                c[j] = members.mean(axis=0)
            else:
                empties.append(j)
        if empties:
            far_order = np.argsort(-d[np.arange(len(x)), a], kind="stable")
            for t, j in enumerate(empties):
                c[j] = x[far_order[t % len(x)]]
    return c


def opq_train(corpus: DataFrame, vec_col: str, dim: int, m: int = 4,
              k_codes: int = 16, iters: int = 5, seed: int = 42,
              fit_rows: int = 2000, kmeans_iters: int = 10,
              id_col: str | None = None) -> dict:
    """Optimized Product Quantization (Ge, He, Ke, Sun — CVPR 2013,
    the non-parametric OPQ_NP): learn an ORTHOGONAL rotation R jointly
    with the per-subspace codebooks so the rotated space distributes
    variance evenly across subspaces — lower quantization error than
    plain PQ at the same code budget (law-tested: train-sample MSE never
    worse). Alternating optimization on a bounded driver-side sample
    (the estimator-stage fit pattern; ``fit_rows`` caps the collect):

      repeat ``iters`` times:
        1. PQ codebooks per subspace of the rotated sample X·R
           (seeded Lloyd's k-means, numpy);
        2. reconstruct Y = decode(encode(X·R));
        3. R <- U·Vᵀ from SVD(XᵀY) — the orthogonal Procrustes solution.

    Returns ``{"rotation": R (d×d), "codebooks": [...], "m", "dsub"}``.
    Apply with ``opq_encode_frame``/``opq_topk`` (rotate, then the plain
    PQ machinery — codebooks live in the rotated space). No residual/IVF
    coupling here: this is the flat-PQ refinement; compose with IVF by
    rotating at ingest and feeding pq_encode(model=...).

    Pass ``id_col`` (recommended) and the fit sample is the ``fit_rows``
    lowest rows by seeded id-hash — the diversity_sample draw: the SAME
    rows on every run and every cluster/file layout, making the trained
    rotation fully reproducible (and oracle-replicable). Without an id,
    the sample falls back to ``limit(fit_rows)`` in scan order — stable
    within one layout but not across layouts."""
    import numpy as np

    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    src = ensure_parallelism(corpus)
    if id_col is not None:
        samp = (src.select(vec_col, F.col(id_col).alias("_oid"))
                .orderBy(F.xxhash64(F.col("_oid"), F.lit(seed)), "_oid")
                .limit(fit_rows).select(vec_col))
    else:
        samp = src.select(vec_col).limit(fit_rows)
    rows = samp.collect()
    x = np.array([[float(v) for v in r[0]] for r in rows], dtype=np.float64)
    r_mat = np.eye(dim)
    codebooks = None
    for _ in range(iters):
        xr = x @ r_mat
        codebooks = [_np_kmeans(xr[:, j * dsub:(j + 1) * dsub], k_codes,
                                seed + j, kmeans_iters) for j in range(m)]
        y = np.empty_like(xr)
        for j, cb in enumerate(codebooks):
            sub = xr[:, j * dsub:(j + 1) * dsub]
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            y[:, j * dsub:(j + 1) * dsub] = cb[d.argmin(axis=1)]
        u, _, vt = np.linalg.svd(x.T @ y)
        r_mat = u @ vt
    # one final codebook fit against the final rotation
    xr = x @ r_mat
    codebooks = [_np_kmeans(xr[:, j * dsub:(j + 1) * dsub], k_codes,
                            seed + j, kmeans_iters) for j in range(m)]
    return {"rotation": [[float(v) for v in row] for row in r_mat],
            "codebooks": [[[float(v) for v in c] for c in cb]
                          for cb in codebooks],
            "m": m, "dsub": dsub, "dim": dim}


def _opq_flat_codes(rot: Column, model: dict) -> Column:
    """m argmin codes of the ALREADY-ROTATED vector against the
    rotated-space codebooks (flat PQ, no cell/residual). ``rot`` must be
    a cheap column reference: each of the m × k_codes distance subtrees
    embeds it, so passing the O(d²)-literal rotate expression here
    multiplies the plan by ~m·k_codes (a 10× analysis/codegen blowup the
    r8 gate measured — 99 s -> 11 s at sf0.01)."""
    dsub = model["dsub"]
    out = []
    for j in range(model["m"]):
        sub = F.slice(rot, j * dsub + 1, dsub)
        # two-param transform lambda intentional: the index IS the code;
        # array_min = array_sort[0] under the same (d, c) ordering in one
        # pass (see pq_encode.argmin_code)
        cands = F.transform(
            _lit_matrix(model["codebooks"][j]),
            lambda cw, c: F.struct(_sq_dist_cols(sub, cw).alias("d"),
                                   c.alias("c")))
        out.append(F.array_min(cands)["c"])
    return F.array(*out)


def opq_encode_frame(corpus: DataFrame, id_col: str, vec_col: str,
                     model: dict) -> DataFrame:
    """(neighbor_id, _codes, _rnorm): the OPQ-compressed corpus. The
    rotation (d² literal multiplies per row) is materialized as its OWN
    projection stage so every downstream consumer — m·k_codes code
    distances, the reconstruction norm — references the computed column
    instead of inlining the rotate expression (CollapseProject keeps
    multi-consumer non-trivial aliases in their own Project)."""
    rotated = (ensure_parallelism(corpus)
               .select(F.col(id_col).alias("neighbor_id"),
                       rotate_vector(F.col(vec_col), model["rotation"])
                       .alias("_rot")))
    recon = F.flatten(F.array(*[
        F.element_at(_lit_matrix(model["codebooks"][j]),
                     F.element_at(F.col("_codes"), j + 1) + 1)
        for j in range(model["m"])]))
    return (rotated
            .select("neighbor_id",
                    _opq_flat_codes(F.col("_rot"), model).alias("_codes"))
            .withColumn("_rnorm", l2_norm(recon)))


def opq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, dim: int, k: int = 5, m: int = 4,
             k_codes: int = 16, iters: int = 5, seed: int = 42,
             model: dict | None = None,
             quantize: int | None = None) -> DataFrame:
    """Approximate top-k over OPQ codes: queries are rotated into the
    codebook space (a per-query O(d²) expression — the query side is
    small), the corpus is scanned as m-byte codes, and the ADC LUT
    scores dot(q·R, recon)/(|q·R|·|recon|). Since R is orthogonal the
    cosine in rotated space IS the cosine in the original space — OPQ
    changes the quantization error, not the metric. Same determinism
    contract as ivf_pq_topk: ``quantize`` rounds before ranking."""
    if model is None:
        model = opq_train(corpus, vec_col, dim, m=m, k_codes=k_codes,
                          iters=iters, seed=seed, id_col=id_col)
    enc = opq_encode_frame(corpus, id_col, vec_col, model)
    # flat ADC: no cell term — score = sum_j LUT_j[code_j]
    flat = {"centroids": [[0.0] * model["dim"]],
            "codebooks": model["codebooks"]}
    _cd, _lut = pq_adc_tables(F.col("_qv"), flat)
    qb = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"),
                       rotate_vector(F.col(vec_col), model["rotation"])
                       .alias("_qv"))
        .withColumn("_qn", l2_norm(F.col("_qv")))
        .withColumn("_cdots", _cd).withColumn("_luts", _lut))
    denom = F.col("_qn") * F.col("_rnorm")
    cos = F.when(denom == 0, F.lit(0.0)) \
        .otherwise(pq_adc_score_from_tables(F.col("_cdots"), F.col("_luts"),
                                            len(flat["codebooks"])) / denom)
    if quantize is not None:
        cos = F.round(cos, quantize)
    scored = (enc.withColumn("_cell", F.lit(0)).crossJoin(qb)
              .where(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine", cos))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# -- scalar quantization (SQ) -----------------------------------------------

def sq_train(corpus: DataFrame, vec_col: str, dim: int, levels: int = 256):
    """Scalar-quantizer grid (FAISS SQ8 analogue): per-dimension [lo, hi]
    over the corpus — ONE aggregation pass, O(dim) statistics — and a
    uniform ``levels``-step grid per dimension. Returns
    {"lo": [...], "step": [...], "levels": levels} (plain floats, JSON-able,
    inlined as plan literals at encode/query time)."""
    aggs = []
    for i in range(dim):
        x = F.try_element_at(F.col(vec_col), F.lit(i + 1)).cast("double")
        aggs += [F.min(x).alias(f"lo{i}"), F.max(x).alias(f"hi{i}")]
    row = corpus.agg(*aggs).first()
    lo = [float(row[f"lo{i}"] or 0.0) for i in range(dim)]
    hi = [float(row[f"hi{i}"] or 0.0) for i in range(dim)]
    step = [(h - l) / (levels - 1) if h > l else 1.0 for l, h in zip(lo, hi)]
    return {"lo": lo, "step": step, "levels": levels}


def sq_encode(vec: Column, model: dict) -> Column:
    """array<float> -> array<int> codes: round((x - lo)/step), clamped to
    [0, levels-1]. At levels<=256 the code column stores as 1 byte/dim in
    parquet (dictionary/bit-packing) vs 4-8 for the float — the scan-budget
    win that makes a 100 TB corpus queryable."""
    lo = _lit_vec(model["lo"])
    step = _lit_vec(model["step"])
    lvl = model["levels"]
    scaled = F.zip_with(vec, lo, lambda x, l: x.cast("double") - l)
    return F.zip_with(scaled, step,
                      lambda d, s: F.greatest(
                          F.lit(0),
                          F.least(F.lit(lvl - 1), F.round(d / s).cast("int"))))


def sq_reconstruct(codes: Column, model: dict) -> Column:
    """codes -> approximate vector: lo + code*step (inverse of sq_encode;
    max per-dimension error = step/2)."""
    lo = _lit_vec(model["lo"])
    step = _lit_vec(model["step"])
    scaled = F.zip_with(codes, step, lambda c, s: c.cast("double") * s)
    return F.zip_with(scaled, lo, lambda v, l: v + l)


def sq_topk(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
            k: int = 5, levels: int = 256, dim: int | None = None,
            model: dict | None = None) -> DataFrame:
    """Approximate top-k over SCALAR-QUANTIZED vectors: the corpus is
    scanned as codes (1 byte/dim), reconstructed on the fly inside the
    scan stage, and scored with exact cosine against the full-precision
    broadcast queries — the asymmetric-distance pattern (full-precision
    query vs compressed corpus) at the simplest compression level.
    Composable with IVF/LSH bucketing: quantize the bucketed table."""
    from ..util import ensure_parallelism

    if model is None:
        if dim is None:
            raise ValueError("sq_topk needs dim when no trained model given")
        model = sq_train(corpus, vec_col, dim, levels)
    # reconstruct ONCE per corpus row in the scan projection (it used to
    # sit inside cosine_similarity, whose old form referenced its b-side
    # three times -> three reconstructions PER PAIR); the codes stay the
    # storage/shuffle format, the reconstruction never outlives the stage
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        sq_encode(F.col(vec_col), model).alias("_codes")) \
        .withColumn("_rv", sq_reconstruct(F.col("_codes"), model)) \
        .withColumn("_rn", l2_norm(F.col("_rv")))
    q = F.broadcast(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col).alias("_qv"))
                    .withColumn("_qn", l2_norm(F.col("_qv"))))
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_prenormed(
            F.col("_qv"), F.col("_rv"), F.col("_qn"), F.col("_rn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def build_ivf_index(corpus: DataFrame, id_col: str, vec_col: str, path: str,
                    n_lists: int = 16, seed: int = 42, max_iter: int = 10,
                    fit_sample: float | None = None,
                    centroids: list[list[float]] | None = None) -> dict:
    """Persist an IVF index: the assigned corpus written PARTITIONED BY
    CELL (`_cell=N/` directories) plus a JSON sidecar with the centroids
    and params. Build cost is paid once; afterwards every query batch
    reads only its probed cells from storage — at 100 TB the scan itself
    shrinks to ~n_probe/n_lists of the corpus via directory-level
    partition pruning, not just the join. Returns the index metadata."""
    assigned, centroids = ivf_assignments(corpus, id_col, vec_col, n_lists,
                                          seed, max_iter, fit_sample,
                                          centroids)
    # batch=0 subdir so append_ivf_index batches nest as sibling partitions
    # (readers discover batch + _cell partition columns; _cell pruning is
    # unaffected, batch is ignored)
    write_batch(assigned, os.path.join(path, "cells"), 0, "_cell")
    meta = {"centroids": centroids, "n_lists": n_lists, "seed": seed,
            "id_col": id_col, "vec_col": vec_col}
    write_atomic(os.path.join(path, "_INDEX.json"), json.dumps(meta))
    return meta


def append_ivf_index(spark, path: str, new_vectors: DataFrame,
                     batch_id: int) -> None:
    """Add a vector batch to an existing IVF index WITHOUT refitting: each
    vector is assigned to its nearest stored centroid as a pure expression
    (centroids are plan literals from the sidecar — no KMeans model, no
    corpus read), then written under its own ``batch=<id>/`` subdirectory
    (overwrite — replay-idempotent, the same guard as the LSH index and
    stream_rollup_partials). The standard IVF ingest path: centroids
    drift-check / refit is a periodic offline job, not per batch."""
    meta = read_sidecar(os.path.join(path, "_INDEX.json"))
    assigned = new_vectors.select(
        F.col(meta["id_col"]).alias("neighbor_id"),
        F.col(meta["vec_col"]).alias("_cv")) \
        .withColumn("_cell", _probe_cells(F.col("_cv"), meta["centroids"],
                                          1)[0])
    write_batch(assigned, os.path.join(path, "cells"), batch_id, "_cell")


def ivf_topk_indexed(spark, path: str, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 5, n_probe: int = 2) -> DataFrame:
    """ANN top-k against a persisted IVF index. The probed-cell filter is a
    partition-column predicate, so only `_cell=N/` directories the query
    batch needs are read (verify with .inputFiles()); scoring/top-k is the
    same bucket equi-join + per-query window as the in-memory form."""
    meta = read_sidecar(os.path.join(path, "_INDEX.json"))
    assigned = read_batches(
        spark, os.path.join(path, "cells"),
        queries.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("_cv"),
                       F.lit(0).alias("_cell"),
                       F.lit(0).alias("batch")))
    qb = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_qv"))
        .withColumn("_qn", l2_norm(F.col("_qv")))
        .withColumn("_cell", F.explode(
            _probe_cells(F.col("_qv"), meta["centroids"], n_probe))))
    probed = sorted({r["_cell"] for r in qb.select("_cell").distinct().collect()})
    scored = (
        assigned.where(F.col("_cell").isin(probed))   # partition pruning
        .withColumn("_cn", l2_norm(F.col("_cv")))
        .join(qb, "_cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_prenormed(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    # duplicate guard: a corpus vector lives in exactly ONE cell, so a
    # (query, neighbor) pair can only repeat when a batch directory is
    # transiently duplicated (compact_ivf_index's crash window). Duplicates
    # tie on (cosine, neighbor_id) and are therefore ADJACENT in w's order —
    # a lag() check collapses them over the SAME window spec (no extra
    # Exchange) instead of a dropDuplicates shuffle on a different key.
    return (scored.withColumn("_prev", F.lag("neighbor_id").over(w))
            .where(F.col("_prev").isNull()
                   | (F.col("_prev") != F.col("neighbor_id")))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def compact_ivf_index(spark, path: str, upto_batch: int) -> dict:
    """Merge the IVF index's ``cells/batch=<id>`` subdirectories with
    ``id <= upto_batch`` (and prior compactions) into one consolidated
    negative-id directory — sources/layout.compact_batch_dirs over this
    index's ``_cell``-partitioned layout. Probe results are unchanged
    (law-tested): ``ivf_topk_indexed`` collapses the crash window's
    transient duplicate rows before ranking, so the rename/delete order
    is correctness-neutral. Run only for batches below any replaying
    stream's frontier."""
    return compact_batch_dirs(spark, os.path.join(path, "cells"),
                              upto_batch, shard_col="_cell")


def build_ivfpq_index(corpus: DataFrame, id_col: str, vec_col: str,
                      path: str, dim: int, n_lists: int = 16, m: int = 4,
                      k_codes: int = 16, seed: int = 42, max_iter: int = 10,
                      fit_sample: float | None = None,
                      model: dict | None = None) -> dict:
    """Persist an IVF-PQ index: the PQ-ENCODED corpus — (cell, m codes,
    one reconstruction norm) per vector, m+8 bytes of payload instead of
    ``dim`` floats — written PARTITIONED BY CELL (``_cell=N/``
    directories) plus a JSON sidecar carrying the full quantizer model.
    This composes the two 100 TB levers the flat index variants each have
    one of: ``ivf_topk_indexed`` prunes DIRECTORIES but stores full
    vectors; ``ivf_pq_topk`` scans compressed codes but re-encodes per
    session. Here a query batch reads only its probed cells AND each
    scanned row is codes+norm — scan volume drops by both
    ~n_probe/n_lists and ~(m+8)/(8·dim). ``model`` injects an external
    quantizer (faiss export, the oracle gate's explicit one) and skips
    every fit; otherwise the KMeans fits run on ``fit_sample``.
    Same batch layout as the IVF index (``cells/batch=0``), so
    ``append_ivfpq_index`` / ``compact_ivfpq_index`` nest identically."""
    encoded, model = pq_encode(corpus, id_col, vec_col, dim, n_lists, m,
                               k_codes, seed, max_iter, fit_sample,
                               model=model)
    write_batch(encoded, os.path.join(path, "cells"), 0, "_cell")
    meta = {"centroids": model["centroids"],
            "codebooks": model["codebooks"], "dim": dim, "m": m,
            "k_codes": k_codes, "id_col": id_col, "vec_col": vec_col}
    write_atomic(os.path.join(path, "_IVFPQ_INDEX.json"), json.dumps(meta))
    return meta


def append_ivfpq_index(spark, path: str, new_vectors: DataFrame,
                       batch_id: int) -> None:
    """Encode a vector batch with the index's STORED quantizer (sidecar
    model injection — no fits, no corpus read; the assignment and code
    argmins are pure expressions) and write it under ``batch=<id>/``
    (overwrite — replay-idempotent, the LSH/IVF-index guard). Periodic
    codebook refit on drifted corpora is an offline rebuild, not an
    append concern — the standard IVF-PQ ingest split."""
    meta = read_sidecar(os.path.join(path, "_IVFPQ_INDEX.json"))
    encoded, _ = pq_encode(new_vectors, meta["id_col"], meta["vec_col"],
                           meta["dim"], m=meta["m"],
                           k_codes=meta["k_codes"],
                           model={"centroids": meta["centroids"],
                                  "codebooks": meta["codebooks"]})
    write_batch(encoded, os.path.join(path, "cells"), batch_id, "_cell")


def ivfpq_topk_indexed(spark, path: str, queries: DataFrame, id_col: str,
                       vec_col: str, k: int = 5, n_probe: int = 2,
                       quantize: int | None = None) -> DataFrame:
    """ANN top-k against a persisted IVF-PQ index: probed-cell partition
    pruning (a ``_cell`` partition-column predicate — only the probed
    ``_cell=N/`` directories are read, verify with .inputFiles()) +
    ADC scoring straight off the stored codes (the per-query LUT is a
    plan expression over the sidecar codebooks; stored vectors are never
    materialized). ``quantize`` rounds the cosine before ranking (the
    cross-form determinism contract of ivf_pq_topk). Duplicate collapse
    for compaction's crash window matches ivf_topk_indexed: duplicates
    tie on (cosine, neighbor_id), so a lag() over the SAME rank window
    drops them with no extra Exchange."""
    meta = read_sidecar(os.path.join(path, "_IVFPQ_INDEX.json"))
    model = {"centroids": meta["centroids"], "codebooks": meta["codebooks"]}
    enc = read_batches(
        spark, os.path.join(path, "cells"),
        queries.select(F.col(id_col).alias("neighbor_id"),
                       F.array().cast("array<int>").alias("_codes"),
                       F.lit(0.0).alias("_rnorm"),
                       F.lit(0).alias("_cell"),
                       F.lit(0).alias("batch")))
    _cd, _lut = pq_adc_tables(F.col("_qv"), model)
    qb = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_qv"))
        .withColumn("_qn", l2_norm(F.col("_qv")))
        .withColumn("_cdots", _cd).withColumn("_luts", _lut)
        .withColumn("_cell", F.explode(
            _probe_cells(F.col("_qv"), meta["centroids"], n_probe))))
    probed = sorted({r["_cell"] for r in qb.select("_cell").distinct().collect()})
    denom = F.col("_qn") * F.col("_rnorm")
    cos = F.when(denom == 0, F.lit(0.0)) \
        .otherwise(pq_adc_score_from_tables(F.col("_cdots"), F.col("_luts"),
                                            len(model["codebooks"])) / denom)
    if quantize is not None:
        cos = F.round(cos, quantize)
    scored = (
        enc.where(F.col("_cell").isin(probed))   # partition pruning
        .join(qb, "_cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("_prev", F.lag("neighbor_id").over(w))
            .where(F.col("_prev").isNull()
                   | (F.col("_prev") != F.col("neighbor_id")))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def compact_ivfpq_index(spark, path: str, upto_batch: int) -> dict:
    """Merge ``cells/batch=<id>`` subdirectories of an IVF-PQ index (same
    layout and crash-window story as compact_ivf_index; the query tier's
    lag() collapse makes the rename/delete order correctness-neutral)."""
    return compact_batch_dirs(spark, os.path.join(path, "cells"),
                              upto_batch, shard_col="_cell")


def stream_ivf_index(stream: DataFrame, path: str,
                     checkpoint: str | None = None,
                     available_now: bool = True,
                     batch_id_base: int = 1):
    """Maintain a persisted IVF index from a vector STREAM: each
    micro-batch is assigned to the STORED centroids (sidecar literals —
    no refit, no corpus read) and lands in its own ``batch=<id>/``
    subdirectory with overwrite (replay-idempotent — the
    stream_bm25_index guard). Queries through ``ivf_topk_indexed`` see
    whatever the stream has reached. Bootstrap: ``build_ivf_index`` once
    over an initial corpus or sample — the coarse quantizer needs a fit
    (unlike BM25's read-time stats there is no empty-fit form); periodic
    centroid refit on drifted corpora is an offline rebuild. Stream
    micro-batch ids START AT 0 — ``batch_id_base`` (default 1) offsets
    them so the first micro-batch does NOT overwrite the bootstrap
    build's ``batch=0`` data (a real clobber trap: both writers are
    replay-idempotent overwriters by design)."""
    return stream_batches(
        stream,
        lambda sp, b, bid: append_ivf_index(sp, path, b, batch_id=bid),
        checkpoint, available_now, batch_id_base)


def stream_ivfpq_index(stream: DataFrame, path: str,
                       checkpoint: str | None = None,
                       available_now: bool = True,
                       batch_id_base: int = 1):
    """Maintain a persisted IVF-PQ index from a vector STREAM (each
    micro-batch sidecar-model-encoded into ``batch=<id>/``, overwrite —
    replay-idempotent). Bootstrap: ``build_ivfpq_index`` once; with
    ``model=`` injection an EMPTY initial corpus works (the sidecar is
    the quantizer; probes on the empty index return no rows instead of
    failing), which is the pure-streaming ingest shape. As with
    stream_ivf_index, ``batch_id_base`` (default 1) keeps micro-batch 0
    from overwriting a non-empty bootstrap ``batch=0``."""
    return stream_batches(
        stream,
        lambda sp, b, bid: append_ivfpq_index(sp, path, b, batch_id=bid),
        checkpoint, available_now, batch_id_base)
