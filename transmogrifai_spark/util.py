"""Small planning utilities shared by operators."""
from __future__ import annotations

import contextlib
import threading

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# held by every scoped_conf block: session confs are session-global, so two
# threads scoping the same key must take turns (re-entrant for nesting)
_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``spark`` for the body of a ``with`` block, then put
    every key back — its previous value, or ``unset`` when it had none —
    however the body exits. This is the one way library code changes a
    session conf; ``session()`` and ``session.apply_engine_confs`` own the
    engine's permanent ones.

    One module-level ``threading.RLock`` is held for the whole block, so
    threads that share a session never see or restore over each other's
    values, and a nested scope on the same thread re-enters. Work the body
    hands to OTHER threads must not open a scope of its own (it would wait
    on the lock its parent holds). Setting a conf runs no Spark job."""
    with _CONF_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield spark
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def snapshot(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage: an eager
    ``checkpoint()`` when the SparkContext has a reliable checkpoint dir
    (``sc.setCheckpointDir`` — replicated to the FS, survives executor
    loss, the right choice on preemptible clusters), an eager
    ``localCheckpoint()`` (executor-local blocks, the GraphX recipe)
    otherwise.

    Iterative loops rebind one snapshot per round (ARCHITECTURE rule 4):
    ``persist()`` stores computed rows but round k's logical plan still nests
    round k-1's, so a deep loop's analyzed plan grows until the driver
    dies in plan analysis; a snapshot's plan is a scan of its blocks.

    Storage release: a snapshot has no cache-manager entry, so
    ``unpersist()`` on it is a no-op. Its blocks go when the last
    reference to it is dropped (the JVM ContextCleaner reclaims them), so
    a loop that rebinds its snapshot each round keeps at most two rounds
    alive instead of the whole history."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


# per-thread stack of open cache scopes, each the list of frames it owns
_CACHE_SCOPES = threading.local()


@contextlib.contextmanager
def cache_scope():
    """Own every frame ``cached`` persists inside the ``with`` block: on
    exit — normal or by an exception — each is unpersisted, newest first,
    so a frame derived from another cached one goes before its parent.
    This is the one way library code releases a cached intermediate
    (ARCHITECTURE rule 8).

    Scopes nest and are per thread: ``cached`` registers with the
    innermost open scope of the CALLING thread, so frames another thread
    persists meanwhile are left alone. The block must materialize
    everything built over its frames before it closes; a lazy frame that
    outlives its scope still gives correct results, but recomputes the
    released parts. A library function that returns a lazy frame
    therefore opens no scope: its cached frames belong to the caller's
    scope, or to the session when the caller opened none. Unpersisting
    runs no Spark job."""
    stack = _CACHE_SCOPES.__dict__.setdefault("stack", [])
    owned: list[DataFrame] = []
    stack.append(owned)
    try:
        yield
    finally:
        stack.pop()
        for df in reversed(owned):
            df.unpersist()


def cached(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost open ``cache_scope`` of the
    current thread. With no scope open it is exactly ``persist()``: the
    session keeps the entry until someone unpersists it or clears the
    cache. A plan that was already cached keeps its owner: Spark adds no
    entry for it, so the scope does not register it and leaves the
    caller's cache in place (the storage-level check is a driver-side
    CacheManager lookup and runs no job)."""
    fresh = df.storageLevel == StorageLevel.NONE
    df = df.persist()
    stack = getattr(_CACHE_SCOPES, "stack", None)
    if stack and fresh:
        stack[-1].append(df)
    return df


def observed_metrics(df: DataFrame, name: str) -> dict:
    """``{alias: value}`` of the metrics ``df.observe(name, ...)`` collected
    when ``df`` itself last ran — e.g. by ``snapshot(df)``, so a loop reads
    a per-round flag from the snapshot's own job instead of a second job.
    Values are None over no rows. Keep the metrics idempotent (max,
    bool_or, distinct sketches): under a reliable checkpoint dir the plan
    can run twice, and a count would double.

    Read from the query execution, not through ``pyspark.sql.Observation``:
    in Spark 4.1 the first Observation gives the session a
    non-serializable ``ObservationManager``, after which any task closure
    that captures the session (a fitted ``LogisticRegressionModel``'s
    training summary) fails with "Task not serializable"."""
    row = df._jdf.queryExecution().observedMetrics().get(name).get()
    return {f: row.get(i) for i, f in enumerate(row.schema().fieldNames())}


def _finite_repr(x) -> str:
    """repr of a float for SQL-literal embedding; non-finite values would
    emit 'nan'/'inf' tokens the parser rejects with an opaque error far
    from the caller, so raise a clear one here (r8 advice)."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(
            f"non-finite value {v!r} cannot be embedded as a SQL double "
            "literal (lit_vec/lit_matrix require finite inputs)")
    return repr(v)


def vec_sql(xs) -> str:
    """SQL text of an array<double> literal (``lit_vec``'s text, for
    embedding in a larger parsed body such as ``bind_sql``'s)."""
    return "array(" + ",".join(_finite_repr(x) + "D" for x in xs) + ")"


def lit_vec(xs) -> Column:
    """array<double> literal from ONE parsed SQL expression. Building
    numeric literal arrays element-wise through the python Column API
    costs a py4j round-trip per element (~3 s for a 64x64 matrix,
    measured r8); the SQL text parses JVM-side in milliseconds. ``repr``
    emits the shortest round-trip decimal and the ``D`` suffix makes the
    parser take Double.parseDouble, so every parsed element is
    bit-identical to the python float. Raises ValueError on NaN/Inf."""
    return F.expr(vec_sql(xs))


def sql_str_lit(s: str) -> str:
    """SQL string literal with Spark's default backslash escaping;
    control chars via \\uXXXX so arbitrary corpus bytes can never break
    the surrounding parsed SQL text (shared by nbmodel's lookup tables
    and the lexicon-segmentation map)."""
    out = []
    for ch in s:
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif ord(ch) < 0x20 or ord(ch) == 0x7F:
            out.append("\\u%04X" % ord(ch))
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def lit_matrix(rows) -> Column:
    """array<array<double>> literal from one parsed SQL expression (see
    lit_vec). Raises ValueError on NaN/Inf."""
    return F.expr("array(" + ",".join(vec_sql(r) for r in rows) + ")")


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and let ``fn`` build an expression over
    the result through a lambda variable (a cheap slot read per reference).

    Why this exists: higher-order functions (transform/filter/aggregate)
    are CodegenFallback — their lambda bodies run interpreted, and any
    non-trivial subtree EMBEDDED in a lambda body is re-evaluated per
    array element (``ngrams``' old ``slice(tokenize(text), i, n)`` re-ran
    the regex tokenizer once per output gram: O(tokens²) with a fresh
    java.util.regex compile per call). Likewise an expression referenced N
    times in one projection evaluates N times (``minhash_signature``'s 16
    seed transforms each re-derived the whole shingle array). Wrapping the
    shared subtree as the single element of a literal array and
    ``transform``-ing over it binds the evaluated value to a
    NamedLambdaVariable; every reference inside ``fn`` is then a slot
    read. The same trick ``winnow_fingerprints`` documents for its window
    sweep, packaged for reuse."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def bind_sql(col: Column, var: str, body_sql: str) -> Column:
    """``body_sql`` — SQL text in which ``var`` names the value of ``col`` —
    evaluated once per row: ``bind_once`` with the lambda body parsed by
    the JVM from ONE string instead of built node by node.

    Every ``F.*`` call, and every Python lambda handed to a higher-order
    function, is several py4j round-trips; a per-row expression with
    thousands of nodes (LSH plane bits, the WordPiece cursor scan, the
    Gopher rule struct) spent seconds of driver time on construction
    alone. Here the whole body is one ``F.expr`` lambda (``var -> body``)
    passed, with ``array(col)``, to the JVM ``transform`` — the
    ``PythonSQLUtils.fn`` path PySpark's own higher-order functions use —
    so the cost is ~20 round-trips whatever the body's size. ``col`` is
    any Column and appears once in the plan; ``body_sql`` may nest SQL
    lambdas of its own (their variables must not reuse ``var``'s name)
    and embeds literals through ``sql_str_lit`` / ``repr(float) + 'D'``
    (the ``lit_vec`` idiom)."""
    from pyspark import SparkContext
    from pyspark.sql.classic.column import _to_java_column, _to_seq

    sc = SparkContext._active_spark_context
    args = _to_seq(sc, [_to_java_column(F.array(col)),
                        _to_java_column(F.expr(f"{var} -> {body_sql}"))])
    return Column(sc._jvm.PythonSQLUtils.fn("transform", args).apply(0))


def _exchanges(plan) -> set[str]:
    """Node names of the exchanges anywhere in the physical ``plan``."""
    name = plan.nodeName()
    names = {name} if name.endswith("Exchange") else set()
    kids = plan.children()
    for i in range(kids.size()):
        names |= _exchanges(kids.apply(i))
    return names


def _streamed_partitions(plan) -> int | None:
    """Partitions of a plan whose only exchanges are broadcasts, read
    without running a job. With no shuffle AQE coalesces nothing, so the
    count is the streamed side's: skip each ``BroadcastExchange`` child and
    follow the one remaining child to a node that states its partitioning,
    or to a leaf, whose RDD only lists files or reads block ids. None when
    the plan does not say (several streamed children, or a cache not yet
    built: the ``.rdd`` probe then builds it once and the real job reuses
    it)."""
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    kids = [k for k in kids if k.nodeName() != "BroadcastExchange"]
    if not kids:
        if (plan.nodeName() == "InMemoryTableScan" and not
                plan.relation().cacheBuilder().isCachedColumnBuffersLoaded()):
            return None
        return plan.execute().getNumPartitions()
    return _streamed_partitions(kids[0]) if len(kids) == 1 else None


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the input has fewer partitions than the cluster has
    cores. Heavy per-row expression pipelines (tokenize + n-grams, minhash
    signatures, per-document metrics) otherwise run at the scan's
    parallelism — a single small parquet file means a single task doing all
    the work. At real scale inputs arrive with adequate partitioning and this
    is a no-op; the round-robin shuffle it inserts for small inputs costs
    milliseconds.

    A broadcast join is decided without running anything: under AQE,
    ``df.rdd.getNumPartitions()`` materializes every query stage below, so
    on ``docs ⋉ filter(docs)`` it ran the whole filter pass as an extra job
    before the real job ran it again. The count is read from the plan
    instead (``_streamed_partitions``); with no shuffle it is exact. Plans
    without an exchange keep the probe (it only builds the RDD), and so do
    plans with a shuffle, where it returns the count after AQE's
    coalescing."""
    if df.isStreaming:  # no static partition count; micro-batches are sized upstream
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()   # before it runs: the initial plan
    n = (_streamed_partitions(plan)
         if _exchanges(plan) == {"BroadcastExchange"} else None)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def salted_aggregate(df: DataFrame, key_cols: list[str], aggs: dict[str, tuple],
                     salt: int = 16) -> DataFrame:
    """Two-stage aggregation for skewed keys (SURVEY.md §7 hard parts).

    Stage 1 groups by (key, xxhash64(row-salt) % salt) so a hot key's rows
    spread over ``salt`` reducers; stage 2 merges the partials per key. Only
    monoidal aggregates compose across stages — supported combiners:
    sum / min / max / count / collect-free logical ops.

    ``aggs``: {output: (combiner, sql_expr)} with combiner in
    {'sum','min','max','count'}. AQE's skew handling covers joins; this is
    the aggregation-side analogue for keys hot enough to overflow a single
    reducer's memory.
    """
    from pyspark.sql import functions as F

    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))
    stage1_aggs, stage2_aggs = [], []
    for out, (comb, expr) in aggs.items():
        col = F.expr(expr)
        if comb == "sum":
            stage1_aggs.append(F.sum(col).alias(out))
            stage2_aggs.append(F.sum(out).alias(out))
        elif comb == "min":
            stage1_aggs.append(F.min(col).alias(out))
            stage2_aggs.append(F.min(out).alias(out))
        elif comb == "max":
            stage1_aggs.append(F.max(col).alias(out))
            stage2_aggs.append(F.max(out).alias(out))
        elif comb == "count":
            stage1_aggs.append(F.count(col).alias(out))
            stage2_aggs.append(F.sum(out).cast("long").alias(out))
        else:
            raise ValueError(f"non-monoidal combiner {comb!r} cannot be salted")
    partial = df.withColumn("_salt", salt_col).groupBy(*key_cols, "_salt").agg(*stage1_aggs)
    return partial.groupBy(*key_cols).agg(*stage2_aggs)


def right_size_for_iteration(df: DataFrame, rows_per_partition: int = 100_000) -> DataFrame:
    """Coalesce over-partitioned frames before iterative ML fits.

    LBFGS-style optimizers run one treeAggregate per iteration; with tiny
    partitions the per-task overhead dominates (measured 4.0s -> 0.6s for a
    15k-row logistic regression when going 32 -> 1 partitions). At real scale
    partitions already hold >> rows_per_partition rows and this is a no-op.
    Triggers a count — call on a persisted frame."""
    import math
    n = df.count()
    target = max(1, math.ceil(n / rows_per_partition))
    if df.rdd.getNumPartitions() > target * 2:
        return df.coalesce(target)
    return df


def counts_below(g: DataFrame, value_col: str, count_col: str,
                 out_col: str = "below", partitions: int | None = None,
                 group_cols: list[str] | None = None) -> DataFrame:
    """Exclusive running count ("rows with value < v") per distinct value —
    the building block of average-rank statistics (Spearman, Mann-Whitney
    AuROC) — computed with RANGE-PARTITIONED parallel windows instead of a
    single-partition global ``Window.orderBy``.

    Plan: range-repartition the (value, count) table; within each range
    partition a window runs in parallel; per-partition totals (one row per
    partition) are collected and turned into additive offsets via a literal
    map. Two extra narrow jobs buy a plan whose only ordering work is
    per-partition — no stage funnels all distinct values through one task,
    so the rank computation survives continuous (all-distinct) scores at
    100 TB. The input is ``cached`` so the sampled range boundaries are
    computed once and shared by the totals job and the output plan; it is
    released by the caller's ``cache_scope`` (held by the session without
    one).

    ``group_cols`` computes an independent ranking per group (e.g. one AuROC
    per data split) in the SAME single pass: range partitioning becomes
    (group..., value) so each group's values stay contiguous, windows
    partition by (partition, group...), and the driver-side offsets
    accumulate per group."""
    from collections import defaultdict

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    sc = g.sparkSession.sparkContext
    groups = list(group_cols or [])
    nparts = partitions or sc.defaultParallelism
    rp = cached(g.repartitionByRange(nparts, *[F.col(c) for c in groups],
                                     F.col(value_col))
                .withColumn("_pid", F.spark_partition_id()))
    totals = rp.groupBy("_pid", *groups).agg(
        F.sum(count_col).alias("_t")).collect()
    offsets, acc = {}, defaultdict(int)
    for r in sorted(totals,
                    key=lambda r: (tuple(str(r[c]) for c in groups), r["_pid"])):
        gk = "\x00".join(str(r[c]) for c in groups)
        offsets[(gk, r["_pid"])] = acc[gk]
        acc[gk] += int(r["_t"])
    if offsets:
        omap = F.create_map(*[
            F.lit(x) for (gk, pid), v in offsets.items()
            for x in ((f"{gk}\x00{pid}" if gk else str(pid)), v)])
        okey = F.concat_ws("\x00",
                           *[F.col(c).cast("string") for c in groups],
                           F.col("_pid").cast("string"))
        off = F.coalesce(omap[okey], F.lit(0))
    else:
        off = F.lit(0)
    w = (Window.partitionBy("_pid", *groups).orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (rp.withColumn(out_col,
                          F.coalesce(F.sum(count_col).over(w), F.lit(0)) + off)
            .drop("_pid"))


def running_total(df: DataFrame, order_cols: list[str], value_col: str,
                  out_col: str = "cum", partitions: int | None = None
                  ) -> DataFrame:
    """INCLUSIVE distributed cumulative sum of ``value_col`` in
    ``order_cols`` order — the scale-correct replacement for a global
    ``Window.orderBy`` cumsum (which funnels every row through ONE task).

    Same shape as ``counts_below``: range-repartition on the order
    columns (partition 0 holds the lowest range), per-partition windows
    run in parallel, per-partition totals (one row each) become additive
    driver-side offsets via a literal map. The order tuple must be
    unique per row (add an id tie-break) so partition boundaries cannot
    split ties. The input is ``cached`` so the sampled range boundaries
    are shared by the totals job and the output plan (released as in
    ``counts_below``)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    sc = df.sparkSession.sparkContext
    nparts = partitions or sc.defaultParallelism
    rp = cached(df.repartitionByRange(nparts, *[F.col(c) for c in order_cols])
                .withColumn("_pid", F.spark_partition_id()))
    totals = rp.groupBy("_pid").agg(
        F.sum(F.col(value_col).cast("long")).alias("_t")).collect()
    offsets, acc = {}, 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += int(r["_t"] or 0)
    if offsets:
        omap = F.create_map(*[F.lit(x) for pid, v in offsets.items()
                              for x in (pid, v)])
        off = F.coalesce(omap[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    w = (Window.partitionBy("_pid")
         .orderBy(*[F.col(c).asc() for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, 0))
    return (rp.withColumn(
        out_col, F.sum(F.col(value_col).cast("long")).over(w) + off)
        .drop("_pid"))


def hot_keys(df: DataFrame, key_cols: list[str], sample_rate: float = 0.01,
             min_estimated_rows: int = 1_000_000, seed: int = 42):
    """Skew report: estimate per-key row counts from a deterministic hash
    sample and return keys whose estimate exceeds the threshold, as plain
    Python rows [{key..., estimated_rows}].

    This is the detection half of the skew playbook (the mitigation half is
    salted_aggregate / AQE skew-join / broadcast): at 100 TB you cannot
    count every key, but a 1% hash sample bounds the scan to ~1 TB and a
    key hot enough to hurt (tens of millions of rows) is unmissable in any
    percent-level sample. The sample is a pure filter on xxhash64 of the
    key columns — no RNG state, layout-independent, and pushed into the
    scan when the source supports it. The collected result is bounded:
    only keys over threshold come back (there can only be total_rows /
    min_estimated_rows of them).
    """
    from pyspark.sql import functions as F

    if not 0.0 < sample_rate <= 1.0:
        raise ValueError(f"sample_rate must be in (0,1], got {sample_rate}")
    mod = 1_000_000
    # hash the WHOLE row, not the key: keying the sample on the key columns
    # would keep 1% of keys with all their rows and inflate every estimate
    # by 1/rate. Exact full-row duplicates sample together — harmless at
    # hot-key magnitudes.
    keep = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed)),
                  F.lit(mod)) < int(sample_rate * mod)
    est = F.round(F.count(F.lit(1)) / F.lit(sample_rate)).cast("long")
    rows = (df.where(keep).groupBy(*key_cols)
            .agg(est.alias("estimated_rows"))
            .where(F.col("estimated_rows") >= min_estimated_rows)
            .orderBy(F.col("estimated_rows").desc(),
                     *[F.col(c).asc() for c in key_cols])
            .collect())
    return [r.asDict() for r in rows]


def plan_audit(df: DataFrame, max_scan_cols: int = 24) -> list[dict]:
    """Lint a DataFrame's physical plan for the anti-patterns that don't
    hurt at test scale but kill a 100 TB run. Returns one finding dict per
    hit: {rule, severity, evidence}. Empty list = the plan shapes this
    engine commits to (the same rules tests/test_plans.py asserts piecemeal).

    Rules:
      * python_udf        — BatchEvalPython/ArrowEvalPython in the plan: a
                            per-row/batch Python round-trip in what should be
                            a codegen pipeline.
      * cartesian         — CartesianProduct / BroadcastNestedLoopJoin: an
                            O(|L|x|R|) join strategy; usually a missing
                            equi-join key or an un-bucketed range join.
      * global_window     — a Window with an empty partition spec: every row
                            shuffles to ONE task regardless of cluster size.
      * global_sort_no_limit — a Sort with global=true not feeding a Limit:
                            a full range-shuffle of the dataset.
      * unpruned_scan     — a parquet scan whose ReadSchema carries >
                            max_scan_cols columns: projection likely not
                            pushed (threshold is advisory; raise it for
                            genuinely wide outputs).
    """
    # ReadSchema/field lists are truncated at spark.sql.maxMetadataStringLength
    # (default 100 chars) — raise it for the audit so column counts are real
    with scoped_conf(df.sparkSession,
                     {"spark.sql.maxMetadataStringLength": "100000"}):
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
    findings: list[dict] = []

    def hit(rule, severity, evidence):
        findings.append({"rule": rule, "severity": severity,
                         "evidence": evidence})

    for node in ("BatchEvalPython", "ArrowEvalPython"):
        if node in plan:
            hit("python_udf", "error", node)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if node in plan:
            hit("cartesian", "error", node)
    # global-window check: inspect the analyzed plan's window specs (the
    # physical Window node doesn't print an unambiguous empty-partition form)
    analyzed = qe.analyzed().toString()
    for line in analyzed.splitlines():
        ls = line.strip()
        if "windowspecdefinition(" in ls:
            inner = ls.split("windowspecdefinition(", 1)[1]
            # partition exprs come before the first ASC/DESC order token;
            # "windowspecdefinition(ordercol ASC NULLS FIRST, ..." with no
            # leading partition columns = empty partition spec
            head = inner.split(",", 1)[0]
            if " ASC" in head or " DESC" in head:
                hit("global_window", "error", ls[:160])
                break
    for line in plan.splitlines():
        ls = line.strip()
        # SortExec prints positionally: "Sort [exprs], <global>, 0"
        core = ls.lstrip("+-: *(0123456789)").strip()
        if core.startswith("Sort [") and "], true," in core \
                and "Limit" not in plan[:plan.find(ls)] \
                and "TakeOrdered" not in plan:
            hit("global_sort_no_limit", "warn", core[:160])
            break
    import re as _re
    for m in _re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        ncols = m.group(1).count(":")
        if ncols > max_scan_cols:
            hit("unpruned_scan", "warn", f"{ncols} columns in ReadSchema")
    return findings


def top_k_by_group(df: DataFrame, group_cols: list[str], item_col: str,
                   k: int = 10, min_count: int = 1) -> DataFrame:
    """Exact top-k most frequent items per group: two-stage count (the
    groupBy gets map-side partial aggregation, so the shuffle carries one
    row per distinct (group, item), not per event) + a per-group window
    over the COUNTED rows. Ties break deterministically by item value.

    The window's sort input is distinct-items-per-group, already reduced;
    for galaxy-scale item cardinality, pre-filter with ``min_count`` (a
    HAVING on the first stage) — every true top-k item passes any
    min_count <= its count, so the result is unchanged while the window
    input shrinks to items seen at least min_count times.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    counts = (df.groupBy(*group_cols, item_col)
              .agg(F.count(F.lit(1)).alias("item_count")))
    if min_count > 1:
        counts = counts.filter(F.col("item_count") >= min_count)
    w = (Window.partitionBy(*group_cols)
         .orderBy(F.col("item_count").desc(), F.col(item_col).asc()))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def distinct_element_transform(df: DataFrame, arr_col: str, fn,
                               id_col: str, out_col: str) -> DataFrame:
    """Apply a HEAVY per-element Column function to every element of an
    array column via TYPE-level dedup: posexplode -> distinct elements
    -> ``fn`` once per distinct element -> join the results back ->
    ordered regroup on ``id_col``. Equal to
    ``withColumn(out_col, F.transform(arr_col, fn))`` by construction
    (law-tested for the stemmer family), but the heavy expression runs
    once per element TYPE instead of once per element INSTANCE — under
    a Zipfian corpus the type/token ratio is the speedup (the economics
    ``wordpiece_tokenize_df`` and the BPE per-batch cache exploit).

    Use when ``fn`` is expensive enough to dominate two narrow shuffles
    (distinct on the element keys + the join back) and elements repeat —
    full Snowball stemming over natural-language tokens is the model
    case (the 12-step chain exceeds whole-stage codegen, so the per-row
    interpreted cost is large). NULL elements pass through as NULL
    outputs (``fn`` is never consulted for them); empty/NULL arrays
    yield empty arrays.

    ``id_col`` must be non-NULL and unique per row — the regroup joins
    back on it, so a NULL id could never equi-join its array and a
    duplicate id would merge arrays across rows. Both are detected at
    evaluation time and raise (the ``lexicon_segment_join`` guard,
    ``operators/segmentation.py``), never silently returning a wrong
    array."""
    ex = df.select(F.col(id_col).alias("_det_id"),
                   F.posexplode(F.col(arr_col)).alias("_pos", "_el"))
    mapped = (ex.select("_el").where(F.col("_el").isNotNull())
              .distinct().withColumn("_val", fn(F.col("_el"))))
    etype = dict(mapped.dtypes)["_val"]
    regrouped = (
        ex.join(mapped, "_el", "left")
        .groupBy("_det_id")
        .agg(F.transform(
            F.array_sort(F.collect_list(
                # collect_list drops NULL structs, not structs with a
                # null field, so null elements keep their position
                F.struct(F.col("_pos").alias("p"),
                         F.col("_val").alias("v")))),
            lambda s: s["v"]).alias(out_col)))
    out = (df.join(regrouped, df[id_col] == regrouped["_det_id"],
                   "left")
           .drop("_det_id")
           .withColumn(out_col,
                       F.coalesce(F.col(out_col),
                                  F.expr(f"array()").cast(
                                      f"array<{etype}>"))))
    # fail loudly instead of silently mis-answering: a NULL id can
    # never equi-join its regrouped array back (out would coalesce to
    # array()); duplicate ids merge arrays across rows, which the
    # size mismatch between the input and the regrouped output exposes
    # (NULL elements keep their positions, so sizes match for valid
    # ids). Both checks are cheap row-local expressions.
    arr = F.col(arr_col)
    guarded = (
        F.when(df[id_col].isNull() & (F.size(arr) > 0),
               F.raise_error(F.lit(
                   f"distinct_element_transform: NULL in id_col "
                   f"{id_col!r} (ids must be unique and non-null)"))
               .cast(f"array<{etype}>"))
        .when(arr.isNotNull() & (F.size(F.col(out_col)) != F.size(arr)),
              F.raise_error(F.lit(
                  f"distinct_element_transform: duplicate values in "
                  f"id_col {id_col!r} merged arrays across rows "
                  f"(ids must be unique and non-null)"))
              .cast(f"array<{etype}>"))
        .otherwise(F.col(out_col)))
    return out.withColumn(out_col, guarded)
