"""Session state has one owner: library calls leave the caller's session
confs as they found them, scoped conf changes are thread-safe, no
module outside session.py / util.scoped_conf writes a conf or reads the
environment, and no module outside util.cached / cache_scope / snapshot
persists, unpersists or checkpoints a frame. Two more single owners are
linted here: ``union_arms`` for arm tags and ``sources/layout.py`` for
persisted index storage."""
import ast
import os
import threading
import time

import pytest

from transmogrifai_spark.util import scoped_conf

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "transmogrifai_spark")
KEY = "spark.sql.shuffle.partitions"


def test_scoped_conf_threads_take_turns(spark):
    original = spark.conf.get(KEY)
    first_inside = threading.Event()
    reads, order = {}, []

    def work(val, hold):
        with scoped_conf(spark, {KEY: val}):
            order.append(("enter", val))
            first_inside.set()
            time.sleep(hold)  # the other thread must wait, not overwrite
            reads[val] = spark.conf.get(KEY)
            order.append(("exit", val))

    a = threading.Thread(target=work, args=("3", 0.5))
    a.start()
    assert first_inside.wait(30)
    b = threading.Thread(target=work, args=("5", 0.0))
    b.start()
    a.join(30)
    b.join(30)
    assert not a.is_alive() and not b.is_alive()
    assert reads == {"3": "3", "5": "5"}
    assert order == [("enter", "3"), ("exit", "3"),
                     ("enter", "5"), ("exit", "5")]
    assert spark.conf.get(KEY) == original


def test_scoped_conf_stress_no_lost_value(spark):
    """More threads than cores hammer one key with short switch intervals:
    every read inside a scope sees that scope's own value, and the
    session value is back at the end."""
    import sys
    original = spark.conf.get(KEY)
    bad = []

    def work(tid):
        for i in range(10):
            val = str(100 + tid * 10 + i)
            with scoped_conf(spark, {KEY: val}):
                if spark.conf.get(KEY) != val:
                    bad.append((tid, i))

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    assert spark.conf.get(KEY) == original


def test_scoped_conf_restores_unset_nested_and_on_error(spark):
    unset_key = "spark.sql.maxMetadataStringLength"
    assert spark.conf.get(unset_key, None) is None
    original = spark.conf.get(KEY)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {unset_key: "500", KEY: "2"}):
            # re-entrant on the same thread; the inner scope restores the
            # outer scope's value, not the session's
            with scoped_conf(spark, {KEY: "9"}):
                assert spark.conf.get(KEY) == "9"
            assert spark.conf.get(KEY) == "2"
            assert spark.conf.get(unset_key) == "500"
            raise RuntimeError("body failed")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(KEY) == original


@pytest.fixture
def caller(spark):
    """A caller's own session on the shared context, with a non-UTC zone
    and a non-default partition count the engine must not touch."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    s.conf.set(KEY, "7")
    return s


def _caller_confs(s):
    return (s.conf.get("spark.sql.session.timeZone"), s.conf.get(KEY),
            s.conf.get("spark.sql.adaptive.enabled"),
            s.conf.get("spark.sql.maxMetadataStringLength", None))


def test_library_calls_leave_caller_session_confs(caller, sf_dir, tmp_path):
    from transmogrifai_spark.llm.dedup import duplicate_clusters
    from transmogrifai_spark.sources.tables import load_table
    from transmogrifai_spark.streaming.windows import file_stream, run_to_memory
    from transmogrifai_spark.util import plan_audit

    before = _caller_confs(caller)
    assert before[:2] == ("America/Los_Angeles", "7")

    load_table(caller, sf_dir, "events")
    load_table(caller, sf_dir, "orders")
    assert _caller_confs(caller) == before

    src = str(tmp_path / "src")
    caller.createDataFrame([(i % 3, i) for i in range(12)],
                           "k long, v long").write.parquet(src)
    stream = file_stream(caller, src)
    assert _caller_confs(caller) == before
    out = run_to_memory(stream.groupBy("k").count(), "complete",
                        state_partitions=2)
    assert sorted((r["k"], r["count"]) for r in out.collect()) == \
        [(0, 4), (1, 4), (2, 4)]
    assert _caller_confs(caller) == before

    plan_audit(caller.range(10))
    assert _caller_confs(caller) == before

    pairs = caller.createDataFrame([(1, 2), (2, 3), (5, 6)],
                                   "id1 long, id2 long")
    got = {r["doc"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert _caller_confs(caller) == before


STORAGE_CALLS = ("persist", "cache", "unpersist", "checkpoint",
                 "localCheckpoint")


def _conf_write_and_env_read_sites(pkg):
    """(file, line, what) for every ``<x>.conf.set/unset`` call, every
    ``environ``/``getenv`` read and every storage call (``STORAGE_CALLS``)
    under ``pkg``, minus the allowed owners: session.py and
    util.scoped_conf for confs and the environment; util.cached,
    util.cache_scope and util.snapshot for cached storage."""
    hits = []
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            tree = ast.parse(open(path).read(), path)
            conf_owner, storage_owner = set(), set()
            if rel == "util.py":
                for fn in tree.body:
                    if not isinstance(fn, ast.FunctionDef):
                        continue
                    if fn.name == "scoped_conf":
                        conf_owner |= {id(n) for n in ast.walk(fn)}
                    if fn.name in ("cached", "cache_scope", "snapshot"):
                        storage_owner |= {id(n) for n in ast.walk(fn)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in STORAGE_CALLS
                        and id(node) not in storage_owner):
                    hits.append((rel, node.lineno, f".{node.func.attr}"))
                if id(node) in conf_owner:
                    continue
                if (isinstance(node, ast.Attribute)
                        and node.attr in ("set", "unset")
                        and isinstance(node.value, ast.Attribute)
                        and node.value.attr == "conf"
                        and rel != "session.py"):
                    hits.append((rel, node.lineno, f"conf.{node.attr}"))
                if (isinstance(node, ast.Attribute)
                        and node.attr in ("environ", "getenv")
                        or isinstance(node, ast.alias)
                        and node.name in ("environ", "getenv")) \
                        and rel != "session.py":
                    hits.append((rel, getattr(node, "lineno", 0), "environ"))
    return hits


def test_only_session_and_scoped_conf_own_session_state():
    assert _conf_write_and_env_read_sites(PKG) == []


def test_session_state_lint_catches_violations(tmp_path):
    (tmp_path / "util.py").write_text(
        "def scoped_conf(spark, confs):\n"
        "    spark.conf.set('a', 'b')\n"
        "def other(spark):\n"
        "    spark.conf.unset('a')\n"
        "def cached(df):\n"
        "    return df.persist()\n"
        "def snapshot(df):\n"
        "    return df.localCheckpoint(eager=True)\n"
        "def release(df):\n"
        "    df.unpersist()\n")
    (tmp_path / "mod.py").write_text(
        "import os\nfrom os import getenv\n"
        "def f(df):\n"
        "    df.sparkSession.conf.set('a', 'b')\n"
        "    return os.environ.get('X')\n"
        "def g(df):\n"
        "    a = df.persist()\n"
        "    b = df.cache().checkpoint(eager=False)\n"
        "    a.unpersist()\n"
        "    return df.localCheckpoint()\n")
    (tmp_path / "session.py").write_text(
        "import os\nX = os.environ.get('X')\n"
        "def f(spark):\n    spark.conf.set('a', 'b')\n"
        "def g(df):\n    return df.persist()\n")
    assert sorted(_conf_write_and_env_read_sites(str(tmp_path))) == [
        ("mod.py", 2, "environ"), ("mod.py", 4, "conf.set"),
        ("mod.py", 5, "environ"), ("mod.py", 7, ".persist"),
        ("mod.py", 8, ".cache"), ("mod.py", 8, ".checkpoint"),
        ("mod.py", 9, ".unpersist"), ("mod.py", 10, ".localCheckpoint"),
        ("session.py", 6, ".persist"),
        ("util.py", 4, "conf.unset"), ("util.py", 10, ".unpersist")]


def _hand_written_arm_tags(path):
    """Lines of ``path`` that write an arm tag by hand: an
    ``alias(<tag>)`` or ``withColumn(<tag>, ...)`` call, for a tag in
    ``driver_queries.ARM_TAGS``, outside ``union_arms`` (ARCHITECTURE
    rule 9: the arm name is the tag, and only union_arms writes it)."""
    from transmogrifai_spark.driver_queries import ARM_TAGS
    tree = ast.parse(open(path).read(), path)
    owner = set()
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and fn.name == "union_arms":
            owner |= {id(n) for n in ast.walk(fn)}
    return sorted(
        node.lineno for node in ast.walk(tree)
        if isinstance(node, ast.Call) and id(node) not in owner
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("alias", "withColumn")
        and node.args and isinstance(node.args[0], ast.Constant)
        and node.args[0].value in ARM_TAGS)


def test_only_union_arms_writes_arm_tags():
    assert _hand_written_arm_tags(
        os.path.join(PKG, "driver_queries.py")) == []


def test_arm_tag_lint_catches_violations(tmp_path):
    mod = tmp_path / "driver_queries.py"
    mod.write_text(
        "def union_arms(arms, schema, tag='part'):\n"
        "    return [df.select(F.lit(a).alias('part')) for a, df in arms]\n"
        "def q(df):\n"
        "    a = df.select(F.lit('x').alias('part'), F.col('k').alias('key'))\n"
        "    b = df.withColumn('method', F.lit('y'))\n"
        "    return a.unionByName(b.withColumn('set_op', F.lit('z')))\n")
    assert _hand_written_arm_tags(str(mod)) == [4, 5]


def _in_write_chain(node):
    """Whether a method chain below ``node`` passes through ``.write``."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "write":
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def _index_storage_sites(pkg):
    """(file, line, what) outside ``sources/layout.py`` for every
    ``os.replace`` call, every string literal naming
    ``UNABLE_TO_INFER_SCHEMA``, every ``json.load`` call in a module that
    writes through ``write_atomic`` and, under ``llm/``, every
    ``.write…partitionBy(`` chain (ARCHITECTURE rule 10: the atomic
    sidecar write and its read, the bootstrap read and the batch
    directory are layout.py's)."""
    hits = []
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            if rel == os.path.join("sources", "layout.py"):
                continue
            in_llm = rel.startswith("llm" + os.sep)
            tree = ast.parse(open(path).read(), path)
            writes_sidecars = any(
                isinstance(n, ast.Name) and n.id == "write_atomic"
                for n in ast.walk(tree))
            for node in ast.walk(tree):
                if (isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and "UNABLE_TO_INFER_SCHEMA" in node.value):
                    hits.append((rel, node.lineno, "UNABLE_TO_INFER_SCHEMA"))
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)):
                    continue
                f = node.func
                if (f.attr == "replace" and isinstance(f.value, ast.Name)
                        and f.value.id == "os"):
                    hits.append((rel, node.lineno, "os.replace"))
                if (writes_sidecars and f.attr == "load"
                        and isinstance(f.value, ast.Name)
                        and f.value.id == "json"):
                    hits.append((rel, node.lineno, "json.load"))
                if (in_llm and f.attr == "partitionBy"
                        and _in_write_chain(f.value)):
                    hits.append((rel, node.lineno, ".write.partitionBy"))
    return hits


def test_only_layout_owns_index_storage():
    assert _index_storage_sites(PKG) == []


def test_index_storage_lint_catches_violations(tmp_path):
    body = ("import os\n"
            "def commit(p):\n"
            "    os.replace(p + '.tmp', p)\n"
            "def bootstrap(e):\n"
            "    return 'UNABLE_TO_INFER_SCHEMA' in str(e)\n"
            "def append(df, p):\n"
            "    (df.repartition(1)\n"
            "       .write.mode('overwrite').partitionBy('_s').parquet(p))\n"
            "def rank(df):\n"
            "    return Window.partitionBy('k')\n")
    save = ("def save(p, meta):\n"
            "    write_atomic(p, json.dumps(meta))\n")
    load = ("def load(p):\n"
            "    with open(p) as f:\n"
            "        return json.load(f)\n")
    for d in ("sources", "llm"):
        (tmp_path / d).mkdir()
    (tmp_path / "sources" / "layout.py").write_text(body + save + load)
    (tmp_path / "sources" / "sink.py").write_text(body)
    (tmp_path / "sources" / "model.py").write_text(load)
    (tmp_path / "llm" / "index.py").write_text(body + save + load)
    assert sorted(_index_storage_sites(str(tmp_path))) == [
        (os.path.join("llm", "index.py"), 3, "os.replace"),
        (os.path.join("llm", "index.py"), 5, "UNABLE_TO_INFER_SCHEMA"),
        (os.path.join("llm", "index.py"), 7, ".write.partitionBy"),
        (os.path.join("llm", "index.py"), 15, "json.load"),
        (os.path.join("sources", "sink.py"), 3, "os.replace"),
        (os.path.join("sources", "sink.py"), 5, "UNABLE_TO_INFER_SCHEMA")]
