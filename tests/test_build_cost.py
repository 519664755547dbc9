"""Driver cost of building the wide per-row expressions.

Each ``F.*`` call and each Python lambda handed to a higher-order function
is several py4j round-trips, so an expression built node by node costs
driver seconds before any job runs (ARCHITECTURE physical rule 7). These
builders parse their body from one SQL text instead (``util.bind_sql``);
the tests count the py4j commands one build sends and pin each under a
small bound, so a later edit that goes back to node-by-node construction
fails here loudly. Node-by-node counts, for scale: ``plane_bits`` at 32
planes ~5,500, ``wordpiece_tokenize_df`` ~2,800, ``gopher_rules`` ~2,600,
``snowball_stem`` for ru ~56,500.
"""
import contextlib
import threading

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import functions as F


@contextlib.contextmanager
def py4j_commands(spark):
    """Count the commands this thread sends to the JVM inside the block.
    py4j's finalizer thread also sends object-release commands through the
    same client whenever Python collects garbage; those are not building
    work and are not counted."""
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command
    thread = threading.get_ident()

    def counting(command, *args, **kwargs):
        if (threading.get_ident() == thread
                and not command.startswith(MEMORY_COMMAND_NAME)):
            sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        del client.send_command


@pytest.fixture(scope="module")
def vocab():
    pieces = ["[UNK]", "the", "quick", "brown", "fox", "##s", "##ing",
              "jump", "over", "lazy", "dog", "a", "b", "##a", "##b"]
    return {"vocab": {p: i for i, p in enumerate(pieces)}, "unk": "[UNK]",
            "max_piece_len": max(len(p) for p in pieces)}


def test_plane_bits_build_cost(spark):
    from transmogrifai_spark.llm.similarity import plane_bits
    with py4j_commands(spark) as sent:
        bits = plane_bits(F.col("v"), dim=64, num_planes=32)
    assert len(bits) == 32
    assert sent[0] <= 1000, sent[0]


def test_wordpiece_tokenize_df_build_cost(spark, vocab):
    from transmogrifai_spark.llm.tokenizer import wordpiece_tokenize_df
    docs = spark.createDataFrame([(1, "the quick fox jumping")],
                                 "doc_id long, text string")
    with py4j_commands(spark) as sent:
        out = wordpiece_tokenize_df(docs, "text", vocab, "doc_id")
    assert sent[0] <= 800, sent[0]
    assert out.first()["pieces"] == ["the", "quick", "fox", "jump", "##ing"]


def test_gopher_rules_build_cost(spark):
    from transmogrifai_spark.llm.quality_rules import gopher_rules
    with py4j_commands(spark) as sent:
        gopher_rules(F.col("text"))
    assert sent[0] <= 100, sent[0]


def test_snowball_stem_build_cost(spark):
    from transmogrifai_spark.functions.snowball import snowball_stem
    with py4j_commands(spark) as sent:
        stem = snowball_stem(F.col("w"), "ru")
    assert sent[0] <= 600, sent[0]
    words = spark.createDataFrame([("книгами",), ("возможность",)],
                                  "w string")
    assert [r["s"] for r in words.select(stem.alias("s")).collect()] == \
        ["книг", "возможн"]
