"""Incremental streaming upsert + corpus tooling tests."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.sources.corpus import (
    load_wordlist,
    mitton_corpus_df,
    parse_mitton,
    recall_at_d,
)
from liblevenshtein_rust_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from liblevenshtein_rust_spark.streaming.incremental import run_incremental_stream


def _turns_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                    "tool", "ts"]),
        schema=TRANSCRIPT_SCHEMA)


def test_incremental_stream_links_across_batches(spark, tmp_path):
    inp = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(inp)
    ts = pd.Timestamp(1700000000, unit="s")

    b1 = _turns_df(spark, [
        ("c1", 0, "user", "please restart the ingest service", None, ts),
        ("c1", 1, "assistant", "the cache hit rate dropped", None, ts),
    ])
    b1.write.mode("append").parquet(inp)
    run_incremental_stream(spark, inp, state, n=2)
    terms1 = spark.read.parquet(os.path.join(state, "terms"))
    assert terms1.count() == 2
    pairs1 = spark.read.parquet(os.path.join(state, "pairs"))
    assert pairs1.count() == 0

    # batch 2: near-duplicate of a batch-1 turn (1 deletion + 1 sub)
    b2 = _turns_df(spark, [
        ("c2", 0, "user", "please restart the ingst service", None, ts),
        ("c2", 1, "user", "a totally different utterance", None, ts),
    ])
    b2.write.mode("append").parquet(inp)
    run_incremental_stream(spark, inp, state, n=2)

    terms2 = spark.read.parquet(os.path.join(state, "terms"))
    assert terms2.count() == 4
    pairs2 = spark.read.parquet(os.path.join(state, "pairs")).collect()
    assert len(pairs2) == 1 and pairs2[0].distance == 1
    clusters = spark.read.parquet(os.path.join(state, "clusters"))
    # 4 terms, one linked pair -> 3 entities
    assert clusters.select("entity_id").distinct().count() == 3

    # idempotent replay: nothing new to process, state unchanged
    run_incremental_stream(spark, inp, state, n=2)
    assert spark.read.parquet(os.path.join(state, "pairs")).count() == 1
    assert spark.read.parquet(os.path.join(state, "terms")).count() == 4


def test_incremental_fold_equals_pipeline_over_union(spark, tmp_path):
    """Three batches folded by incremental_upsert leave the pairs and
    clusters run_pipeline derives from the union of the batches. Empty
    and whitespace-only turns canonicalize to the "" term, as in the
    pipeline, and pair with the turns of at most n characters."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from liblevenshtein_rust_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)
    from liblevenshtein_rust_spark.streaming.incremental import (
        incremental_upsert)

    ts = pd.Timestamp(1700000000, unit="s")
    texts = [["please restart the ingest service", "", "ok"],
             ["please restart the ingst service", "   ",
              "the cache hit rate dropped"],
             ["o", "the cache hit rate droped", "a different utterance"]]
    batches = [_turns_df(spark, [(f"c{b}", i, "user", t, None, ts)
                                 for i, t in enumerate(turns)])
               for b, turns in enumerate(texts)]
    state = str(tmp_path / "state")
    for batch in batches:
        incremental_upsert(batch, state, n=2)
    res = run_pipeline(spark, reduce(DataFrame.unionByName, batches),
                       PipelineConfig(checkpoint_dir=str(tmp_path / "ck"),
                                      n=2))

    def rows(df, *cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    pairs = rows(res["scored_pairs"], "id_a", "id_b", "distance")
    assert len(pairs) == 5, pairs   # 3 among {"", "o", "ok"}, 2 typos
    assert rows(spark.read.parquet(os.path.join(state, "pairs")),
                "id_a", "id_b", "distance") == pairs
    assert rows(spark.read.parquet(os.path.join(state, "clusters")),
                "term_id", "entity_id") == \
        rows(res["clusters"], "term_id", "entity_id")


MITTON = """
$because
becasue 3
becuase 2
$received
recieved 10
$separate
seperate
""".strip().splitlines()


def test_parse_mitton_format():
    rows = parse_mitton(MITTON)
    assert ("because", "becasue", 3) in rows
    assert ("received", "recieved", 10) in rows
    assert ("separate", "seperate", 1) in rows
    assert len(rows) == 4


def test_recall_at_d(spark):
    corpus = mitton_corpus_df(spark, MITTON)
    words = ["because", "received", "separate", "unrelated"]
    dictionary = spark.createDataFrame([(w,) for w in words], ["term"]) \
        .select(F.md5(F.encode("term", "UTF-8")).alias("term_id"), "term")
    stats = {r.d: r for r in recall_at_d(corpus, dictionary, 2).collect()}
    # all four misspellings are within d<=2 of their correct word
    assert stats[2].found == 4 and stats[2].recall_milli == 1000
    assert stats[0].found == 0


def test_load_wordlist(spark, tmp_path):
    p = tmp_path / "words.txt"
    p.write_text("alpha\nbeta\n\ngamma\nalpha\n")
    df = load_wordlist(spark, str(p))
    assert {r.term for r in df.collect()} == {"alpha", "beta", "gamma"}


def test_load_bigtxt_frequencies(spark, tmp_path):
    """BigTxtCorpus semantics (corpus/parser.rs:37): one token per line,
    trim + lowercase, duplicate lines accumulate frequency."""
    from liblevenshtein_rust_spark.sources.corpus import load_bigtxt

    p = tmp_path / "big.txt"
    p.write_text("the\nThe \nTHE\nquick\n\n  fox\nquick\n")
    got = {r.term: r.freq for r in load_bigtxt(spark, str(p)).collect()}
    assert got == {"the": 3, "quick": 2, "fox": 1}
    # unique_words / total_tokens derivations
    assert len(got) == 3 and sum(got.values()) == 6


def test_word_frequencies_running_text(spark):
    from liblevenshtein_rust_spark.sources.corpus import word_frequencies

    df = spark.createDataFrame(
        [("The fox, the FOX; 42 foxes!",)], ["text"])
    got = {r.term: r.freq for r in word_frequencies(df).collect()}
    assert got == {"the": 2, "fox": 2, "foxes": 1}


def test_recall_at_d_duplicate_term_texts(spark):
    # same term text under two term_ids must not inflate found/total
    from liblevenshtein_rust_spark.sources.corpus import (
        mitton_corpus_df, recall_at_d)
    corpus = mitton_corpus_df(spark, ["$table", "tble 1", "$zzz", "zzq 1"])
    dictionary = spark.createDataFrame(
        [("id1", "table"), ("id2", "table"), ("id3", "chair")],
        ["term_id", "term"])
    rows = {r["d"]: r for r in recall_at_d(corpus, dictionary, 1).collect()}
    assert rows[1]["total"] == 2 and rows[1]["found"] == 1
    assert rows[1]["recall_milli"] == 500
