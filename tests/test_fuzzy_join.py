"""Fuzzy-join correctness vs brute-force oracle.

Mirrors the reference's query semantics tests
(/root/reference/tests/query_comprehensive_test.rs — the fixed 27-term
dictionary; /root/reference/tests/proptest_levenshtein.rs:63-120 —
soundness + completeness properties). The Spark result must equal the
brute-force cross-join + exact DP at every n and variant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.distance import (
    MERGE_AND_SPLIT,
    STANDARD,
    TRANSPOSITION,
    distance_py,
)
from liblevenshtein_rust_spark.operators.fuzzy_join import (
    build_dictionary,
    fuzzy_join,
    fuzzy_self_join,
    fuzzy_top_k,
)

# /root/reference/tests/query_comprehensive_test.rs:6-13
DICT27 = [
    "a", "ab", "abc", "abcd", "abcde", "b", "bc", "bcd", "bcde", "test",
    "testing", "tested", "tester", "tests", "best", "rest", "nest", "west",
    "quest", "foo", "food", "fool", "football", "bar", "bark", "barn", "barley",
]
QUERIES = ["test", "tset", "quuo", "fool", "barnn", "xyz", "", "abcf"]


def _oracle(queries, terms, n, variant):
    out = set()
    for q in queries:
        for t in terms:
            d = distance_py(q, t, variant)
            if d <= n:
                out.add((q, t, d))
    return out


@pytest.fixture(scope="module")
def dict_df(spark):
    df = spark.createDataFrame([(t,) for t in DICT27], ["text"])
    return build_dictionary(df).cache()


@pytest.fixture(scope="module")
def query_df(spark):
    return spark.createDataFrame(
        [(q, q) for q in QUERIES], ["q_id", "q_text"]).cache()


@pytest.mark.parametrize("variant", [STANDARD, TRANSPOSITION, MERGE_AND_SPLIT])
@pytest.mark.parametrize("n", [0, 1, 2, 3])
def test_fuzzy_join_equals_bruteforce(spark, dict_df, query_df, n, variant):
    got = {
        (r.q_text, r.term, r.distance)
        for r in fuzzy_join(query_df, dict_df, n=n, variant=variant,
                            method="deletion").collect()
    }
    assert got == _oracle(QUERIES, DICT27, n, variant)


@pytest.mark.parametrize("variant", [STANDARD, TRANSPOSITION])
def test_fuzzy_join_segment_method(spark, dict_df, query_df, variant):
    got = {
        (r.q_text, r.term, r.distance)
        for r in fuzzy_join(query_df, dict_df, n=2, variant=variant,
                            method="segment").collect()
    }
    assert got == _oracle(QUERIES, DICT27, 2, variant)


def test_fuzzy_self_join_equals_bruteforce(spark, dict_df):
    got = {
        (min(r.term_a, r.term_b), max(r.term_a, r.term_b), r.distance)
        for r in fuzzy_self_join(dict_df, n=2, method="deletion").collect()
    }
    exp = set()
    for i, a in enumerate(DICT27):
        for b in DICT27[i + 1:]:
            d = distance_py(a, b, STANDARD)
            if d <= 2:
                exp.add((min(a, b), max(a, b), d))
    assert got == exp


def test_hybrid_method_mixed_lengths(spark):
    """Hybrid blocking (deletion keys for short strings, segments for
    long) must be exact across the SHORT_MAX boundary."""
    texts = (
        DICT27
        + ["the quick brown fox jumps over the lazy dog",
           "the quick brown fox jumps over the lazy dig",
           "a medium sized string here x",   # just above SHORT_MAX
           "a medium sized string here",     # crosses the boundary
           "twentyfourcharacters okx",       # == SHORT_MAX
           "twentyfourcharacters ok"]
    )
    d = build_dictionary(spark.createDataFrame([(t,) for t in texts], ["text"]))
    got = {
        (min(r.term_a, r.term_b), max(r.term_a, r.term_b), r.distance)
        for r in fuzzy_self_join(d, n=2, method="hybrid").collect()
    }
    exp = set()
    for i, a in enumerate(texts):
        for b in texts[i + 1:]:
            dd = distance_py(a, b, STANDARD)
            if dd <= 2 and a != b:
                exp.add((min(a, b), max(a, b), dd))
    assert got == exp


def test_large_distance_regression(spark):
    """query_ordered("quuo", 99) over 5 terms returns all 5
    (/root/reference/tests/query_comprehensive_test.rs:100-121)."""
    terms = ["foo", "bar", "baz", "quo", "qux"]
    d = build_dictionary(spark.createDataFrame([(t,) for t in terms], ["text"]))
    q = spark.createDataFrame([("quuo", "quuo")], ["q_id", "q_text"])
    # depth capped at 7 in the reference; deletion blocking at huge n is
    # the full powerset so use segment method for the large-n regression
    got = fuzzy_join(q, d, n=7, method="segment").collect()
    assert {r.term for r in got} == set(terms)


def test_ordered_topk_semantics(spark, dict_df):
    """Ordered query: distance ASC then term ASC; top-k cuts lazily
    (/root/reference/src/transducer/ordered_query.rs:30-34)."""
    q = spark.createDataFrame([("test", "test")], ["q_id", "q_text"])
    m = fuzzy_join(q, dict_df, n=1, method="deletion")
    top = fuzzy_top_k(m, 3).orderBy("rank").collect()
    assert [(r.term, r.distance) for r in top] == [
        ("test", 0), ("best", 1), ("nest", 1)]


def test_spark_builtin_levenshtein_matches_reference_oracle(spark):
    """The JVM fast path (_edit_distance_verify uses levenshtein(a,b,threshold) for
    the standard variant) must agree with the reference DP semantics,
    including Unicode codepoint counting and threshold -1 behavior."""
    import pyspark.sql.functions as F

    cases = [(a, b) for a in ["kitten", "café", "日本", "", "ab", "tests",
                              "the quick brown fox", "algorithm"]
             for b in ["sitting", "cafe", "本日", "¡", "ba", "test",
                       "the quikc brown fox", "altruistic"]]
    df = spark.createDataFrame(cases, ["a", "b"])
    rows = df.select("a", "b", F.expr("levenshtein(a, b)").alias("d"),
                     F.expr("levenshtein(a, b, 2)").alias("d2")).collect()
    for r in rows:
        exp = distance_py(r.a, r.b, STANDARD)
        assert r.d == exp, (r.a, r.b)
        assert r.d2 == (exp if exp <= 2 else -1), (r.a, r.b)


def test_distance_zero_exact_match_only(spark, dict_df):
    q = spark.createDataFrame([("test", "test")], ["q_id", "q_text"])
    got = fuzzy_join(q, dict_df, n=0, method="deletion").collect()
    assert len(got) == 1 and got[0].term == "test" and got[0].distance == 0


UNICODE_DICT = ["test", "tests", "tset", "best", "abcd", "ab", "日本語", "café"]
UNICODE_QUERIES = ["test", "tst", "bst", "abce", "日本", "cafe", "zzz"]


def test_fuzzy_join_unicode_equals_bruteforce(spark):
    """Non-ASCII terms at n=2 under every variant: keys and distances
    are codepoint-level."""
    dict_df = spark.createDataFrame([(t, t) for t in UNICODE_DICT],
                                    ["term_id", "term"])
    qs = spark.createDataFrame([(q, q) for q in UNICODE_QUERIES],
                               ["q_id", "q_text"])
    for variant in [STANDARD, TRANSPOSITION, MERGE_AND_SPLIT]:
        got = {(r.q_text, r.term, r.distance) for r in fuzzy_join(
            qs, dict_df, n=2, variant=variant, method="deletion").collect()}
        exp = _oracle(UNICODE_QUERIES, UNICODE_DICT, 2, variant)
        assert got == exp, variant
        assert ("日本", "日本語", 1) in got and ("cafe", "café", 1) in got


def test_fuzzy_join_substitutions_equals_bruteforce(spark):
    from liblevenshtein_rust_spark.functions.distance import levenshtein_py
    from liblevenshtein_rust_spark.functions.substitutions import SubstitutionSet
    terms, queries = ["phone", "zone", "seat"], ["fone", "zeat"]
    dict_df = spark.createDataFrame([(t, t) for t in terms],
                                    ["term_id", "term"])
    qs = spark.createDataFrame([(q, q) for q in queries], ["q_id", "q_text"])
    subs = SubstitutionSet.of(("f", "p"), ("s", "z"))
    got = {(r.q_text, r.term, r.distance) for r in fuzzy_join(
        qs, dict_df, n=1, method="deletion", substitutions=subs).collect()}
    exp = {(q, t, d) for q in queries for t in terms
           if (d := levenshtein_py(q, t, subs.pairs)) <= 1}
    assert got == exp
    assert ("zeat", "seat", 0) in got and ("fone", "phone", 1) in got


def test_fuzzy_join_nonstring_ids_nulls_and_dtypes(spark):
    """Ids are opaque pass-throughs that keep their input types; rows
    with a NULL id or text never match (equi-join semantics)."""
    dict_df = spark.createDataFrame(
        [(1, "test"), (2, "best"), (3, None), (None, "tst")],
        "term_id long, term string")
    qs = spark.createDataFrame(
        [(10, "tst"), (11, None), (None, "test")], "q_id int, q_text string")
    out = fuzzy_join(qs, dict_df, n=1, method="deletion")
    got = {(r.q_id, r.q_text, r.term_id, r.term, r.distance)
           for r in out.collect()}
    exp = {(10, q, 1, t, d) for q, t, d in
           _oracle(["tst"], ["test", "best"], 1, STANDARD)}
    assert got == exp == {(10, "tst", 1, "test", 1)}
    assert dict(out.dtypes) == {"q_id": "int", "q_text": "string",
                                "term_id": "bigint", "term": "string",
                                "distance": "int"}


def test_fuzzy_join_long_queries_hybrid(spark):
    """Queries past SHORT_MAX take the segment route under hybrid."""
    long_t = "x" * 40
    terms = [long_t, long_t[:-1] + "y", "short"]
    queries = [long_t[:-1], "shrt"]
    dict_df = spark.createDataFrame(
        list(zip(["a", "b", "c"], terms)), ["term_id", "term"])
    qs = spark.createDataFrame(list(zip(["q1", "q2"], queries)),
                               ["q_id", "q_text"])
    got = {(r.q_text, r.term, r.distance) for r in fuzzy_join(
        qs, dict_df, n=1, method="hybrid").collect()}
    exp = _oracle(queries, terms, 1, STANDARD)
    assert got == exp and len(exp) == 3


def test_fuzzy_join_duplicate_ids_one_row_per_input_row(spark):
    """A repeated id is scored row by row with its own text: the true
    pair is found in every row order and partitioning, and identical
    duplicate rows give one output row each, as a SQL join does."""
    from itertools import permutations

    def frame(rows, parts, schema):
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, parts), schema)

    terms = [("a", "hello"), ("a", "zzzzz"), ("b", "hallo")]
    for order in list(permutations(terms))[:4]:
        for parts in (1, 2, 3, 8):
            got = [tuple(r) for r in fuzzy_self_join(
                frame(order, parts, "term_id string, term string"),
                n=1, method="deletion").collect()]
            assert got == [("a", "hello", "b", "hallo", 1)], (order, parts)

    dict_df = spark.createDataFrame([("t1", "test")], ["term_id", "term"])
    for order in ([("q", "tst"), ("q", "zzzz")], [("q", "zzzz"), ("q", "tst")]):
        for parts in (1, 2, 3):
            got = [tuple(r) for r in fuzzy_join(
                frame(order, parts, "q_id string, q_text string"), dict_df,
                n=1, method="deletion").collect()]
            assert got == [("q", "tst", "t1", "test", 1)], (order, parts)

    qs = spark.createDataFrame(
        [("q1", "tst"), ("q1", "tst")], ["q_id", "q_text"])
    got = [tuple(r) for r in
           fuzzy_join(qs, dict_df, n=1, method="deletion").collect()]
    assert got == [("q1", "tst", "t1", "test", 1)] * 2


def test_persist_inputs_released_by_unpersist_inputs(spark):
    """Every persist=True join attaches what it cached to its result, so
    unpersist_inputs leaves none of it cached."""
    from pyspark import StorageLevel

    from liblevenshtein_rust_spark.operators.dedup import unpersist_inputs
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        weighted_fuzzy_join)

    def frames():
        return (spark.createDataFrame([("q1", "tst")], ["q_id", "q_text"]),
                spark.createDataFrame([("t1", "test"), ("t2", "best")],
                                      ["term_id", "term"]))

    def cached(df):
        return df.is_cached or df.storageLevel != StorageLevel.NONE

    for join in (fuzzy_join, weighted_fuzzy_join):
        qs, ds = frames()
        kw = {"n": 1} if join is fuzzy_join else {"max_cost": 1.0}
        out = join(qs, ds, persist=True, **kw)
        assert cached(qs) and cached(ds), join.__name__
        assert {r.term for r in out.collect()} == {"test"}
        unpersist_inputs(out)
        assert not cached(qs) and not cached(ds), join.__name__
    _, ds = frames()
    out = fuzzy_self_join(ds, n=1, persist=True)
    assert len(out.collect()) == 1
    held = out._lls_persisted_inputs
    assert ds in held and all(cached(df) for df in held)
    unpersist_inputs(out)
    assert not any(cached(df) for df in held)


def test_union_replace_last_wins(spark):
    """union_replace: other's value replaces base's on key conflict, no
    merge (/root/reference/src/dictionary/mod.rs:443-461)."""
    from liblevenshtein_rust_spark.operators.fuzzy_join import union_replace
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], ["term", "freq"])
    other = spark.createDataFrame([("b", 20), ("d", 40)], ["term", "freq"])
    got = {(r.term, r.freq) for r in union_replace(base, other).collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3), ("d", 40)}
    # empty other is the identity; empty base yields other
    empty = other.where("false")
    assert {tuple(r) for r in union_replace(base, empty).collect()} == \
        {("a", 1), ("b", 2), ("c", 3)}
    assert {tuple(r) for r in union_replace(empty, other).collect()} == \
        {("b", 20), ("d", 40)}
