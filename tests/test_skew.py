"""Salted skew path must produce byte-identical results to the plain path."""

from __future__ import annotations

import itertools
import random

import pytest

from liblevenshtein_rust_spark.functions.distance import distance_py
from liblevenshtein_rust_spark.operators.fuzzy_join import (
    build_dictionary,
    fuzzy_self_join,
)
from liblevenshtein_rust_spark.operators.skew import block_size_stats


@pytest.fixture(scope="module")
def skewed_terms(spark):
    # lots of ultra-short strings: at n=2 they all share tiny deletion
    # variants ("", single chars) -> pathological hot blocks, plus some
    # normal words
    shorts = [c1 + c2 for c1 in "abcdef" for c2 in "abcdef"] + list("abcdef")
    words = ["stream", "steam", "table", "tble", "windows", "window"]
    df = spark.createDataFrame([(t,) for t in shorts + words], ["text"])
    return build_dictionary(df).cache()


@pytest.fixture(scope="module")
def hot_segment_terms(spark):
    # one long template with a 3-5 digit account number over the digits
    # 0-3, so many numbers are within 1-2 edits: every term is past
    # SHORT_MAX, so hybrid blocking uses segment keys, and the template's
    # leading segments are index keys shared by every term of a length
    rng = random.Random(5)
    turns = ["please reset the password on my account number "
             + "".join(rng.choice("0123") for _ in range(rng.choice((3, 4, 5))))
             for _ in range(150)]
    df = spark.createDataFrame([(t,) for t in turns], ["text"])
    return build_dictionary(df).cache()


def _pairs(df):
    return {(r.term_a, r.term_b, r.distance) for r in df.collect()}


def _brute_force(terms, n):
    ts = sorted(r.term for r in terms.select("term").collect())
    return {(a, b, d) for a, b in itertools.combinations(ts, 2)
            if (d := distance_py(a, b)) <= n}


def test_salted_equals_unsalted(spark, skewed_terms, hot_segment_terms):
    # deletion keys: hot blocks of ultra-short strings
    plain = _pairs(fuzzy_self_join(skewed_terms, n=2, method="deletion"))
    salted = _pairs(fuzzy_self_join(skewed_terms, n=2, method="deletion",
                                    salt_threshold=5, salt_groups=4))
    assert salted == plain
    assert len(plain) > 100  # the short strings really do interconnect
    # segment keys: hot index segments of templated turns, both results
    # against the brute force (pairs are unordered: compare sorted terms)
    for n in (1, 2):
        want = _brute_force(hot_segment_terms, n)
        for salt in (None, 20):
            got = {(*sorted((a, b)), d) for a, b, d in _pairs(
                fuzzy_self_join(hot_segment_terms, n=n, method="hybrid",
                                salt_threshold=salt, salt_groups=4))}
            assert got == want, (n, salt, len(got), len(want))
        assert len(want) > 100


def test_block_stats_reports_hot_blocks(spark, skewed_terms):
    from liblevenshtein_rust_spark.operators.fuzzy_join import _keys_for

    keys = _keys_for(skewed_terms, "term_id", "term", 2, "standard",
                     "deletion", role="both")
    stats = block_size_stats(keys).collect()[0]
    assert stats.max_block > 5
    assert stats.candidate_pairs_upper > 0
