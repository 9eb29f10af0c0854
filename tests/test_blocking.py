"""Blocking completeness — THE recall-critical invariant.

Spark analog of the reference's proptest completeness property ("all
dictionary words within max_distance are found",
/root/reference/tests/proptest_levenshtein.rs:111-120): for every pair
within distance n, the two strings must share at least one blocking key.
Tested in pure Python against the same formulas the SQL expressions use
(and a separate test pins SQL == Python for the key generators).
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings, strategies as st

from liblevenshtein_rust_spark.functions.distance import (
    MERGE_AND_SPLIT,
    STANDARD,
    TRANSPOSITION,
    distance_py,
)
from liblevenshtein_rust_spark.functions.blocking_keys import effective_depth


# -- pure-python mirrors of the SQL key formulas ----------------------------

def py_deletion_keys(s: str, depth: int) -> set[str]:
    out = {s}
    frontier = {s}
    for _ in range(depth):
        nxt = set()
        for x in frontier:
            if not x:
                nxt.add("")
                continue
            for i in range(len(x)):
                nxt.add(x[:i] + x[i + 1:])
        out |= nxt
        frontier = nxt
    return out


def _seg_bounds(l: int, k: int) -> list[tuple[int, int]]:
    base, rem = divmod(l, k + 1)
    bounds, start = [], 0
    for i in range(k + 1):
        ln = base + (1 if i < rem else 0)
        bounds.append((start, ln))
        start += ln
    return bounds


def py_segment_keys(s: str, k: int) -> set[str]:
    return {
        f"G|{len(s)}|{i}|{s[st_:st_ + ln]}"
        for i, (st_, ln) in enumerate(_seg_bounds(len(s), k))
    }


def py_probe_keys(s: str, k: int, tol: int) -> set[str]:
    m = len(s)
    out = set()
    for l in range(max(m - tol, 0), m + tol + 1):
        for i, (st_, ln) in enumerate(_seg_bounds(l, k)):
            lo, hi = max(st_ - k, 0), min(st_ + k, m - ln)
            for p in range(lo, hi + 1):
                out.add(f"G|{l}|{i}|{s[p:p + ln]}")
    return out


WORD = st.text(alphabet="abcd", min_size=0, max_size=9)
LONG = st.text(alphabet="ab d", min_size=0, max_size=40)


@settings(max_examples=500, deadline=None)
@given(WORD, WORD)
def test_deletion_blocking_complete_all_variants(a, b):
    for variant in (STANDARD, TRANSPOSITION, MERGE_AND_SPLIT):
        for n in (1, 2):
            if distance_py(a, b, variant) <= n:
                depth = effective_depth(n, variant)
                assert py_deletion_keys(a, depth) & py_deletion_keys(b, depth), (
                    a, b, variant, n)


@settings(max_examples=500, deadline=None)
@given(LONG, LONG)
def test_segment_blocking_complete(a, b):
    # BOTH orientations must hit: the self-join joins one table's probe
    # keys against its own index keys and keeps only _ida < _idb, which is
    # exact only if each pair matches with either string on the probe side
    for variant, kmul in ((STANDARD, 1), (TRANSPOSITION, 2), (MERGE_AND_SPLIT, 2)):
        for n in (1, 2):
            if distance_py(a, b, variant) <= n:
                k = n * kmul
                assert py_segment_keys(a, k) & py_probe_keys(b, k, n), (
                    a, b, variant, n)
                assert py_segment_keys(b, k) & py_probe_keys(a, k, n), (
                    b, a, variant, n)


def test_sql_matches_python_key_formulas(spark):
    """Pin the SQL expressions to the python mirrors used in the property
    tests, over a deliberately tricky set of strings."""
    from liblevenshtein_rust_spark.functions.blocking_keys import (
        deletion_keys_sql, probe_keys_sql, segment_keys_sql)
    import pyspark.sql.functions as F

    strs = ["", "a", "ab", "abc", "abcd", "tests", "café", "日本語のテキスト",
            "the quick brown fox jumps over the lazy dog"]
    df = spark.createDataFrame([(s,) for s in strs], ["t"])
    rows = df.select(
        "t",
        F.expr(deletion_keys_sql("t", 2)).alias("dk"),
        F.expr(segment_keys_sql("t", 2)).alias("sk"),
        F.expr(probe_keys_sql("t", 2, 2)).alias("pk"),
    ).collect()
    for r in rows:
        assert set(r.dk) == py_deletion_keys(r.t, 2), r.t
        assert set(r.sk) == py_segment_keys(r.t, 2), r.t
        assert set(r.pk) == py_probe_keys(r.t, 2, 2), r.t


def test_deletion_keys_bounded_fanout():
    # |keys| <= sum_{i<=n} C(L, i) — the automaton's bounded-state analog
    for s in ("abcdefghij", "aaaaaaaaaa"):
        ks = py_deletion_keys(s, 2)
        assert len(ks) <= 1 + 10 + 45
