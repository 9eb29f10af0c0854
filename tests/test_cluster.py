"""Connected-components correctness vs a union-find oracle."""

from __future__ import annotations

import numpy as np
import pytest

from liblevenshtein_rust_spark.operators.cluster import connected_components


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _oracle(edges, nodes):
    uf = _UF()
    for n in nodes:
        uf.find(n)
    for a, b in edges:
        if a is not None and b is not None:
            uf.union(a, b)
    # min-id per component
    comp = {}
    for n in nodes:
        comp.setdefault(uf.find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def _thresholds(edges):
    """small_graph_threshold values covering every physical path: the
    driver union-find (a roomy bound, and exactly the edge-row count),
    the star rounds after a collect that came back one row over the bound
    (edge rows - 1), and the star rounds with no collect at all (0)."""
    n = sum(1 for a, b in edges
            if a is not None and b is not None and a != b)
    return [t for t in dict.fromkeys((500_000, n, n - 1, 0)) if t >= 0]


def _run(spark, edges, nodes):
    """Every physical path must agree with the oracle: the driver
    union-find, the star rounds entered after an over-bound collect, and
    the star rounds pinned by small_graph_threshold=0."""
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    ndf = spark.createDataFrame([(n,) for n in nodes], ["term_id"])
    exp = _oracle(edges, nodes)
    for thr in _thresholds(edges):
        got = {
            r.term_id: r.entity_id
            for r in connected_components(
                edf, ndf, small_graph_threshold=thr).collect()
        }
        assert got == exp, f"threshold={thr}"


def test_cc_simple_chain(spark):
    _run(spark, [("a", "b"), ("b", "c"), ("d", "e")], list("abcdefg"))


def test_star_rounds_raise_when_budget_runs_out(spark):
    """A 64-node chain needs several star rounds: with a budget of one,
    the star path raises instead of returning a split labeling."""
    import pytest

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(63)],
        "id_a string, id_b string")
    with pytest.raises(ValueError, match="max_iterations=1"):
        connected_components(edges, small_graph_threshold=0,
                             max_iterations=1).collect()


def test_cc_empty_edges(spark):
    _run(spark, [], list("abc"))


def test_cc_star_and_cycle(spark):
    edges = [("h", "a"), ("h", "b"), ("h", "c"), ("x", "y"), ("y", "z"), ("z", "x")]
    _run(spark, edges, list("abchxyz"))


def test_cc_random_graphs(spark):
    rng = np.random.default_rng(7)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = []
    for _ in range(150):
        a, b = (str(x) for x in rng.choice(nodes, 2, replace=False))
        edges.append((min(a, b), max(a, b)))
    _run(spark, edges, nodes)


def test_cc_giant_near_clique(spark):
    """Templated-transcript hazard: one big dense component + satellites
    (SURVEY.md §7.5 risk register)."""
    nodes = [f"c{i:02d}" for i in range(40)] + ["s1", "s2"]
    edges = [(f"c{i:02d}", f"c{j:02d}") for i in range(40) for j in range(i + 1, 40)
             if (i + j) % 3 != 0]
    edges += [("s1", "s2")]
    _run(spark, edges, nodes)


def _run_incremental(spark, old_edges, old_nodes, new_edges, fresh_nodes=()):
    """incremental_components must equal full CC over the union graph."""
    from liblevenshtein_rust_spark.operators.cluster import (
        incremental_components)
    edf = spark.createDataFrame(old_edges or [("x", "x")], ["id_a", "id_b"])
    if not old_edges:
        edf = edf.limit(0)
    ndf = spark.createDataFrame([(n,) for n in old_nodes], ["term_id"])
    old = connected_components(edf, ndf)
    nedf = spark.createDataFrame(new_edges or [("x", "x")], ["id_a", "id_b"])
    if not new_edges:
        nedf = nedf.limit(0)
    fresh = (spark.createDataFrame([(n,) for n in fresh_nodes], ["term_id"])
             if fresh_nodes else None)
    got_df = incremental_components(old, nedf, new_nodes=fresh)
    got = {r.term_id: r.entity_id for r in got_df.collect()}
    all_nodes = list(old_nodes) + list(fresh_nodes)
    assert got == _oracle(list(old_edges) + list(new_edges), all_nodes)
    # idempotence: reapplying the same batch to the updated state is a no-op
    again = incremental_components(got_df, nedf, new_nodes=fresh)
    assert {r.term_id: r.entity_id for r in again.collect()} == got


def test_incremental_merges_two_components(spark):
    _run_incremental(
        spark,
        [("a", "b"), ("c", "d"), ("e", "f")],
        ["a", "b", "c", "d", "e", "f", "z"],
        [("b", "c")])


def test_incremental_fresh_nodes_and_singletons(spark):
    _run_incremental(
        spark,
        [("a", "b")],
        ["a", "b", "q"],
        [("n1", "n2"), ("n2", "a")],
        fresh_nodes=["n1", "n2", "n3"])


def test_incremental_empty_batch(spark):
    _run_incremental(spark, [("a", "b"), ("c", "d")],
                     ["a", "b", "c", "d"], [])


def test_incremental_random_graphs(spark):
    rng = np.random.default_rng(7)
    nodes = [f"n{i:03d}" for i in range(80)]
    all_edges = [tuple(sorted((f"n{a:03d}", f"n{b:03d}")))
                 for a, b in rng.integers(0, 80, size=(120, 2)) if a != b]
    cut = len(all_edges) * 2 // 3
    _run_incremental(spark, all_edges[:cut], nodes, all_edges[cut:])


def test_incremental_delta_is_touched_only(spark):
    from liblevenshtein_rust_spark.operators.cluster import (
        incremental_components)
    old = connected_components(
        spark.createDataFrame([("a", "b"), ("c", "d")], ["id_a", "id_b"]),
        spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("z",)],
                              ["term_id"]))
    newp = spark.createDataFrame([("b", "n1")], ["id_a", "id_b"])
    fresh = spark.createDataFrame([("n1",), ("n2",)], ["term_id"])
    d = {r.term_id: r.entity_id
         for r in incremental_components(old, newp, new_nodes=fresh,
                                         delta=True).collect()}
    # only the a-b component (touched via b), the fresh nodes — NOT c/d/z
    assert d == {"a": "a", "b": "a", "n1": "a", "n2": "n2"}


def _surv_oracle(edges, nodes):
    comp_of = _oracle(edges, nodes)
    sizes = {}
    for _, ent in comp_of.items():
        sizes[ent] = sizes.get(ent, 0) + 1
    return {ent: sz - 1 for ent, sz in sizes.items()}


def _run_survivors(spark, edges, nodes):
    """component_survivor_counts must match the union-find oracle's
    (survivor = min member, n_removed = size - 1) on every physical path
    (driver labeling, and distributed clusters-then-aggregate entered
    with or without the bounded collect)."""
    from liblevenshtein_rust_spark.operators.cluster import (
        component_survivor_counts)
    edf = spark.createDataFrame(edges, "id_a string, id_b string")
    ndf = spark.createDataFrame([(n,) for n in nodes], ["term_id"])
    exp = _surv_oracle(edges, nodes)
    for thr in _thresholds(edges):
        got = {
            r.term_id: r.n_removed
            for r in component_survivor_counts(
                edf, ndf, node_col="term_id",
                small_graph_threshold=thr).collect()
        }
        assert got == exp, f"threshold={thr}"


def test_survivor_counts_chain_and_singletons(spark):
    # a 5-chain (diameter 4 exercises multiple label-propagation sweeps
    # in the vectorized fast path), one pair, two singletons
    nodes = [f"n{i}" for i in range(9)]
    edges = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4"),
             ("n5", "n6")]
    _run_survivors(spark, edges, nodes)


def test_survivor_counts_random_graphs(spark):
    rng = np.random.default_rng(13)
    nodes = [f"m{i:03d}" for i in range(150)]
    edges = []
    for _ in range(120):
        a, b = (str(x) for x in rng.choice(nodes, 2, replace=False))
        edges.append((min(a, b), max(a, b)))
    _run_survivors(spark, edges, nodes)


def test_survivor_counts_empty_edges(spark):
    _run_survivors(spark, [], ["a", "b", "c"])


def test_hostile_edges_match_oracle(spark):
    """Edge rows as a foreign pair table may carry them: repeated rows,
    both orientations of a pair, self-loops and NULL endpoints. The
    driver path labels the raw rows, so every threshold must still equal
    the oracle, which skips the NULL-endpoint rows."""
    edges = [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
             ("c", "c"), ("d", "d"), ("e", None), (None, "f"), (None, None),
             ("g", "h"), ("h", "g"), ("g", "h"), ("i", "i"), ("j", "k")]
    nodes = list("abcdefghijkz")
    _run(spark, edges, nodes)
    _run_survivors(spark, edges, nodes)


def test_pair_lineage_runs_once(spark):
    """The bounded collect reads the checkpointed edge table, so the pair
    lineage (typically a fuzzy join) is computed exactly once whichever
    path labels the graph — including the star rounds entered after a
    collect that came back over the bound."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    rng = np.random.default_rng(5)
    nodes = [f"p{i:02d}" for i in range(40)]
    edges = [tuple(str(x) for x in rng.choice(nodes, 2, replace=False))
             for _ in range(30)]
    exp = _oracle(edges, nodes)
    ndf = spark.createDataFrame([(n,) for n in nodes], ["term_id"])
    for thr in (2_000_000, len(edges) - 1, 0):
        acc = spark.sparkContext.accumulator(0)

        def seen(x):
            acc.add(1)
            return x

        tap = F.udf(seen, StringType()).asNondeterministic()
        pairs = (spark.createDataFrame(edges, ["id_a", "id_b"])
                 .select(tap("id_a").alias("id_a"), "id_b"))
        got = {r.term_id: r.entity_id for r in connected_components(
            pairs, ndf, small_graph_threshold=thr).collect()}
        assert got == exp, f"threshold={thr}"
        assert acc.value == len(edges), f"threshold={thr}"


def test_uf_label_pandas_long_chain():
    """Pure-pandas check that min-label propagation + pointer jumping
    reaches the fixpoint on a high-diameter path graph (the worst case
    for sweep count) and labels every node with the component minimum."""
    import pandas as pd
    from liblevenshtein_rust_spark.operators.cluster import _uf_label_pandas
    n = 500
    # path 0-1-2-...-499 shuffled, plus an isolated pair
    pdf = pd.DataFrame({"u": [f"x{i:04d}" for i in range(n - 1)] + ["z1"],
                        "v": [f"x{i + 1:04d}" for i in range(n - 1)] + ["z0"]})
    pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    out = _uf_label_pandas(pdf, "node")
    lab = dict(zip(out["node"], out["entity_id"]))
    assert all(lab[f"x{i:04d}"] == "x0000" for i in range(n))
    assert lab["z0"] == "z0" and lab["z1"] == "z0"


def test_uf_label_pandas_property_vs_dict_oracle():
    """Hypothesis: on arbitrary random graphs (mixed int-coded string ids,
    self-loop-free), the vectorized labeler equals the dict union-find
    oracle node-for-node."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st
    from liblevenshtein_rust_spark.operators.cluster import _uf_label_pandas

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)).filter(
            lambda p: p[0] != p[1]),
        min_size=1, max_size=200))
    def run(raw_edges):
        edges = [(f"v{min(a, b):02d}", f"v{max(a, b):02d}")
                 for a, b in raw_edges]
        nodes = sorted({x for e in edges for x in e})
        exp = _oracle(edges, nodes)
        pdf = pd.DataFrame({"u": [e[0] for e in edges],
                            "v": [e[1] for e in edges]})
        out = _uf_label_pandas(pdf, "node")
        got = dict(zip(out["node"], out["entity_id"]))
        assert got == exp

    run()


# ---------------------------------------------------------------------------
# cluster_cohesion (over-merge audit)
# ---------------------------------------------------------------------------

def _cohesion(spark, edges, nodes, **kw):
    from liblevenshtein_rust_spark.operators.cluster import (
        cluster_cohesion, connected_components)
    edf = spark.createDataFrame(edges or [("x", "x", 0)],
                                ["term_a", "term_b", "distance"])
    if not edges:
        edf = edf.limit(0)
    ndf = spark.createDataFrame([(n,) for n in nodes], ["term"])
    cl = connected_components(edf, ndf, src="term_a", dst="term_b",
                              node_col="term")
    out = cluster_cohesion(cl, edf, weight_col="distance", **kw)
    return {r.entity_id: r.asDict() for r in out.collect()}


def test_cohesion_chain_triangle_singleton(spark):
    # chain a-b-c-d (3 edges, 4 nodes -> density 3/6 = 500),
    # triangle p-q-r (density 1000), singleton z
    edges = [("a", "b", 1), ("b", "c", 1), ("c", "d", 2),
             ("p", "q", 1), ("q", "r", 1), ("p", "r", 1)]
    got = _cohesion(spark, edges, ["a", "b", "c", "d", "p", "q", "r", "z"])
    assert got["a"] == {"entity_id": "a", "n_nodes": 4, "n_edges": 3,
                        "density_milli": 500, "max_weight": 2,
                        "sparse_flag": 0}
    assert got["p"] == {"entity_id": "p", "n_nodes": 3, "n_edges": 3,
                        "density_milli": 1000, "max_weight": 1,
                        "sparse_flag": 0}
    assert got["z"] == {"entity_id": "z", "n_nodes": 1, "n_edges": 0,
                        "density_milli": 1000, "max_weight": None,
                        "sparse_flag": 0}


def test_cohesion_sparse_flag_long_chain(spark):
    # 5-node chain: 2000*4/(5*4) = 400
    edges = [(f"n{i}", f"n{i+1}", 1) for i in range(4)]
    got = _cohesion(spark, edges, [f"n{i}" for i in range(5)])
    (row,) = got.values()
    assert row["density_milli"] == 400
    assert row["sparse_flag"] == 1


def test_cohesion_edge_order_normalized(spark):
    # endpoints given in either order count once and identically
    got_fwd = _cohesion(spark, [("a", "b", 1)], ["a", "b"])
    got_rev = _cohesion(spark, [("b", "a", 1)], ["a", "b"])
    assert got_fwd == got_rev
    assert got_fwd["a"]["n_edges"] == 1


def test_cohesion_random_graphs_vs_pandas(spark):
    import itertools
    rng = np.random.default_rng(7)
    nodes = [f"t{i:02d}" for i in range(30)]
    all_pairs = list(itertools.combinations(nodes, 2))
    idx = rng.choice(len(all_pairs), size=40, replace=False)
    edges = [(all_pairs[i][0], all_pairs[i][1], int(rng.integers(1, 4)))
             for i in idx]
    got = _cohesion(spark, edges, nodes)
    # oracle: union-find + dict aggregation
    comp = _oracle([(a, b) for a, b, _ in edges], nodes)
    import collections
    n_nodes = collections.Counter(comp.values())
    n_edges = collections.Counter()
    max_w = {}
    for a, b, w in edges:
        e = comp[a]
        assert comp[b] == e
        n_edges[e] += 1
        max_w[e] = max(max_w.get(e, 0), w)
    assert set(got) == set(n_nodes)
    for e, row in got.items():
        assert row["n_nodes"] == n_nodes[e]
        assert row["n_edges"] == n_edges.get(e, 0)
        assert row["max_weight"] == max_w.get(e)
        nn = n_nodes[e]
        exp_d = 1000 if nn <= 1 else (2000 * n_edges.get(e, 0)) // (nn * (nn - 1))
        assert row["density_milli"] == exp_d


def test_cohesion_duplicate_orientations_count_once(spark):
    """Foreign pair tables carrying both orientations and repeated rows
    must not inflate n_edges / density (ADVICE r4: the contract used to
    live only in the docstring)."""
    from liblevenshtein_rust_spark.operators.cluster import cluster_cohesion
    cl = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], ["term", "entity_id"])
    pairs = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1),          # both orientations
         ("b", "c", 2), ("b", "c", 3)],         # repeated, weights differ
        ["term_a", "term_b", "distance"])
    (row,) = cluster_cohesion(cl, pairs, weight_col="distance").collect()
    assert row.n_edges == 2                      # not 4
    # 2000*2/(3*2) = 666; duplicates kept the conservative (max) weight
    assert row.density_milli == 666
    assert row.max_weight == 3


def test_cohesion_giant_cluster_no_int32_overflow(spark):
    """ADVICE r4 (medium): n_nodes*(n_nodes-1) in int32 raises
    ARITHMETIC_OVERFLOW under ANSI mode past 46,341 nodes — exactly the
    over-merged giants the audit exists to flag. The arithmetic is now
    int64; a 50k-node near-empty cluster must audit cleanly."""
    from pyspark.sql import functions as F
    from liblevenshtein_rust_spark.operators.cluster import cluster_cohesion
    n = 50_000
    cl = (spark.range(n)
          .select(F.col("id").alias("term"),
                  F.lit(0).cast("long").alias("entity_id")))
    pairs = spark.createDataFrame([(0, 1), (1, 2)], ["term_a", "term_b"])
    (row,) = cluster_cohesion(cl, pairs).collect()
    assert row.n_nodes == n
    assert row.n_edges == 2
    assert row.density_milli == 0          # floor(4000 / 2,499,950,000)
    assert row.sparse_flag == 1
