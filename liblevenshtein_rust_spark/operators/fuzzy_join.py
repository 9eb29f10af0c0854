"""Blocked fuzzy (edit-distance) joins — the engine's central operator.

Re-expresses the reference's automaton-intersection query
(``Transducer::query(term, n)``, /root/reference/src/transducer/mod.rs:360-369
— semantically a similarity join with predicate d(a,b) <= n) as:

    explode blocking keys  ->  equi-join on key hash  ->  dedupe pairs
      ->  attach texts  ->  vectorized banded-DP verify  ->  filter d <= n

Every edit-distance join here (A×B, self, weighted-cost, prefix), and
the MinHash, SimHash and cosine LSH joins (dedup.py, similarity.py), runs
through ONE private core, ``_blocked_join``: persist, the probe × index
key join, the one-exchange rule for a self-join over one key table, the
pair dedupe and the payload attach happen there only. An entry point
supplies just its (probe, index) key tables, its payload table, its
verify kernel and its output column names; the salted key join (skew.py)
plugs into the core. A self-join is the same shape applied to one table:
the reference's query automaton run against its own dictionary.

Never a cartesian product: blocking keys prune exactly like the automaton
prunes dictionary subtrees. Scale notes:

- Keys are xxhash64-hashed: the key-explode shuffle carries (id, int64)
  pairs, never text, regardless of turn length.
- Candidate pairs are (id_a, id_b) only; texts are attached by joining the
  (much smaller, distinct-term) dictionary back in. Dictionary distinctness
  also kills the classic transcript skew source — a million "ok" turns are
  ONE dictionary term.
- The self-join's _ida < _idb filter + dropDuplicates mirrors the
  reference's SymmetricPair memo key (/root/reference/src/distance/mod.rs:37-57).
- AQE skew-join splitting + runtime bloom filters are enabled by the
  session factory; blocking joins are plain shuffled equi-joins that AQE
  can re-plan.
"""

from __future__ import annotations

import math
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from liblevenshtein_rust_spark.functions.blocking_keys import (
    deletion_keys_sql,
    effective_depth,
    hash_keys_sql,
    probe_keys_sql,
    segment_keys_sql,
)
from liblevenshtein_rust_spark.functions.canonicalize import canon_text, term_id
from liblevenshtein_rust_spark.functions.distance import (
    STANDARD,
    TRANSPOSITION,
    make_distance_udf,
    make_prefix_distance_udf,
)
from liblevenshtein_rust_spark.operators.skew import salted_key_join
from liblevenshtein_rust_spark.session import distinct_lengths

#: strings at or below this length use deletion-neighborhood blocking
#: (narrower fan-out); longer strings use PassJoin segment blocking.
SHORT_MAX = 24


def build_dictionary(df: DataFrame, text_col: str = "text",
                     canonicalize: bool = True) -> DataFrame:
    """Distinct-term dictionary: (term_id, term, freq).

    The Spark analog of ``DoubleArrayTrie::from_terms``
    (/root/reference/src/dictionary/double_array_trie.rs:807): the
    "dictionary" is a DataFrame of distinct canonical texts; freq is the
    MappedDictionary-style value column.
    """
    c = canon_text(text_col) if canonicalize else F.col(text_col)
    return (
        df.select(c.alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(term_id("term").alias("term_id"), "term", "freq")
    )


def union_replace(base: DataFrame, other: DataFrame,
                  key: str = "term") -> DataFrame:
    """Dictionary union with REPLACE semantics: every row of ``other``
    plus the rows of ``base`` whose key is absent from ``other`` — the
    other side's value wins outright on conflict, no merge function.

    The replace-semantics sibling of union_with
    (/root/reference/src/dictionary/mod.rs:443-461; union_with's Spark
    mapping is unionByName + groupBy(key).agg(merge), SURVEY §2.6).
    Inputs are term-keyed dictionaries (distinct key per side — the
    Dictionary contract); one anti-join on the key, broadcastable when
    ``other`` is a small delta, AQE re-plans it at runtime.
    """
    return base.join(other.select(key), key, "left_anti").unionByName(other)


def _seg_k(n: int, variant: str) -> int:
    # one straddling swap / merge / split can damage two adjacent segments,
    # so non-standard variants need the standard-distance bound 2n
    return n if variant == STANDARD else 2 * n


def _explode_keys(df: DataFrame, id_col: str, keys_sql: str) -> DataFrame:
    # whole key pipeline as ONE parsed expression (r6: the per-Column py4j
    # construction cost of these shared helpers was ~0.5 s of driver time
    # per pair query — guide §4, the Python boundary exists on the driver)
    return df.selectExpr(f"`{id_col}` AS _bid",
                         f"explode({hash_keys_sql(keys_sql)}) AS _bkey")


def _blocked_join(keys, left: DataFrame, right: DataFrame | None,
                  cols: tuple[str, str, str, str], verify,
                  out_cols: list[tuple[str, str]], *,
                  persist: bool = False, key_join=None) -> DataFrame:
    """The one blocked-join core: key tables -> distinct candidate id
    pairs -> payloads attached as (_ida, _ta, _idb, _tb) -> ``verify``
    (adds and filters its score columns) -> the final projection
    ``out_cols``, a list of (internal column, output name) pairs.
    ``keys`` is the (left, right) pair of exploded (_bid, _bkey) tables:
    probe keys of ``left``, index keys of ``right``. ``right is None`` is
    a self-join of ``left``: it keeps the pairs with _ida < _idb, exact
    because every matching pair meets in both orientations
    (tests/test_blocking.py). ``cols`` names the (id, payload) columns of
    left, then right; a payload is a text, a token array, a signature or
    a vector, whatever ``verify`` compares. When both key tables are one
    DataFrame, both join sides read it through one exchange.

    Payloads are attached by a plain join on each input row, so an id
    that repeats gives one output row per pair of input rows: each of its
    rows is scored with its own payload (a self-join never pairs two rows
    of one id). ``key_join`` swaps in another source of the key-match
    (_ida, _idb) rows (the salted join). ``persist`` caches the inputs,
    each read twice (key explode + payload attach), and attaches them to
    the result for ``operators.dedup.unpersist_inputs``.
    """
    self_join = right is None
    right = left if self_join else right
    cached = ([left] if self_join else [left, right]) if persist else []
    for df in cached:
        df.persist()
    lk, rk = keys
    if lk is rk:
        # one exchange per self-join over one key table: pre-partitioned
        # on the join key, both sides require exactly this exchange, AQE
        # reuses it, and the key table, with the signature aggregate or
        # Python UDF that built it, is computed once instead of once per
        # side (r6 profile of MinHash at sf0.1: two concurrent 1.9 s /
        # 1.7 s signature stages became one)
        lk = rk = lk.repartition("_bkey")
    if key_join is not None:
        pairs = key_join(lk, rk)
    else:
        pairs = lk.selectExpr("_bid AS _ida", "_bkey").join(
            rk.selectExpr("_bid AS _idb", "_bkey"), "_bkey") \
            .select("_ida", "_idb")
    if self_join:
        pairs = pairs.where("_ida < _idb")
    pairs = pairs.dropDuplicates(["_ida", "_idb"])
    l_id, l_pay, r_id, r_pay = cols
    lt = left.selectExpr(f"`{l_id}` AS _ida", f"`{l_pay}` AS _ta")
    rt = right.selectExpr(f"`{r_id}` AS _idb", f"`{r_pay}` AS _tb")
    scored = verify(pairs.join(lt, "_ida").join(rt, "_idb"))
    out = scored.selectExpr(*(f"`{c}` AS `{o}`" for c, o in out_cols))
    if cached:
        out._lls_persisted_inputs = cached
    return out


def _pair_cols(cols: tuple[str, str, str, str],
               score: str) -> list[tuple[str, str]]:
    """``out_cols`` of an edit-distance join: both (id, text) pairs under
    the caller's names, then the score column."""
    return list(zip(("_ida", "_ta", "_idb", "_tb", score), (*cols, score)))


def _edit_distance_verify(n: int, variant: str, subst=None):
    """Unit-cost verify kernel: keeps candidates with distance <= n."""
    def verify(with_text: DataFrame) -> DataFrame:
        # cheap JVM-side prefilter before the (Arrow) scoring kernel:
        # every variant changes length by at most 1 per edit
        with_text = with_text.where(
            f"abs(length(_ta) - length(_tb)) <= {int(n)}")
        if variant == STANDARD and subst is None:
            # Spark's codepoint-level levenshtein with an early-abort
            # threshold (-1 above it) IS the reference's standard_distance
            # (tests/test_distance.py), and keeps verify in codegen
            scored = with_text.selectExpr(
                "*", f"levenshtein(_ta, _tb, {int(n)}) AS distance")
            return scored.where("distance >= 0")
        dist = make_distance_udf(n, variant,
                                 subst.codepoint_pairs() if subst else None)
        scored = with_text.withColumn("distance",
                                      dist(F.col("_ta"), F.col("_tb")))
        return scored.where(F.col("distance") <= n)
    return verify


def _keys_for(df: DataFrame, id_col: str, text_col: str, n: int, variant: str,
              method: str, role: str, subst=None) -> DataFrame:
    """role: 'index' | 'probe' (the two sides of every key join) | 'both'
    (their union, for block-size statistics);
    method: 'deletion' | 'segment' | 'hybrid' | 'auto' (_resolve_method).

    With a SubstitutionSet, keys are generated over class-canonicalized
    text (zero-cost-substitutable chars mapped to one representative) — a
    recall-safe superset; the pair-set DP in scoring restores exactness."""
    method = _resolve_method(method)
    if subst is not None:
        src, dst = subst.translate_args()
        if src:
            df = df.withColumn(text_col, F.translate(F.col(text_col), src, dst))
    depth = effective_depth(n, variant)
    k = _seg_k(n, variant)
    short = f"length(`{text_col}`) <= {SHORT_MAX}"

    def seg_sql() -> str:
        if role == "index":
            return segment_keys_sql(text_col, k)
        if role == "probe":
            return probe_keys_sql(text_col, k, len_tol=n)
        return (f"concat({segment_keys_sql(text_col, k)}, "
                f"{probe_keys_sql(text_col, k, len_tol=n)})")

    if method == "deletion":
        return _explode_keys(df, id_col, deletion_keys_sql(text_col, depth))
    if method == "segment":
        return _explode_keys(df, id_col, seg_sql())
    if method == "hybrid":
        # short strings: deletion keys (cheap, exact); long strings: segment
        # keys. Pairs straddling the boundary are covered because BOTH
        # routes are generated for strings within n of SHORT_MAX.
        near = (f"(length(`{text_col}`) >= {SHORT_MAX - n} AND "
                f"length(`{text_col}`) <= {SHORT_MAX + n})")
        del_side = _explode_keys(
            df.where(f"({short}) OR {near}"), id_col,
            deletion_keys_sql(text_col, depth))
        seg_side = _explode_keys(
            df.where(f"(NOT ({short})) OR {near}"), id_col, seg_sql())
        return del_side.unionByName(seg_side)
    raise ValueError(f"unknown blocking method {method!r}")


def _resolve_method(method: str) -> str:
    """``auto`` resolves statically to ``hybrid``: hybrid routes each ROW by
    its own length, so no dataset statistic (an eager pre-join scan of the
    input per operator call) is needed to pick a strategy."""
    return "hybrid" if method == "auto" else method


def fuzzy_join(
    queries: DataFrame,
    dictionary: DataFrame,
    *,
    n: int,
    variant: str = STANDARD,
    method: str = "auto",
    q_id: str = "q_id",
    q_text: str = "q_text",
    d_id: str = "term_id",
    d_text: str = "term",
    substitutions=None,
    persist: bool = False,
) -> DataFrame:
    """Similarity join: all (query, term) pairs with distance(q, t) <= n.

    Output columns: q_id, q_text, term_id, term, distance — one row per
    matching pair of input rows, exact and complete (the blocked join is
    recall-lossless; the banded DP is the exact distance). A repeated id
    is scored row by row with its own text, so two identical query rows
    give two output rows, as a SQL join does. ``substitutions`` is an
    optional SubstitutionSet of zero-cost character pairs (Restricted
    policy).

    ``persist`` caches both inputs, each read twice (key explode + text
    attach). Release via ``operators.dedup.unpersist_inputs(result)``.
    """
    keys = (_keys_for(queries, q_id, q_text, n, variant, method,
                      role="probe", subst=substitutions),
            _keys_for(dictionary, d_id, d_text, n, variant, method,
                      role="index", subst=substitutions))
    cols = (q_id, q_text, d_id, d_text)
    return _blocked_join(keys, queries, dictionary, cols,
                         _edit_distance_verify(n, variant, substitutions),
                         _pair_cols(cols, "distance"), persist=persist)


def fuzzy_self_join(
    terms: DataFrame,
    *,
    n: int,
    variant: str = STANDARD,
    method: str = "auto",
    id_col: str = "term_id",
    text_col: str = "term",
    substitutions=None,
    salt_threshold: int | None = None,
    salt_groups: int = 8,
    persist: bool = False,
) -> DataFrame:
    """All unordered distinct-term pairs with distance <= n (id_a < id_b).

    Output: id_a, term_a, id_b, term_b, distance. The terms' probe keys
    are joined against their own index keys, as ``fuzzy_join`` joins a
    query table against a dictionary; deletion keys have no probe/index
    split, so ``method="deletion"`` builds one key table and joins it
    with itself through one exchange. ``salt_threshold`` spreads index
    keys with more members than the threshold over ``salt_groups``
    reducer keys (operators/skew.py) instead of a single one.

    An ``id_col`` value carried by several rows pairs each of its rows
    with every matching row of another id (one output row per pair of
    input rows); two rows of one id are never paired.

    ``persist`` caches the terms input, which both key explodes and both
    text attaches read, so any upstream lineage (e.g. a build_dictionary
    aggregation) runs once. Release via ``operators.dedup.unpersist_inputs``.
    """
    def keys(role: str) -> DataFrame:
        return _keys_for(terms, id_col, text_col, n, variant, method,
                         role=role, subst=substitutions)

    index = keys("index")
    probe = index if _resolve_method(method) == "deletion" else keys("probe")
    salted = None if salt_threshold is None else partial(
        salted_key_join, hot_threshold=salt_threshold, n_groups=salt_groups)
    return _blocked_join((probe, index), terms, None, (id_col, text_col) * 2,
                         _edit_distance_verify(n, variant, substitutions),
                         _pair_cols(("id_a", "term_a", "id_b", "term_b"),
                                    "distance"),
                         persist=persist, key_join=salted)


def fuzzy_prefix_join(
    queries: DataFrame,
    dictionary: DataFrame,
    *,
    n: int,
    variant: str = STANDARD,
    q_id: str = "q_id",
    q_text: str = "q_text",
    d_id: str = "term_id",
    d_text: str = "term",
) -> DataFrame:
    """Autocomplete join: terms whose PREFIX is within n of the query
    (the reference's .prefix() query mode, ordered_query.rs:320).

    Blocking: the distinct query lengths L are collected (a tiny int agg —
    the adaptive-stats pattern), the dictionary side emits deletion keys of
    its prefixes at every length in ∪[L-n, L+n], the query side emits its
    own deletion neighborhood; exact-complete because a matching prefix p
    has |len(p) - len(q)| <= n and shares a deletion variant with q.

    Output: q_id, q_text, term_id, term, distance (prefix distance).
    """
    depth = effective_depth(n, variant)
    plens = sorted({pl for lq in distinct_lengths(queries, q_text)
                    for pl in range(max(lq - n, 0), lq + n + 1)}) or [0]
    lens_sql = ", ".join(str(x) for x in plens)

    pref = dictionary.select(
        F.col(d_id).alias("_bid"),
        F.explode(F.expr(
            f"filter(array({lens_sql}), l -> l <= length({d_text}))")).alias("_pl"),
        F.col(d_text).alias("_t"),
    ).select("_bid", F.expr("substring(_t, 1, _pl)").alias("_p"))
    dk = pref.selectExpr(
        "_bid",
        f"explode({hash_keys_sql(deletion_keys_sql('_p', depth))}) AS _bkey"
    ).dropDuplicates(["_bid", "_bkey"])
    qk = _explode_keys(queries, q_id, deletion_keys_sql(q_text, depth))
    pdist = make_prefix_distance_udf(n, variant)

    def verify(with_text: DataFrame) -> DataFrame:
        with_text = with_text.where(
            F.length("_ta") - F.length("_tb") <= F.lit(n))
        # truncate the term JVM-side so Arrow never ships more than |q|+n chars
        with_text = with_text.withColumn(
            "_tb_cut", F.expr(f"substring(_tb, 1, length(_ta) + {n})"))
        scored = with_text.withColumn("distance",
                                      pdist(F.col("_ta"), F.col("_tb_cut")))
        return scored.where(F.col("distance") <= n)

    cols = (q_id, q_text, d_id, d_text)
    return _blocked_join((qk, dk), queries, dictionary, cols, verify,
                         _pair_cols(cols, "distance"))


def fuzzy_top_k(matches: DataFrame, k: int, query_col: str = "q_id",
                order_cols: tuple[str, str] = ("distance", "term")) -> DataFrame:
    """Ordered-query/top-k semantics: per query, rank by (distance ASC,
    term ASC) and keep k — the reference's OrderedQueryIterator + limit
    (/root/reference/src/transducer/ordered_query.rs:64-150,
    builder_api.rs:209-214)."""
    win = Window.partitionBy(query_col).orderBy(
        *[F.col(c).asc() for c in order_cols])
    return (
        matches.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
    )


def fuzzy_multimap(matches: DataFrame, values: DataFrame,
                   query_col: str = "q_id", term_col: str = "term_id",
                   value_col: str = "value") -> DataFrame:
    """FuzzyMultiMap::query analog (/root/reference/src/cache/multimap.rs:288):
    aggregate the values of every fuzzy-matched term per query.

    Returns (query_col, values: sorted distinct array) — the BTreeSet-union
    aggregation flavor (multimap.rs:83-158)."""
    joined = matches.join(values, term_col)
    return joined.groupBy(query_col).agg(
        F.array_sort(F.collect_set(F.col(value_col))).alias("values"))


def weighted_edit_envelope(ops, max_cost: float) -> int:
    """Unit-edit envelope of a weighted-cost threshold: any pair with
    weighted cost <= max_cost is connected by a STANDARD/OSA edit script
    of at most floor(max_cost * max_i(se_i / w_i)) operations, where
    each weighted op i costs w_i and expands to se_i unit edits — 1 for
    insert/delete/substitute/restricted classes and transpose (blocking
    is OSA when transpose is enabled), max(consume_x, consume_y) for a
    multi-char string op. Unit-cost blocking at n = envelope is therefore
    recall-lossless for the weighted join (the weighted analog of the
    automaton-degree bound,
    /root/reference/src/transducer/operation_set.rs:78-240).

    A zero-weight restricted class (unbounded envelope) is rejected here:
    model it as ``substitutions=SubstitutionSet`` canonicalization
    (WeightedOps itself rejects zero-weight string ops)."""
    weights = [ops.insert, ops.delete]
    if ops.substitute is not None:
        weights.append(ops.substitute)
    if ops.transpose is not None:
        weights.append(ops.transpose)
    weights.extend(w for _, w in ops.restricted)
    if any(w <= 0 for w in weights if w is not None):
        raise ValueError(
            "zero-weight operations make the edit envelope unbounded; "
            "model free substitutions with SubstitutionSet canonicalization "
            "(fuzzy_join(substitutions=...)) instead")
    rates = [1.0 / w for w in weights if w is not None]
    rates.extend(max(len(x), len(y)) / w
                 for x, y, w in getattr(ops, "string_ops", ()))
    return int(math.floor(float(max_cost) * max(rates)))


def weighted_fuzzy_join(
    queries: DataFrame,
    dictionary: DataFrame,
    *,
    max_cost: float,
    ops=None,
    method: str = "auto",
    q_id: str = "q_id",
    q_text: str = "q_text",
    d_id: str = "term_id",
    d_text: str = "term",
    max_envelope: int = 4,
    persist: bool = False,
) -> DataFrame:
    """Weighted-cost similarity join: all (query, term) pairs whose
    WEIGHTED edit cost (per-op float weights + restricted substitution
    classes, functions/weighted.WeightedOps) is <= ``max_cost``.

    Output: q_id, q_text, term_id, term, cost (double). Blocking reuses
    the unit-cost key machinery at n = weighted_edit_envelope (recall
    proof in that docstring); verification is the banded float DP
    (weighted_batch_distance) behind a JVM codegen prefilter.

    ``max_envelope`` guards against cheap-op configs whose envelope would
    explode the key neighborhood (the reference caps automaton distance
    at n <= 7 for the same combinatorial reason, transition.rs:49)."""
    from liblevenshtein_rust_spark.functions.weighted import (
        WeightedOps, make_weighted_distance_udf)

    ops = ops or WeightedOps.standard()
    n_env = weighted_edit_envelope(ops, max_cost)
    if n_env > max_envelope:
        raise ValueError(
            f"edit envelope {n_env} (= floor({max_cost} / min op weight)) "
            f"exceeds max_envelope={max_envelope}; raise op weights, lower "
            f"max_cost, or opt in via max_envelope")
    variant = TRANSPOSITION if ops.transpose is not None else STANDARD
    keys = (_keys_for(queries, q_id, q_text, n_env, variant, method,
                      role="probe"),
            _keys_for(dictionary, d_id, d_text, n_env, variant, method,
                      role="index"))
    # JVM prefilters before the Arrow kernel: a length delta of k costs
    # >= k * (cheapest per-unit length change, incl. UNEVEN string ops
    # like ph→f); the unit envelope bounds plain Levenshtein distance.
    uneven = [w for x, y, w in getattr(ops, "string_ops", ())
              if len(x) != len(y)]
    len_tol = int(math.floor(
        float(max_cost) / min([ops.insert, ops.delete] + uneven)))
    cost_udf = make_weighted_distance_udf(float(max_cost), ops)

    def verify(with_text: DataFrame) -> DataFrame:
        with_text = with_text.where(
            F.abs(F.length("_ta") - F.length("_tb")) <= F.lit(len_tol))
        if variant == STANDARD:
            with_text = with_text.where(
                F.expr(f"levenshtein(_ta, _tb, {int(n_env)}) >= 0"))
        scored = with_text.withColumn("cost",
                                      cost_udf(F.col("_ta"), F.col("_tb")))
        return scored.where(F.col("cost") <= float(max_cost))

    cols = (q_id, q_text, d_id, d_text)
    return _blocked_join(keys, queries, dictionary, cols, verify,
                         _pair_cols(cols, "cost"), persist=persist)
