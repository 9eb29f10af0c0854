"""Contextual (scope-visible) completion — the Spark mapping of the
reference's 4.2k-LoC contextual engine.

Reference semantics (/root/reference/src/contextual/):

- **Context tree** — hierarchical lexical scopes; a context sees itself
  plus all ancestors (``ContextTree::visible_contexts``,
  context_tree.rs; ``engine.get_visible_contexts``, engine.rs:393).
- **Finalized terms** — a MappedDictionary term -> Vec<ContextId> of the
  contexts where the term is defined; a fuzzy completion survives only if
  its context set intersects the querying scope's visible set
  (``complete_finalized``, engine.rs:1174; ``query_by_value_set``,
  /root/reference/src/transducer/mod.rs:607-623).
- **Drafts** — one in-progress buffer per context, matched directly
  (``complete_drafts``, engine.rs:1126).
- **complete()** — drafts + finalized, deduplicated per term with draft
  winning, sorted by (distance, finalized-before-draft, term)
  (engine.rs:1058; Completion::cmp, completion.rs:164-169).

Spark mapping: the tree is a (context_id, parent_id) DataFrame; the
visible set is an iterative ancestor-closure join (scope trees are
shallow — depth-bounded loop, one small equi-join per level, NOT a
per-row recursion); visibility filtering is a plain equi-join against
the closure so Catalyst can push dictionary-side predicates exactly like
the reference's value-filtered traversal. ``query_by_value_set`` is also
exposed in array form via ``arrays_overlap`` for pre-aggregated
Vec<ContextId> columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from liblevenshtein_rust_spark.functions.distance import STANDARD
from liblevenshtein_rust_spark.operators.fuzzy_join import (
    _edit_distance_verify,
    fuzzy_join,
)


def visible_contexts(tree: DataFrame, *, id_col: str = "context_id",
                     parent_col: str = "parent_id",
                     max_depth: int = 64) -> DataFrame:
    """Ancestor closure of a scope tree: (context_id, visible_id) — one
    row per (scope, scope-it-can-see). A scope sees itself and every
    ancestor up to its root (context_tree.rs visible_contexts).

    Path-doubling self-join: round k covers ancestors up to distance 2^k,
    so a depth-D tree converges in ceil(log2 D) rounds (each one shuffled
    self-join + dedupe + a count for the convergence check — the same
    driver-action budget as connected_components). An eager
    localCheckpoint per round keeps lineage flat. Raises
    on cycles (mutual visibility between distinct scopes)."""
    import math

    edges = tree.select(F.col(id_col).alias(id_col),
                        F.col(parent_col).alias("visible_id"))
    closure = tree.select(F.col(id_col).alias(id_col),
                          F.col(id_col).alias("visible_id")) \
        .unionByName(edges.where(F.col("visible_id").isNotNull())) \
        .dropDuplicates([id_col, "visible_id"])
    closure = closure.localCheckpoint(eager=True)
    prev = closure.count()
    rounds = max(1, math.ceil(math.log2(max(max_depth, 2))) + 1)
    converged = False
    for _ in range(rounds):
        a, b = closure.alias("a"), closure.alias("b")
        grown = (
            a.join(b, F.col("a.visible_id") == F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias(id_col),
                    F.col("b.visible_id").alias("visible_id"))
        )
        closure = (closure.unionByName(grown)
                   .dropDuplicates([id_col, "visible_id"])
                   .localCheckpoint(eager=True))
        cnt = closure.count()
        if cnt == prev:
            converged = True
            break
        prev = cnt
    if not converged:
        # a silently truncated closure would drop visibility of upper
        # ancestors for deep scopes — fail loudly instead
        raise ValueError(
            f"visible_contexts did not converge within {rounds} rounds "
            f"(tree deeper than max_depth={max_depth}? raise max_depth)")
    x, y = closure.alias("x"), closure.alias("y")
    mutual = x.join(
        y, (F.col(f"x.{id_col}") == F.col("y.visible_id")) &
           (F.col("x.visible_id") == F.col(f"y.{id_col}")) &
           (F.col(f"x.{id_col}") != F.col("x.visible_id")))
    if not mutual.isEmpty():
        raise ValueError("context tree contains a cycle")
    return closure


def value_set_overlap(contexts_col: str | Column, visible: list) -> Column:
    """``query_by_value_set`` predicate in array form
    (/root/reference/src/transducer/mod.rs:607-623): true when the term's
    Vec<ContextId> column intersects a literal visible set —
    ``arrays_overlap`` keeps the whole filter in JVM codegen."""
    lits = F.array(*[F.lit(v) for v in visible])
    return F.arrays_overlap(F.col(contexts_col) if isinstance(contexts_col, str)
                            else contexts_col, lits)


def query_by_value_set(queries: DataFrame, dictionary: DataFrame,
                       visible: list, *, n: int, variant: str = STANDARD,
                       contexts_col: str = "contexts", **join_kw) -> DataFrame:
    """Fuzzy query keeping only terms whose context array intersects
    ``visible`` — filter applied on the DICTIONARY side before the join so
    Catalyst prunes non-visible terms before any candidate is generated
    (the distributed analog of value-filtered traversal, which filters
    during rather than after; value_filtered_query.rs:74-111)."""
    pruned = dictionary.where(value_set_overlap(contexts_col, visible))
    matched = fuzzy_join(queries, pruned, n=n, variant=variant, **join_kw)
    return matched.join(
        dictionary.select(join_kw.get("d_id", "term_id"), contexts_col),
        join_kw.get("d_id", "term_id"))


def scoped_complete(
    queries: DataFrame,
    terms: DataFrame,
    drafts: DataFrame,
    tree: DataFrame | None,
    *,
    n: int,
    variant: str = STANDARD,
    q_id: str = "q_id",
    q_text: str = "q_text",
    q_ctx: str = "context_id",
    term_col: str = "term",
    term_ctx: str = "context_id",
    draft_col: str = "draft",
    draft_ctx: str = "context_id",
    max_depth: int = 64,
    vis: DataFrame | None = None,
) -> DataFrame:
    """``engine.complete()`` as a DataFrame operator.

    Inputs: queries (q_id, q_text, context_id); terms (term, context_id)
    — finalized definitions, long format; drafts (context_id, draft) —
    one buffer per context; tree (context_id, parent_id), unused when
    ``vis`` is given.

    ``vis`` (optional): precomputed visibility rows (context_id,
    visible_id), e.g. from :func:`visible_contexts`. Without it the
    closure costs one iterative doubling join (with a count per round)
    per call; ContextualSession passes the rows of the querying scope,
    read off its driver-held tree.

    Output: (q_id, q_text, term, distance, is_draft, contexts) where
    contexts is the sorted array of VISIBLE contexts carrying the term
    (drafts carry their own context), rows limited to distance <= n and
    deduplicated per (query, term) with draft overriding finalized
    (engine.rs:1073-1082). Sort consumers should order by
    (distance, is_draft, term) to match Completion::cmp."""
    if vis is None:
        vis = visible_contexts(
            tree.select(F.col("context_id").alias("_vctx"), F.col("parent_id")),
            id_col="_vctx", parent_col="parent_id", max_depth=max_depth)
    else:
        vis = vis.select(F.col("context_id").alias("_vctx"), "visible_id")
    qv = queries.select(F.col(q_id).alias("_qid"), F.col(q_text).alias("_ta"),
                        F.col(q_ctx).alias("_qctx")) \
        .join(vis, F.col("_qctx") == F.col("_vctx")) \
        .select("_qid", "_ta", "visible_id")

    # finalized: fuzzy-join on distinct terms, attach the term's defining
    # contexts, keep (and collect) only the ones visible to the query
    tl = terms.select(F.col(term_col).alias("_t"), F.col(term_ctx).alias("_tctx")) \
        .dropDuplicates(["_t", "_tctx"])
    dict_df = tl.select(F.col("_t").alias("term")).distinct() \
        .withColumn("term_id", F.col("term"))
    matched = fuzzy_join(
        queries.select(q_id, q_text).dropDuplicates([q_id]),
        dict_df, n=n, variant=variant, q_id=q_id, q_text=q_text)
    finalized = (
        matched.select(F.col(q_id).alias("_qid"), "term", "distance")
        .join(tl, F.col("term") == F.col("_t"))
        .select("_qid", "term", "distance", F.col("_tctx").alias("visible_id"))
        .join(qv.select("_qid", "visible_id"), ["_qid", "visible_id"])
        .groupBy("_qid", "term", "distance")
        .agg(F.array_sort(F.collect_set("visible_id")).alias("contexts"))
        .withColumn("is_draft", F.lit(False))
    )

    # drafts: visible draft buffers scored directly by the fuzzy join's
    # verify kernel (one buffer per context — the candidate set is
    # |queries| x |visible drafts|, tiny)
    dl = drafts.select(F.col(draft_ctx).alias("visible_id"),
                       F.col(draft_col).alias("_tb")) \
        .where(F.col("_tb").isNotNull() & (F.length("_tb") > 0))
    dj = _edit_distance_verify(n, variant)(qv.join(dl, "visible_id"))
    draft_rows = (
        dj.groupBy("_qid", F.col("_tb").alias("term"))
        .agg(F.min("distance").alias("distance"),
             F.array_sort(F.collect_set("visible_id")).alias("contexts"))
        .withColumn("is_draft", F.lit(True))
    )

    fused = finalized.unionByName(draft_rows)
    # dedup per (query, term): draft overrides finalized (engine.rs:1073)
    win = Window.partitionBy("_qid", "term").orderBy(
        F.col("is_draft").desc(), F.col("distance").asc())
    fused = fused.withColumn("_rn", F.row_number().over(win)) \
        .where(F.col("_rn") == 1).drop("_rn")
    qt = queries.select(F.col(q_id).alias("_qid"), F.col(q_text).alias(q_text)) \
        .dropDuplicates(["_qid"])
    return fused.join(qt, "_qid").select(
        F.col("_qid").alias(q_id), q_text, "term", "distance", "is_draft",
        "contexts")
