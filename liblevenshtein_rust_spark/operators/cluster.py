"""Transitive closure of matched pairs -> entity clusters.

The reference has no clustering (it stops at query results); matched pairs
-> entities is the record-linkage step our pipeline adds. Algorithm:
alternating large-star / small-star connected components (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
algorithm), expressed purely as DataFrame joins/aggregations so it runs
shuffle-partitioned at any scale:

    large-star: for each node u, connect every neighbor v > u to
                m = min(N(u) ∪ {u})
    small-star: for each node u, connect every neighbor v <= u (and u)
                to m = min over that set

Converges in O(log^2 n) rounds; each round is two shuffles. Node labels
are arbitrary orderable strings (we use md5 term ids — deterministic and
collision-safe); min is lexicographic. Every round is localCheckpoint-ed
(cluster deployments write checkpoint tables instead — see
plans/pipeline.py) to truncate the iterative lineage.

Small graphs skip the rounds: one bounded collect of at most
``small_graph_threshold + 1`` edge rows labels them on the driver when
they fit the bound, and falls back to the rounds when they do not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def _large_star(edges: DataFrame) -> DataFrame:
    """edges: (u, v) undirected, emitted once per unordered pair."""
    bidir = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = bidir.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", "u").alias("m"))
    out = (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def _small_star(edges: DataFrame) -> DataFrame:
    # orient edges high -> low
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    joined = e.join(mins, "u")
    out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        mins.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def _uf_label_pandas(pdf, node_col: str):
    """Driver-side component labeling of a bounded edge list, fully
    vectorized: factorize node ids to dense codes, then min-label
    propagation with pointer jumping (numpy scatter-min + label[label])
    until fixpoint. Converges in O(log d) sweeps for component diameter
    d (planted near-dup graphs are almost all d <= 2, so 1-2 sweeps).
    Duplicate rows and both orientations of a pair are harmless.

    Returns a pandas DataFrame (node_col, entity_id = min member id);
    min is pandas/numpy ordering, which matches Spark's F.min for the
    int64 ids and ASCII md5 term ids used as node labels."""
    import numpy as np
    import pandas as pd

    u = pdf.iloc[:, 0].to_numpy()
    v = pdf.iloc[:, 1].to_numpy()
    m = len(u)
    codes, uniq = pd.factorize(np.concatenate([u, v]))
    eu, ev = codes[:m], codes[m:]
    lab = np.arange(len(uniq))
    while True:
        old = lab.copy()
        np.minimum.at(lab, eu, lab[ev])
        np.minimum.at(lab, ev, lab[eu])
        lab = lab[lab]
        if np.array_equal(lab, old):
            break
    # root codes are an arbitrary factorize order — the entity label is
    # the MIN ORIGINAL id in each component
    out = pd.DataFrame({node_col: uniq, "_root": lab})
    out["entity_id"] = out.groupby("_root")[node_col].transform("min")
    return out[[node_col, "entity_id"]]


def _edge_checksum(df: DataFrame):
    """ONE driver action returning (order-insensitive xxhash64 sum, count)
    over a deduped edge set: the star rounds' convergence test. The
    small-graph path never computes it. The decimal(38,0) sum cannot
    overflow under ANSI mode."""
    return df.select(
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("c"),
    ).first()


def _lazy_checkpoint(df: DataFrame) -> DataFrame:
    """A LAZY localCheckpoint, materialized by the first action that
    reads it (the bounded edge collect, or a convergence checksum), so no
    round pays a job of its own for it."""
    return df.localCheckpoint(eager=False)


def _edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Checkpointed (u, v) edge rows of ``pairs``. Self-loops and rows
    with a NULL endpoint are dropped (``u != v`` is not true for either);
    duplicates are kept, since driver labeling ignores them."""
    return _lazy_checkpoint(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v")))


def _attach_singletons(out: DataFrame, nodes: DataFrame | None,
                       known: DataFrame, node_col: str, value) -> DataFrame:
    """``out`` plus one (node_col, ``value``) row for every distinct node
    of ``nodes`` that is missing from ``known`` (a node_col table)."""
    if nodes is None:
        return out
    return out.unionByName(
        nodes.select(F.col(node_col)).distinct()
        .join(known, node_col, "left_anti")
        .select(F.col(node_col), value))


def _star_labels(edges: DataFrame, node_col: str,
                 max_iterations: int) -> DataFrame:
    """(node_col, entity_id) for every endpoint of ``edges`` by iterated
    large-star / small-star rounds over the deduped edge set, which is
    checkpointed so that the first checksum materializes it once. Raises
    ValueError when ``max_iterations`` rounds do not reach the fixpoint:
    the edges left then would split components."""
    edges = _lazy_checkpoint(edges.dropDuplicates(["u", "v"]))
    # Check convergence every SECOND round: the star maps decrease a
    # monotone potential until fixpoint (Kiveris et al. SoCC'14), so no
    # 2-cycles exist and checksum equality two rounds apart implies the
    # fixpoint was reached. Cost: at most one redundant round of compute
    # on already-converged (small) state; saving: half the checksum scans
    # — and with lazy checkpoints, ONE driver action per two rounds. The
    # last two rounds are both checked, so the final test compares
    # consecutive rounds and a fixpoint reached in the last round passes.
    h_old = _edge_checksum(edges)
    for it in range(max_iterations):
        edges = _lazy_checkpoint(_small_star(_large_star(edges)))
        if (it + 1) % 2 == 0 or it >= max_iterations - 2:
            h_new = _edge_checksum(edges)
            if h_old == h_new:
                break
            h_old = h_new
    else:
        raise ValueError(
            f"connected components did not converge within "
            f"max_iterations={max_iterations} star rounds (raise "
            f"max_iterations)")
    # after convergence every edge points node -> component root; roots
    # map to themselves
    assign = edges.select(F.col("u").alias(node_col), F.col("v").alias("entity_id"))
    assign = _attach_singletons(
        assign, edges.select(F.col("v").alias(node_col)),
        assign.select(node_col), node_col, F.col(node_col).alias("entity_id"))
    return assign.groupBy(node_col).agg(F.min("entity_id").alias("entity_id"))


def _components(pairs: DataFrame, src: str, dst: str, node_col: str,
                max_iterations: int, small_graph_threshold: int):
    """The labeling core: returns (edges, labels), where ``edges`` is the
    checkpointed edge table and ``labels`` the (node_col, entity_id =
    min member id) assignment of every edge endpoint.

    One bounded Arrow collect, ``limit(small_graph_threshold + 1)`` of
    the checkpointed edges, both decides the path and feeds it: at most
    ``small_graph_threshold`` rows are the whole graph, labeled on the
    driver (``labels`` is a pandas DataFrame); one row more falls back to
    the star rounds on the same checkpointed table (``labels`` is a Spark
    DataFrame), so the pair lineage runs once on either path. A threshold
    of 0 skips the collect."""
    edges = _edges(pairs, src, dst)
    if small_graph_threshold:
        # Arrow both ways (toPandas here, createDataFrame(pandas) in the
        # callers): the Row-pickle path costs ~4x the driver-serial time
        pdf = edges.limit(small_graph_threshold + 1).toPandas()
        if len(pdf) <= small_graph_threshold:
            return edges, _uf_label_pandas(pdf, node_col)
    return edges, _star_labels(edges, node_col, max_iterations)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "term_id",
    max_iterations: int = 20,
    small_graph_threshold: int = 2_000_000,
) -> DataFrame:
    """Return (node_col, entity_id): each node labeled with the minimum
    node id of its component.

    ``pairs`` are matched edges; ``nodes`` (optional) adds singleton nodes
    that appear in no pair. The edge table, and the edges after each
    star round, go through a lazy localCheckpoint that truncates their
    lineage; the pipeline's clusters stage gets its kill-resume
    durability from the stage checkpoint it writes. A graph that the
    star rounds do not settle within ``max_iterations`` raises
    ValueError instead of returning split components.

    ``small_graph_threshold`` bounds the driver path: at most this many
    edge rows (self-loops and NULL endpoints dropped, duplicates counted)
    are collected with Arrow and labeled by driver union-find instead of
    star rounds, which removes the fixed per-round stage latency that
    dominates small graphs. The collect reads ``threshold + 1`` rows at
    most; if it gets that one row more, the star rounds run instead. 0
    disables the driver path. Both paths produce identical assignments
    (tested). A row of two 32-character md5 ids (the linkage pipeline's
    term ids) is ~72 bytes of Arrow data, so the 2M default collects up
    to ~150 MB, ~2.5 times that once held on the driver as pandas
    strings; int64 ids (the dedup pipeline's doc ids) take 16 bytes.
    """
    edges, labels = _components(pairs, src, dst, node_col, max_iterations,
                                small_graph_threshold)
    if not isinstance(labels, DataFrame):
        dtype = edges.schema[0].dataType
        labels = edges.sparkSession.createDataFrame(labels, StructType([
            StructField(node_col, dtype), StructField("entity_id", dtype)]))
    return _attach_singletons(labels, nodes, labels.select(node_col),
                              node_col, F.col(node_col).alias("entity_id"))


def component_survivor_counts(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "doc_id",
    max_iterations: int = 20,
    small_graph_threshold: int = 2_000_000,
) -> DataFrame:
    """(node_col, n_removed) for every SURVIVING node: the min-id member
    of each component carries n_removed = component size - 1, and every
    node of ``nodes`` appearing in no pair survives with n_removed = 0.

    Same labeling and ``small_graph_threshold`` bound as
    ``connected_components``. On the driver path the sizes and survivor
    selection stay on the driver too, and only the survivor table (one
    row per multi-node component) is shipped back; the full assignment
    is never uploaded. On the star path they are a Spark aggregate and
    join over the assignment."""
    edges, labels = _components(pairs, src, dst, node_col, max_iterations,
                                small_graph_threshold)
    if isinstance(labels, DataFrame):
        sizes = labels.groupBy("entity_id").agg(
            (F.count(F.lit(1)) - F.lit(1)).cast("int").alias("n_removed"))
        surv = (labels.where(F.col(node_col) == F.col("entity_id"))
                .join(sizes, "entity_id").select(node_col, "n_removed"))
        known = labels.select(node_col)
    else:
        import pandas as pd

        sizes = labels.groupby("entity_id")[node_col].count()
        roots = (labels[labels[node_col] == labels["entity_id"]]
                 .merge(sizes.rename("_sz"), left_on="entity_id",
                        right_index=True))
        surv = edges.sparkSession.createDataFrame(
            pd.DataFrame({node_col: roots[node_col].to_numpy(),
                          "n_removed": (roots["_sz"] - 1)
                          .astype("int32").to_numpy()}),
            StructType([StructField(node_col, edges.schema[0].dataType),
                        StructField("n_removed", IntegerType())]))
        known = (edges.select(F.col("u").alias(node_col))
                 .unionByName(edges.select(F.col("v").alias(node_col))))
    return _attach_singletons(surv, nodes, known, node_col,
                              F.lit(0).cast("int").alias("n_removed"))


def incremental_components(
    old_clusters: DataFrame,
    new_pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "term_id",
    new_nodes: DataFrame | None = None,
    max_iterations: int = 20,
    delta: bool = False,
) -> DataFrame:
    """Fold a batch of new edges into an existing component assignment,
    reclustering ONLY the touched components.

    ``old_clusters`` is a converged (node_col, entity_id) assignment
    (entity_id = min member id, as ``connected_components`` returns).
    The result equals full ``connected_components`` over (all old edges
    ∪ new edges ∪ all nodes) — proven by the star decomposition: the
    (node -> entity) rows of a converged assignment are themselves edges
    that exactly preserve each component's connectivity (the min label IS
    a member), so the full graph is equivalent to star edges ∪ new
    edges, and new edges can only affect components containing one of
    their endpoints. Everything else keeps its old label untouched.

    Per-batch cost is proportional to |touched components| + |new
    edges|, not |total state| — the difference between a micro-batch
    that stays O(batch) at 10^12-turn state and one that re-runs CC over
    the full accumulated pair history (what ``incremental_upsert`` did
    before this). Idempotent: replaying the same batch against the
    already-updated assignment recomputes the identical labels.

    ``new_nodes`` adds brand-new singleton nodes that appear in no pair
    (fresh dictionary terms with no fuzzy match).

    ``delta=True`` returns ONLY the touched-component assignments (new
    nodes + every member of a component an edge landed in) instead of
    the full state — the MERGE INTO payload for an Iceberg clusters
    table. A plain-parquet deployment overwrites full state (O(total)
    write per batch); the delta keeps the write O(batch) too.
    """
    # the edge lineage is typically a fuzzy join: the lazy checkpoint
    # persists the edge rows in the first job that computes them (the
    # nested labeling's collect), and the endpoints, the subgraph union
    # and the untouched-state anti-join read those blocks instead of
    # re-deriving the join
    edges = _edges(new_pairs, src, dst)
    endpoints = (edges.select(F.col("u").alias(node_col))
                 .unionByName(edges.select(F.col("v").alias(node_col)))
                 .distinct())
    touched = (old_clusters.join(endpoints, node_col, "left_semi")
               .select("entity_id").distinct())
    sub_old = old_clusters.join(touched, "entity_id", "left_semi")
    star = (sub_old.where(F.col(node_col) != F.col("entity_id"))
            .select(F.col(node_col).alias("u"), F.col("entity_id").alias("v")))
    sub_nodes = (sub_old.select(node_col).unionByName(endpoints).distinct())
    if new_nodes is not None:
        sub_nodes = sub_nodes.unionByName(
            new_nodes.select(F.col(node_col))).distinct()
    sub_assign = connected_components(
        star.unionByName(edges), sub_nodes, src="u", dst="v",
        node_col=node_col, max_iterations=max_iterations)
    if delta:
        return sub_assign
    untouched = old_clusters.join(touched, "entity_id", "left_anti")
    return untouched.select(node_col, "entity_id").unionByName(sub_assign)


def cluster_cohesion(
    clusters: DataFrame,
    pairs: DataFrame,
    *,
    node_col: str = "term",
    entity_col: str = "entity_id",
    src: str = "term_a",
    dst: str = "term_b",
    weight_col: str | None = None,
    sparse_density_milli: int = 500,
) -> DataFrame:
    """Per-cluster cohesion audit: the over-merge diagnostic for
    transitive-closure entity resolution.

    Transitive closure's classic failure mode at scale is the CHAIN
    over-merge: a-b, b-c, c-d each within threshold pulls a and d into
    one entity even when d(a, d) is far beyond it. The reference's
    single-node transducer never faces this (it answers per-query
    neighborhoods, /root/reference/src/transducer/query.rs), but a
    clustering deployment must audit it. This operator grades every
    cluster by its MATCH-GRAPH shape using only the already-materialized
    pairs — no new pairwise work, so it costs two hash joins + two
    aggregations regardless of cluster diameter:

      n_nodes        cluster size
      n_edges        matched pairs whose BOTH endpoints landed in the
                     cluster (one row per unordered pair in ``pairs``)
      density_milli  floor(2000 * n_edges / (n_nodes * (n_nodes - 1)));
                     1000 for singletons. A clique — every member pair
                     within threshold — scores 1000; a pure chain decays
                     toward 0 as it grows.
      max_weight     weakest supporting edge (max of ``weight_col``,
                     e.g. distance), null for singletons; omitted when
                     ``weight_col`` is None.
      sparse_flag    1 when n_nodes >= 3 and density_milli <
                     ``sparse_density_milli`` — the review queue for a
                     human / second-pass scorer.

    Scale shape: ``pairs`` joins the (node -> entity) map once per
    endpoint — the same key distribution as the CC iterations that
    produced ``clusters`` — then everything is a groupBy(entity). Both
    joins are runtime-bloom/broadcast eligible; nothing is quadratic in
    cluster size. ``pairs`` must carry one row per unordered matched
    pair (the contract of fuzzy_self_join / token_jaccard_pairs); rows
    are normalized here so either endpoint order is accepted.
    """
    cl = clusters.select(F.col(node_col).alias("_n"),
                         F.col(entity_col).alias("_e"))
    w = [F.col(weight_col).alias("_w")] if weight_col else []
    e = pairs.select(F.least(src, dst).alias("_u"),
                     F.greatest(src, dst).alias("_v"), *w)
    # Defensive pair dedupe: a foreign pair table carrying both
    # orientations (or repeated rows) would otherwise double-count
    # n_edges and silently push density_milli past 1000. Same shuffle
    # key as the dropDuplicates it replaces; the groupBy keeps the
    # weight aggregation deterministic when duplicates disagree.
    if weight_col:
        e = e.groupBy("_u", "_v").agg(F.max("_w").alias("_w"))
    else:
        e = e.dropDuplicates(["_u", "_v"])
    edge_ent = (
        e.join(cl.select(F.col("_n").alias("_u"), F.col("_e").alias("_ea")), "_u")
        .join(cl.select(F.col("_n").alias("_v"), F.col("_e").alias("_eb")), "_v")
        # cross-cluster rows only arise when callers pass a filtered or
        # foreign clustering; same-entity is a no-op filter after CC
        .where(F.col("_ea") == F.col("_eb"))
    )
    agg = [F.count(F.lit(1)).alias("n_edges")]
    if weight_col:
        agg.append(F.max("_w").alias("max_weight"))
    stats = edge_ent.groupBy(F.col("_ea").alias(entity_col)).agg(*agg)
    sizes = cl.groupBy(F.col("_e").alias(entity_col)).agg(
        F.count(F.lit(1)).cast("int").alias("n_nodes"))
    out = (
        sizes.join(stats, entity_col, "left")
        # n_edges stays int64: a single over-merged mega-cluster can
        # legitimately carry >2^31 intra-cluster matched pairs, and the
        # density arithmetic below is forced to int64 so ANSI mode can't
        # raise ARITHMETIC_OVERFLOW for clusters past 46,341 nodes —
        # exactly the giants this audit exists to flag.
        .withColumn("n_edges",
                    F.coalesce("n_edges", F.lit(0)).cast("long"))
        .withColumn(
            "density_milli",
            F.when(F.col("n_nodes") <= 1, F.lit(1000)).otherwise(
                F.floor(F.lit(2000).cast("long") * F.col("n_edges")
                        / (F.col("n_nodes").cast("long")
                           * (F.col("n_nodes").cast("long") - 1)))
            ).cast("int"))
        .withColumn(
            "sparse_flag",
            ((F.col("n_nodes") >= 3)
             & (F.col("density_milli") < sparse_density_milli))
            .cast("int"))
    )
    cols = [entity_col, "n_nodes", "n_edges", "density_milli"]
    if weight_col:
        cols.append("max_weight")
    return out.select(*cols, "sparse_flag")
