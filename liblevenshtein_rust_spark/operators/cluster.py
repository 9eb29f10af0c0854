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
    d (planted near-dup graphs are almost all d <= 2, so 1-2 sweeps);
    the Python-loop dict union-find this replaces cost 2-6 s at 288k
    edges with GC-sensitive variance — this runs in ~100 ms flat.

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


def _driver_union_find(edges: DataFrame, node_col: str) -> DataFrame:
    """Small-graph fast path: collect the (bounded) edge list and label
    components on the driver (see _uf_label_pandas), returning the same
    (node_col, entity_id = min member) assignment the iterative path
    produces for every edge-endpoint node.

    Rationale: each distributed star round costs several shuffle-stage
    barriers of FIXED latency — on the profiled bench corpus the CC tail
    took ~10 s at 2 AND at 8 cores (pure scheduling, zero scaling),
    which is exactly the serial Amdahl term the north rule punishes. A
    real cluster deployment makes the same cut: below a bounded edge
    count the graph fits comfortably on the driver and vectorized
    union-find beats minutes of stage barriers. The distributed path
    remains the scale path and is pinned by the same tests
    (small_graph_threshold=0)."""
    spark = edges.sparkSession
    # Arrow both ways: toPandas() / createDataFrame(pandas) move the
    # bounded edge list as columnar batches — the Row-pickle path costs
    # ~4x more driver-serial time and grows with the edge count (measured:
    # ~13 s tail at 288k edges via pickle vs seconds via Arrow)
    out = _uf_label_pandas(edges.toPandas(), node_col)
    schema = StructType([
        StructField(node_col, edges.schema[0].dataType),
        StructField("entity_id", edges.schema[0].dataType),
    ])
    return spark.createDataFrame(out, schema)


def _edge_checksum(df: DataFrame):
    """ONE driver action returning (order-insensitive xxhash64 sum, count)
    over an edge set. Used both as the convergence checksum inside
    connected_components and as the small-graph cardinality probe in
    component_survivor_counts — the same row serves both, so the hot
    dedup path pays a single action where it used to pay checksum +
    count. The decimal(38,0) sum cannot overflow under ANSI mode."""
    return df.select(
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        F.count(F.lit(1)).alias("c"),
    ).first()


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "term_id",
    max_iterations: int = 20,
    checkpoint=None,
    small_graph_threshold: int = 2_000_000,
    initial_checksum=None,
) -> DataFrame:
    """Return (node_col, entity_id): each node labeled with the minimum
    node id of its component.

    ``initial_checksum``: optional pre-computed ``_edge_checksum`` row for
    the (already deduped) edge set — lets a caller that needed the edge
    cardinality anyway (component_survivor_counts) hand its checksum row
    over instead of this function paying a second driver action for the
    same number.

    ``pairs`` are matched edges; ``nodes`` (optional) adds singleton nodes
    that appear in no pair. ``checkpoint`` is an optional callable
    DataFrame -> DataFrame used to persist/truncate lineage between rounds
    (defaults to a lazy localCheckpoint, which the entry checksum
    materializes; the pipeline's clusters stage uses that default, and
    gets its kill-resume durability from the stage checkpoint it writes).

    ``small_graph_threshold``: when the deduped edge count (known for
    free from the entry checksum) is at or below this bound, the
    component labeling runs as driver-side union-find instead of
    iterated star rounds — a bounded ~tens-of-MB collect that removes
    the fixed per-round stage-barrier latency dominating small graphs
    (see _driver_union_find). 0 disables the fast path. Both paths
    produce identical assignments (tested); incremental_components'
    touched-component subgraphs are typically small, so micro-batches
    ride this path even at huge total state.

    The default bound is 2M edges (~32 MB of (long,long) Arrow traffic;
    the numpy factorize working set stays in the low hundreds of MB on
    any real driver). History: the original 500k bound was crossed
    SILENTLY when the r4 dedup scaling corpus doubled to k=256 — that
    corpus merges 575,405 docs, so its spanning forest alone exceeds
    500k edges — which flipped the benchmark onto the star path and
    reintroduced the profiled ~10 s non-scaling stage tail the driver
    path had been built to remove (measured era efficiency dropped from
    the predicted ~0.83 to ~0.76; BENCH/BASELINE.md k=256 era notes).
    """
    if checkpoint is None:
        # Default: LAZY localCheckpoint — the convergence checksum is then
        # the action that materializes the round's checkpoint, so the
        # driver pays ONE action per checked round instead of two (eager
        # checkpoint job + checksum job). Per-round driver latency is the
        # serial Amdahl term that capped the dedup family's 2->8 scaling
        # at ~0.5-0.8 in round 3 (BENCH/BASELINE.md).
        def checkpoint(df: DataFrame) -> DataFrame:  # noqa: ANN001
            return df.localCheckpoint(eager=False)

    edges = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    ).dropDuplicates(["u", "v"])
    edges = checkpoint(edges)
    _checksum = _edge_checksum

    # Check convergence every SECOND round: the star maps decrease a
    # monotone potential until fixpoint (Kiveris et al. SoCC'14), so no
    # 2-cycles exist and checksum equality two rounds apart implies the
    # fixpoint was reached. Cost: at most one redundant round of compute
    # on already-converged (small) state; saving: half the checksum scans
    # — and with the fused lazy checkpoints above, ONE driver action per
    # two rounds total. The output stays deterministic either way (the
    # final groupBy-min below settles labels even mid-convergence).
    check_every = 2
    h_old = initial_checksum if initial_checksum is not None \
        else _checksum(edges)
    if small_graph_threshold and h_old["c"] <= small_graph_threshold:
        assign = _driver_union_find(edges, node_col)
        if nodes is not None:
            singles = (
                nodes.select(F.col(node_col)).distinct()
                .join(assign.select(node_col), node_col, "left_anti")
                .select(F.col(node_col), F.col(node_col).alias("entity_id"))
            )
            assign = assign.unionByName(singles)
        return assign
    for it in range(max_iterations):
        edges2 = checkpoint(_small_star(_large_star(edges)))
        edges = edges2
        if (it + 1) % check_every == 0 or it == max_iterations - 1:
            h_new = _checksum(edges2)
            if h_old == h_new:
                break
            h_old = h_new

    # after convergence every edge points node -> component root
    assign = edges.select(F.col("u").alias(node_col), F.col("v").alias("entity_id"))
    # root nodes map to themselves; singletons likewise
    roots = edges.select(F.col("v").alias(node_col)).distinct().join(
        assign.select(node_col), node_col, "left_anti"
    ).select(F.col(node_col), F.col(node_col).alias("entity_id"))
    assign = assign.unionByName(roots)
    if nodes is not None:
        singles = (
            nodes.select(F.col(node_col)).distinct()
            .join(assign.select(node_col), node_col, "left_anti")
            .select(F.col(node_col), F.col(node_col).alias("entity_id"))
        )
        assign = assign.unionByName(singles)
    # deterministic: min label wins even if a round budget stopped short of
    # full convergence
    return assign.groupBy(node_col).agg(F.min("entity_id").alias("entity_id"))


def component_survivor_counts(
    pairs: DataFrame,
    nodes: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "doc_id",
    max_iterations: int = 20,
    checkpoint=None,
    small_graph_threshold: int = 2_000_000,
) -> DataFrame:
    """(node_col, n_removed) for every SURVIVING node: the min-id member
    of each component carries n_removed = component size - 1, and every
    node of ``nodes`` appearing in no pair survives with n_removed = 0.

    Semantically identical to deriving sizes + survivors from
    ``connected_components``' full assignment (the distributed path below
    does exactly that), but on the small-graph fast path ALL cluster
    arithmetic — labeling, sizes, survivor selection — stays driver-side
    on the already-collected edge list, and only the bounded survivor
    table (one row per multi-node component) is shipped back. The full
    assignment upload this replaces became a large LocalTableScan
    feeding four shuffle stages (sizes aggregate, survivor filter-join,
    singleton anti-join) — profiled at ~10 s of near-constant latency at
    2 AND 8 cores on a 288k-edge graph, the dominant serial term of the
    dedup scaling family after the pair join itself (BENCH/BASELINE.md
    r4). Bound raised 500k -> 2M edges in r5 after the k=256 corpus
    (575,405 merges — its spanning forest alone tops 500k) silently fell
    off this path; see connected_components' docstring."""
    if checkpoint is None:
        def checkpoint(df: DataFrame) -> DataFrame:  # noqa: ANN001
            return df.localCheckpoint(eager=False)
    edges = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"]))
    edges = checkpoint(edges)
    # one action yields the cardinality AND doubles as the initial
    # convergence checksum on the scale path (VERDICT r4 nit: the
    # separate edges.count() here was a redundant driver action)
    checksum_row = _edge_checksum(edges)
    n_edges = checksum_row["c"]
    if small_graph_threshold and n_edges <= small_graph_threshold:
        import pandas as pd

        assign = _uf_label_pandas(edges.toPandas(), node_col)
        sizes = assign.groupby("entity_id")[node_col].count()
        surv = (assign[assign[node_col] == assign["entity_id"]]
                .merge(sizes.rename("_sz"), left_on="entity_id",
                       right_index=True))
        surv_pdf = pd.DataFrame({node_col: surv[node_col].to_numpy(),
                                 "n_removed": (surv["_sz"] - 1)
                                 .astype("int32").to_numpy()})
        schema = StructType([
            StructField(node_col, edges.schema[0].dataType),
            StructField("n_removed", IntegerType()),
        ])
        surv_df = edges.sparkSession.createDataFrame(surv_pdf, schema)
        edge_nodes = (edges.select(F.col("u").alias(node_col))
                      .unionByName(edges.select(F.col("v").alias(node_col)))
                      .distinct())
        singles = (nodes.select(F.col(node_col)).distinct()
                   .join(edge_nodes, node_col, "left_anti")
                   .select(F.col(node_col),
                           F.lit(0).cast("int").alias("n_removed")))
        return surv_df.unionByName(singles)
    # scale path: full distributed assignment, then sizes + survivors.
    # edges is already checkpointed, so handing it to connected_components
    # does not re-derive the (typically expensive) pair lineage.
    clusters = connected_components(
        edges, nodes, src="u", dst="v", node_col=node_col,
        max_iterations=max_iterations, checkpoint=checkpoint,
        small_graph_threshold=0, initial_checksum=checksum_row)
    sizes = clusters.groupBy("entity_id").agg(
        (F.count(F.lit(1)) - F.lit(1)).cast("int").alias("n_removed"))
    return (clusters.where(F.col(node_col) == F.col("entity_id"))
            .join(sizes, "entity_id").select(node_col, "n_removed"))


def incremental_components(
    old_clusters: DataFrame,
    new_pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "term_id",
    new_nodes: DataFrame | None = None,
    max_iterations: int = 20,
    checkpoint=None,
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
    if checkpoint is None:
        def checkpoint(df: DataFrame) -> DataFrame:  # noqa: ANN001
            return df.localCheckpoint(eager=True)
    edges = (new_pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"]))
    # the edge lineage is typically a fuzzy join — materialize once
    # instead of re-deriving it for endpoints, the subgraph union, and
    # the CC entry checkpoint
    edges = checkpoint(edges)
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
        node_col=node_col, max_iterations=max_iterations,
        checkpoint=checkpoint)
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
