"""Incremental (streaming) dictionary maintenance.

The reference's DynamicDawg supports live insert/remove visible to
concurrent queries (/root/reference/src/dictionary/dynamic_dawg.rs:344,560;
README.md:250-254). The Spark-native equivalent is Structured Streaming +
``foreachBatch`` upsert into checkpointed state tables:

    new turns (micro-batch)
      -> canonicalize -> NEW distinct terms (anti-join vs known terms)
      -> fuzzy join NEW terms vs (known ∪ new) terms   [incremental:
         old x old pairs are already in state; only new x all is scored]
      -> append pairs, re-derive clusters, overwrite state atomically

State layout under ``state_dir``: terms/, pairs/, clusters/ (parquet;
Iceberg tables + MERGE INTO on a cluster). Deterministic md5 term ids make
re-processing idempotent: replaying a batch cannot duplicate terms or
pairs (dropDuplicates on content keys).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators.cluster import (
    connected_components,
    incremental_components,
)
from liblevenshtein_rust_spark.operators.fuzzy_join import (
    build_dictionary,
    fuzzy_join,
)


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    from liblevenshtein_rust_spark.session import fs_exists
    if fs_exists(spark, os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    return None


def incremental_upsert(batch_df: DataFrame, state_dir: str, *,
                       n: int = 2, variant: str = "standard",
                       method: str = "segment") -> None:
    """foreachBatch body: fold a micro-batch of transcript turns into the
    linkage state. Pure DataFrame ops; writes are overwrite-atomic per
    directory (Iceberg snapshot commit on a cluster)."""
    spark = batch_df.sparkSession
    terms_path = os.path.join(state_dir, "terms")
    pairs_path = os.path.join(state_dir, "pairs")
    clusters_path = os.path.join(state_dir, "clusters")

    new_terms = build_dictionary(batch_df, "text")
    old_terms = _read_state(spark, terms_path)
    if old_terms is not None:
        fresh = new_terms.join(old_terms.select("term_id"), "term_id", "left_anti")
        all_terms = (
            old_terms.unionByName(new_terms)
            .groupBy("term_id", "term").agg(F.sum("freq").alias("freq"))
        )
    else:
        fresh = new_terms
        all_terms = new_terms
    fresh = fresh.localCheckpoint(eager=True)
    all_terms = all_terms.localCheckpoint(eager=True)

    # incremental candidate generation: fresh (probe) x all (index)
    matches = fuzzy_join(fresh.selectExpr("term_id AS q_id", "term AS q_text"),
                         all_terms, n=n, variant=variant, method=method)
    # materialized once: the pair state and the cluster fold both read
    # this batch's pairs, and neither may re-run the fuzzy join
    new_pairs = matches.where(F.col("q_id") != F.col("term_id")).select(
        F.least("q_id", "term_id").alias("id_a"),
        F.greatest("q_id", "term_id").alias("id_b"),
        "distance",
    ).dropDuplicates(["id_a", "id_b"]).localCheckpoint(eager=True)

    old_pairs = _read_state(spark, pairs_path)
    all_pairs = new_pairs
    if old_pairs is not None:
        # materialize BEFORE overwriting the pairs directory it reads
        all_pairs = old_pairs.unionByName(new_pairs) \
            .dropDuplicates(["id_a", "id_b"]).localCheckpoint(eager=True)

    # cluster maintenance: with existing state, recluster ONLY components
    # touched by this batch's edges (incremental_components — per-batch
    # cost stays O(batch), not O(total state)); full CC only on the first
    # batch. Idempotent under replay either way: reapplying the same
    # edges to the already-updated assignment recomputes the same labels.
    old_clusters = _read_state(spark, clusters_path)
    if old_clusters is not None:
        # materialize BEFORE overwriting: the incremental result derives
        # from this very parquet directory, and overwrite deletes the
        # files under a lazy plan (the CLI insert/delete guard, here for
        # the clusters state)
        old_clusters = old_clusters.localCheckpoint(eager=True)
        clusters = incremental_components(
            old_clusters, new_pairs, src="id_a", dst="id_b",
            node_col="term_id", new_nodes=fresh.select("term_id"))
    else:
        clusters = connected_components(
            all_pairs, all_terms, src="id_a", dst="id_b", node_col="term_id")

    # Commit order matters for replay safety: terms are written LAST. If the
    # job dies after pairs/clusters but before terms, the replayed batch
    # still sees the OLD terms state, re-derives the same fresh terms and
    # pairs, and the dropDuplicates unions make the rewrite idempotent.
    # (Writing terms first would make the replay's anti-join find no fresh
    # terms and silently lose that batch's pairs.) All three DataFrames are
    # derived from localCheckpoint()ed inputs, so the later writes cannot
    # observe a half-overwritten earlier directory.
    all_pairs.write.mode("overwrite").parquet(pairs_path)
    clusters.write.mode("overwrite").parquet(clusters_path)
    all_terms.write.mode("overwrite").parquet(terms_path)


def run_incremental_stream(spark: SparkSession, input_path: str,
                           state_dir: str, *, n: int = 2,
                           variant: str = "standard",
                           method: str = "segment"):
    """Consume all currently-available parquet files under ``input_path``
    as a stream of transcript turns and fold them into linkage state.
    availableNow semantics: processes the backlog then stops — rerunning
    picks up only files added since (streaming checkpoint), giving the
    continuous-ingest behavior the reference gets from DynamicDawg."""
    from liblevenshtein_rust_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )
    q = (
        stream.writeStream
        .foreachBatch(lambda df, _eid: incremental_upsert(
            df, state_dir, n=n, variant=variant, method=method))
        .option("checkpointLocation", os.path.join(state_dir, "_stream_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
