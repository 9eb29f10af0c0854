"""Physical-plan regression guards: the properties BENCH/PLANS.md claims
must stay true as code evolves — a silent Python hop or a lost pushdown
in the hot path is a 10-100x regression at 100 TB that small-fixture
correctness tests would never catch."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators.fuzzy_join import (
    fuzzy_join,
    fuzzy_self_join,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _terms(spark, words):
    return (spark.createDataFrame([(w,) for w in words], ["term"])
            .withColumn("term_id", F.col("term")))


WORDS = ["table", "stable", "tble", "stream", "steam", "deploy"]


def test_standard_fuzzy_join_has_no_python_nodes(spark):
    qs = spark.createDataFrame([("q1", "tble")], ["q_id", "q_text"])
    plan = _plan(fuzzy_join(qs, _terms(spark, WORDS), n=1,
                            method="deletion"))
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan, plan


def test_transposition_fuzzy_join_arrow_nodes_bounded(spark):
    import re
    qs = spark.createDataFrame([("q1", "tble")], ["q_id", "q_text"])
    plan = _plan(fuzzy_join(qs, _terms(spark, WORDS), n=1,
                            variant="transposition", method="deletion"))
    # one logical Arrow kernel; projection collapse may re-inline it into
    # a filter+project pair (2 nodes — the accepted dual evaluation,
    # BENCH/PLANS.md "Weighted kernel / IVF plans"). Anything beyond 2
    # means a third Python hop crept into the verify path.
    nodes = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    assert 1 <= len(nodes) <= 2, plan


def test_self_join_scan_prunes_to_text_column(spark, tmp_path, sf_dir):
    # parquet-backed dictionary: the blocked self-join must read only the
    # columns it uses (ReadSchema pruning), and the key explode must hash
    # before the exchange (no raw text in shuffle keys)
    p = str(tmp_path / "turns")
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .selectExpr("cast(doc_id as string) AS extra1",
                    "lang AS extra2", "lower(text) AS text") \
        .write.parquet(p)
    turns = spark.read.parquet(p)
    terms = (turns.select(F.col("text").alias("term")).distinct()
             .withColumn("term_id", F.col("term")))
    plan = _plan(fuzzy_self_join(terms, n=1, method="segment"))
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "extra1" not in ln and "extra2" not in ln, ln
    assert "xxhash64" in plan


def test_substring_doc_index_reuse_skips_index_rebuild(spark):
    """The shared-index path (r4): with doc_index= the join plan must NOT
    contain the per-length explode(sequence)+substring index derivation —
    the index stage is built once and reused across query workloads
    (substring.build_substring_index), so the join's doc-side input is a
    plain scan/filter of the prebuilt index."""
    from liblevenshtein_rust_spark.operators.substring import (
        build_substring_index, fuzzy_substring_join)
    docs = spark.createDataFrame(
        [(1, "a scan of the table"), (2, "fast scan path")],
        ["doc_id", "text"])
    qdf = spark.createDataFrame([("scan", "scan")], ["q_id", "q_text"])
    # materialize the index as a table, as a deployment would
    idx = build_substring_index(docs, [4]).localCheckpoint(eager=True)
    with_idx = _plan(fuzzy_substring_join(
        qdf, docs, n=0, all_positions=True, doc_index=idx, index_lens=[4]))
    without = _plan(fuzzy_substring_join(qdf, docs, n=0, all_positions=True))
    # the inline path derives the index in-plan (explode over sequence of
    # positions); the reuse path must not
    assert "Generate explode" in without or "explode" in without.lower()
    n_explodes_with = with_idx.lower().count("explode")
    n_explodes_without = without.lower().count("explode")
    assert n_explodes_with < n_explodes_without, (
        with_idx, n_explodes_with, n_explodes_without)


def test_cluster_cohesion_plan_is_jvm_only(spark):
    """The cohesion audit must stay aggregation+join codegen: no Python
    nodes, and no re-derivation of pairwise work (its only inputs are the
    cluster map and the already-materialized pair list)."""
    from liblevenshtein_rust_spark.operators.cluster import cluster_cohesion
    cl = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], ["term", "entity_id"])
    pairs = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1)], ["term_a", "term_b", "distance"])
    plan = _plan(cluster_cohesion(cl, pairs, weight_col="distance"))
    assert "ArrowEval" not in plan and "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_spread_input_preserves_rows_and_widens(spark):
    """r6: spread_input must only change layout — same rows, and at least
    defaultParallelism partitions when the input is narrower."""
    from liblevenshtein_rust_spark.operators.skew import spread_input
    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], ["id", "t"]).coalesce(1)
    out = spread_input(df)
    assert out.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 50)
    assert sorted(r["id"] for r in out.collect()) == list(range(50))
    # already-wide inputs pass through without an added shuffle
    wide = df.repartition(spark.sparkContext.defaultParallelism + 4)
    assert spread_input(wide) is wide


def test_variant_join_single_arrow_eval(spark):
    """r6 (guide §4.4): the nondeterministic fence on the distance-kernel
    UDFs must leave exactly ONE ArrowEvalPython node — the filter on the
    UDF-computed distance previously planned a second evaluation."""
    import re
    qs = spark.createDataFrame([("q1", "tble")], ["q_id", "q_text"])
    plan = _plan(fuzzy_join(qs, _terms(spark, WORDS), n=1,
                            variant="transposition", method="deletion"))
    nodes = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    assert len(nodes) == 1, plan


def test_substring_best_match_hash_aggregates(spark):
    """r6: the best-position aggregate packs (distance, pos) into one
    int64 min and keeps q_text as a grouping key, so it must plan as
    HashAggregate (map-side partials), never SortAggregate."""
    from liblevenshtein_rust_spark.operators.substring import (
        fuzzy_substring_join)
    docs = spark.createDataFrame(
        [(1, "a scan of the table"), (2, "fast scan path")],
        ["doc_id", "text"])
    qdf = spark.createDataFrame([("scan", "scan")], ["q_id", "q_text"])
    plan = _plan(fuzzy_substring_join(qdf, docs, n=1))
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan


#: physical-operator sequence (explain "formatted" node order) of the
#: scored_pairs self-join exactly as run_pipeline issues it, on a
#: parquet-backed dictionary: the probe-key and index-key tables, each
#: the union of its deletion and segment key routes, the broadcast
#: probe × index key join + pair dedupe, and two plain text attaches
#: (no per-id collapse) — the shape perfbench's link_templated workload
#: times
PIPELINE_UNIQUE_SELF_JOIN_OPS = [
    "Scan parquet", "Filter", "Generate", "Project",
    "Scan parquet", "Filter", "Generate", "Project",
    "Union",
    "Scan parquet", "Filter", "Generate", "Project",
    "Scan parquet", "Filter", "Generate", "Project",
    "Union",
    "BroadcastExchange", "BroadcastHashJoin", "Project",
    "HashAggregate", "Exchange", "HashAggregate",
    "Scan parquet", "Filter", "Project",
    "BroadcastExchange", "BroadcastHashJoin", "Project",
    "Scan parquet", "Filter", "Project",
    "BroadcastExchange", "BroadcastHashJoin", "Project",
    "AdaptiveSparkPlan",
]


def test_pipeline_unique_ids_self_join_plan_shape(spark, tmp_path):
    """The scored_pairs self-join exactly as run_pipeline issues it
    (PipelineConfig defaults, hybrid blocking, no salting, over
    build_dictionary's one row per term_id) keeps its physical-operator
    sequence."""
    import re

    from liblevenshtein_rust_spark.operators.fuzzy_join import build_dictionary
    from liblevenshtein_rust_spark.plans.pipeline import PipelineConfig
    p = str(tmp_path / "terms")
    build_dictionary(spark.createDataFrame([(w,) for w in WORDS], ["text"])) \
        .write.parquet(p)
    cfg = PipelineConfig(checkpoint_dir=str(tmp_path))
    out = fuzzy_self_join(spark.read.parquet(p), n=cfg.n, variant=cfg.variant,
                          method=cfg.method, salt_threshold=cfg.salt_threshold,
                          salt_groups=cfg.salt_groups)
    ops = [m.group(1).strip()
           for m in re.finditer(r"^\(\d+\) ([^\[\n]+)", _plan(out), re.M)]
    assert ops == PIPELINE_UNIQUE_SELF_JOIN_OPS, ops


#: Spark jobs one fresh run_pipeline starts on the 1,500-turn
#: test_pipeline.py fixture: the stage writes, plus the clusters stage's
#: one bounded edge collect, which both picks the driver union-find and
#: feeds it
PIPELINE_JOBS = 14


def test_pipeline_job_count(spark, tmp_path):
    """Checkpoint bookkeeping (row counts, lineage, _metrics) adds no
    Spark job: count the jobs of one fresh run_pipeline through a job tag,
    and check that no SQL execution writes a sidecar path."""
    from liblevenshtein_rust_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)
    from liblevenshtein_rust_spark.sources.transcripts import (
        synth_transcripts)
    sc = spark.sparkContext
    tdf, _ = synth_transcripts(spark, 1500, seed=42, dup_frac=0.55,
                               max_edits=2)
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = sql_store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    tag = "lls-job-count-guard"
    sc.addJobTag(tag)
    try:
        run_pipeline(spark, tdf, PipelineConfig(
            checkpoint_dir=str(tmp_path), run_id="t1", n=2,
            variant="transposition"))
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    assert len(jobs) == PIPELINE_JOBS, sorted(jobs)
    plans = [e.physicalPlanDescription() for e in executions()
             if e.executionId() > before]
    assert plans
    assert not [p for p in plans if "/_lineage" in p or "/_metrics" in p]


def _docs_parquet(spark, sf_dir, tmp_path):
    """A private parquet copy of the sf_dir documents, so that no other
    test's cached read of the same file substitutes an in-memory scan."""
    p = str(tmp_path / "docs")
    spark.read.parquet(f"{sf_dir}/documents.parquet").write.parquet(p)
    return spark.read.parquet(p)


def test_jaccard_plan_reads_one_document_table(spark, sf_dir, tmp_path):
    """token_jaccard_pairs as run_dedup_pipeline issues it (group_col
    "lang", hash_tokens, the default threshold) on a parquet input builds
    one per-document token table: the word explode is planned only for
    the word-frequency count and the prefix rank, and no aggregate
    regroups exploded _w rows into a list (the verify reads the
    per-document arrays). The old plan, which spread the input, exploded
    it four times and regrouped the tokens for sizes and verify arrays,
    had 8 Generate and 16 Exchange nodes before execution."""
    import re

    from liblevenshtein_rust_spark.operators.dedup import token_jaccard_pairs
    from liblevenshtein_rust_spark.plans.pipeline import DedupConfig
    cfg = DedupConfig(checkpoint_dir="", method="jaccard", group_col="lang",
                      hash_tokens=True)
    plan = _plan(token_jaccard_pairs(
        _docs_parquet(spark, sf_dir, tmp_path),
        id_col=cfg.id_col, text_col=cfg.text_col, group_col=cfg.group_col,
        min_ratio_milli=cfg.threshold_milli, hash_tokens=cfg.hash_tokens))
    ops = [m.group(1).strip()
           for m in re.finditer(r"^\(\d+\) ([^\[\n]+)", plan, re.M)]
    assert ops.count("Generate") <= 4, ops
    assert ops.count("Exchange") <= 8, ops
    assert not re.search(r"collect_list\(_w#", plan), plan


#: Spark jobs one fresh run_dedup_pipeline(jaccard, group_col="lang",
#: hash_tokens=True) starts on a copy of the sf_dir documents: the stage
#: writes, plus the survivor stage's one bounded edge collect
DEDUP_JOBS = 11


def test_dedup_pipeline_job_count(spark, tmp_path, sf_dir):
    """Count the jobs of one fresh jaccard run_dedup_pipeline, as the
    dedup_docs workload configures it, through a job tag."""
    from liblevenshtein_rust_spark.plans.pipeline import (
        DedupConfig, run_dedup_pipeline)
    sc = spark.sparkContext
    docs = _docs_parquet(spark, sf_dir, tmp_path / "in")
    tag = "lls-dedup-job-count-guard"
    sc.addJobTag(tag)
    try:
        run_dedup_pipeline(spark, docs, DedupConfig(
            checkpoint_dir=str(tmp_path), run_id="d1", method="jaccard",
            group_col="lang", hash_tokens=True))
    finally:
        sc.removeJobTag(tag)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    assert len(jobs) == DEDUP_JOBS, sorted(jobs)


def _final_plan_ops(df):
    """Operator counts of ``df``'s adaptive final plan, after collecting
    it (the plan AQE ran, with its reused exchanges)."""
    import re
    from collections import Counter
    df.collect()
    final = _plan(df).split("== Final Plan ==")[1] \
        .split("== Initial Plan ==")[0]
    return Counter(re.findall(r"^[\s:|+-]*(?:\* )?([A-Z]\w*)", final, re.M))


def test_fuzzy_join_attaches_texts_without_aggregate(spark, tmp_path):
    """An A×B fuzzy_join attaches each side's texts with a plain join on
    the input rows: the plan AQE runs has no SortAggregate."""
    words = WORDS + ["tables", "steams", "deplo", "tabel"]
    p = str(tmp_path / "dict")
    _terms(spark, words).write.parquet(p)
    dictionary = spark.read.parquet(p)
    queries = dictionary.selectExpr("term_id AS q_id", "term AS q_text")
    ops = _final_plan_ops(fuzzy_join(queries, dictionary, n=1,
                                     method="deletion"))
    assert ops["SortAggregate"] == 0, ops


#: final-plan counts of the nodes that show how often a self-join's key
#: table is built: the MinHash/SimHash signature aggregate and shingle or
#: word explode, the band-key explode, the cosine signature UDF. Each
#: self-join below reads one key table through one ``_bkey`` exchange
#: that its second side reuses. The parent tree's cosine LSH self-join
#: ran its signature UDF once per join side (2 ArrowEvalPython,
#: 2 Generate, 1 Exchange, 1 ReusedExchange), and SimHash carried the
#: signature on its key rows (4 HashAggregate, 1 ReusedExchange). The
#: deletion join's text attaches are plain joins, with no SortAggregate.
SELF_JOIN_KEY_OPS = {
    "minhash": {"ArrowEvalPython": 0, "Exchange": 4, "Generate": 2,
                "HashAggregate": 4, "ReusedExchange": 3},
    "simhash": {"ArrowEvalPython": 0, "Exchange": 4, "Generate": 2,
                "HashAggregate": 5, "ReusedExchange": 3},
    "cosine_lsh": {"ArrowEvalPython": 1, "Exchange": 2, "Generate": 1,
                   "HashAggregate": 2, "ReusedExchange": 2},
    "deletion": {"ArrowEvalPython": 0, "Exchange": 3, "Generate": 1,
                 "HashAggregate": 2, "ReusedExchange": 2, "SortAggregate": 0},
}


def test_self_join_builds_key_table_once(spark, sf_dir, tmp_path):
    """MinHash and SimHash (xxhash64), the cosine LSH self-join and the
    deletion-key fuzzy self-join each evaluate their one key table once
    in the plan AQE runs."""
    from liblevenshtein_rust_spark.operators.dedup import (
        minhash_lsh_pairs, simhash_pairs)
    from liblevenshtein_rust_spark.operators.similarity import (
        cosine_near_dup_pairs)
    docs = _docs_parquet(spark, sf_dir, tmp_path)
    p = str(tmp_path / "emb")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").write.parquet(p)
    joins = {
        "minhash": minhash_lsh_pairs(docs, jaccard_threshold=0.8),
        "simhash": simhash_pairs(docs, max_hamming=3),
        "cosine_lsh": cosine_near_dup_pairs(spark.read.parquet(p), 0.35,
                                            method="lsh"),
        "deletion": fuzzy_self_join(_terms(spark, WORDS), n=1,
                                    method="deletion"),
    }
    for name, df in joins.items():
        ops = _final_plan_ops(df)
        assert {op: ops[op] for op in SELF_JOIN_KEY_OPS[name]} \
            == SELF_JOIN_KEY_OPS[name], (name, ops)


#: Spark jobs of each later incremental_upsert batch when 1,000 seeded
#: synth_transcripts turns are folded in 3 batches, as perfbench's
#: streaming.incremental layer splits them. The parent tree ran 42: the
#: batch's fresh x all fuzzy join ran once for the pair state and again
#: for the cluster fold.
INCREMENTAL_BATCH_JOBS = 36


def test_incremental_batch_job_count(spark, tmp_path):
    """A later incremental batch runs a fixed number of jobs, and exactly
    one of its SQL executions runs the fuzzy join's verify."""
    from liblevenshtein_rust_spark.sources.transcripts import (
        synth_transcripts)
    from liblevenshtein_rust_spark.streaming.incremental import (
        incremental_upsert)
    sc = spark.sparkContext
    p = str(tmp_path / "turns")
    synth_transcripts(spark, 1000, seed=1, max_edits=1)[0].write.parquet(p)
    turns = spark.read.parquet(p)
    part = F.pmod(F.xxhash64(F.lit(1), "conv_id", "turn_idx"), F.lit(3))
    state = str(tmp_path / "state")
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        execs = sql_store.executionsList()
        return [execs.apply(i) for i in range(execs.size())]

    incremental_upsert(turns.where(part == 0), state, n=2)
    for b in (1, 2):
        before = max((e.executionId() for e in executions()), default=-1)
        tag = f"lls-incremental-job-count-guard-{b}"
        sc.addJobTag(tag)
        try:
            incremental_upsert(turns.where(part == b), state, n=2)
        finally:
            sc.removeJobTag(tag)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
        assert len(jobs) == INCREMENTAL_BATCH_JOBS, (b, sorted(jobs))
        verifies = [e for e in executions() if e.executionId() > before
                    and "levenshtein(" in e.physicalPlanDescription()]
        assert len(verifies) == 1, b
