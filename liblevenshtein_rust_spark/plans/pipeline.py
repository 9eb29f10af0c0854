"""End-to-end record-linkage pipeline with checkpoint/resume + lineage.

Stages (SURVEY.md §7.1), each a pure DataFrame -> DataFrame function whose
output is checkpointed under (run_id, stage):

    0 canon          canonicalized turns (stable (conv_id, turn_idx) order)
    1 terms          distinct-term dictionary (term_id, term, freq)
    2 scored_pairs   fuzzy self-join, distance <= n
    3 clusters       term_id -> entity_id (connected components)
    4 turn_entities  (conv_id, turn_idx, entity_id)
    5 metrics        per-stage row counts + durations (``_metrics``,
                     ``info.json``); lineage = rows per write task of
                     each stage (``_lineage/<stage>``)

Each stage's checkpoint write is its only Spark job: the row count is an
``Observation`` computed inside the write, and the lineage is the
``recordsWritten`` of each non-empty write task, read from Spark's status
store and checked against that count (a mismatch or an unreadable store
falls back to a read-back ``spark_partition_id()`` aggregate). A lineage
row is therefore one per non-empty write task, not one per read-back
split; the per-stage sums are the same. Stage 5 is written from the
driver as pyarrow tables through the Hadoop FS API, with no Spark job.
Iceberg checkpoints keep the read-back count and lineage.

Resume is read-if-exists on the checkpoint table — the pipeline-granularity
version of the reference's checkpoint/undo discipline
(/root/reference/src/contextual/engine.rs:646-697). Checkpoints are parquet
directories here; on a cluster with an Iceberg catalog set
``table_format="iceberg"`` and the same stages write Iceberg tables
(``df.writeTo(...)``) whose snapshots give time travel on top.

All ids are content hashes (md5), so resumed runs are byte-identical to
uninterrupted ones regardless of cluster size or task placement.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
from py4j.protocol import Py4JError, Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.canonicalize import canon_text, phonetic_canon, term_id
from liblevenshtein_rust_spark.functions.distance import STANDARD
from liblevenshtein_rust_spark.operators.cluster import connected_components
from liblevenshtein_rust_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    near_dup_dedup,
    simhash_pairs,
    token_jaccard_pairs,
)
from liblevenshtein_rust_spark.operators.fuzzy_join import build_dictionary, fuzzy_self_join
from liblevenshtein_rust_spark.session import fs_exists, fs_write_bytes, fs_write_parquet


@dataclass
class PipelineConfig:
    checkpoint_dir: str
    run_id: str = "run0"
    n: int = 2
    variant: str = STANDARD
    method: str = "hybrid"   # needs no dataset statistic ("auto" = alias)
    phonetic: bool = False
    table_format: str = "parquet"   # "iceberg" on clusters with a catalog
    cc_max_iterations: int = 20
    #: bucket count for keyed checkpoint stages (terms/scored_pairs/
    #: clusters, bucketed+sorted by their join key via saveAsTable).
    #: Downstream equi-joins between co-bucketed stages then run with NO
    #: exchange on either side — the physical-design lever for repeated
    #: joins over the same keys at 100 TB. None = plain parquet dirs.
    bucket_by: int | None = None
    #: index keys with more members than this spread over salt_groups
    #: reducer keys by deterministic salting (operators/skew.py) instead
    #: of one; None = rely on AQE skew-join splitting alone.
    #: Set on corpora with pathological hot keys (common short turns).
    salt_threshold: int | None = None
    salt_groups: int = 8
    extra: dict = field(default_factory=dict)


#: join key per bucketable stage (the column later equi-joins hit)
_BUCKET_KEYS = {"terms": "term_id", "scored_pairs": "id_a",
                "clusters": "term_id", "dedup_pairs": "id_a"}

#: sidecar tables, in the column order and types they always had
_LINEAGE_SCHEMA = pa.schema([("partition_id", pa.int32()),
                             ("rows", pa.int64()), ("run_id", pa.string()),
                             ("stage", pa.string())])
_METRICS_SCHEMA = pa.schema([("run_id", pa.string()), ("stage", pa.string()),
                             ("resumed", pa.bool_()),
                             ("seconds", pa.float64()), ("rows", pa.int64())])

#: local properties SparkContext.setJobGroup sets; a stage write restores
#: the caller's values
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel")


@dataclass
class DedupConfig:
    """Config for the checkpointed document-dedup pipeline (same
    checkpoint/lineage/resume discipline as the linkage PipelineConfig —
    candidate-pair and survivor stages are durable, idempotent tables)."""
    checkpoint_dir: str
    run_id: str = "dedup0"
    method: str = "jaccard"      # exact | jaccard | minhash | simhash
    threshold_milli: int = 900   # token-Jaccard threshold (jaccard/minhash)
    max_hamming: int = 3         # SimHash bit distance
    group_col: str | None = None
    id_col: str = "doc_id"
    text_col: str = "text"
    table_format: str = "parquet"
    bucket_by: int | None = None
    #: jaccard only: hashed 8-byte tokens in every shuffle (exact w.h.p.)
    hash_tokens: bool = False
    extra: dict = field(default_factory=dict)


class _Runner:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.info: dict[str, dict] = {}

    def _bucketed(self, stage: str) -> bool:
        return (self.cfg.bucket_by is not None
                and self.cfg.table_format == "parquet"
                and stage in _BUCKET_KEYS)

    def _ensure_db(self) -> None:
        self.spark.sql(
            f"CREATE DATABASE IF NOT EXISTS {self.cfg.extra.get('db', 'lls')}")

    def _path(self, stage: str) -> str:
        return os.path.join(self.cfg.checkpoint_dir, self.cfg.run_id, stage)

    def _table(self, stage: str) -> str:
        return f"{self.cfg.extra.get('db', 'lls')}.{self.cfg.run_id}_{stage}"

    def _exists(self, stage: str) -> bool:
        # probe through the catalog / Hadoop FS, not the driver's local
        # filesystem — resume must work with HDFS/S3 checkpoint dirs and
        # with Iceberg tables (which never write a parquet _SUCCESS marker)
        if self.cfg.table_format == "iceberg" or self._bucketed(stage):
            return self.spark.catalog.tableExists(self._table(stage))
        return fs_exists(self.spark, os.path.join(self._path(stage), "_SUCCESS"))

    def _read(self, stage: str, schema=None) -> DataFrame:
        if self.cfg.table_format == "iceberg" or self._bucketed(stage):
            # bucketed layouts are only visible through the catalog — a
            # path read would lose the bucket spec (and the no-shuffle
            # joins downstream)
            return self.spark.read.table(self._table(stage))
        # a known schema (the one just written) skips parquet schema
        # inference, which is a Spark job of its own
        reader = self.spark.read if schema is None else \
            self.spark.read.schema(schema)
        return reader.parquet(self._path(stage))

    def stage(self, name: str, fn) -> DataFrame:
        """Idempotent stage: read checkpoint if present, else compute+write.

        The checkpoint write is the stage's only Spark job. Its row count
        is an ``Observation`` on the written DataFrame, computed inside
        the write job; its lineage is the rows each write task wrote, read
        from Spark's status store (``_write_task_rows``). When that
        per-task sum does not equal the observed count, or the store
        cannot be read, the stage falls back to a read-back aggregate
        over ``spark_partition_id()``. Iceberg tables always take the
        read-back path: ``Observation`` on a DSv2 ``createOrReplace`` is
        not verified here, and a metric that never arrived would block
        ``Observation.get`` forever."""
        t0 = time.time()
        if self._exists(name):
            df = self._read(name)
            self.info[name] = {"resumed": True, "seconds": time.time() - t0}
            return df
        df = fn()
        lineage = None
        if self.cfg.table_format == "iceberg":
            self._write(name, df)
        else:
            obs = Observation()
            group = self._write(
                name, df.observe(obs, F.count(F.lit(1)).alias("rows")))
            rows = obs.get["rows"]
            try:
                lineage = _write_task_rows(self.spark, group)
            except Py4JError:  # private-API drift: take the read-back path
                lineage = None
            if lineage is not None and sum(lineage.values()) != rows:
                lineage = None
        out = self._read(name, df.schema)
        if lineage is None:
            lineage = {r[0]: r[1] for r in out.groupBy(
                F.spark_partition_id()).count().collect()}
        # written now, not with _metrics: a run killed at a later stage
        # resumes this one and would otherwise never record its lineage
        fs_write_parquet(self.spark, self._sidecar("_lineage", name),
                         pa.Table.from_pylist(
                             [{"partition_id": p, "rows": n,
                               "run_id": self.cfg.run_id, "stage": name}
                              for p, n in sorted(lineage.items())],
                             schema=_LINEAGE_SCHEMA))
        self.info[name] = {
            "resumed": False,
            "seconds": time.time() - t0,
            "rows": sum(lineage.values()),
        }
        return out

    def _write(self, name: str, df: DataFrame) -> str:
        """Write the stage checkpoint under a fresh job group (returned)
        and restore the caller's job group afterwards."""
        sc = self.spark.sparkContext
        saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
        group = f"lls-{self.cfg.run_id}-{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"checkpoint {self.cfg.run_id}/{name}")
        try:
            if self.cfg.table_format == "iceberg":
                df.writeTo(self._table(name)).createOrReplace()
            elif self._bucketed(name):
                self._ensure_db()
                key = _BUCKET_KEYS[name]
                (df.write.mode("overwrite")
                 .bucketBy(self.cfg.bucket_by, key).sortBy(key)
                 .option("path", self._path(name))
                 .saveAsTable(self._table(name)))
            else:
                df.write.mode("overwrite").parquet(self._path(name))
        finally:
            for k, v in saved.items():
                sc.setLocalProperty(k, v)   # None removes the property
        return group

    def _sidecar(self, *parts: str) -> str:
        return os.path.join(self.cfg.checkpoint_dir, self.cfg.run_id, *parts)

    def write_metrics(self) -> None:
        """Write the run's ``_metrics`` table (one row per stage) and
        ``info.json`` next to the stage checkpoints, from the driver (no
        Spark job) through the Hadoop FS API: checkpoint_dir may be
        HDFS/S3, where a driver-local open() would crash after all the
        expensive stages ran."""
        cfg = self.cfg
        fs_write_parquet(self.spark, self._sidecar("_metrics"),
                         pa.Table.from_pylist(
                             [{"run_id": cfg.run_id, "stage": name,
                               "resumed": bool(v.get("resumed")),
                               "seconds": float(v["seconds"]),
                               "rows": int(v.get("rows", -1))}
                              for name, v in self.info.items()],
                             schema=_METRICS_SCHEMA))
        fs_write_bytes(self.spark, self._sidecar("info.json"),
                       json.dumps(self.info, indent=2,
                                  default=str).encode("utf-8"))


def _write_task_rows(spark: SparkSession,
                     group: str) -> dict[int, int] | None:
    """Rows each successful write task of job group ``group`` wrote,
    keyed by task index: the ``outputMetrics.recordsWritten`` that every
    file-write task reports, read from Spark's status store with no
    Spark job; None when a job of the group is no longer retained.
    Stages the store no longer holds are passed over: once it holds
    ``spark.ui.retainedStages`` stages, every cleanup deletes the skipped
    stages first, often those the write job just skipped, and a skipped
    stage writes nothing. The store and the listener bus are
    ``private[spark]`` but reachable through py4j; the caller checks the
    sum against the observed row count, so drift in these internals, a
    pruned write stage, task retention limits or task retries can only
    send it to the read-back fallback, never yield a wrong lineage."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    rows: dict[int, int] = {}
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            return None
        for sid in info.stageIds:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError as e:
                if (e.java_exception.getClass().getName()
                        != "java.util.NoSuchElementException"):
                    raise
                continue   # pruned from the store
            if not stage.outputRecords():
                continue   # shuffle-map or skipped stage: writes no file
            tasks = store.taskList(sid, stage.attemptId(), 2 ** 31 - 1)
            for i in range(tasks.size()):
                t = tasks.apply(i)
                if t.status() != "SUCCESS":
                    continue
                n = t.taskMetrics().get().outputMetrics().recordsWritten()
                if n:
                    rows[t.index()] = rows.get(t.index(), 0) + n
    return rows


def run_pipeline(spark: SparkSession, transcripts: DataFrame,
                 cfg: PipelineConfig) -> dict:
    """Run (or resume) the full linkage pipeline. Returns dict with the
    stage DataFrames plus runner info."""
    r = _Runner(spark, cfg)
    canon = phonetic_canon if cfg.phonetic else canon_text

    def s0():
        return (
            transcripts
            .withColumn("text", canon("text"))
            .withColumn("term_id", term_id("text"))
            # stable per-turn ordering invariant (north rule): sorting by
            # the natural key makes the checkpoint layout deterministic
            .repartition(F.col("conv_id"))
            .sortWithinPartitions("conv_id", "turn_idx")
        )

    turns = r.stage("canon", s0)

    def s1():
        return build_dictionary(turns, "text", canonicalize=False)

    terms = r.stage("terms", s1)

    def s2():
        return fuzzy_self_join(terms, n=cfg.n, variant=cfg.variant,
                               method=cfg.method,
                               salt_threshold=cfg.salt_threshold,
                               salt_groups=cfg.salt_groups)

    pairs = r.stage("scored_pairs", s2)

    def s3():
        return connected_components(
            pairs, terms, src="id_a", dst="id_b", node_col="term_id",
            max_iterations=cfg.cc_max_iterations)

    clusters = r.stage("clusters", s3)

    def s4():
        return (
            turns.select("conv_id", "turn_idx", "term_id")
            .join(clusters, "term_id")
            .select("conv_id", "turn_idx", "entity_id")
        )

    turn_entities = r.stage("turn_entities", s4)

    r.write_metrics()
    return {
        "turns": turns,
        "terms": terms,
        "scored_pairs": pairs,
        "clusters": clusters,
        "turn_entities": turn_entities,
        "info": r.info,
    }


def dedup_pairs(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The ``dedup_pairs`` stage: near-dup pairs of ``docs`` by
    ``cfg.method`` (exact fingerprint groups for method="exact")."""
    if cfg.method == "exact":
        return exact_dedup(docs, id_col=cfg.id_col, text_col=cfg.text_col)
    if cfg.method == "jaccard":
        return token_jaccard_pairs(
            docs, id_col=cfg.id_col, text_col=cfg.text_col,
            group_col=cfg.group_col, min_ratio_milli=cfg.threshold_milli,
            hash_tokens=cfg.hash_tokens)
    if cfg.method == "minhash":
        return minhash_lsh_pairs(
            docs, id_col=cfg.id_col, text_col=cfg.text_col,
            jaccard_threshold=cfg.threshold_milli / 1000.0)
    if cfg.method == "simhash":
        return simhash_pairs(docs, id_col=cfg.id_col, text_col=cfg.text_col,
                             max_hamming=cfg.max_hamming)
    raise ValueError(f"unknown dedup method {cfg.method!r}")


def dedup_survivors(docs: DataFrame, pairs: DataFrame,
                    cfg: DedupConfig) -> DataFrame:
    """The ``dedup_survivors`` stage: the rows of ``docs`` that survive
    ``pairs`` (a ``dedup_pairs`` output), plus ``n_removed``."""
    if cfg.method == "exact":
        return docs.join(
            pairs.select(F.col("rep_id").alias(cfg.id_col),
                         (F.col("n_docs") - F.lit(1)).cast("int")
                         .alias("n_removed")),
            cfg.id_col)
    return near_dup_dedup(docs, pairs, id_col=cfg.id_col)


def run_dedup_pipeline(spark: SparkSession, docs: DataFrame,
                       cfg: DedupConfig) -> dict:
    """Run (or resume) the checkpointed document-dedup pipeline:

        0 dedup_pairs      candidate/verified near-dup pairs (or exact
                           fingerprint groups for method="exact")
        1 dedup_survivors  surviving docs + n_removed per survivor

    Both stages are durable checkpoint tables with the same per-partition
    lineage + metrics sidecars as the linkage pipeline; re-running with
    the same (checkpoint_dir, run_id) resumes each stage read-only. On a
    100-TB corpus the pair stage is the expensive one — checkpointing it
    means survivor-policy changes (or downstream re-reads) never re-run
    the join."""
    r = _Runner(spark, cfg)
    pairs = r.stage("dedup_pairs", lambda: dedup_pairs(docs, cfg))
    survivors = r.stage("dedup_survivors",
                        lambda: dedup_survivors(docs, pairs, cfg))
    r.write_metrics()
    return {"pairs": pairs, "survivors": survivors, "info": r.info}
