"""SparkSession factory with scale-oriented defaults.

Local-mode settings mirror what we would set on a 1000-executor cluster:
AQE on (skew-join splitting + partition coalescing), runtime bloom-filter
join pushdown (the distributed analog of the reference's Bloom-filter
``contains`` fast path, /root/reference/README.md:255-282), Arrow transfer
for the pandas scoring kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Defaults chosen so that at 100 TB the same config only needs
# shuffle-partition / memory scaling, not structural change.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # r6 (guide §2.2/§2.5): AQE coalesces on shuffle BYTES, but several hot
    # paths here have high per-row cost downstream of a tiny shuffle (the
    # levenshtein verify on ~300-char texts: ~16 bytes of (id_a, id_b)
    # per pair stands in for O(len^2/band) DP work; the depth-3 deletion-key
    # explode: ~1.5 MB of distinct words fans out 300x). With the default
    # 1 MB floor those stages coalesced to ONE task (profiled: a 1.0 s
    # single-task verify stage inside every fuzzy pair query at sf0.1).
    # A 64 KB floor is scale-neutral: at deployment scale shuffle
    # partitions are >> 1 MB and parallelismFirst still targets
    # bytes/defaultParallelism — only the small-bytes/high-cost regime
    # changes, and that regime is exactly what was serializing.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # r6: let AQE re-optimize plans under persist() too — the cached key /
    # token tables otherwise materialize at the raw shuffle-partition
    # count (64 near-empty cache partitions -> 64-task scheduling
    # overhead on every cached read; profiled ~0.3-0.7 s per fuzzy pair
    # query at sf0.1 across its six 64-task micro-stages).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    # deterministic timestamps in tests regardless of host tz
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API, so checkpoint
    resume works for HDFS/S3 paths exactly like local ones (a driver-local
    ``os.path.exists`` would silently force recompute on a cluster)."""
    fs, jpath = _hadoop_path(spark, path)
    return bool(fs.exists(jpath))


def fs_write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Write a small file through the Hadoop FileSystem API, so
    driver-side sidecar files (the pipeline's info.json, ``_metrics`` and
    ``_lineage``) land next to HDFS/S3 checkpoints instead of failing on
    a non-local path."""
    fs, jpath = _hadoop_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def fs_write_parquet(spark: SparkSession, path: str, table) -> None:
    """Replace the parquet directory ``path`` with one file holding the
    pyarrow ``table`` (plus a ``_SUCCESS`` marker), written from the
    driver: no Spark job and no Python worker. For small sidecar tables
    only; ``spark.read.parquet(path)`` reads it like a Spark-written
    directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    fs, jpath = _hadoop_path(spark, path)
    fs.delete(jpath, True)
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fs_write_bytes(spark, os.path.join(path, "part-00000.parquet"),
                   buf.getvalue().to_pybytes())
    fs_write_bytes(spark, os.path.join(path, "_SUCCESS"), b"")


def get_spark(
    app_name: str = "liblevenshtein-rust-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``*``) — but ONLY when no master was provided externally: under
    ``spark-submit --master <cluster>`` the master arrives through the
    submit-time SparkConf, and forcing ``local[*]`` here would silently
    turn a cluster job into a single-node one. Every pipeline entry
    point also accepts an externally built session.

    Two distinct "externally provided" signals are honored, because in a
    fresh spark-submit python driver no JVM exists yet and a driver-side
    ``SparkConf()`` is an EMPTY local dict (the submitted spark.master
    lives in a JVM system property this process cannot see until the
    gateway launches):

    1. ``PYSPARK_GATEWAY_PORT`` in the environment — spark-submit's
       PythonRunner sets it when it launches the python driver against
       an already-running gateway JVM. Calling ``.master()`` there would
       override the submitted cluster master at getOrCreate.
    2. A non-empty ``SparkConf().get("spark.master")`` — the same-process
       case where a JVM (and its conf) already exists.
    """
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        from pyspark import SparkConf
        if not SparkConf().get("spark.master", None):
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def df_is_local_relation(df) -> bool:
    """True when ``df`` optimizes to a driver-local relation (VALUES /
    fixture tables), so a bounded ``collect()`` of a projection runs
    driver-side with NO Spark job. ``DataFrame.isLocal()`` checks only
    the ANALYZED plan and misses the ubiquitous Project-over-
    LocalRelation shape, so the optimized plan is consulted (r6)."""
    try:
        name = (df._jdf.queryExecution().optimizedPlan()
                .getClass().getSimpleName())
        return name in ("LocalRelation", "OneRowRelation")
    except Exception:  # non-classic backends: fall back to the slow path
        return bool(df.isLocal())


def distinct_lengths(df, col: str) -> list[int]:
    """Sorted distinct non-NULL ``length(col)`` values of ``df``: the
    adaptive query-length stat of the prefix and substring joins, bounded
    by the longest query, never by row count. A local (VALUES / fixture)
    table is read driver-side with no Spark job; any other pays ONE
    ``collect_set`` aggregation (r6: the distinct().collect() form paid a
    shuffle + multi-task result stage)."""
    if df_is_local_relation(df):
        return sorted({r[0] for r in df.select(F.length(col)).collect()
                       if r[0] is not None})
    return sorted(df.agg(F.collect_set(F.length(col))).first()[0])
