"""Explicit skew handling for blocking-key joins.

Hot blocking keys (ultra-common short turns, empty segments) put one
block's entire candidate space into a single reducer. AQE's skew-join
splitting mitigates the shuffle, but the explicit salted path here makes
the mitigation deterministic and independent of runtime statistics —
required by the north rule ("salting for skewed blocks").

Scheme (hot index-key salting of a probe × index key join):

  an index key with more members than the threshold is hot; its index
  members get salt s = pmod(xxhash64(id), G) and its probe members are
  replicated to every salt 0..G-1; cold keys take salt 0 on both sides.
  The equi-join on (key, salt) then produces exactly the unsalted join's
  rows, a hot key's spread over G reducer keys instead of 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def block_size_stats(keys: DataFrame, key_col: str = "_bkey") -> DataFrame:
    """Block-size distribution: (n_blocks, max_block, p99ish top sizes) —
    the lineage/metrics hook for 'no silent truncation' logging."""
    counts = keys.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("n").alias("max_block"),
        F.sum(F.when(F.col("n") > 1, F.col("n") * (F.col("n") - 1) / 2)
              .otherwise(0)).cast("long").alias("candidate_pairs_upper"),
    )


def salted_key_join(probe: DataFrame, index: DataFrame, *,
                    hot_threshold: int, n_groups: int = 8) -> DataFrame:
    """(_ida, _idb) rows of the equi-join of exploded (_bid, _bkey) key
    tables, probe ids as _ida and index ids as _idb, with index keys
    hotter than ``hot_threshold`` spread over ``n_groups`` salts."""
    hot = (index.groupBy("_bkey").agg(F.count(F.lit(1)).alias("_n"))
           .where(f"_n > {int(hot_threshold)}")
           .selectExpr("_bkey", "true AS _hot"))
    g = int(n_groups)
    l = probe.join(hot, "_bkey", "left").selectExpr(
        "_bid AS _ida", "_bkey",
        f"explode(if(_hot, sequence(0, {g - 1}), array(0))) AS _s")
    r = index.join(hot, "_bkey", "left").selectExpr(
        "_bid AS _idb", "_bkey",
        f"if(_hot, cast(pmod(xxhash64(_bid), {g}) AS int), 0) AS _s")
    return l.join(r, ["_bkey", "_s"]).select("_ida", "_idb")


def spread_input(df: DataFrame) -> DataFrame:
    """Input-parallelism floor for fan-out operators (guide-§2.5 input
    skew: "one huge unsplittable file ... repartition immediately after
    the read").

    The signature/index builders in this engine amplify each input row
    ~100-300x (substring position explode, shingle explode x num_hashes,
    token explode) before any shuffle, so their compute parallelism is
    pinned to the SCAN's split count — and a small or unsplittable input
    (single parquet row group, gzip) runs the whole fan-out on a handful
    of cores (profiled r6: the sf0.1 substring index build was a 3.2 s
    4-task stage; MinHash signatures a 1.9 s single-task stage — on a
    32-core master).

    When the input already carries >= defaultParallelism partitions this
    is a NO-OP (no shuffle is added at deployment scale, where scans are
    split-rich); otherwise it round-robins the (narrow, pre-explode) rows
    across defaultParallelism partitions — the shuffle moves the input
    rows once, orders of magnitude less than the fan-out it parallelizes.
    Row-level operators only: never changes results, only layout."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)
