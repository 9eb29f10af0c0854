"""The two benchmark workloads.

Each workload writes its seeded inputs as parquet (``prepare``), runs one
closed-loop job against them (``run``: entry point called, output
committed, nothing else), and checks a committed job's output against
truth derived from the seed (``check``, untimed). ``prepare`` also writes
a small input of the same kind, on which set-up runs its warm-up jobs: a
job's cost here is mostly fixed per-job work (query planning, code
generation, scheduling), so warming up on the small input reaches the
same JIT state as on the full one, at a fraction of the time.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators.linkage_eval import pairwise_f1
from liblevenshtein_rust_spark.plans.pipeline import (
    DedupConfig, PipelineConfig, run_dedup_pipeline, run_pipeline)
from liblevenshtein_rust_spark.sources.transcripts import synth_transcripts

from perfbench import inputs


@dataclass
class Check:
    ok: bool
    f1_milli: int
    detail: dict = field(default_factory=dict)


class Workload:
    """Interface of a workload."""

    name: str
    records: int        # input records one job processes

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, out_dir: str, warm: bool = False) -> float:
        """Seconds from the entry-point call to its committed output; on
        the small warm-up input when ``warm``."""
        raise NotImplementedError

    def check(self, spark, out_dir: str) -> Check:
        raise NotImplementedError


def _pair_f1_milli(pred: set, truth: set) -> int:
    tp = len(pred & truth)
    return (2000 * tp) // max(len(pred) + len(truth), 1)


class LinkTemplated(Workload):
    """run_pipeline (canon -> terms -> scored_pairs -> clusters ->
    turn_entities, parquet checkpoints) at n=2 over synth_transcripts."""

    name = "link_templated"
    n_turns = 1000
    n_warm = 150
    n = 2

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.records = self.n_turns
        self.turns_path = os.path.join(work, "inputs", "turns")
        self.warm_path = os.path.join(work, "inputs", "warm_turns")
        self.truth_path = os.path.join(work, "inputs", "truth")

    def prepare(self, spark) -> None:
        # max_edits=1: two copies of an entity are then at most 2 edits
        # apart, inside n=2, so perfect linkage reads f1_milli = 1000
        tdf, truth = synth_transcripts(spark, self.n_turns, seed=self.seed,
                                       max_edits=1)
        tdf.write.mode("overwrite").parquet(self.turns_path)
        truth.write.mode("overwrite").parquet(self.truth_path)
        synth_transcripts(spark, self.n_warm, seed=self.seed + 1,
                          max_edits=1)[0] \
            .write.mode("overwrite").parquet(self.warm_path)

    def run(self, spark, out_dir: str, warm: bool = False) -> float:
        t0 = time.perf_counter()
        run_pipeline(spark, spark.read.parquet(
                         self.warm_path if warm else self.turns_path),
                     PipelineConfig(checkpoint_dir=out_dir, run_id="job",
                                    n=self.n))
        return time.perf_counter() - t0

    def check(self, spark, out_dir: str) -> Check:
        te = spark.read.parquet(os.path.join(out_dir, "job", "turn_entities"))
        rows, keys = te.agg(
            F.count(F.lit(1)),
            F.count_distinct("conv_id", "turn_idx")).first()
        truth = spark.read.parquet(self.truth_path) \
            .select("conv_id", "turn_idx", F.col("entity_id").alias("entity"))
        f1 = pairwise_f1(te.join(truth, ["conv_id", "turn_idx"])) \
            .first()["f1_milli"]
        ok = rows == keys == self.n_turns and f1 >= 990
        return Check(ok, int(f1), {"rows": rows, "distinct_turns": keys})


class DedupDocs(Workload):
    """run_dedup_pipeline(jaccard, group_col=lang, hash_tokens=True) over
    seeded amplified documents with planted near-duplicate pairs."""

    name = "dedup_docs"
    n_base = 500
    n_warm = 75
    k = 8
    threshold_milli = 900

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.records = self.n_base * self.k
        self.docs_path = os.path.join(work, "inputs", "docs")
        self.warm_path = os.path.join(work, "inputs", "warm_docs")
        self.planted: set = set()

    def prepare(self, spark) -> None:
        docs, self.planted = inputs.amplified_documents(
            self.seed, self.n_base, self.k, self.threshold_milli)
        os.makedirs(os.path.dirname(self.docs_path), exist_ok=True)
        docs.to_parquet(self.docs_path)
        inputs.amplified_documents(self.seed + 1, self.n_warm, self.k,
                                   self.threshold_milli)[0] \
            .to_parquet(self.warm_path)

    def run(self, spark, out_dir: str, warm: bool = False) -> float:
        t0 = time.perf_counter()
        run_dedup_pipeline(
            spark, spark.read.parquet(
                self.warm_path if warm else self.docs_path),
            DedupConfig(checkpoint_dir=out_dir, run_id="job",
                        method="jaccard", group_col="lang",
                        threshold_milli=self.threshold_milli,
                        hash_tokens=True))
        return time.perf_counter() - t0

    def check(self, spark, out_dir: str) -> Check:
        base = os.path.join(out_dir, "job")
        pairs = {(r[0], r[1]) for r in spark.read.parquet(
            os.path.join(base, "dedup_pairs")).select("id_a", "id_b").collect()}
        rows, ids = spark.read.parquet(os.path.join(base, "dedup_survivors")) \
            .agg(F.count(F.lit(1)), F.count_distinct("doc_id")).first()
        expect = self.records - len(self.planted)
        ok = pairs == self.planted and rows == ids == expect
        return Check(ok, _pair_f1_milli(pairs, self.planted),
                     {"pairs": len(pairs), "planted": len(self.planted),
                      "survivors": rows, "expected_survivors": expect})


WORKLOADS = {w.name: w for w in (LinkTemplated, DedupDocs)}
