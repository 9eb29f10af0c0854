"""End-to-end linkage pipeline: pairwise F1 gate + idempotent resume.

The north-rule metric: pairwise F1 >= 0.99 on labeled pairs from a seeded
synthetic transcript corpus (typo-generator model ported from
/root/reference/src/corpus/generator.rs:35-194).
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.plans.pipeline import PipelineConfig, run_pipeline
from liblevenshtein_rust_spark.sources.transcripts import synth_transcripts


def _pair_set(rows):
    """rows: iterable of (key, group) -> set of unordered key pairs."""
    groups: dict[str, list] = {}
    for key, g in rows:
        groups.setdefault(g, []).append(key)
    out = set()
    for members in groups.values():
        members.sort()
        out.update(itertools.combinations(members, 2))
    return out


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    tdf, truth = synth_transcripts(spark, 1500, seed=42, dup_frac=0.55, max_edits=2)
    # the typo model's transpose edit costs 1 in Damerau distance but 2 in
    # standard Levenshtein, so the linkage threshold uses the transposition
    # variant (exactly why the reference ships Algorithm::Transposition)
    cfg = PipelineConfig(checkpoint_dir=ckpt, run_id="t1", n=2, variant="transposition")
    res = run_pipeline(spark, tdf, cfg)
    return ckpt, cfg, tdf, truth, res


def test_pairwise_f1_gate(spark, pipeline_result):
    _, _, tdf, truth, res = pipeline_result
    pred = [
        ((r.conv_id, r.turn_idx), r.entity_id)
        for r in res["turn_entities"].collect()
    ]
    true = [
        ((r.conv_id, r.turn_idx), r.entity_id)
        for r in truth.collect()
    ]
    pred_pairs, true_pairs = _pair_set(pred), _pair_set(true)
    tp = len(pred_pairs & true_pairs)
    prec = tp / max(len(pred_pairs), 1)
    rec = tp / max(len(true_pairs), 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.99, (prec, rec, f1)


def test_per_turn_text_equality_invariant(spark, pipeline_result):
    """north rule: per-turn text equality under stable (conv_id, turn_idx)
    ordering — canonicalization must not drop/duplicate/reorder turns."""
    _, _, tdf, _, res = pipeline_result
    from liblevenshtein_rust_spark.functions.canonicalize import canon_text

    before = tdf.select("conv_id", "turn_idx",
                        canon_text("text").alias("t")).orderBy("conv_id", "turn_idx")
    after = res["turns"].select("conv_id", "turn_idx",
                                F.col("text").alias("t")).orderBy("conv_id", "turn_idx")
    assert [tuple(r) for r in before.collect()] == [tuple(r) for r in after.collect()]


def test_resume_is_idempotent(spark, pipeline_result):
    ckpt, cfg, tdf, _, res = pipeline_result
    first = sorted(tuple(r) for r in res["turn_entities"].collect())
    res2 = run_pipeline(spark, tdf, cfg)
    assert all(v["resumed"] for v in res2["info"].values()), res2["info"]
    second = sorted(tuple(r) for r in res2["turn_entities"].collect())
    assert first == second


def test_partial_resume_after_kill(spark, pipeline_result):
    """Simulate a crash after stage 2: wipe later checkpoints, re-run,
    outputs must be identical and early stages must resume."""
    import shutil, os
    ckpt, cfg, tdf, _, res = pipeline_result
    first = sorted(tuple(r) for r in res["turn_entities"].collect())
    for stage in ("clusters", "turn_entities"):
        shutil.rmtree(os.path.join(ckpt, cfg.run_id, stage), ignore_errors=True)
    res3 = run_pipeline(spark, tdf, cfg)
    assert res3["info"]["canon"]["resumed"]
    assert res3["info"]["scored_pairs"]["resumed"]
    assert not res3["info"]["clusters"]["resumed"]
    third = sorted(tuple(r) for r in res3["turn_entities"].collect())
    assert first == third


def test_lineage_and_metrics_written(spark, pipeline_result):
    import os
    ckpt, cfg, _, _, _ = pipeline_result
    m = spark.read.parquet(os.path.join(ckpt, cfg.run_id, "_metrics"))
    assert {r.stage for r in m.collect()} >= {
        "canon", "terms", "scored_pairs", "clusters", "turn_entities"}
    lin = spark.read.parquet(os.path.join(ckpt, cfg.run_id, "_lineage", "scored_pairs"))
    total = lin.agg(F.sum("rows")).first()[0]
    rows = spark.read.parquet(os.path.join(ckpt, cfg.run_id, "scored_pairs")).count()
    assert total == rows


def test_pipeline_salted_run_matches_unsalted(spark, tmp_path):
    from liblevenshtein_rust_spark.plans.pipeline import (
        PipelineConfig, run_pipeline)
    from liblevenshtein_rust_spark.sources.transcripts import synth_transcripts
    tdf, _ = synth_transcripts(spark, 150, seed=7)
    a = run_pipeline(spark, tdf, PipelineConfig(
        checkpoint_dir=str(tmp_path / "a"), n=1))
    b = run_pipeline(spark, tdf, PipelineConfig(
        checkpoint_dir=str(tmp_path / "b"), n=1, salt_threshold=4,
        salt_groups=3))
    pa = {tuple(r) for r in a["scored_pairs"].select("id_a", "id_b", "distance").collect()}
    pb = {tuple(r) for r in b["scored_pairs"].select("id_a", "id_b", "distance").collect()}
    assert pa == pb and pa


def _dedup_docs(spark):
    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog by the "
                  "river bank every single morning before dawn breaks"),
        (2, "en", "the quick brown fox jumps over the lazy dog by the "
                  "river bank every single morning before dawn breaks"),
        (3, "en", "quick brown fox jumps over the lazy dog by the "
                  "river bank every single morning before dawn breaks"),
        (4, "en", "a completely different document about adaptive query "
                  "execution and shuffle partition coalescing in spark"),
        (5, "de", "ein ganz anderes dokument ueber verteilte systeme und "
                  "datenverarbeitung im grossen massstab mit spark"),
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_dedup_pipeline_matches_direct_and_resumes(spark, tmp_path):
    from liblevenshtein_rust_spark.operators.dedup import (
        near_dup_dedup, token_jaccard_pairs)
    from liblevenshtein_rust_spark.plans.pipeline import (
        DedupConfig, run_dedup_pipeline)

    docs = _dedup_docs(spark)
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ck"), run_id="d1",
                      method="jaccard", threshold_milli=800,
                      group_col="lang")
    res = run_dedup_pipeline(spark, docs, cfg)
    got = {(r.doc_id, r.n_removed) for r in res["survivors"].collect()}
    direct = near_dup_dedup(
        docs, token_jaccard_pairs(docs, group_col="lang",
                                  min_ratio_milli=800))
    assert got == {(r.doc_id, r.n_removed) for r in direct.collect()}
    assert got == {(1, 2), (4, 0), (5, 0)}
    assert all(not v["resumed"] for v in res["info"].values())

    again = run_dedup_pipeline(spark, docs, cfg)
    assert all(v["resumed"] for v in again["info"].values())
    assert {(r.doc_id, r.n_removed)
            for r in again["survivors"].collect()} == got
    # lineage + metrics sidecars exist for both stages
    import os
    base = os.path.join(str(tmp_path / "ck"), "d1")
    for stage in ("dedup_pairs", "dedup_survivors"):
        assert os.path.exists(os.path.join(base, "_lineage", stage))
    assert os.path.exists(os.path.join(base, "_metrics"))


def test_dedup_pipeline_exact_method(spark, tmp_path):
    from liblevenshtein_rust_spark.plans.pipeline import (
        DedupConfig, run_dedup_pipeline)

    docs = _dedup_docs(spark)
    cfg = DedupConfig(checkpoint_dir=str(tmp_path / "ck"), run_id="dx",
                      method="exact")
    res = run_dedup_pipeline(spark, docs, cfg)
    got = {(r.doc_id, r.n_removed) for r in res["survivors"].collect()}
    # only 1/2 are byte-identical; 3/4/5 survive untouched
    assert got == {(1, 1), (3, 0), (4, 0), (5, 0)}


STAGES = ("canon", "terms", "scored_pairs", "clusters", "turn_entities")


def _sidecar_totals(spark, base, stages=STAGES):
    """{stage: rows} of a fresh run under ``base``, after checking that
    each stage's ``_lineage`` rows and its ``_metrics.rows`` equal the
    checkpoint's count, and that both sidecars keep their schemas."""
    import os
    m = spark.read.parquet(os.path.join(base, "_metrics"))
    assert m.schema.simpleString() == (
        "struct<run_id:string,stage:string,resumed:boolean,"
        "seconds:double,rows:bigint>")
    metric_rows = {r.stage: r.rows for r in m.collect()}
    out = {}
    for st in stages:
        n = spark.read.parquet(os.path.join(base, st)).count()
        lin = spark.read.parquet(os.path.join(base, "_lineage", st))
        assert lin.schema.simpleString() == (
            "struct<partition_id:int,rows:bigint,run_id:string,stage:string>")
        got = lin.collect()
        assert all(r.rows > 0 and r.stage == st for r in got), got
        assert len({r.partition_id for r in got}) == len(got), got
        assert sum(r.rows for r in got) == n == metric_rows[st], st
        out[st] = n
    return out


@pytest.fixture(scope="module")
def small_turns(spark):
    return synth_transcripts(spark, 150, seed=7)[0]


@pytest.fixture(scope="module")
def small_run(spark, small_turns, tmp_path_factory):
    import os
    ckpt = str(tmp_path_factory.mktemp("small"))
    res = run_pipeline(spark, small_turns,
                       PipelineConfig(checkpoint_dir=ckpt, n=1))
    return os.path.join(ckpt, "run0"), res


def test_every_stage_lineage_and_metrics_match_checkpoint(spark, small_run):
    base, res = small_run
    totals = _sidecar_totals(spark, base)
    assert all(totals.values()), totals
    assert totals == {k: v["rows"] for k, v in res["info"].items()}


def _raise(*_):
    from py4j.protocol import Py4JError
    raise Py4JError("status store unavailable")


@pytest.mark.parametrize("reader", [
    lambda *_: None, lambda *_: {0: 10 ** 9}, _raise,
], ids=["nothing", "wrong_sum", "raises"])
def test_lineage_fallback_writes_same_totals(spark, small_run, small_turns,
                                             tmp_path, monkeypatch, reader):
    """When the status-store reader yields nothing, a sum that disagrees
    with the observed row count, or an error, every stage falls back to
    the read-back aggregate and writes the same totals."""
    import os

    from liblevenshtein_rust_spark.plans import pipeline
    base, _ = small_run
    monkeypatch.setattr(pipeline, "_write_task_rows", reader)
    run_pipeline(spark, small_turns,
                 PipelineConfig(checkpoint_dir=str(tmp_path), n=1))
    assert _sidecar_totals(spark, os.path.join(str(tmp_path), "run0")) \
        == _sidecar_totals(spark, base)


_PRUNED_STAGE_SCRIPT = r"""
import json, sys, time
from pyspark.sql import functions as F
from liblevenshtein_rust_spark.plans.pipeline import _write_task_rows
from liblevenshtein_rust_spark.session import get_spark

spark = get_spark("pruned-stages", master="local[2]", extra_conf={
    "spark.ui.enabled": "false", "spark.ui.retainedStages": "2",
    "spark.sql.shuffle.partitions": "4"})
sc = spark.sparkContext
sc.setJobGroup("pruned", "pruned")
# under AQE the aggregate's shuffle runs as a job of its own, and the
# write job lists that map stage again as a skipped stage
(spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
 .write.parquet(sys.argv[1]))
sc.setLocalProperty("spark.jobGroup.id", None)
sc._jsc.sc().listenerBus().waitUntilEmpty()
tracker = sc.statusTracker()
sids = [s for j in tracker.getJobIdsForGroup("pruned")
        for s in tracker.getJobInfo(j).stageIds]
deadline = time.time() + 30
while (all(tracker.getStageInfo(s) is not None for s in sids)
       and time.time() < deadline):
    time.sleep(0.05)
rows = _write_task_rows(spark, "pruned")
print(json.dumps({
    "pruned": sum(tracker.getStageInfo(s) is None for s in sids),
    "rows": None if rows is None else sum(rows.values())}))
"""


def test_write_task_rows_passes_over_pruned_stages(tmp_path):
    """Past spark.ui.retainedStages the status store deletes skipped
    stages first, including those a write job just skipped; the task-row
    reader must still return the written rows instead of failing on the
    missing stage (which sent a long-lived session's stages to the
    read-back fallback). Runs in its own JVM, since retainedStages is
    fixed when the context starts."""
    import json
    import os
    import signal
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(
                   filter(None, [repo, os.environ.get("PYTHONPATH")])))
    p = subprocess.Popen([sys.executable, "-c", _PRUNED_STAGE_SCRIPT,
                          str(tmp_path / "out")], cwd=repo, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=240)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        pytest.fail("pruned-stage script did not finish within 240 s")
    assert p.returncode == 0, err[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    assert res["pruned"] >= 1, res
    assert res["rows"] == 7, res


def test_empty_input_runs_every_stage(spark, small_turns, tmp_path):
    import os
    res = run_pipeline(spark, small_turns.where(F.lit(False)),
                       PipelineConfig(checkpoint_dir=str(tmp_path), n=1))
    assert {k: v["rows"] for k, v in res["info"].items()} == dict.fromkeys(
        STAGES, 0)
    assert _sidecar_totals(spark, os.path.join(str(tmp_path), "run0")) \
        == dict.fromkeys(STAGES, 0)


def test_caller_job_group_survives_run_pipeline(spark, small_turns, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller description")
    try:
        run_pipeline(spark, small_turns,
                     PipelineConfig(checkpoint_dir=str(tmp_path), n=1))
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") \
            == "caller description"
    finally:
        sc._jsc.clearJobGroup()
