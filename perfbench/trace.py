"""Traced run: spans around each layer call plus Spark's event log, turned
into one per-layer record.

Spans are recorded by the benchmark around calls into the engine; the
engine itself is not instrumented. Each span sets the Spark local property
``perfbench.span`` so every job it triggers carries the span id in the
event log. Task time, GC, shuffle and spill are summed per stage, and a
stage is attributed to a layer by the physical operators it runs:
the blocking-key Generate maps to ``blocking_keys``, the key join and its
pair-dedupe aggregate to ``fuzzy_join`` (candidates), the levenshtein
filter or a Python evaluation node to ``distance`` (verify); any other
stage belongs to the layer of its span. Operator row counts come from the
SQL metrics of the same executions.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.canonicalize import canon_text, term_id
from liblevenshtein_rust_spark.operators.cluster import connected_components
from liblevenshtein_rust_spark.operators.dedup import (
    near_dup_dedup, token_jaccard_pairs)
from liblevenshtein_rust_spark.operators.fuzzy_join import (
    _keys_for, _resolve_method, build_dictionary, fuzzy_self_join)
from liblevenshtein_rust_spark.operators.skew import block_size_stats
from liblevenshtein_rust_spark.streaming.incremental import incremental_upsert

PROP = "perfbench.span"
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "MapInArrow", "FlatMapGroupsInPandas", "ArrowEvalPythonUDTF",
             "BatchEvalPythonUDTF", "FlatMapCoGroupsInPandas",
             "AggregateInPandas", "WindowInPandas")
_CODEGEN = re.compile(r"WholeStageCodegen \((\d+)\)")
INGEST_PARTS = 3


class Tracer:
    """Spans kept in memory: (id, name, parent, start, end) in epoch
    seconds, so they line up with the event log's millisecond stamps."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        sid = f"{len(self.spans)}:{name}"
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setLocalProperty(PROP, sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            sc.setLocalProperty(PROP, self._stack[-1] if self._stack else None)

    def get(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _flatten(plan: dict) -> list[dict]:
    """Plan nodes with their SQL metric accumulator ids and enclosing
    whole-stage-codegen id. Subtrees repeated under ReusedExchange carry
    the same accumulators and are kept once."""
    out, seen = [], set()

    def walk(n, cg):
        m = _CODEGEN.fullmatch(n["nodeName"])
        if m:
            cg = int(m.group(1))
        elif n["nodeName"] == "InputAdapter":
            cg = None
        metrics = {x["name"]: x["accumulatorId"] for x in n["metrics"]}
        key = (n["nodeName"], tuple(sorted(metrics.values())))
        if not metrics or key not in seen:
            seen.add(key)
            out.append({"name": n["nodeName"], "simple": n["simpleString"],
                        "metrics": metrics, "cg": cg})
        for c in n["children"]:
            walk(c, cg)

    walk(plan, None)
    return out


class EventLog:
    """The parts of one Spark event log the layer record needs."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: {
            "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
            "spill": 0, "result_bytes": 0, "intervals": [],
            "scopes": set()})
        self.execs: dict[int, dict] = {}
        self.acc: dict[int, float] = defaultdict(float)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        for ex in self.execs.values():
            ex["nodes"] = _flatten(ex.pop("plan"))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "span": props.get(PROP), "stages": e["Stage IDs"],
                "exec": int(eid) if eid is not None else None}
        elif ev == "SparkListenerStageSubmitted":
            st = self.stages[e["Stage Info"]["Stage ID"]]
            for rdd in e["Stage Info"].get("RDD Info", []):
                if rdd.get("Scope"):
                    st["scopes"].add(json.loads(rdd["Scope"])["name"])
        elif ev == "SparkListenerTaskEnd":
            st = self.stages[e["Stage ID"]]
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
            st["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += tm.get("Disk Bytes Spilled", 0)
            st["result_bytes"] += tm.get("Result Size", 0)
            st["intervals"].append((ti["Launch Time"] / 1000.0,
                                    ti["Finish Time"] / 1000.0))
            for a in ti.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    try:
                        self.acc[a["ID"]] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass
        elif ev.endswith("SQLExecutionStart"):
            self.execs[e["executionId"]] = {
                "start": e["time"] / 1000.0, "end": None,
                "plan": e["sparkPlanInfo"]}
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["plan"] = e["sparkPlanInfo"]
        elif ev.endswith("SQLExecutionEnd"):
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"] / 1000.0
        elif ev.endswith("DriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.acc[aid] += v

    def metric(self, node: dict, name: str) -> float:
        aid = node["metrics"].get(name)
        return self.acc.get(aid, 0.0) if aid is not None else 0.0


def _node_layer(node: dict) -> str | None:
    name, s = node["name"], node["simple"]
    if name in _PY_NODES or "levenshtein(" in s:
        return "distance"
    # the key join, the key-side projections feeding it (_bid renamed to
    # _ida/_idb) and the pair-dedupe aggregate
    if ("_bkey" in s and (name.endswith("Join") or "_ida" in s
                          or "_idb" in s)) or "keys=[_ida" in s:
        return "fuzzy_join"
    if name == "Generate" and "_bkey" in s:
        return "blocking_keys"
    return None


_PRECEDENCE = ("distance", "fuzzy_join", "blocking_keys")


class Ledger:
    """Event log joined to the spans: per-span job, stage, execution and
    operator views."""

    def __init__(self, log: EventLog, tracer: Tracer):
        self.log = log
        self.spans = {s["id"]: s for s in tracer.spans}

    def _under(self, span_id: str | None, root: str) -> bool:
        while span_id is not None:
            if span_id == root:
                return True
            span_id = self.spans.get(span_id, {}).get("parent")
        return False

    def jobs(self, spans: list[dict]) -> list[dict]:
        ids = [s["id"] for s in spans]
        return [j for j in self.log.jobs.values()
                if any(self._under(j["span"], i) for i in ids)]

    def stages(self, spans: list[dict]) -> dict[int, tuple[dict, int | None]]:
        """stage id -> (stage, execution id) for the spans' jobs; a stage
        shared by two jobs (AQE reuse) is counted once."""
        out = {}
        for j in self.jobs(spans):
            for sid in j["stages"]:
                if sid in self.log.stages and sid not in out:
                    out[sid] = (self.log.stages[sid], j["exec"])
        return out

    def execs(self, spans: list[dict]) -> list[dict]:
        ids = sorted({j["exec"] for j in self.jobs(spans)
                      if j["exec"] is not None})
        return [self.log.execs[i] for i in ids if i in self.log.execs]

    def nodes(self, spans: list[dict]) -> list[dict]:
        return [n for ex in self.execs(spans) for n in ex["nodes"]]

    def stage_layer(self, stage: dict, exec_id: int | None,
                    default: str) -> str:
        ex = self.log.execs.get(exec_id) if exec_id is not None else None
        if ex is None:
            return default
        cgs = {int(m.group(1)) for s in stage["scopes"]
               if (m := _CODEGEN.fullmatch(s))}
        # operators outside whole-stage codegen appear by name in the
        # stage's RDD scopes; exchanges belong to the stage that writes them
        found = {_node_layer(n) for n in ex["nodes"]
                 if (n["cg"] in cgs and "Exchange" not in n["name"])
                 or (n["cg"] is None and n["name"] in stage["scopes"]
                     and n["name"] in ("Generate",) + _PY_NODES)}
        return next((lay for lay in _PRECEDENCE if lay in found), default)

    def by_layer(self, spans: list[dict], default: str) -> dict[str, dict]:
        """Stage totals of the spans' jobs, grouped by operator layer."""
        out = defaultdict(lambda: defaultdict(float))
        for st, eid in self.stages(spans).values():
            tot = out[self.stage_layer(st, eid, default)]
            for k in ("tasks", "task_s", "gc_s", "shuffle_write", "spill"):
                tot[k] += st[k]
        return out

    def rows(self, spans: list[dict], pred) -> float:
        """Summed 'number of output rows' of the spans' operators matching
        ``pred``."""
        return sum(self.log.metric(n, "number of output rows")
                   for n in self.nodes(spans) if pred(n))

    def totals(self, spans: list[dict]) -> dict:
        """Session view of the spans: jobs, stages, tasks, task and GC
        time, wall, and driver idle time (wall with no task running)."""
        stages = self.stages(spans)
        wall = sum(s["end"] - s["start"] for s in spans)
        ivs = sorted(iv for st, _ in stages.values()
                     for iv in st["intervals"])
        busy = 0.0
        for s in spans:
            cur_s = cur_e = None
            for a, b in ivs:
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        busy += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                busy += cur_e - cur_s
        return {
            "wall_s": wall,
            "jobs": len(self.jobs(spans)),
            "stages": len(stages),
            "tasks": sum(st["tasks"] for st, _ in stages.values()),
            "task_s": sum(st["task_s"] for st, _ in stages.values()),
            "gc_s": sum(st["gc_s"] for st, _ in stages.values()),
            "shuffle_bytes": sum(st["shuffle_write"]
                                 for st, _ in stages.values()),
            "idle_s": max(wall - busy, 0.0),
        }


def _event_log_file(work: str) -> str:
    files = [f for f in glob.glob(os.path.join(work, "eventlog", "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    return files[0]


# ---------------------------------------------------------------------------
# traced sequences, one per workload
# ---------------------------------------------------------------------------

def _write(df, path: str):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _canon_and_dictionary(tr: Tracer, turns, lay: str):
    with tr.span("canonicalize"):
        canon = _write(turns.select(canon_text("text").alias("text"))
                       .withColumn("term_id", term_id("text")),
                       os.path.join(lay, "canon"))
    with tr.span("dictionary"):
        terms = _write(build_dictionary(canon, "text", canonicalize=False),
                       os.path.join(lay, "terms"))
    return terms


def _max_block(terms, n: int, method: str) -> int:
    """Largest blocking-key block over ``terms`` (untraced)."""
    keys = _keys_for(terms, "term_id", "term", n, "standard",
                     _resolve_method(method), role="both")
    return block_size_stats(keys).first()["max_block"]


def _state_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _trace_link(spark, wl, tr: Tracer, out: str) -> dict:
    with tr.span("job"):
        wl.run(spark, out)
    lay = os.path.join(out, "layers")
    turns = spark.read.parquet(wl.turns_path)
    with tr.span("layers"):
        terms = _canon_and_dictionary(tr, turns, lay)
        with tr.span("fuzzy_join"):
            pairs = _write(fuzzy_self_join(terms, n=wl.n),
                           os.path.join(lay, "pairs"))
        with tr.span("cluster"):
            clusters = _write(connected_components(pairs, terms),
                              os.path.join(lay, "clusters"))
    # streaming.incremental: the same turns split by a seeded hash into
    # INGEST_PARTS micro-batches; the first seeds the state untraced, each
    # later one is a fresh x all probe that reads and overwrites the state
    state = os.path.join(out, "state")
    part = F.pmod(F.xxhash64(F.lit(wl.seed), "conv_id", "turn_idx"),
                  F.lit(INGEST_PARTS))
    batches = [turns.where(part == b) for b in range(INGEST_PARTS)]
    incremental_upsert(batches[0], state, n=wl.n)
    seed_terms = spark.read.parquet(os.path.join(state, "terms")).count()
    with tr.span("incremental"):
        for batch in batches[1:]:
            with tr.span("batch"):
                incremental_upsert(batch, state, n=wl.n)
    state_terms = spark.read.parquet(os.path.join(state, "terms")).count()
    return {"pipeline_stages": 5, "terms": terms.count(),
            "edges": pairs.count(),
            "clusters": clusters.select("entity_id").distinct().count(),
            "max_block": _max_block(terms, wl.n, "auto"),
            "state_dir": state, "state_bytes": _state_bytes(state),
            "fresh_terms": state_terms - seed_terms}


def _trace_dedup(spark, wl, tr: Tracer, out: str) -> dict:
    with tr.span("job"):
        wl.run(spark, out)
    lay = os.path.join(out, "layers")
    docs = spark.read.parquet(wl.docs_path)
    with tr.span("layers"):
        with tr.span("dedup"):
            pairs = _write(token_jaccard_pairs(
                docs, group_col="lang", min_ratio_milli=wl.threshold_milli,
                hash_tokens=True), os.path.join(lay, "pairs"))
        with tr.span("cluster"):
            surv = _write(near_dup_dedup(docs, pairs),
                          os.path.join(lay, "survivors"))
    survivors = surv.count()
    return {"pipeline_stages": 2, "edges": pairs.count(),
            "clusters": survivors, "survivors": survivors}


_TRACES = {"link_templated": _trace_link, "dedup_docs": _trace_dedup}


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

def _is_write(n: dict) -> bool:
    return n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand")


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _wall(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _exec_wall(ex: dict) -> float:
    return (ex["end"] or ex["start"]) - ex["start"]


def _only_counts(ex: dict) -> bool:
    """An execution that only counts rows of one parquet read (the
    pipeline's per-stage ``count()``)."""
    names = {n["name"] for n in ex["nodes"]}
    return ("Scan parquet " in names and not any(map(_is_write, ex["nodes"]))
            and all(n["name"] in ("AdaptiveSparkPlan", "ResultQueryStage",
                                  "HashAggregate", "Exchange",
                                  "ShuffleQueryStage", "AQEShuffleRead",
                                  "InputAdapter", "ColumnarToRow",
                                  "Scan parquet ", "Project")
                    or _CODEGEN.fullmatch(n["name"])
                    for n in ex["nodes"]))


def layer_metrics(led: Ledger, tr: Tracer, info: dict, *, cores: int,
                  gen_s: float, untraced_job_s: float,
                  scaling_eff: float) -> tuple[dict, dict]:
    """(metrics, record): the flat per-layer metrics {name: (value,
    unit)} and the structured record (layers, funnel, spans)."""
    m: dict[str, tuple[float, str]] = {}
    job = tr.get("job")
    tot = led.totals(job)

    # sources
    m["sources.gen_s"] = (gen_s, "s")

    # functions.canonicalize / dictionary
    canon, dic = tr.get("canonicalize"), tr.get("dictionary")
    canon_rows = led.rows(canon, _is_write)
    terms_rows = led.rows(dic, _is_write)
    m["canonicalize.wall_s"] = (_wall(canon), "s")
    m["canonicalize.rows_out"] = (canon_rows, "count")
    m["dictionary.wall_s"] = (_wall(dic), "s")
    m["dictionary.terms"] = (terms_rows, "count")
    m["dictionary.collapse_ratio"] = (_ratio(canon_rows, terms_rows), "ratio")

    # blocking_keys / fuzzy_join / distance: the self-join layer span
    fz = tr.get("fuzzy_join")
    bl = led.by_layer(fz, "fuzzy_join")
    keys = led.rows(fz, lambda n: n["name"] == "Generate"
                    and "_bkey" in n["simple"])
    join_rows = led.rows(fz, lambda n: n["name"].endswith("Join")
                         and "_bkey" in n["simple"])
    cand = sum(min(v) for v in _per_exec(
        led, fz, lambda n: n["name"] == "HashAggregate"
        and "keys=[_ida" in n["simple"]) if v)
    verified = led.rows(fz, lambda n: "levenshtein(" in n["simple"]
                        and "number of output rows" in n["metrics"])
    m["blocking_keys.keys"] = (keys, "count")
    m["blocking_keys.keys_per_term"] = (_ratio(keys, info.get("terms", 0)),
                                        "ratio")
    m["blocking_keys.max_block"] = (info.get("max_block", 0), "count")
    m["blocking_keys.shuffle_bytes"] = (
        bl["blocking_keys"]["shuffle_write"], "bytes")
    m["blocking_keys.task_s"] = (bl["blocking_keys"]["task_s"], "s")
    m["fuzzy_join.join_rows"] = (join_rows, "count")
    m["fuzzy_join.candidate_pairs"] = (cand, "count")
    m["fuzzy_join.dup_ratio"] = (_ratio(join_rows, cand), "ratio")
    m["fuzzy_join.shuffle_bytes"] = (bl["fuzzy_join"]["shuffle_write"],
                                     "bytes")
    m["fuzzy_join.spill_bytes"] = (sum(v["spill"] for v in bl.values()),
                                   "bytes")
    m["fuzzy_join.task_s"] = (bl["fuzzy_join"]["task_s"], "s")
    m["fuzzy_join.wall_s"] = (_wall(fz), "s")
    m["distance.pairs_in"] = (cand, "count")
    m["distance.pairs_out"] = (verified, "count")
    m["distance.yield"] = (_ratio(verified, cand), "ratio")
    m["distance.task_s"] = (bl["distance"]["task_s"], "s")
    m["distance.python_udf_s"] = (sum(
        st["task_s"] for st, _ in led.stages(job).values()
        if st["scopes"] & set(_PY_NODES)), "s")

    # operators.cluster
    cl = tr.get("cluster")
    edges = info.get("edges", 0)
    small = inspect.signature(connected_components) \
        .parameters["small_graph_threshold"].default
    cl_tot = led.totals(cl)
    m["cluster.edges"] = (edges, "count")
    m["cluster.clusters"] = (info.get("clusters", 0), "count")
    m["cluster.driver_path"] = (1 if cl and edges <= small else 0, "bool")
    m["cluster.jobs"] = (cl_tot["jobs"], "count")
    m["cluster.collect_bytes"] = (sum(
        st["result_bytes"] for st, _ in led.stages(cl).values()), "bytes")
    m["cluster.wall_s"] = (_wall(cl), "s")

    # operators.dedup
    dd = tr.get("dedup")
    dd_tot = led.totals(dd)
    tokens = sum(max(v) for v in _per_exec(
        led, dd, lambda n: n["name"] == "Generate" and "_w#" in n["simple"])
        if v)
    dcand = sum(min(v) for v in _per_exec(
        led, dd, lambda n: n["name"] == "HashAggregate"
        and "keys=[id_a" in n["simple"] and "min(" in n["simple"]) if v)
    dver = info.get("edges", 0) if dd else 0
    m["dedup.tokens"] = (tokens, "count")
    m["dedup.candidate_pairs"] = (dcand, "count")
    m["dedup.verified_pairs"] = (dver, "count")
    m["dedup.yield"] = (_ratio(dver, dcand), "ratio")
    m["dedup.shuffle_bytes"] = (dd_tot["shuffle_bytes"], "bytes")
    m["dedup.task_s"] = (dd_tot["task_s"], "s")
    m["dedup.survivors"] = (info.get("survivors", 0), "count")

    # plans.pipeline: the checkpoint sink of the traced pipeline job
    stages_n = info.get("pipeline_stages", 0)
    sink = [ex for ex in led.execs(job) if stages_n and (
        any(_is_write(n) and ("/_lineage/" in n["simple"]
                              or "/_metrics" in n["simple"])
            for n in ex["nodes"]) or _only_counts(ex))]
    written = sum(led.log.metric(n, "written output")
                  for ex in led.execs(job) for n in ex["nodes"]
                  if _is_write(n)) if stages_n else 0
    m["pipeline.sink_s"] = (sum(map(_exec_wall, sink)), "s")
    m["pipeline.bytes_written"] = (written, "bytes")
    m["pipeline.jobs_per_stage"] = (_ratio(tot["jobs"], stages_n), "count")

    # streaming.incremental
    batches = tr.get("batch")
    state = info.get("state_dir")
    reads = writes = 0.0
    for ex in (led.execs(batches) if state else []):
        if any(_is_write(n) and state in n["simple"] for n in ex["nodes"]):
            writes += _exec_wall(ex)
        elif any(n["name"] == "Scan parquet " and state in n["simple"]
                 for n in ex["nodes"]):
            reads += _exec_wall(ex)
    m["incremental.fresh_terms"] = (info.get("fresh_terms", 0), "count")
    m["incremental.state_read_s"] = (reads, "s")
    m["incremental.state_write_s"] = (writes, "s")
    m["incremental.state_bytes"] = (info.get("state_bytes", 0), "bytes")
    m["incremental.jobs_per_batch"] = (
        _ratio(led.totals(batches)["jobs"], len(batches)), "count")

    # session: the traced job as a whole
    m["session.jobs"] = (tot["jobs"], "count")
    m["session.stages"] = (tot["stages"], "count")
    m["session.tasks"] = (tot["tasks"], "count")
    m["session.driver_idle_s"] = (tot["idle_s"], "s")
    m["session.busy_frac"] = (_ratio(tot["task_s"], tot["wall_s"] * cores),
                              "fraction")
    m["session.gc_s"] = (tot["gc_s"], "s")
    m["session.scaling_eff_1to4"] = (scaling_eff, "fraction")
    m["trace.overhead_s"] = (tot["wall_s"] - untraced_job_s, "s")

    record = {
        "funnel": {"keys": keys, "join_rows": join_rows,
                   "candidate_pairs": cand or dcand,
                   "verified_pairs": verified or dver, "edges": edges,
                   "clusters": info.get("clusters", 0)},
        "layers": _group(m),
        "traced_job_s": tot["wall_s"], "untraced_job_s": untraced_job_s,
        "spans": tr.spans,
    }
    return m, record


def _per_exec(led: Ledger, spans: list[dict], pred) -> list[list[float]]:
    """Per execution of the spans, the output rows of matching operators."""
    return [[led.log.metric(n, "number of output rows")
             for n in ex["nodes"] if pred(n)] for ex in led.execs(spans)]


def _group(m: dict) -> dict:
    out: dict[str, dict] = defaultdict(dict)
    for k, (v, u) in m.items():
        layer, name = k.split(".", 1)
        out[layer][name] = {"value": v, "unit": u}
    return dict(out)


def traced_run(bench, jobs: list[dict], work: str) -> tuple[dict, dict]:
    """Run the workload once more under the event log, layer by layer,
    then once more untraced and (link_templated only) once at one core;
    return the per-layer metrics and record.

    The untraced reference for the tracing overhead is the mean of the
    untraced jobs before and after the traced one, so the JIT warming up
    from job to job does not pass for (negative) overhead."""
    wl = bench.wl
    before = statistics.median(
        [j["job_s"] for j in jobs if j["error"] is None] or [0.0])
    spark = bench.restart(event_log=True)
    tr = Tracer(spark)
    out = os.path.join(work, "runs", "traced")
    info = _TRACES[wl.name](spark, wl, tr, out)
    bench.stop()    # finishes the event log
    led = Ledger(EventLog(_event_log_file(work)), tr)
    spark = bench.restart()
    after = wl.run(spark, os.path.join(work, "runs", "untraced"))
    untraced = (before + after) / 2

    eff = 0.0
    if wl.name == "link_templated" and untraced > 0:
        spark = bench.restart(cores=1)
        t1 = wl.run(spark, os.path.join(work, "runs", "one_core"))
        eff = t1 / (bench.cores * untraced)
    return layer_metrics(led, tr, info, cores=bench.cores,
                         gen_s=bench.gen_s, untraced_job_s=untraced,
                         scaling_eff=eff)
