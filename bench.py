#!/usr/bin/env python
"""Benchmark harness.

Default mode (what the per-round driver runs): times the headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ...}

Extra modes:
  --kernel        micro-benchmark of the banded-DP scoring kernel
                  (pairs scored/sec/core — compare against the
                  reference's ~60-75k d<=2 queries/sec/core, BASELINE.md)
  --scale-job N   one flagship linkage run on local[N] over an amplified
                  corpus; prints {"cores", "seconds", "turns", "pairs"}
  --scale-job-dedup N  the same for the jaccard -> CC dedup family
  --scaling       runs both scale jobs at 2, 8 and 32 cores in fresh JVMs
                  (sandbox stand-in for N vs 4N executors), prints the
                  scaling efficiencies and appends them to
                  BENCH/SCALING_HISTORY.jsonl
  --probe         2-second box-weather check: fixed CPU work on 8 pinned
                  cores, graded against the rolling clean reference in
                  SCALING_HISTORY.jsonl (>20% above = degraded window).
                  Every bench/scale-job invocation also records this
                  probe automatically in its output JSON.

Any other argument prints this text to stderr and exits with status 2.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
#: scaling history (writer: _append_history, reader: _probe_reference),
#: next to this file so the run's working directory does not matter
BENCH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")

#: hypervisor-steal threshold (percent of ALL-vCPU time during a steady
#: leg) above which a draw's window is recorded as degraded. Calibrated
#: r5 by interleaved same-code legs: dedup 8-core read 82.0 s at 0.046%
#: steal, 97.4 s at 0.146%, and 104-129 s at 0.6-1.8% (identical code/
#: input/survivors) — the curve is steep below 0.2%, so the threshold
#: sits at 0.10% (between the one observed clean leg and the slowest
#: sub-0.2% one); steal is a covariate of the window, not the outcome,
#: so gating on it cannot select on the efficiency being measured.
STEAL_DEGRADED_PCT = 0.10

HEADLINE = [
    "fuzzy_pairs_turns_d1",
    "fuzzy_pairs_turns_d2",
    "term_clusters_d1",
    "exact_dedup_docs",
    "minhash_near_dup",
    "simhash_near_dup",
    "jaccard_near_dup",
    "embedding_topk",
    "token_stats",
    "substring_fuzzy_d1",
    # the shared-index path (VERDICT r3 #7): ONE persisted inverted-index
    # stage feeds both the fuzzy-d1 and exact-all-positions substring
    # workloads — amortizing the doc-side fan-out that dominates
    # substring_fuzzy_d1's standalone cost
    "substring_shared_index",
    "near_dup_dedup_docs",
    "doc_quality",
    # reference-scale validation: 1.6k planted misspellings fuzzy-joined
    # (d<=3) against the reference's own 123,985-word dictionary — the
    # cost of a real 124k-term natural-language join, not an sf-scaled
    # table (identical at every SF)
    "corpus_recall_124k",
    # the north-rule metric end-to-end: labeled corpus -> blocked d<=1
    # self-join -> CC -> distributed pairwise F1 (expect 1000 milli)
    "linkage_f1",
    # Fellegi-Sunter candidate-pair scoring at fixed 1M-entity scale
    # (9M blocked pairs; sf-independent like corpus_recall_124k):
    # the BASELINE metric's "candidate-pairs-scored/sec" surface —
    # gamma comparison vectors + integer match weights + classification,
    # all codegen. ~0.9 s steady for 9M pairs at local[32] (~10M
    # pairs/sec end to end including corpus generation and the blocking
    # join; 2.2 s cold). A 100k-entity variant measured first was
    # fixed-overhead-dominated (0.6M/s) and understated the rate >10x
    "fs_score_9m",
]


def _probe_proc(core: int, reps: int, q) -> None:
    """Fixed-work probe worker: pins itself to ONE core and times `reps`
    identical 384x384 float64 matmuls. Run in a child process so the
    parent's affinity mask / Spark gateway never affect it."""
    try:
        os.sched_setaffinity(0, {core})
    except (AttributeError, ValueError, OSError):
        pass
    import numpy as np
    a = np.random.default_rng(core).random((384, 384))
    t0 = time.time()
    for _ in range(reps):
        a = a @ a
        a /= np.abs(a).max() + 1.0  # keep values finite
    q.put(time.time() - t0)


def _window_probe(n_procs: int = 8, reps: int = 60,
                  passes: int = 3) -> float:
    """Box-weather probe (VERDICT r4 #3): fixed CPU work on 8 distinct
    pinned cores; returns the SLOWEST worker's wall seconds. The r4
    degradation signature was specifically mid-parallelism (8-core) legs
    slowing 20-30% while 2-/32-core legs stayed normal — a straggler-
    sensitive 8-way pinned probe reproduces exactly that sensitivity in
    ~2 s, turning "box weather" from narrative into a recorded per-draw
    number every bench/scaling invocation ships in its JSON.

    Runs ``passes`` independent passes and reports the MEDIAN of the
    per-pass maxima: a single 2-second pass moves ~15% with momentary
    contention (observed r5 day 1: 0.76 -> 1.09 within minutes), and the
    median-of-3 keeps one unlucky scheduling quantum from mislabeling a
    whole draw."""
    import multiprocessing as mp
    ctx = mp.get_context("fork")
    maxima = []
    for _ in range(max(passes, 1)):
        q = ctx.Queue()
        procs = [ctx.Process(target=_probe_proc, args=(i, reps, q))
                 for i in range(n_procs)]
        for p in procs:
            p.start()
        times = [q.get() for _ in procs]
        for p in procs:
            p.join()
        maxima.append(max(times))
    maxima.sort()
    return round(maxima[len(maxima) // 2], 3)


def _read_proc_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from the aggregate /proc/stat cpu
    line. This box is a guest VM: steal is time the hypervisor ran OTHER
    tenants while this guest's vCPUs were runnable — the direct,
    quantitative form of the "box weather" the r4 narrative could only
    infer from co-degradation of unchanged jobs. Recorded around every
    steady leg so degraded draws carry their own cause."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _steal_pct(before: tuple[int, int], after: tuple[int, int]):
    """Steal as % of ALL-vCPU time between two _read_proc_stat readings
    (None if /proc/stat is unreadable or no time elapsed). On a pinned
    8-of-32-core leg a given steal burst is diluted ~4x by the idle
    cores — compare readings against each other, not against 100."""
    (s0, t0), (s1, t1) = before, after
    if t1 <= t0:
        return None
    return round(100.0 * (s1 - s0) / (t1 - t0), 3)


def _probe_reference() -> float | None:
    """Rolling clean reference: median of the 3 fastest probes recorded in
    SCALING_HISTORY.jsonl (min-biased so a first draw that happens to land
    in a degraded window self-heals once any cleaner probe is recorded)."""
    vals: list[float] = []
    try:
        with open(os.path.join(BENCH_DIR, "SCALING_HISTORY.jsonl")) as f:
            for ln in f:
                r = json.loads(ln)
                for v in (r.get("probes") or {}).values():
                    if isinstance(v, (int, float)):
                        vals.append(float(v))
                if isinstance(r.get("window_probe_sec"), (int, float)):
                    vals.append(float(r["window_probe_sec"]))
    except FileNotFoundError:
        return None
    if not vals:
        return None
    vals.sort()
    best3 = vals[:3]
    return best3[len(best3) // 2]


def _probe_and_flag() -> tuple[float, "bool | None", "float | None"]:
    """Run the probe and grade it against the rolling clean reference:
    >20% above reference = degraded window (the VERDICT r4 #3 threshold).
    Returns (probe_sec, degraded_or_None_if_no_reference, reference)."""
    p = _window_probe()
    ref = _probe_reference()
    degraded = None if ref is None else bool(p > 1.2 * ref)
    return p, degraded, ref


def _spark(cores: str):
    from liblevenshtein_rust_spark.session import get_spark
    # shuffle to tmpfs: local-mode stand-in for per-executor NVMe — keeps
    # the two-parallelism comparison about CPU scaling, not one shared disk
    local_dir = "/dev/shm/lls-spark"
    os.makedirs(local_dir, exist_ok=True)
    return get_spark("lls-bench", master=f"local[{cores}]",
                     extra_conf={"spark.ui.enabled": "false",
                                 "spark.driver.memory": "24g",
                                 "spark.local.dir": local_dir,
                                 # uniform across legs: on a real cluster the
                                 # shuffle partition count is sized to the DATA and
                                 # held constant while executors scale N -> 4N (AQE
                                 # coalesces); tying it to cores would hand the
                                 # small leg artificially cheap per-partition overhead
                                 "spark.sql.shuffle.partitions": "64"})


def _warmup(spark, em) -> None:
    """Absorb one-time session costs (codegen/JIT compile, Arrow + Python
    worker spin-up, parquet footer reads) before timing — on a real
    cluster these are paid once per long-lived executor, not per query.
    Runs the cheapest headline query once."""
    for t in ("documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    em.queries()["token_stats"](spark, SF_DIR).count()
    em.queries()["fuzzy_words_d2"](spark, SF_DIR).count()


def _bench_queries(em) -> dict:
    """Registry queries plus bench-only callables for headline rows whose
    registry entries were consolidated in r4 (the driver's 50-query check
    window forced the merges; the bench keeps per-query comparability
    with earlier rounds by timing the original shapes):
    - corpus_recall_124k merged into recall_validation (driver) but stays
      its own timed row here.
    - minhash/simhash registry entries switched to hash="arith" for
      DuckDB oracle replay; the bench keeps timing the PRODUCTION
      xxhash64 path (what a 100-TB deployment runs)."""
    def corpus_recall_124k(spark, sf_dir):
        from liblevenshtein_rust_spark.sources.corpus import (
            EN_WORDS_PATH, load_wordlist, planted_error_corpus, recall_at_d)
        words = load_wordlist(spark, EN_WORDS_PATH)
        return recall_at_d(planted_error_corpus(words), words, 3,
                           method="auto", persist=True)

    def minhash_near_dup(spark, sf_dir):
        from liblevenshtein_rust_spark.operators.dedup import minhash_lsh_pairs
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(docs, jaccard_threshold=0.8)

    def simhash_near_dup(spark, sf_dir):
        from liblevenshtein_rust_spark.operators.dedup import simhash_pairs
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return simhash_pairs(docs, max_hamming=3)

    def substring_shared_index(spark, sf_dir):
        """Both substring workloads (fuzzy d=1 best-match + exact
        all-positions) over ONE persisted doc-side inverted index: the
        index stage — the dominant cost of substring_fuzzy_d1 standalone
        — is built once at the union of both workloads' segment-length
        sets and read back from cache by each query (InMemoryTableScan
        in both plans). Cache released by the harness clearCache."""
        from pyspark.sql import functions as F
        from liblevenshtein_rust_spark.operators.substring import (
            _n_segments, _segments, build_substring_index,
            fuzzy_substring_join)
        import __spark_entry__ as em2
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .select("doc_id", F.lower(F.col("text")).alias("text"))
        fuzzy_q = em2.SUBSTR_FUZZY_QUERIES
        pos_q = em2.SUBSTR_POS_QUERIES
        lens = sorted(
            {ln for t in fuzzy_q
             for _, ln in _segments(len(t), 1, "standard")
             if len(t) >= _n_segments(1, "standard")}
            | {len(t) for t in pos_q})
        # num_partitions: a persisted index MUST be spread before caching
        # — the scan-inherited layout is one slim partition per union
        # branch per file split (5 total here), and every consumer join
        # then runs 5-wide on 32 cores; profiled 3x slower + GC-noisy
        # (the r4 substring_shared_index anomaly: draws 9.4-34.8s).
        # DISK_ONLY (tmpfs local dir here, executor NVMe on a cluster):
        # the on-heap deserialized cache made late bench draws absorb
        # GC pressure from the 15 queries before this one (extra draws
        # ballooned to 32-42s); serialized off-heap blocks measured
        # strictly faster AND stable (6.9-8.1s) — same lesson as the
        # dedup family's token cache (BENCH/BASELINE.md)
        from pyspark import StorageLevel
        idx = build_substring_index(docs, lens, num_partitions=64) \
            .persist(StorageLevel.DISK_ONLY)
        qdf_f = em2._queries_df(spark, fuzzy_q)
        qdf_p = em2._queries_df(spark, pos_q)
        best = (fuzzy_substring_join(qdf_f, docs, n=1, doc_index=idx,
                                     index_lens=lens)
                .select(F.col("q_text").alias("query"), "doc_id",
                        "pos", "distance", F.lit("fuzzy_d1").alias("mode")))
        allp = (fuzzy_substring_join(qdf_p, docs, n=0, all_positions=True,
                                     doc_index=idx, index_lens=lens)
                .select(F.col("q_text").alias("query"), "doc_id",
                        "pos", "distance", F.lit("positions").alias("mode")))
        return best.unionByName(allp)

    def fs_score_9m(spark, sf_dir):
        from pyspark.sql import functions as F
        import liblevenshtein_rust_spark.operators.probabilistic as P
        from liblevenshtein_rust_spark.sources.corpus import (
            synthetic_linkage_records)
        recs = synthetic_linkage_records(spark, 1_000_000)
        specs = P.transcript_field_specs()
        g = P.comparison_vectors(P.block_candidate_pairs(recs), specs)
        # the tautological is_match filter pins the scoring columns into
        # the counted plan: a bare count() would let Catalyst prune the
        # gamma/weight projections and time only the blocking join
        return P.score_pairs(g, specs).where(F.col("is_match") >= 0)

    # production-path variants (same convention as minhash/simhash
    # above): the registry queries keep hash_tokens=False so DuckDB can
    # replay word-level counts bit-for-bit; the bench times the hashed
    # path a 100-TB deployment runs (identical outputs w.h.p. — parity
    # pinned in test_dedup)
    def jaccard_near_dup(spark, sf_dir):
        from liblevenshtein_rust_spark.operators.dedup import (
            token_jaccard_pairs)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return token_jaccard_pairs(docs, group_col="lang",
                                   min_ratio_milli=900, persist=True,
                                   hash_tokens=True)

    def near_dup_dedup_docs(spark, sf_dir):
        from liblevenshtein_rust_spark.operators.dedup import (
            near_dup_dedup, token_jaccard_pairs)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = token_jaccard_pairs(docs, group_col="lang",
                                    min_ratio_milli=900, persist=True,
                                    hash_tokens=True)
        return near_dup_dedup(docs, pairs)

    # count()-pruning pins (same honesty rule as fs_score_9m): these two
    # queries return computed columns with no downstream filter, so a
    # bare count() lets Catalyst prune every expression and times only
    # the parquet row count (doc_quality measured 0.17s pruned vs 0.45s
    # real). Tautological filters on the computed columns pin the actual
    # work into the counted plan. All other headline rows consume their
    # computed columns in joins/filters/aggregates and need no pin.
    def token_stats(spark, sf_dir):
        from pyspark.sql import functions as F
        return em.queries()["token_stats"](spark, sf_dir).where(
            "n_chars >= -1 AND n_tokens >= -1 AND n_stop >= -1")

    def doc_quality(spark, sf_dir):
        return em.queries()["doc_quality"](spark, sf_dir).where(
            "n_tokens >= -1 AND stop_milli >= -1 AND punct_milli >= -1")

    return {**em.queries(), "corpus_recall_124k": corpus_recall_124k,
            "minhash_near_dup": minhash_near_dup,
            "simhash_near_dup": simhash_near_dup,
            "substring_shared_index": substring_shared_index,
            "fs_score_9m": fs_score_9m,
            "jaccard_near_dup": jaccard_near_dup,
            "near_dup_dedup_docs": near_dup_dedup_docs,
            "token_stats": token_stats, "doc_quality": doc_quality}


def run_default() -> None:
    import __spark_entry__ as em
    # window-health probe BEFORE the JVM exists (VERDICT r4 #3): one
    # recorded number that says whether this draw ran in a clean window
    probe, probe_degraded, probe_ref = _probe_and_flag()
    print(f"# window probe: {probe}s (clean ref {probe_ref}, "
          f"degraded={probe_degraded})", file=sys.stderr, flush=True)
    spark = _spark(CPUS)
    qs = _bench_queries(em)
    _warmup(spark, em)
    # Each query runs cold once (one-time plan costs: codegen compile for
    # that plan shape, Python-worker numpy import, page-cache fill — a
    # long-lived cluster amortizes these across thousands of invocations),
    # then N isolated steady draws; "queries"/"value" report the MEDIAN
    # of the steady draws (r3 verdict item #4 — min-of-2 produced both
    # the r2 minhash and r3 jaccard-family scares; the median of >= 3
    # isolated draws is robust to one GC/contention outlier in either
    # direction). An anomaly guard adds up to 2 extra draws when the
    # median exceeds 1.3x cold (codegen already paid, so a clean steady
    # run is never slower than cold — the mid-leg box-degradation
    # pattern). Per-query draw counts are reported.
    # Queries are isolated from each other (clearCache + gc between them):
    # on a real cluster each pipeline is its own spark-submit application,
    # so one query's pinned caches / checkpoint RDDs never degrade the
    # next one's GC behavior. Without this, caches persisted by earlier
    # pair queries inflate later first-runs 3-5x.
    import gc
    import statistics
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    n_draws: dict[str, int] = {}
    q_steal: dict[str, float] = {}
    total = cold_total = 0.0
    # LLS_BENCH_ONLY="a,b,c" runs a subset of the headline list (same
    # methodology per query) — for targeted clean-window redraws of
    # specific rows without paying the full 16-query invocation. The
    # output JSON carries the subset so a partial total is never
    # mistaken for a full headline value.
    only = os.environ.get("LLS_BENCH_ONLY")
    names = ([n for n in HEADLINE if n in
              {s.strip() for s in only.split(",")}] if only else HEADLINE)
    for name in names:
        spark.catalog.clearCache()
        gc.collect()
        st0 = _read_proc_stat()
        t0 = time.time()
        n = qs[name](spark, SF_DIR).count()
        cold_dt = time.time() - t0

        def one_draw() -> float:
            spark.catalog.clearCache()
            gc.collect()
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            return time.time() - t0

        draws = [one_draw() for _ in range(3)]
        extra = 0
        while statistics.median(draws) > 1.3 * cold_dt and extra < 2:
            draws.append(one_draw())
            extra += 1
        dt = statistics.median(draws)
        timings[name] = round(dt, 3)
        cold[name] = round(cold_dt, 3)
        n_draws[name] = len(draws)
        # hypervisor steal across this query's cold+steady draws: the
        # per-query window-health bit (see STEAL_DEGRADED_PCT) — lets a
        # reader tell a regressed query from a stolen window row by row
        steal = _steal_pct(st0, _read_proc_stat())
        if steal is not None:
            q_steal[name] = steal
        total += dt
        cold_total += cold_dt
        print(f"# {name}: steady {dt:.2f}s (median of {len(draws)}: "
              f"{[round(x, 2) for x in sorted(draws)]}) "
              f"cold {cold_dt:.2f}s rows={n} steal={steal}%",
              file=sys.stderr, flush=True)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "headline_query_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "cold_value": round(cold_total, 3),
        "cold_queries": cold,
        "steady_method": "median-of-isolated-draws",
        "draws": n_draws,
        "window_probe_sec": probe,
        "window_probe_clean_ref": probe_ref,
        "window_degraded": probe_degraded,
        "query_steal_pct": q_steal,
        "steal_worst": max(q_steal.values()) if q_steal else None,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **({"subset": names} if only else {}),
    }))


def run_kernel() -> None:
    import numpy as np
    import pandas as pd
    from liblevenshtein_rust_spark.functions.distance import batch_distance

    rng = np.random.default_rng(42)
    base = ["the deployment failed with a timeout in the service",
            "please check the logs for errors and retry the request",
            "merge the feature branch into main after review"]
    n_pairs = 400_000
    a = pd.Series([base[i % 3] for i in range(n_pairs)])
    # partner = same string with a char deleted -> distance 1 verify path
    b = pd.Series([s[:7] + s[8:] for s in a])
    batch_distance(a, b, 2, "standard")  # first-touch warmup (allocator)
    t0 = time.time()
    out = batch_distance(a, b, 2, "standard")
    dt = time.time() - t0
    assert int(out.max()) == 1
    print(json.dumps({"metric": "kernel_pairs_per_sec_per_core",
                      "value": round(n_pairs / dt), "unit": "pairs/sec",
                      "n_pairs": n_pairs, "seconds": round(dt, 3)}))


def _amplified_terms(spark, sf_dir: str, k: int):
    """Deterministic JVM-side corpus amplification with a realistic
    near-dup mix: k variants per doc, each a different word-order rotation
    of the doc text (so variants of one doc do NOT share blocking keys),
    tagged with a doubled-digit suffix (pairwise tag distance >= 2). Odd
    variants are a single-char deletion of the previous even variant —
    exactly one planted d=1 pair per odd index, linear in corpus size."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", F.lower(F.col("text")).alias("text"))
    amp = docs.select(
        "doc_id", "text", F.explode(F.expr(f"sequence(0, {k - 1})")).alias("v"))
    base = amp.selectExpr(
        "v",
        "v - (v % 2) AS u",
        "split(text, ' ') AS w",
    ).selectExpr(
        "v",
        "concat(array_join(concat(slice(w, (u % size(w)) + 1, size(w) - (u % size(w))), "
        "                         slice(w, 1, u % size(w))), ' '), "
        "       ' t', regexp_replace(cast(u AS string), '(.)', '$1$1')) AS base",
        "u",
    )
    turns = base.selectExpr(
        "CASE WHEN v % 2 = 0 THEN base "
        "ELSE concat(substring(base, 1, cast(u % 11 + 3 AS int) - 1), "
        "            substring(base, cast(u % 11 + 3 AS int) + 1, length(base))) "
        "END AS text"
    )
    return turns


def _amplified_docs(spark, sf_dir: str, k: int):
    """Deterministic doc amplification for the jaccard->CC dedup family:
    k variants per doc, every third token salted with a suffix unique to
    the (source doc, even-variant pair). The salt must depend on BOTH —
    a v-only salt (the first version of this corpus) leaves organic
    cross-doc near-dup pairs intact at every amplification level
    (pair count x k/2) and, once the salt alphabet wraps, produces
    byte-identical variant copies, i.e. k-cliques: pair growth goes
    superlinear and the legs measure clique explosion instead of the
    join. Doc+pair-unique salting drops every cross-variant and
    cross-doc Jaccard to ~0.5 (never a candidate at threshold 0.9), so
    the ONLY matches are the planted ones: odd variants drop the leading
    char of their even partner (one token differs -> J = (T-1)/(T+1),
    a near-dup for docs with >= 19 distinct tokens) — exactly k/2
    planted pairs per long doc, strictly linear in corpus size."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang", F.lower(F.col("text")).alias("text"))
    amp = docs.select(
        "doc_id", "lang", "text",
        F.explode(F.expr(f"sequence(0, {k - 1})")).alias("v"))
    base = amp.selectExpr(
        "doc_id * 1000 + v AS doc_id", "lang", "v",
        "array_join(transform(split(text, ' '), (t, i) -> "
        "  IF((i + v - v % 2) % 3 = 0, "
        "     concat(t, 'x', CAST(doc_id AS string), '_', "
        "            CAST(v - v % 2 AS string)), t)), ' ') "
        "AS base")
    return base.selectExpr(
        "doc_id", "lang",
        "IF(v % 2 = 0, base, substring(base, 2)) AS text")


def _steady(runs: list[float], warm_dt: float, once) -> float:
    """min-of-N steady estimate with an anomaly guard: a steady run
    slower than 1.3x the warmup (codegen already paid, so clean steady
    runs are never slower) means the box degraded mid-leg (GC storm,
    external contention — the r2 minhash pattern); take up to two extra
    runs before settling on the minimum."""
    extra = 0
    while min(runs) > 1.3 * warm_dt and extra < 2:
        dt, _ = once()
        runs.append(dt)
        extra += 1
    return min(runs)


def run_scale_job_dedup(cores: str, k: int = 256) -> None:
    """One jaccard->CC dedup run (the second scaling family, VERDICT r2
    #10): token-set Jaccard pairs (PPJoin-filtered) -> connected
    components -> canonical survivor per cluster, over an amplified doc
    corpus. Same pinning + corpus-materialization discipline as the
    flagship fuzzy leg.

    Corpus-size history: k=32 profiled to an Amdahl ceiling of ~0.79 at
    2->8 regardless of code (~99 s parallel work over ~5 s fixed stage
    latency), so r4 grew it to k=128. The jaccard prefix-cache fix then
    HALVED the parallel work (2-core leg 227.8 -> 123.6 s, identical
    survivors), re-exposing the fixed term (two-leg Amdahl fit:
    F ~ 16.6 s, P ~ 214 s -> ceiling ~0.71 at k=128) — so k doubled to
    256, restoring the parallel-dominated regime the 1000-executor
    deployment's batch sizes live in (predicted eff ~0.83 at 2->8).
    The job is ~2x faster than the k=128 pre-fix code on the SAME bytes
    — corpus growth trades none of that back, it just measures the
    scaling criterion at a batch size where the join dominates."""
    from liblevenshtein_rust_spark.operators.dedup import (
        near_dup_dedup, token_jaccard_pairs, unpersist_inputs)
    # LLS_BENCH_DEDUP_K scales the amplified corpus (the era knob): the
    # profiled k=256 pair graph is a 575,405-edge spanning forest
    # (n_pairs = n_docs - survivors), so k=512 lands ~1.15M edges —
    # still inside the 2M driver union-find bound with 2x the margin
    # the k=256 silent-fallback lesson demands be CHECKED, not assumed.
    k = int(os.environ.get("LLS_BENCH_DEDUP_K", k))
    probe = _window_probe()  # before pinning: probe owns cores 0-7
    try:
        os.sched_setaffinity(0, set(range(int(cores))))
    except (AttributeError, ValueError, OSError):
        pass
    spark = _spark(cores)
    corpus_path = f"/dev/shm/lls-bench-docs-k{k}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        _amplified_docs(spark, SF_DIR, k).repartition(64) \
            .write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    n_docs = docs.count()

    # Token-cache placement (A/B-tested r4): DISK_ONLY puts the cached
    # exploded-token blocks on spark.local.dir (tmpfs here, executor
    # NVMe on a cluster) instead of the JVM heap — the job's largest
    # allocation stops competing with execution memory and shrinks the
    # GC-sensitive surface that made the mid-parallelism leg absorb box
    # contention disproportionately (see BENCH/BASELINE.md).

    def once() -> tuple[float, int, int]:
        t0 = time.time()
        # hash_tokens: the production path — 8-byte hashed tokens in
        # every shuffle/cache instead of variable-length (salted) words;
        # 32% faster at this scale with identical survivors (see
        # operators/dedup.token_jaccard_pairs docstring)
        pairs = token_jaccard_pairs(docs, group_col="lang",
                                    min_ratio_milli=900, persist=True,
                                    persist_level="DISK_ONLY",
                                    hash_tokens=True)
        surv = near_dup_dedup(docs, pairs)
        n_surv = surv.count()
        dt = time.time() - t0
        # release the run's cached token table AFTER timing: each once()
        # persists a fresh lineage, and leaked copies accumulate memory
        # pressure across the 3-4 timed runs of a leg (ADVICE r3)
        unpersist_inputs(pairs)
        return dt, n_surv

    warm_dt, _ = once()
    st0 = _read_proc_stat()
    # LLS_BENCH_STEADY_RUNS widens the min-of-N window (default 2, the
    # historical leg shape). The r5 k256fp campaign showed the box's
    # mid-parallelism contention arrives in SUSTAINED multi-minute
    # phases (identical 8-core legs read 66.9-91.2 s across draws while
    # 2-core legs held 223-237 s), so a 2-run leg can sit entirely
    # inside a mush phase. min-of-N is the estimator this leg has always
    # used (_steady); more runs only widens its time window so at least
    # one run lands in the box's uncontended mode — contention can only
    # inflate a run, never deflate it, so min converges on capability.
    n_runs = max(1, int(os.environ.get("LLS_BENCH_STEADY_RUNS", "2")))
    runs = []
    n_surv = None
    for _ in range(n_runs):
        d, n = once()
        if n_surv is None:
            n_surv = n
        assert n == n_surv
        runs.append(d)
    dt = _steady(runs, warm_dt, once)
    steal = _steal_pct(st0, _read_proc_stat())
    print(json.dumps({"cores": int(cores), "seconds": round(dt, 3),
                      "cold_seconds": round(warm_dt, 3),
                      "steady_runs": [round(x, 3) for x in runs],
                      "docs": n_docs, "survivors": n_surv,
                      "docs_per_sec": round(n_docs / dt),
                      "probe_8core_sec": probe,
                      "steal_pct": steal}))


def run_scale_job(cores: str, k: int = 192) -> None:
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        build_dictionary, fuzzy_self_join)
    probe = _window_probe()  # before pinning: probe owns cores 0-7
    # Pin this leg (driver + forthcoming JVM + Python workers inherit the
    # affinity mask) to exactly N cores: an N-core executor on a real
    # cluster cannot exceed its allotment, but an unpinned local[N] JVM
    # runs GC/netty/py4j background threads on EXTRA cores, overstating
    # the small leg's throughput and understating scaling efficiency.
    try:
        os.sched_setaffinity(0, set(range(int(cores))))
    except (AttributeError, ValueError, OSError):
        pass  # non-Linux or cores > machine: run unpinned
    spark = _spark(cores)
    # untimed setup: materialize the synthetic corpus (the system under
    # test is the linkage job, not the generator)
    corpus_path = f"/dev/shm/lls-bench-turns-k{k}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        # 64 files so the scan parallelizes at any tested core count
        _amplified_terms(spark, SF_DIR, k).repartition(64) \
            .write.mode("overwrite").parquet(corpus_path)
    turns = spark.read.parquet(corpus_path)
    n_turns = turns.count()

    def once() -> tuple[float, int]:
        t0 = time.time()
        terms = build_dictionary(turns, "text")
        pairs = fuzzy_self_join(terms, n=1, method="segment")
        n_pairs = pairs.count()
        return time.time() - t0, n_pairs

    # one warmup run (codegen compile, JIT, shuffle-service spin-up — paid
    # once per long-lived executor on a real cluster), then steady state
    warm_dt, _ = once()
    st0 = _read_proc_stat()
    d1, n_pairs = once()
    d2, n2 = once()
    assert n2 == n_pairs
    dt = _steady([d1, d2], warm_dt, once)
    steal = _steal_pct(st0, _read_proc_stat())
    print(json.dumps({"cores": int(cores), "seconds": round(dt, 3),
                      "cold_seconds": round(warm_dt, 3),
                      "turns": n_turns, "pairs": n_pairs,
                      "turns_per_sec": round(n_turns / dt),
                      "probe_8core_sec": probe,
                      "steal_pct": steal}))


def run_scaling() -> None:
    results = {}
    for cores in ("2", "8", "32"):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scale-job", cores],
            capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)))
        line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)
        print(f"# local[{cores}]: {results[cores]}", file=sys.stderr)
    eff_2_8 = (results["2"]["seconds"] / results["8"]["seconds"]) / 4
    eff_8_32 = (results["8"]["seconds"] / results["32"]["seconds"]) / 4
    # second workload family (jaccard -> CC dedup), same legs — the
    # north-rule efficiency claim should not rest on one pipeline shape
    dd = {}
    for cores in ("2", "8", "32"):
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--scale-job-dedup", cores],
            capture_output=True, text=True, check=True,
            cwd=os.path.dirname(os.path.abspath(__file__)))
        line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        dd[cores] = json.loads(line)
        print(f"# dedup local[{cores}]: {dd[cores]}", file=sys.stderr)
    dd_eff_2_8 = (dd["2"]["seconds"] / dd["8"]["seconds"]) / 4
    dd_eff_8_32 = (dd["8"]["seconds"] / dd["32"]["seconds"]) / 4
    # per-leg window probes (each leg ran one before pinning): the worst
    # probe grades the whole invocation against the rolling clean
    # reference BEFORE this invocation's own probes are appended
    probes = {f"flagship_{c}": results[c].get("probe_8core_sec")
              for c in results}
    probes.update({f"dedup_{c}": dd[c].get("probe_8core_sec") for c in dd})
    steals = {f"flagship_{c}": results[c].get("steal_pct") for c in results}
    steals.update({f"dedup_{c}": dd[c].get("steal_pct") for c in dd})
    probe_vals = [v for v in probes.values() if isinstance(v, (int, float))]
    ref = _probe_reference()
    worst = max(probe_vals) if probe_vals else None
    steal_vals = [v for v in steals.values() if isinstance(v, (int, float))]
    steal_worst = max(steal_vals) if steal_vals else None
    # Primary health bit: hypervisor steal measured DURING the steady
    # legs. Calibrated by an interleaved old/new-code experiment (r5):
    # the dedup 8-core leg read 82.0 s at 0.046% steal and 104-129 s at
    # 0.7-1.8% on identical code/input/survivors, while the 8-way matmul
    # probe failed to separate those windows — steal hits barrier-heavy
    # JVM stages ~10x harder than its raw share of cycles. Threshold
    # 0.25% of all-vCPU time ~= 1% of an 8-core leg's pinned cycles.
    if steal_worst is not None:
        degraded = bool(steal_worst > STEAL_DEGRADED_PCT)
    else:
        degraded = (None if ref is None or worst is None
                    else bool(worst > 1.2 * ref))
    out = {
        "metric": "scaling_efficiency_n_to_4n_cores",
        "value": round(eff_2_8, 3),
        "unit": "efficiency",
        "eff_2_to_8": round(eff_2_8, 3),
        "eff_8_to_32": round(eff_8_32, 3),
        "legs": results,
        "dedup_eff_2_to_8": round(dd_eff_2_8, 3),
        "dedup_eff_8_to_32": round(dd_eff_8_32, 3),
        "dedup_legs": dd,
        "probes": probes,
        "steal_pct": steals,
        "steal_worst": steal_worst,
        "probe_worst": worst,
        "probe_clean_ref": ref,
        "window_degraded": degraded,
    }
    print(json.dumps(out))
    _append_history(out)


def _append_history(out: dict) -> None:
    """Every --scaling invocation appends its summary to
    BENCH/SCALING_HISTORY.jsonl. One run's ratio on a shared box moves
    +-15% with leg-to-leg drift — the honest evidence is the distribution
    of all recorded invocations, not one draw."""
    os.makedirs(BENCH_DIR, exist_ok=True)
    path = os.path.join(BENCH_DIR, "SCALING_HISTORY.jsonl")
    try:
        with open(path) as f:
            n = sum(1 for _ in f)
    except FileNotFoundError:
        n = 0
    rec = {"label": f"run #{n + 1}",
           "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
           "eff_2_to_8": out["eff_2_to_8"], "eff_8_to_32": out["eff_8_to_32"],
           "legs_steady": {c: out["legs"][c]["seconds"] for c in out["legs"]}}
    if "dedup_eff_2_to_8" in out:
        rec["dedup_eff_2_to_8"] = out["dedup_eff_2_to_8"]
        rec["dedup_eff_8_to_32"] = out["dedup_eff_8_to_32"]
        # era tag keeps the per-era medians computable without label
        # parsing; bump when the dedup corpus k or the family's code
        # changes shape (k=256 since r4 #7; k256fp since the union-find
        # bound was raised to 2M edges and the k=256 corpus moved back
        # onto the fast path)
        rec["era"] = "k256fp"
    for k in ("probes", "steal_pct", "probe_worst", "probe_clean_ref",
              "window_degraded"):
        if out.get(k) is not None:
            rec[k] = out[k]
    with open(path, "a") as f:
        f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    if "--probe" in sys.argv:
        st0 = _read_proc_stat()
        p, degraded, ref = _probe_and_flag()
        steal = _steal_pct(st0, _read_proc_stat())
        print(json.dumps({"metric": "window_probe_sec", "value": p,
                          "unit": "sec", "clean_ref": ref,
                          "window_degraded": degraded,
                          "steal_pct": steal}))
    elif "--kernel" in sys.argv:
        run_kernel()
    elif "--scale-job-dedup" in sys.argv:
        run_scale_job_dedup(sys.argv[sys.argv.index("--scale-job-dedup") + 1])
    elif "--scale-job" in sys.argv:
        run_scale_job(sys.argv[sys.argv.index("--scale-job") + 1])
    elif "--scaling" in sys.argv:
        run_scaling()
    elif len(sys.argv) == 1:
        run_default()
    else:
        # a mistyped mode must not fall through to the full headline run
        print(f"unknown mode: {' '.join(sys.argv[1:])}\n{__doc__}",
              file=sys.stderr)
        sys.exit(2)
