"""spark-submit entry point — the batch/ops path.

Mirrors the reference CLI's dispatch shape (clap parse -> command handler,
/root/reference/src/cli/commands.rs:28-110) as
``spark-submit --py-files pipeline.zip -m liblevenshtein_rust_spark.cli``
style stage dispatch:

    python -m liblevenshtein_rust_spark.cli pipeline \
        --input /path/turns.parquet --checkpoint-dir /ckpt --run-id r1 \
        --max-distance 2 --variant transposition

    python -m liblevenshtein_rust_spark.cli query \
        --dict /usr/share/dict/words --term test --max-distance 2

    python -m liblevenshtein_rust_spark.cli stream \
        --input /landing/turns --state-dir /state --max-distance 2
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="liblevenshtein-rust-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline", help="run the full linkage pipeline")
    pp.add_argument("--input", required=True, help="transcript parquet/Iceberg path")
    pp.add_argument("--checkpoint-dir", required=True)
    pp.add_argument("--run-id", default="run0")
    pp.add_argument("--max-distance", type=int, default=2)
    pp.add_argument("--variant", default="standard",
                    choices=["standard", "transposition", "merge_and_split"])
    pp.add_argument("--method", default="auto")
    pp.add_argument("--phonetic", action="store_true")
    pp.add_argument("--table-format", default="parquet")
    pp.add_argument("--bucket-by", type=int, default=None,
                    help="bucket keyed checkpoint stages for no-shuffle "
                         "downstream joins (bucket count)")

    qp = sub.add_parser("query", help="fuzzy query a term dictionary")
    qp.add_argument("--dict", required=True, help="newline-delimited term file")
    qp.add_argument("--term", required=True)
    qp.add_argument("--max-distance", type=int, default=2)
    qp.add_argument("--variant", default="standard")
    qp.add_argument("--limit", type=int, default=0)
    qp.add_argument("--prefix", action="store_true",
                    help="autocomplete mode: match term prefixes")
    qp.add_argument("--substring", action="store_true",
                    help="substring mode: match anywhere inside each line "
                         "(prints term\\tdistance\\tposition)")

    sp = sub.add_parser("stream", help="incremental linkage over a landing dir")
    sp.add_argument("--input", required=True)
    sp.add_argument("--state-dir", required=True)
    sp.add_argument("--max-distance", type=int, default=2)
    sp.add_argument("--variant", default="standard")

    ip = sub.add_parser("info", help="dictionary/corpus stats")
    ip.add_argument("--dict", required=True)

    # north-rule metric as an ops command: score a pipeline run's
    # turn_entities output against labeled truth (same key columns)
    ev = sub.add_parser("evaluate",
                        help="pairwise linkage P/R/F1 vs labeled truth")
    ev.add_argument("--pred", required=True,
                    help="parquet with (conv_id, turn_idx, entity_id)")
    ev.add_argument("--truth", required=True,
                    help="parquet with (conv_id, turn_idx, entity_id)")

    # dictionary maintenance — the reference CLI's Convert / Insert /
    # Delete / Clear / Minimize commands (src/cli/args.rs:109-200), with
    # serialization formats mapped to text/parquet/json/csv tables
    cv = sub.add_parser("convert", help="convert a dictionary between formats")
    cv.add_argument("--input", required=True)
    cv.add_argument("--output", required=True)
    cv.add_argument("--in-format", default=None,
                    choices=[None, "text", "parquet", "json", "csv"])
    cv.add_argument("--out-format", default=None,
                    choices=[None, "text", "parquet", "json", "csv"])
    # the reference's compressed serialization (gzip/protobuf wrappers,
    # src/serialization/mod.rs:30-52) maps to Spark's columnar/file
    # codecs: one flag, every output format
    cv.add_argument("--compression", default=None,
                    choices=[None, "none", "gzip", "snappy", "zstd"])

    for name, hlp in (("insert", "insert terms into a dictionary"),
                      ("delete", "delete terms from a dictionary")):
        mp = sub.add_parser(name, help=hlp)
        mp.add_argument("terms", nargs="+")
        mp.add_argument("--dict", required=True)
        mp.add_argument("--format", default=None)

    cl = sub.add_parser("clear", help="remove all terms from a dictionary")
    cl.add_argument("--dict", required=True)
    cl.add_argument("--format", default=None)

    mn = sub.add_parser("minimize",
                        help="compact a dictionary table (small-file "
                             "compaction — the DynamicDawg minimize analog)")
    mn.add_argument("--dict", required=True)
    mn.add_argument("--target-files", type=int, default=1)

    ci = sub.add_parser("compact-index",
                        help="compact an incrementally-maintained substring"
                             "-index parquet (SuffixAutomaton::compact "
                             "analog): rewrite dead rows + lineage into a "
                             "fresh _bkey-clustered layout in place")
    ci.add_argument("--index", required=True,
                    help="parquet path of the substring index")
    ci.add_argument("--partitions", type=int, default=None,
                    help="output partition count (default: "
                         "spark.sql.shuffle.partitions)")

    # training-data-pipeline ops surface: document dedup as a single
    # command (exact / token-Jaccard / MinHash-LSH / SimHash), writing
    # the surviving docs (+ n_removed per survivor) to parquet
    dd = sub.add_parser("dedup",
                        help="near-duplicate removal over a document table")
    dd.add_argument("--input", required=True,
                    help="parquet with (id col, text col, ...)")
    dd.add_argument("--output", required=True,
                    help="output parquet: surviving rows + n_removed")
    dd.add_argument("--method", default="jaccard",
                    choices=["exact", "jaccard", "minhash", "simhash"])
    dd.add_argument("--threshold-milli", type=int, default=900,
                    help="Jaccard threshold in milli (jaccard/minhash)")
    dd.add_argument("--max-hamming", type=int, default=3,
                    help="SimHash bit distance (simhash)")
    dd.add_argument("--group-col", default=None,
                    help="only pair docs sharing this column (e.g. lang)")
    dd.add_argument("--hash-tokens", action="store_true",
                    help="jaccard only: carry 8-byte hashed tokens in "
                         "every shuffle/cache instead of words (the "
                         "100-TB production path; exact w.h.p.)")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--checkpoint-dir", default=None,
                    help="checkpoint the pair + survivor stages (durable, "
                         "resumable — rerun with the same run-id resumes)")
    dd.add_argument("--run-id", default="dedup0")

    # probabilistic (Fellegi-Sunter) record linkage as an ops command:
    # multi-field records -> blocked pairs -> gamma vectors -> match
    # weights (clerical defaults, or unsupervised EM with --em) ->
    # threshold -> connected components -> (rec_id, entity_id) parquet.
    # If the input carries a labeled `entity` column, the command also
    # prints the pairwise P/R/F1 of its own output against it.
    fl = sub.add_parser("fs-link",
                        help="probabilistic (Fellegi-Sunter) linkage")
    fl.add_argument("--input", required=True,
                    help="records parquet (rec_id, block, name, city, "
                         "phone[, entity])")
    fl.add_argument("--output", required=True,
                    help="output parquet: (rec_id, entity_id)")
    fl.add_argument("--threshold-milli", type=int, default=0,
                    help="match if weight_milli >= this")
    fl.add_argument("--em", action="store_true",
                    help="estimate match weights by EM over the gamma "
                         "pattern counts (unsupervised) instead of the "
                         "clerical defaults")
    fl.add_argument("--em-iters", type=int, default=20)
    fl.add_argument("--block", action="append", dest="blocks",
                    default=None, metavar="KEY_EXPR",
                    help="blocking rule as a SQL key expression over the "
                         "record columns; repeat the flag for a "
                         "Splink-style rule UNION (candidates deduped "
                         "before scoring). Default: the 'block' column")

    rp = sub.add_parser("repl", help="interactive query/insert/delete loop")
    rp.add_argument("--dict", required=True)
    rp.add_argument("--max-distance", type=int, default=2)
    rp.add_argument("--variant", default="standard")
    rp.add_argument("--auto-sync", action="store_true",
                    help="write the dictionary back after every mutation")

    args = p.parse_args(argv)

    from liblevenshtein_rust_spark.session import get_spark
    spark = get_spark("lls-cli")

    if args.cmd == "pipeline":
        from liblevenshtein_rust_spark.plans.pipeline import PipelineConfig, run_pipeline
        turns = spark.read.parquet(args.input)
        cfg = PipelineConfig(
            checkpoint_dir=args.checkpoint_dir, run_id=args.run_id,
            n=args.max_distance, variant=args.variant, method=args.method,
            phonetic=args.phonetic, table_format=args.table_format,
            bucket_by=args.bucket_by)
        res = run_pipeline(spark, turns, cfg)
        print(json.dumps({k: v for k, v in res["info"].items()}, default=str))
        return 0

    if args.cmd == "evaluate":
        from pyspark.sql import functions as F
        from liblevenshtein_rust_spark.operators.linkage_eval import pairwise_f1
        pred = spark.read.parquet(args.pred).select(
            "conv_id", "turn_idx", F.col("entity_id").alias("_pred"))
        truth = spark.read.parquet(args.truth).select(
            "conv_id", "turn_idx", F.col("entity_id").alias("_truth"))
        # FULL OUTER on the turn key: an inner join would silently drop
        # truth rows with no prediction (and vice versa), so a prediction
        # file covering 1% of the turns could still score f1_milli=1000.
        # Missing labels become per-row UNIQUE singleton ids: an uncovered
        # truth mention contributes its true pairs to the denominator
        # (recall misses), and a spurious predicted mention contributes
        # its predicted pairs (precision misses).
        labeled = (
            pred.join(truth, ["conv_id", "turn_idx"], "full_outer")
            .withColumn("_pred", F.coalesce(
                "_pred", F.concat(F.lit("__nopred:"), "conv_id",
                                  F.lit("/"), "turn_idx")))
            .withColumn("_truth", F.coalesce(
                "_truth", F.concat(F.lit("__notruth:"), "conv_id",
                                   F.lit("/"), "turn_idx")))
        )
        row = pairwise_f1(labeled, truth_col="_truth", pred_col="_pred")
        print(json.dumps(row.collect()[0].asDict()))
        return 0

    if args.cmd == "query":
        from liblevenshtein_rust_spark.operators.fuzzy_join import (
            fuzzy_join, fuzzy_prefix_join, fuzzy_top_k)
        from liblevenshtein_rust_spark.sources.corpus import load_wordlist
        d = load_wordlist(spark, args.dict)
        q = spark.createDataFrame([(args.term, args.term)], ["q_id", "q_text"])
        if args.substring:
            from pyspark.sql import functions as F
            from liblevenshtein_rust_spark.operators.substring import (
                fuzzy_substring_join)
            m = fuzzy_substring_join(
                q, d.select(F.col("term_id").alias("doc_id"),
                            F.col("term").alias("text")),
                n=args.max_distance, variant=args.variant,
                all_positions=True,
                # single interactive query, user-initiated: the degenerate
                # short-query probe is an acceptable cost here
                allow_short_queries=True)
            m = m.join(d.select(F.col("term_id").alias("doc_id"), "term"),
                       "doc_id").orderBy("distance", "term", "pos")
            if args.limit:
                m = m.limit(args.limit)
            for r in m.collect():
                print(f"{r.term}\t{r.distance}\t{r.pos}")
            return 0
        if args.prefix:
            m = fuzzy_prefix_join(q, d, n=args.max_distance,
                                  variant=args.variant)
        else:
            m = fuzzy_join(q, d, n=args.max_distance, variant=args.variant)
        m = fuzzy_top_k(m, args.limit) if args.limit else \
            m.orderBy("distance", "term")
        for r in m.collect():
            print(f"{r.term}\t{r.distance}")
        return 0

    if args.cmd == "stream":
        from liblevenshtein_rust_spark.streaming.incremental import (
            run_incremental_stream)
        run_incremental_stream(spark, args.input, args.state_dir,
                               n=args.max_distance, variant=args.variant)
        return 0

    if args.cmd == "info":
        from liblevenshtein_rust_spark.sources.corpus import load_wordlist
        d = load_wordlist(spark, args.dict)
        print(json.dumps({"terms": d.count()}))
        return 0

    if args.cmd == "convert":
        df = _read_dict(spark, args.input, args.in_format)
        _write_dict(df, args.output, args.out_format,
                    compression=args.compression)
        print(json.dumps({"terms": df.count(), "output": args.output}))
        return 0

    if args.cmd in ("insert", "delete", "clear"):
        from pyspark.sql import functions as F
        d = _read_dict(spark, args.dict, args.format)
        if args.cmd == "insert":
            new = spark.createDataFrame([(t,) for t in args.terms], ["term"])
            d = d.unionByName(new).dropDuplicates(["term"])
        elif args.cmd == "delete":
            gone = spark.createDataFrame([(t,) for t in args.terms], ["term"])
            d = d.join(gone, "term", "left_anti")
        else:
            d = d.where(F.lit(False))
        # materialize BEFORE overwriting the path we just read
        d = d.localCheckpoint(eager=True)
        _write_dict(d, args.dict, args.format)
        print(json.dumps({"terms": d.count()}))
        return 0

    if args.cmd == "minimize":
        d = _read_dict(spark, args.dict, None).localCheckpoint(eager=True)
        _write_dict(d.coalesce(max(args.target_files, 1)), args.dict, None)
        print(json.dumps({"terms": d.count(), "files": args.target_files}))
        return 0

    if args.cmd == "compact-index":
        from liblevenshtein_rust_spark.operators.substring import (
            compact_substring_index)
        idx = spark.read.parquet(args.index)
        out = compact_substring_index(idx, path=args.index,
                                      num_partitions=args.partitions)
        print(json.dumps({"rows": out.count(),
                          "partitions": out.rdd.getNumPartitions(),
                          "index": args.index}))
        return 0

    if args.cmd == "dedup":
        from liblevenshtein_rust_spark.plans.pipeline import (
            DedupConfig, dedup_pairs, dedup_survivors, run_dedup_pipeline)
        docs = spark.read.parquet(args.input)
        n_docs = docs.count()
        cfg = DedupConfig(
            checkpoint_dir=args.checkpoint_dir, run_id=args.run_id,
            method=args.method, threshold_milli=args.threshold_milli,
            max_hamming=args.max_hamming, group_col=args.group_col,
            id_col=args.id_col, text_col=args.text_col,
            hash_tokens=args.hash_tokens)
        info = None
        if args.checkpoint_dir:
            res = run_dedup_pipeline(spark, docs, cfg)
            surv, info = res["survivors"], res["info"]
        else:
            surv = dedup_survivors(docs, dedup_pairs(docs, cfg), cfg)
        surv.write.mode("overwrite").parquet(args.output)
        n_surv = spark.read.parquet(args.output).count()
        summary = {"method": args.method, "docs": n_docs,
                   "survivors": n_surv, "removed": n_docs - n_surv,
                   "output": args.output}
        if info is not None:
            summary["stages"] = info
        print(json.dumps(summary, default=str))
        return 0

    if args.cmd == "fs-link":
        from liblevenshtein_rust_spark.operators.probabilistic import (
            fs_link)
        recs = spark.read.parquet(args.input)
        clusters = fs_link(recs, threshold_milli=args.threshold_milli,
                           em=args.em, em_iters=args.em_iters,
                           blocks=args.blocks)
        clusters.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        summary = {"records": recs.count(),
                   "clusters": out.select("entity_id").distinct().count(),
                   "weights": "em" if args.em else "clerical",
                   "blocks": args.blocks or ["block"],
                   "output": args.output}
        if "entity" in recs.columns:
            from liblevenshtein_rust_spark.operators.linkage_eval import (
                pairwise_f1)
            labeled = recs.select("rec_id", "entity").join(out, "rec_id")
            summary["eval"] = pairwise_f1(
                labeled, truth_col="entity",
                pred_col="entity_id").collect()[0].asDict()
        print(json.dumps(summary))
        return 0

    if args.cmd == "repl":
        return _repl(spark, args)
    return 1


def _sniff_format(path: str, fmt: str | None) -> str:
    if fmt:
        return fmt
    for ext, f in ((".parquet", "parquet"), (".json", "json"),
                   (".csv", "csv")):
        if path.rstrip("/").endswith(ext):
            return f
    return "text"


def _read_dict(spark, path: str, fmt: str | None):
    """One term per row, column ``term`` — text (newline-delimited, the
    reference's plaintext format), parquet, json, or csv."""
    from pyspark.sql import functions as F
    fmt = _sniff_format(path, fmt)
    if fmt == "text":
        return (spark.read.text(path)
                .select(F.trim("value").alias("term"))
                .where(F.length("term") > 0))
    if fmt == "csv":
        return spark.read.option("header", "true").csv(path).select("term")
    return getattr(spark.read, fmt)(path).select("term")


def _write_dict(df, path: str, fmt: str | None,
                compression: str | None = None) -> None:
    """``compression`` passes straight through to the writer codec
    (text/json/csv: gzip; parquet: snappy/gzip/zstd) — readers sniff
    codecs transparently, so a compressed dictionary round-trips through
    ``_read_dict`` unchanged."""
    fmt = _sniff_format(path, fmt)
    w = df.select("term").write.mode("overwrite")
    if compression and compression != "none":
        if fmt != "parquet" and compression != "gzip":
            raise SystemExit(
                f"--compression {compression} is parquet-only; "
                f"{fmt} supports gzip")
        w = w.option("compression", compression)
    if fmt == "text":
        w.text(path)
    elif fmt == "csv":
        w.option("header", "true").csv(path)
    else:
        getattr(w, fmt)(path)


def _repl(spark, args) -> int:
    """Interactive loop — the reference's REPL commands (query/insert/
    delete/info/help/quit, src/cli/repl.rs) over a session dictionary.
    Mutations touch the in-memory dictionary; ``--auto-sync`` mirrors the
    reference's auto-save by writing back after every mutation."""
    from pyspark.sql import functions as F
    from liblevenshtein_rust_spark.operators.fuzzy_join import fuzzy_join

    d = _read_dict(spark, args.dict, None).localCheckpoint(eager=True)
    print(f"loaded {d.count()} terms; commands: "
          "query <term> [n] | insert <term...> | delete <term...> | "
          "info | quit", flush=True)
    for line in sys.stdin:
        parts = line.strip().split()
        if not parts:
            continue
        cmd, rest = parts[0], parts[1:]
        if cmd in ("quit", "exit"):
            break
        if cmd == "info":
            print(json.dumps({"terms": d.count()}), flush=True)
        elif cmd == "query" and rest:
            n = int(rest[1]) if len(rest) > 1 else args.max_distance
            q = spark.createDataFrame([(rest[0], rest[0])], ["q_id", "q_text"])
            m = fuzzy_join(q, d.withColumn("term_id", F.col("term")),
                           n=n, variant=args.variant)
            for r in m.orderBy("distance", "term").collect():
                print(f"{r.term}\t{r.distance}", flush=True)
        elif cmd == "insert" and rest:
            new = spark.createDataFrame([(t,) for t in rest], ["term"])
            prev, d = d, d.unionByName(new).dropDuplicates(["term"]) \
                .localCheckpoint(eager=True)
            # drop the superseded checkpoint's blocks — without this,
            # block-manager storage grows per mutation over a long session
            prev.unpersist()
            if args.auto_sync:
                _write_dict(d, args.dict, None)
            print(json.dumps({"terms": d.count()}), flush=True)
        elif cmd == "delete" and rest:
            gone = spark.createDataFrame([(t,) for t in rest], ["term"])
            prev, d = d, d.join(gone, "term", "left_anti") \
                .localCheckpoint(eager=True)
            prev.unpersist()
            if args.auto_sync:
                _write_dict(d, args.dict, None)
            print(json.dumps({"terms": d.count()}), flush=True)
        else:
            print("commands: query <term> [n] | insert <term...> | "
                  "delete <term...> | info | quit", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
