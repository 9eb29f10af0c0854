"""CLI dispatch smoke tests (the spark-submit ops path)."""

from __future__ import annotations

import json
import os


def test_cli_query(spark, tmp_path, capsys):
    from liblevenshtein_rust_spark.cli import main

    d = tmp_path / "dict.txt"
    d.write_text("table\nstream\njoin\nwindow\n")
    rc = main(["query", "--dict", str(d), "--term", "tble", "--max-distance", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "table\t1" in out


def test_cli_query_prefix_and_substring(spark, tmp_path, capsys):
    from liblevenshtein_rust_spark.cli import main

    d = tmp_path / "dict.txt"
    d.write_text("table\nstable\nturntable\nscan\n")
    rc = main(["query", "--dict", str(d), "--term", "tabl",
               "--max-distance", "1", "--prefix"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "table\t0" in out and "stable\t1" in out

    rc = main(["query", "--dict", str(d), "--term", "tble",
               "--max-distance", "1", "--substring"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "turntable\t1\t5" in out and "table\t1\t1" in out


def test_cli_pipeline(spark, tmp_path, capsys):
    from liblevenshtein_rust_spark.cli import main
    from liblevenshtein_rust_spark.sources.transcripts import synth_transcripts

    tdf, _ = synth_transcripts(spark, 200, seed=7)
    inp = str(tmp_path / "turns")
    tdf.write.parquet(inp)
    ck = str(tmp_path / "ckpt")
    rc = main(["pipeline", "--input", inp, "--checkpoint-dir", ck,
               "--run-id", "cli1", "--max-distance", "1"])
    assert rc == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "clusters" in info
    assert os.path.exists(os.path.join(ck, "cli1", "turn_entities", "_SUCCESS"))


def test_cli_evaluate(spark, tmp_path, capsys):
    """pipeline -> evaluate: the transposition run on a seeded typo corpus
    must score >= 990 milli-F1 against the generator's labels."""
    from liblevenshtein_rust_spark.cli import main
    from liblevenshtein_rust_spark.sources.transcripts import synth_transcripts

    tdf, truth = synth_transcripts(spark, 300, seed=13, dup_frac=0.5,
                                   max_edits=2)
    inp, tr = str(tmp_path / "turns"), str(tmp_path / "truth")
    tdf.write.parquet(inp)
    truth.write.parquet(tr)
    ck = str(tmp_path / "ckpt")
    assert main(["pipeline", "--input", inp, "--checkpoint-dir", ck,
                 "--run-id", "e1", "--max-distance", "2",
                 "--variant", "transposition"]) == 0
    capsys.readouterr()
    assert main(["evaluate",
                 "--pred", os.path.join(ck, "e1", "turn_entities"),
                 "--truth", tr]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_mentions"] == 300
    assert m["f1_milli"] >= 990, m


def test_cli_evaluate_partial_coverage_penalized(spark, tmp_path, capsys):
    """ADVICE r3 (medium): a prediction file covering only part of the
    truth must NOT score perfect F1 — uncovered truth mentions are recall
    misses (full-outer join + singleton fill), not silently dropped."""
    import pyspark.sql.functions as F
    from liblevenshtein_rust_spark.cli import main

    # truth: 4 convs x 2 turns, each conv one entity (4 true pairs)
    truth = spark.createDataFrame(
        [(f"c{i}", t, f"e{i}") for i in range(4) for t in (0, 1)],
        "conv_id string, turn_idx int, entity_id string")
    # prediction covers ONLY conv c0 (perfectly); 3 true pairs uncovered
    pred = truth.where(F.col("conv_id") == "c0")
    tr, pr = str(tmp_path / "truth"), str(tmp_path / "pred")
    truth.write.parquet(tr)
    pred.write.parquet(pr)
    assert main(["evaluate", "--pred", pr, "--truth", tr]) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_mentions"] == 8          # all truth rows kept
    assert m["true_pairs"] == 4
    assert m["tp"] == 1                  # only c0's pair predicted
    assert m["rec_milli"] == 250
    assert m["f1_milli"] < 990, m


def test_cli_convert_roundtrip(spark, tmp_path, capsys):
    from liblevenshtein_rust_spark.cli import main

    src = tmp_path / "dict.txt"
    src.write_text("alpha\nbeta\ngamma\n")
    pq = str(tmp_path / "dict.parquet")
    assert main(["convert", "--input", str(src), "--output", pq]) == 0
    assert json.loads(capsys.readouterr().out)["terms"] == 3
    back = str(tmp_path / "back.txt")
    assert main(["convert", "--input", pq, "--output", back,
                 "--out-format", "text"]) == 0
    capsys.readouterr()
    got = set()
    for f in os.listdir(back):
        if f.startswith("part-"):
            got |= set((tmp_path / "back.txt" / f).read_text().split())
    assert got == {"alpha", "beta", "gamma"}


def test_cli_convert_compressed(spark, tmp_path, capsys):
    """--compression maps the reference's gzip serialization wrapper to
    writer codecs; compressed outputs must round-trip transparently."""
    import pytest
    from liblevenshtein_rust_spark.cli import main

    src = tmp_path / "dict.txt"
    src.write_text("alpha\nbeta\ngamma\n")
    gz = str(tmp_path / "gz.txt")
    assert main(["convert", "--input", str(src), "--output", gz,
                 "--out-format", "text", "--compression", "gzip"]) == 0
    capsys.readouterr()
    assert any(f.endswith(".gz") for f in os.listdir(gz))
    pq = str(tmp_path / "z.parquet")
    assert main(["convert", "--input", gz, "--in-format", "text",
                 "--output", pq, "--compression", "zstd"]) == 0
    capsys.readouterr()
    back = str(tmp_path / "back.txt")
    assert main(["convert", "--input", pq, "--output", back,
                 "--out-format", "text"]) == 0
    capsys.readouterr()
    got = set()
    for f in os.listdir(back):
        if f.startswith("part-"):
            got |= set((tmp_path / "back.txt" / f).read_text().split())
    assert got == {"alpha", "beta", "gamma"}
    # zstd is parquet-only: text writers reject it loudly, not silently
    with pytest.raises(SystemExit):
        main(["convert", "--input", str(src), "--output",
              str(tmp_path / "bad.txt"), "--out-format", "text",
              "--compression", "zstd"])


def test_cli_insert_delete_clear_minimize(spark, tmp_path, capsys):
    from liblevenshtein_rust_spark.cli import main

    d = str(tmp_path / "d.parquet")
    spark.createDataFrame([("one",), ("two",)], ["term"]).write.parquet(d)
    assert main(["insert", "three", "two", "--dict", d]) == 0
    assert json.loads(capsys.readouterr().out)["terms"] == 3  # dedup
    assert main(["delete", "one", "missing", "--dict", d]) == 0
    assert json.loads(capsys.readouterr().out)["terms"] == 2
    assert main(["minimize", "--dict", d, "--target-files", "1"]) == 0
    assert json.loads(capsys.readouterr().out)["terms"] == 2
    parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(parts) == 1                       # compacted to one file
    assert main(["clear", "--dict", d]) == 0
    assert json.loads(capsys.readouterr().out)["terms"] == 0


def test_cli_repl(spark, tmp_path, capsys, monkeypatch):
    import io

    from liblevenshtein_rust_spark.cli import main

    d = tmp_path / "dict.txt"
    d.write_text("table\nstream\n")
    monkeypatch.setattr("sys.stdin", io.StringIO(
        "query tble 1\ninsert window\ninfo\ndelete stream\ninfo\nquit\n"))
    assert main(["repl", "--dict", str(d)]) == 0
    out = capsys.readouterr().out
    assert "table\t1" in out                     # query hit
    assert '{"terms": 3}' in out                 # after insert
    assert '{"terms": 2}' in out                 # after delete


def test_cli_query_exact_output(tmp_path, capsys):
    from liblevenshtein_rust_spark.cli import main
    wl = tmp_path / "words.txt"
    wl.write_text("table\nable\ncable\nzzz\n")
    rc = main(["query", "--dict", str(wl), "--term", "tble",
               "--max-distance", "1"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert sorted(out) == ["able\t1", "table\t1"]


def test_cli_dedup_methods(spark, tmp_path, capsys):
    """`dedup` writes survivors + n_removed for every method; exact and
    jaccard agree on a corpus with byte-identical dups and one near-dup.
    Every method writes the same survivor rows with and without
    --checkpoint-dir."""
    from liblevenshtein_rust_spark.cli import main

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river"),
        (2, "the quick brown fox jumps over the lazy dog near the river"),
        (3, "quick brown fox jumps over the lazy dog near the river"),
        (4, "a completely different document about spark shuffle tuning"),
    ]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(inp)

    def dedup(method, *extra):
        """Run `dedup` without and with --checkpoint-dir; returns the
        first run's summary and survivor rows once both runs agree."""
        out = str(tmp_path / f"surv_{method}")
        rc = main(["dedup", "--input", inp, "--output", out,
                   "--method", method, *extra])
        assert rc == 0
        info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        surv = {r.doc_id: r.n_removed
                for r in spark.read.parquet(out).collect()}
        rc = main(["dedup", "--input", inp, "--output", out + "_ck",
                   "--method", method, *extra,
                   "--checkpoint-dir", str(tmp_path / "ck"),
                   "--run-id", method])
        assert rc == 0
        capsys.readouterr()
        assert sorted(map(tuple, spark.read.parquet(out + "_ck").collect())) \
            == sorted(map(tuple, spark.read.parquet(out).collect())), method
        return info, surv

    info, surv = dedup("exact")
    assert info["docs"] == 4 and info["removed"] == 1
    assert surv == {1: 1, 3: 0, 4: 0}

    info, surv = dedup("jaccard", "--threshold-milli", "800")
    # doc 3 is a near-dup of 1/2 at J >= 0.8: one cluster {1,2,3}
    assert info["survivors"] == 2
    assert surv == {1: 2, 4: 0}

    for method, extra in (("minhash", ["--threshold-milli", "800"]),
                          ("simhash", ["--max-hamming", "6"])):
        info, _ = dedup(method, *extra)
        # byte-identical docs 1/2 are near-dups under ANY method
        assert info["survivors"] <= 3 and 1 <= info["removed"] <= 2


def test_cli_dedup_checkpointed_resume(spark, tmp_path, capsys):
    """--checkpoint-dir routes through the durable pair/survivor stages;
    a rerun with the same run-id resumes both."""
    from liblevenshtein_rust_spark.cli import main

    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "a very different text about nothing in particular at all")]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)
    out = str(tmp_path / "surv")
    ck = str(tmp_path / "ck")
    argv = ["dedup", "--input", inp, "--output", out, "--method", "jaccard",
            "--threshold-milli", "900", "--checkpoint-dir", ck,
            "--run-id", "c1"]
    rc = main(argv)
    assert rc == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["survivors"] == 2 and info["removed"] == 1
    assert not info["stages"]["dedup_pairs"]["resumed"]
    rc = main(argv)
    assert rc == 0
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["stages"]["dedup_pairs"]["resumed"] \
        and info["stages"]["dedup_survivors"]["resumed"]


def test_cli_fs_link_clerical_and_em(spark, tmp_path, capsys):
    """fs-link writes (rec_id, entity_id) and self-evaluates against the
    labeled entity column; both weightings reach f1_milli=1000 on the
    synthetic linkage corpus."""
    import json as _json
    from liblevenshtein_rust_spark.cli import main
    from liblevenshtein_rust_spark.sources.corpus import (
        synthetic_linkage_records)

    inp = str(tmp_path / "recs")
    synthetic_linkage_records(spark, 300).write.parquet(inp)
    # third shape: multi-rule blocking union (block OR city) — the extra
    # cross-block same-city candidates all score below threshold, so the
    # result is unchanged and still perfect (rule unions add recall
    # headroom, never duplicate or corrupt scoring)
    for extra, wname in (([], "clerical"), (["--em"], "em"),
                         (["--block", "block", "--block", "city"],
                          "clerical")):
        out = str(tmp_path / f"clusters_{wname}")
        rc = main(["fs-link", "--input", inp, "--output", out] + extra)
        assert rc == 0
        info = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert info["weights"] == wname
        assert info["records"] == 600 and info["clusters"] == 300
        assert info["eval"]["f1_milli"] == 1000
        got = spark.read.parquet(out)
        assert got.columns == ["rec_id", "entity_id"]
        assert got.count() == 600


def test_cli_compact_index(spark, tmp_path, capsys):
    """compact-index rewrites a maintained substring-index parquet in
    place: same rows, fresh clustered layout (SuffixAutomaton::compact
    analog on the ops surface)."""
    from liblevenshtein_rust_spark.cli import main
    from liblevenshtein_rust_spark.operators.substring import (
        build_substring_index, incremental_substring_index)

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "a slow scan of the table")],
        ["doc_id", "text"])
    batch = spark.createDataFrame([(3, "fresh scan arrives")],
                                  ["doc_id", "text"])
    dels = spark.createDataFrame([(1,)], ["doc_id"])
    idx = incremental_substring_index(
        build_substring_index(docs, [3, 4]), seg_lens=[3, 4],
        upserts=batch, delete_ids=dels)
    p = str(tmp_path / "subidx.parquet")
    idx.write.parquet(p)
    before = sorted((r._did, r._p, r._len, r._bkey)
                    for r in spark.read.parquet(p).collect())
    assert main(["compact-index", "--index", p, "--partitions", "2"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["rows"] == len(before)
    assert out["partitions"] == 2
    after = sorted((r._did, r._p, r._len, r._bkey)
                   for r in spark.read.parquet(p).collect())
    assert after == before
