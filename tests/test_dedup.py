"""Dedup operators: driver-visible correctness evidence.

- simhash: EXACT completeness vs brute-force signature hamming (the
  pigeonhole band derivation guarantees recall 1.0 within max_hamming).
- minhash: precision 1.0 (verification is exact shingle-Jaccard) and
  recall vs the brute-force shingle-Jaccard truth set.

Both run under BOTH hash modes: the xxhash64 production default and the
"arith" SQL-replayable hash the driver's DuckDB oracle regenerates
bit-for-bit (round 4 — the queries themselves are oracled now; these
tests additionally pin the brute-force properties per hash mode).
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_pairs,
    simhash_signatures,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def _shingle_sets(docs, k=3):
    out = {}
    for r in docs.select("doc_id", F.lower(F.trim(F.regexp_replace(
            "text", r"\s+", " "))).alias("t")).collect():
        ws = r.t.split(" ")
        n = max(len(ws) - k + 1, 1)
        out[r.doc_id] = {" ".join(ws[i:i + k]) for i in range(n)}
    return out


@pytest.mark.parametrize("hash_mode", ["xxhash64", "arith"])
def test_simhash_complete_within_max_hamming(spark, docs, hash_mode):
    """Every pair within max_hamming of signature hamming distance must be
    returned — banded blocking with bands = max_hamming + 1 is lossless by
    pigeonhole, and verification is an exact popcount."""
    max_h = 3
    sigs = {r.doc_id: r.sig
            for r in simhash_signatures(docs, hash=hash_mode).collect()}
    ids = sorted(sigs)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= max_h:
                truth.add((a, b))
    got = {(r.id_a, r.id_b)
           for r in simhash_pairs(docs, max_hamming=max_h,
                                  hash=hash_mode).collect()}
    assert got == truth
    assert len(truth) > 0, "fixture produced no near-dup pairs — test is vacuous"


def test_simhash_narrow_bands_warns(spark, docs):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        simhash_pairs(docs, max_hamming=3, n_bands=2)
        assert any("pigeonhole" in str(x.message) for x in w)


@pytest.mark.parametrize("hash_mode", ["xxhash64", "arith"])
def test_minhash_precision_and_recall_vs_exact_jaccard(spark, docs, hash_mode):
    """Returned pairs must all satisfy the exact shingle-Jaccard threshold
    (precision 1.0 — the verify stage recomputes exact intersections), and
    banded-LSH recall vs the brute-force truth set must be high (expected
    collision prob at s=0.8 with 32 hashes / 8 bands is ~0.985)."""
    thr = 0.8
    sets = _shingle_sets(docs)
    ids = sorted(sets)
    truth = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            # mirror the operator's integer comparison: common*1000 >= thr*1000*union
            if union and inter * 1000 >= int(thr * 1000) * union:
                truth.add((a, b))
    got = {(r.id_a, r.id_b)
           for r in minhash_lsh_pairs(docs, jaccard_threshold=thr,
                                      hash=hash_mode).collect()}
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    assert len(truth) > 0, "fixture produced no near-dup pairs — test is vacuous"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, (recall, len(truth))


def test_exact_dedup_groups(spark, docs):
    groups = exact_dedup(docs).collect()
    n_docs = docs.count()
    assert sum(r.n_docs for r in groups) == n_docs
    by_fp = {}
    for r in docs.select("doc_id", F.md5(F.encode(F.lower(F.trim(
            F.regexp_replace("text", r"\s+", " "))), "UTF-8")).alias("fp")).collect():
        by_fp.setdefault(r.fp, []).append(r.doc_id)
    for r in groups:
        assert r.rep_id == min(by_fp[r.fp])
        assert r.n_docs == len(by_fp[r.fp])


def test_near_dup_dedup_keeps_one_per_cluster(spark):
    from liblevenshtein_rust_spark.operators.dedup import near_dup_dedup

    docs = spark.createDataFrame(
        [(i, f"payload_{i}") for i in range(1, 9)], "doc_id long, body string")
    # clusters: {1,2,3} (transitively via 1-2, 2-3), {4,5}; 6,7,8 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    got = {(r["doc_id"], r["body"], r["n_removed"])
           for r in near_dup_dedup(docs, pairs).collect()}
    assert got == {
        (1, "payload_1", 2),   # canonical of {1,2,3}
        (4, "payload_4", 1),   # canonical of {4,5}
        (6, "payload_6", 0), (7, "payload_7", 0), (8, "payload_8", 0),
    }


def test_near_dup_dedup_no_pairs_keeps_everything(spark):
    from liblevenshtein_rust_spark.operators.dedup import near_dup_dedup

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, t string")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = near_dup_dedup(docs, pairs)
    assert got.count() == 2
    assert got.where(F.col("n_removed") != 0).count() == 0


def test_jaccard_persist_levels_identical(spark, docs):
    """persist_level only changes WHERE cached token blocks live
    (heap vs spark.local.dir); the pair set must be identical, and
    unpersist_inputs must release the cache either way."""
    from liblevenshtein_rust_spark.operators.dedup import (
        token_jaccard_pairs, unpersist_inputs)
    base = {(r.id_a, r.id_b, r.n_common, r.n_union)
            for r in token_jaccard_pairs(docs, min_ratio_milli=700).collect()}
    for level in ("MEMORY_AND_DISK", "DISK_ONLY"):
        out = token_jaccard_pairs(docs, min_ratio_milli=700, persist=True,
                                  persist_level=level)
        got = {(r.id_a, r.id_b, r.n_common, r.n_union) for r in out.collect()}
        assert got == base, level
        cached = out._lls_persisted_inputs[0]
        assert cached.storageLevel.useDisk
        assert cached.storageLevel.useMemory == (level == "MEMORY_AND_DISK")
        unpersist_inputs(out)


def test_jaccard_hash_tokens_parity(spark, docs):
    """hash_tokens=True (the production 100-TB path: 8-byte hashed
    tokens in every shuffle/cache) must produce the identical pair set,
    counts included — collisions are the only divergence mode and are
    probabilistically absent at test vocabulary sizes."""
    from liblevenshtein_rust_spark.operators.dedup import (
        token_jaccard_pairs, unpersist_inputs)
    base = {(r.id_a, r.id_b, r.n_common, r.n_union)
            for r in token_jaccard_pairs(docs, min_ratio_milli=700).collect()}
    out = token_jaccard_pairs(docs, min_ratio_milli=700, persist=True,
                              hash_tokens=True)
    got = {(r.id_a, r.id_b, r.n_common, r.n_union) for r in out.collect()}
    unpersist_inputs(out)
    assert got == base


def test_jaccard_threshold_zero_emits_only_overlapping_pairs(spark):
    """At min_ratio_milli=0 every pair with a shared word passes the
    ratio test; a pair sharing no word must still never be emitted."""
    from liblevenshtein_rust_spark.operators.dedup import token_jaccard_pairs
    texts = {1: "alpha beta gamma", 2: "beta delta", 3: "epsilon zeta",
             4: "zeta", 5: "eta theta", 6: "alpha"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {tuple(r) for r in token_jaccard_pairs(
        docs, min_ratio_milli=0).collect()}
    words = {i: set(t.split()) for i, t in texts.items()}
    want = {(a, b, len(words[a] & words[b]), len(words[a] | words[b]))
            for a in words for b in words
            if a < b and words[a] & words[b]}
    assert got == want


def _jaccard_parity_rows():
    """Seeded near-duplicate docs plus the edge rows: NULL text, empty
    text, extra whitespace, a NULL id, a NULL group, a one-word doc and
    a duplicate id whose rows differ in words and group."""
    import random
    rng = random.Random(20260417)
    vocab = [f"w{i}" for i in range(40)]
    rows, next_id = [], 100
    for _ in range(40):
        words = rng.sample(vocab, rng.randint(3, 12))
        lang = rng.choice(["en", "de"])
        rows.append((next_id, " ".join(words), lang))
        next_id += 1
        for _ in range(rng.randint(0, 2)):
            near = list(words)
            edit = rng.randrange(3)
            if edit == 0:
                near[rng.randrange(len(near))] = rng.choice(vocab)
            elif edit == 1:
                near.append(rng.choice(vocab))
            rng.shuffle(near)
            rows.append((next_id, " ".join(near),
                         lang if rng.random() < 0.8 else "de"))
            next_id += 1
    rows += [
        (1, "a b c d", "en"), (1, "a b c e", "fr"), (2, "a b c d", "en"),
        (3, None, "en"), (4, "", "en"), (5, "", "en"),
        (6, "  A   b  c d ", "en"), (None, "a b c d", "en"),
        (7, "a b c d", None), (8, "solo", "en"), (9, "solo", "en"),
    ]
    return rows


def _jaccard_bruteforce(rows, group_col, min_ratio_milli):
    """One document per non-NULL id: the union of its rows' distinct
    canonical words, in the smallest non-NULL group among its rows."""
    import re
    words, groups = {}, {}
    for doc_id, text, lang in rows:
        if doc_id is None:
            continue
        ws = words.setdefault(doc_id, set())
        if text is not None:
            ws |= set(re.sub(r"\s+", " ", text.lower().strip(" ")).split(" "))
        if lang is not None:
            groups[doc_id] = min(lang, groups.get(doc_id, lang))
    out = set()
    for a in words:
        for b in words:
            if a >= b:
                continue
            if group_col and (groups.get(a) is None
                              or groups.get(a) != groups.get(b)):
                continue
            common = len(words[a] & words[b])
            union = len(words[a] | words[b])
            if common * 1000 >= max(min_ratio_milli * union, 1):
                out.add((a, b, common, union))
    return out


@pytest.mark.parametrize("min_ratio_milli", [0, 500, 900, 1000])
@pytest.mark.parametrize("group_col", [None, "lang"])
@pytest.mark.parametrize("hash_tokens", [False, True])
def test_jaccard_matches_bruteforce(spark, hash_tokens, group_col,
                                    min_ratio_milli):
    """token_jaccard_pairs equals a brute-force all-pairs Jaccard over
    the same documents, edge rows and duplicate id included."""
    from liblevenshtein_rust_spark.operators.dedup import token_jaccard_pairs
    rows = _jaccard_parity_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {tuple(r) for r in token_jaccard_pairs(
        docs, group_col=group_col, min_ratio_milli=min_ratio_milli,
        hash_tokens=hash_tokens).collect()}
    want = _jaccard_bruteforce(rows, group_col, min_ratio_milli)
    assert got == want
    assert len(want) > 5
