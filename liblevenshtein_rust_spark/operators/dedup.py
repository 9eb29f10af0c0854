"""Document deduplication operators for training-data pipelines.

Exact (hash), MinHash+LSH, SimHash, and token-set Jaccard near-dup —
the scale path for "which documents are the same/nearly the same", the
document-level sibling of the turn-level fuzzy join. Every path is
JVM-side column expressions, with no Python: even the MinHash and SimHash
signatures are Spark xxhash64 columns folded by one hash aggregate.
MinHash and SimHash run their banded self-join through the fuzzy join's
core (``fuzzy_join._blocked_join``) and supply only their band-key table,
their payload (shingle array or signature) and their verify.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from liblevenshtein_rust_spark.functions.canonicalize import canon_text
from liblevenshtein_rust_spark.operators.fuzzy_join import _blocked_join
from liblevenshtein_rust_spark.operators.skew import spread_input


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Group identical canonical texts: (fp, n_docs, rep_id).

    (r6: deliberately NOT spread_input-wrapped — this is one pass of
    cheap codegen hashing straight into a map-side partial aggregate;
    the extra exchange measured as a net loss, 0.22 s -> ~0.5 s.)"""
    return (
        docs.select(F.col(id_col), F.md5(F.encode(canon_text(text_col), "UTF-8")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("rep_id"))
    )


def _shingles(text_col: str, k: int) -> F.Column:
    """Word k-shingles of canonical text (distinct)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(split({text_col}, ' ')) - {k} + 1, 1)), "
        f"i -> array_join(slice(split({text_col}, ' '), i, {k}), ' ')))"
    )


# --- pluggable signature hash -------------------------------------------
#
# Production default is Spark's xxhash64 (JVM codegen, high quality). The
# "arith" alternative is a polynomial rolling hash mod a 30-bit prime whose
# arithmetic is expressible IDENTICALLY in DuckDB SQL (list_reduce over
# ascii codes), so the driver's oracle can regenerate MinHash/SimHash
# signatures bit-for-bit and cross-validate the LSH pipelines end-to-end —
# the reference's own evidence standard is cross-validation between
# independent implementations
# (/root/reference/tests/proptest_automaton_distance_cross_validation.rs).
# Weaker mixing than xxhash64, but min-wise/sign-hash estimates only need
# pairwise-independent-ish permutations, which (a*h+b) mod p provides.

P_ARITH = 1_000_000_007  # 30-bit prime: products a*h stay < 2^63 (ANSI-safe)


def _arith_str_hash_sql(col: str) -> str:
    """Spark SQL expr: polynomial rolling hash of ``col`` mod P_ARITH.
    DuckDB twin: list_reduce(list_prepend(0, list_transform(range(1,
    length(s)+1), i -> ascii(substr(s, i, 1)))), (a,b) -> (a*31+b) % p)."""
    return (f"CASE WHEN length({col}) = 0 THEN 0L ELSE "
            f"aggregate(sequence(1, length({col})), 0L, "
            f"(acc, i) -> (acc * 31 + ascii(substring({col}, i, 1))) "
            f"% {P_ARITH}) END")


def perm_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) coefficients for the j-th permutation
    g_j(h) = (a_j * h + b_j) mod P_ARITH — shared by the Spark builders
    and the SQL oracle generators so both engines derive identical
    signatures."""
    return [((2654435761 * (j + 1)) % P_ARITH or 1,
             (40503 * (j + 1) * (j + 1) + 12345) % P_ARITH)
            for j in range(n)]


def minhash_signatures(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 32,
                       shingle_k: int = 3,
                       hash: str = "xxhash64") -> DataFrame:
    """MinHash signature per doc: sig[h] = min over shingles of the h-th
    hash of the shingle (xxhash64(shingle, seed=h), or for
    ``hash="arith"`` the SQL-replayable (a_h * H(s) + b_h) mod p).

    Physical shape matters here: explode shingles, hash each shingle once
    per seed as plain (codegen) column expressions, then ONE hash-aggregate
    with num_hashes min() columns. Higher-order lambda expressions
    (transform/aggregate) are interpreted row-at-a-time in Spark and
    projection collapse would re-inline the shingle computation into every
    lambda — the explode+groupBy form keeps the whole path in whole-stage
    codegen and map-side partial aggregation. (The arith base hash is one
    such lambda per shingle — acceptable for its purpose, oracle replay;
    production stays on xxhash64.)"""
    # r6: per-seed hash columns and the signature aggregate are built as
    # SQL strings — the per-Column py4j construction cost dominated the
    # driver side of this operator (see simhash_signatures note)
    base = spread_input(docs.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_shingles(text_col, shingle_k)).alias("_s"))
    if hash == "xxhash64":
        sh = base.selectExpr(
            f"`{id_col}`",
            *[f"xxhash64(_s, {h}) AS _h{h}" for h in range(num_hashes)])
    elif hash == "arith":
        coeffs = perm_coeffs(num_hashes)
        sh = base.select(
            F.col(id_col), F.expr(_arith_str_hash_sql("_s")).alias("_hb")
        ).selectExpr(
            f"`{id_col}`",
            *[f"({a}L * _hb + {b}L) % {P_ARITH} AS _h{h}"
              for h, (a, b) in enumerate(coeffs)])
    else:
        raise ValueError(f"unknown hash {hash!r}")
    return sh.groupBy(id_col).agg(
        F.expr("array(" + ", ".join(
            f"min(_h{h})" for h in range(num_hashes)) + ")")
        .alias("signature"))


def minhash_lsh_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 32,
                      bands: int = 8, shingle_k: int = 3,
                      jaccard_threshold: float = 0.7,
                      hash: str = "xxhash64") -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified with exact
    token-shingle Jaccard. Returns (id_a, id_b, n_common, n_union)
    with n_common/n_union >= threshold; integer counts keep downstream
    comparisons float-free.

    bands * rows_per_band == num_hashes; a pair collides if any band of
    the signature matches exactly (hashes of band slices are the block
    keys — same blocking pattern as the fuzzy join, different keys).

    ``hash="arith"`` switches signatures to the SQL-replayable arithmetic
    hash (and band keys to plain strings), so an independent engine can
    regenerate the exact candidate set — the driver-oracle path.
    """
    rows_per = num_hashes // bands
    sigs = minhash_signatures(docs, id_col=id_col, text_col=text_col,
                              num_hashes=num_hashes, shingle_k=shingle_k,
                              hash=hash)
    if hash == "xxhash64":
        band_key_sql = (
            f"transform(sequence(0, {bands - 1}), b -> "
            f"xxhash64(b, array_join(slice(signature, b * {rows_per} + 1, {rows_per}), ',')))")
    else:
        band_key_sql = (
            f"transform(sequence(0, {bands - 1}), b -> "
            f"concat(b, ':', array_join(slice(signature, b * {rows_per} + 1, {rows_per}), ',')))")
    keys = sigs.selectExpr(f"`{id_col}` AS _bid",
                           f"explode({band_key_sql}) AS _bkey")
    # verify side spread too (r6): this subtree is broadcast-built, and
    # without the spread the interpreted shingle lambda ran on ONE task
    # (profiled 2.4 s serial — the whole query's critical path)
    toks = spread_input(docs.select(id_col, text_col)).select(
        F.col(id_col), _shingles(text_col, shingle_k).alias("_t"))

    def verify(with_t: DataFrame) -> DataFrame:
        # integer comparison: common/union >= threshold
        return with_t.selectExpr(
            "*", "size(array_intersect(_ta, _tb)) AS n_common",
            "size(array_union(_ta, _tb)) AS n_union",
        ).where(f"n_common * 1000 >= {int(jaccard_threshold * 1000)} * n_union")

    return _blocked_join((keys, keys), toks, None, (id_col, "_t") * 2, verify,
                         [("_ida", "id_a"), ("_idb", "id_b"),
                          ("n_common", "n_common"), ("n_union", "n_union")])


def token_jaccard_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text", group_col: str | None = None,
                        min_ratio_milli: int = 600,
                        persist: bool = False,
                        persist_level: str = "MEMORY_AND_DISK",
                        hash_tokens: bool = False) -> DataFrame:
    """Exact token-set Jaccard join (no LSH — the exactness baseline):
    pairs (within ``group_col`` if given) whose distinct-word Jaccard
    >= min_ratio_milli/1000. Integer-only output (id_a, id_b, n_common,
    n_union).

    Physical shape: ONE per-document table ``(_id, _g, _arr)`` feeds
    every consumer. It is built by one hash aggregation on the id
    straight from the input rows (NULL ids and NULL groups, which can
    never pair, are dropped); that exchange is the only one before the
    token fan-out, so the input needs no separate spread. Its exploded form
    ``explode(_arr)``, carrying ``_sz = size(_arr)``, feeds the
    word-frequency count and the PPJoin prefix rank; the prefix tokens
    equi-join on (group, word) into candidate pairs, and the exact
    verify joins each candidate back to the per-document table and
    counts the overlap with one ``array_intersect`` per pair
    (|union| = |A| + |B| - |common|). Only pairs sharing a prefix word
    are ever materialized, so disjoint documents cost nothing.

    A document is one id: ``_arr`` is the union of the distinct words of
    every input row with that id, and ``_g`` the smallest ``group_col``
    value among those rows. Where ids are unique this is exactly the
    per-row word set.

    ``persist`` caches the per-document table and the small prefix-token
    table: each is read by several consumers (the prefix table by both
    sides of the candidate self-join), and Spark plans an identical
    subtree once per consumer unless the exchanges above it are reused,
    so the cache guarantees the scan, canonicalize, aggregation and rank
    run once. The prefix table is bounded at ~(1-t) of the token table
    (1/10th at t=0.9). Caches live until ``unpersist_inputs(result)``
    (or ``spark.catalog.clearCache()``) — callers that invoke this
    repeatedly in one JVM (benchmark loops) must release them after
    materializing, or cached copies accumulate for the JVM's lifetime.

    ``persist_level`` names any ``pyspark.StorageLevel``; the
    MEMORY_AND_DISK default keeps hot blocks on-heap, while DISK_ONLY
    off-heaps the cache onto ``spark.local.dir`` (executor NVMe on a
    cluster, tmpfs in the bench) — the right level when the document
    table is large relative to executor heap and the job is GC-sensitive.

    ``hash_tokens`` replaces each word with its xxhash64 before the
    aggregation: every downstream shuffle / cache / join carries a
    fixed 8-byte long instead of a variable-length string (32% faster at
    the 1.28M-doc scale leg, and the smaller memory surface stabilizes
    GC-sensitive legs). Counts — and therefore Jaccard ratios — are
    exact unless two distinct words in one comparison group collide in
    64 bits (P < |vocab|^2 / 2^65; ~1e-10 at a 100M-word vocabulary), so
    this is the production default for 100-TB dedup; leave False where
    bit-exactness against a word-level oracle is required."""
    words = F.array_distinct(F.split(canon_text(text_col), " "))
    if hash_tokens:
        words = F.transform(words, lambda w: F.xxhash64(w))
    doc_tab = (
        docs.where(F.col(id_col).isNotNull())
        .groupBy(F.col(id_col).alias("_id"))
        .agg((F.min(group_col) if group_col else F.lit(0)).alias("_g"),
             F.array_distinct(F.flatten(F.collect_list(words))).alias("_arr"))
        # a NULL group never pairs; filtering on _g also keeps it in every
        # consumer's plan, so all of them read one shared per-document
        # exchange instead of a second one pruned of the group column
        .where(F.col("_g").isNotNull())
    )
    if persist:
        doc_tab = doc_tab.persist(getattr(StorageLevel, persist_level))
    # _sz is projected before the explode, so the array is not carried
    # into every exploded row
    toks = doc_tab.select("_id", "_g", "_arr", F.size("_arr").alias("_sz")) \
        .select("_id", "_g", "_sz", F.explode("_arr").alias("_w"))

    # PPJoin prefix + positional + size filtering (Xiao/Wang/Lin/Yu,
    # WWW'08 — public algorithm): if jaccard(A,B) >= t, the sets share a
    # word among each set's floor((1-t)|A|)+1 RAREST words (global rarity
    # order); the size-ratio filter |A| >= t|B| and the positional upper
    # bound 1 + min(|A|-pA*, |B|-pB*) >= ceil(t/(1+t)(|A|+|B|)) — where
    # (pA*, pB*) are the first shared prefix token's positions, obtained
    # as per-pair MIN positions since the rarity order is consistent
    # across documents — prune candidates before the exact verify (3.4x
    # fewer at sf0.1, identical output).
    mr = int(min_ratio_milli)
    wfreq = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_wf"))
    ranked = toks.join(wfreq, "_w").withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("_wf").asc(), F.col("_w").asc())),
    )
    prefix = ranked.where(
        F.col("_rn") <= F.floor((1000 - mr) * F.col("_sz") / 1000) + 1
    ).select("_id", "_g", "_w", "_rn", "_sz")
    if persist:
        prefix = prefix.persist(getattr(StorageLevel, persist_level))
    pa = prefix.select(F.col("_id").alias("id_a"), "_g", "_w",
                       F.col("_rn").alias("_ra"), F.col("_sz").alias("_sa"))
    pb = prefix.select(F.col("_id").alias("id_b"), "_g", "_w",
                       F.col("_rn").alias("_rb"), F.col("_sz").alias("_sb"))
    cand = (
        pa.join(pb, ["_g", "_w"])
        .where((F.col("id_a") < F.col("id_b"))
               & (F.col("_sa") * 1000 >= mr * F.col("_sb"))
               & (F.col("_sb") * 1000 >= mr * F.col("_sa")))
        .groupBy("id_a", "id_b")
        .agg(F.min("_ra").alias("_pa"), F.min("_rb").alias("_pb"),
             F.first("_sa").alias("_fsa"), F.first("_sb").alias("_fsb"))
        # overlap <= 1 + min(|A|-pA*, |B|-pB*) must reach the required
        # overlap ceil(t/(1+t)(|A|+|B|)); integer form avoids the ceil
        .where((1 + F.least(F.col("_fsa") - F.col("_pa"),
                            F.col("_fsb") - F.col("_pb"))) * (1000 + mr)
               >= mr * (F.col("_fsa") + F.col("_fsb")))
        .select("id_a", "id_b")
    )
    # exact verification: one row per candidate pair meets each side's
    # token array, and one native array_intersect counts the overlap —
    # never re-exploding tokens per pair (|cand| x avg_tokens rows)
    aa = doc_tab.select(F.col("_id").alias("id_a"), F.col("_arr").alias("_ta"))
    bb = doc_tab.select(F.col("_id").alias("id_b"), F.col("_arr").alias("_tb"))
    out = (
        cand.join(aa, "id_a").join(bb, "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("_ta", "_tb")).alias("n_common"),
            (F.size("_ta") + F.size("_tb")).alias("_stot"),
        )
        .select(
            "id_a", "id_b",
            F.col("n_common").cast("int").alias("n_common"),
            (F.col("_stot") - F.col("n_common")).cast("int").alias("n_union"),
        )
        # the floor of 1 keeps a disjoint pair out at threshold 0 without
        # a second n_common conjunct, which the optimizer would inline as
        # one more array_intersect per pair
        .where(F.col("n_common") * 1000 >= F.greatest(
            min_ratio_milli * F.col("n_union"), F.lit(1)))
    )
    if persist:
        out._lls_persisted_inputs = [doc_tab, prefix]
    return out


def unpersist_inputs(df: DataFrame) -> None:
    """Release the cached frames a ``persist=True`` operator attached to
    its result: token_jaccard_pairs' per-document token table and prefix
    table, and the inputs of every fuzzy_join.py edit-distance join.
    Safe on any DataFrame; call after the result is materialized."""
    for cached in getattr(df, "_lls_persisted_inputs", []) or []:
        cached.unpersist()


def simhash_signatures(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash: str = "xxhash64") -> DataFrame:
    """64-bit SimHash signature per doc: (id_col, sig).

    Bit b of the signature = sign of the per-bit vote:
    vote[b] = sum over words of (bit b of hash(word) ? +1 : -1).
    Explode words, hash once, derive 64 vote columns as plain integer
    expressions, one hash-aggregate — all whole-stage codegen (see
    minhash_signatures for why lambdas are avoided).

    ``hash="arith"``: the 64 bits come from THREE independent arithmetic
    permutations of the base hash (each mod a 30-bit prime contributes 30
    usable bits; bit b reads bit b%30 of permutation b//30) — weaker
    mixing than xxhash64 but bit-replayable in DuckDB SQL for the
    driver's oracle."""
    # r6: every repetitive expression below is built as ONE SQL string —
    # a Python-side loop of Column operations costs one py4j round trip
    # per operation (~2-4 ms each; the previous ~1000-call construction
    # was a profiled ~2 s of DRIVER time per invocation, before Spark ran
    # anything). Same resolved expressions, same values.
    words = spread_input(docs.select(id_col, text_col)).select(
        F.col(id_col), F.explode(F.split(canon_text(text_col), " ")).alias("_w"))
    if hash == "xxhash64":
        hashed = words.select(F.col(id_col), F.xxhash64("_w").alias("_h0"))

        def bit(b: int) -> str:
            return f"(shiftright(_h0, {b}) & 1)"
    elif hash == "arith":
        coeffs = perm_coeffs(3)
        hashed = words.select(
            F.col(id_col), F.expr(_arith_str_hash_sql("_w")).alias("_hb")
        ).selectExpr(
            f"`{id_col}`",
            *[f"({a}L * _hb + {b}L) % {P_ARITH} AS _h{t}"
              for t, (a, b) in enumerate(coeffs)])

        def bit(b: int) -> str:
            return f"(shiftright(_h{b // 30}, {b % 30}) & 1)"
    else:
        raise ValueError(f"unknown hash {hash!r}")
    # one aggregate: votes land in ONE array column (array of 64 per-bit
    # sums of +1/-1 contributions, written as 2*sum(bit) - count — the
    # same integers). The sig packs sign bits with a balanced add tree.
    votes = hashed.groupBy(id_col).agg(
        F.expr("array(" + ", ".join(
            f"2 * sum({bit(b)}) - count(1)" for b in range(64)) + ")")
        .alias("_va"))
    terms = [f"(CASE WHEN _va[{b}] > 0 THEN "
             + (f"{1 << b}L" if b < 63 else "(-9223372036854775807L - 1L)")
             + " ELSE 0L END)"
             for b in range(64)]
    while len(terms) > 1:
        terms = [f"({terms[i]} + {terms[i + 1]})" if i + 1 < len(terms)
                 else terms[i] for i in range(0, len(terms), 2)]
    return votes.selectExpr(f"`{id_col}`", f"{terms[0]} AS sig")


def simhash_pairs(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  n_bands: int | None = None,
                  hash: str = "xxhash64") -> DataFrame:
    """SimHash near-dup: 64-bit signature from word hashes; candidate
    blocking on equal-width signature sub-bands; verified with exact
    popcount of xor. Output (id_a, id_b, hamming).

    The band count is DERIVED from ``max_hamming`` (bands = max_hamming+1),
    so the pigeonhole guarantee — any pair within max_hamming shares at
    least one untouched band — always holds. Passing an explicit
    ``n_bands`` <= max_hamming opts into recall loss and emits a warning
    (fewer bands = fewer/larger blocks = cheaper join, lossy)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    elif n_bands <= max_hamming:
        import warnings
        warnings.warn(
            f"simhash_pairs: n_bands={n_bands} <= max_hamming={max_hamming} "
            "breaks the pigeonhole guarantee — pairs at hamming in "
            f"[{n_bands}, {max_hamming}] may be missed (recall < 1)",
            stacklevel=2)
    if not 1 <= n_bands <= 64:
        raise ValueError(f"n_bands must be in [1, 64], got {n_bands}")
    sigs = simhash_signatures(docs, id_col=id_col, text_col=text_col,
                              hash=hash)
    band_exprs = []
    for b in range(n_bands):
        lo = b * 64 // n_bands
        width = (b + 1) * 64 // n_bands - lo
        # shiftright() not `>>`: inside array(...) the parser reads `>` as
        # part of an array<...> type and errors
        piece = "sig" if width >= 64 else f"shiftright(sig, {lo}) & {(1 << width) - 1}"
        band_exprs.append(f"concat('{b}:', cast({piece} as string))")
    keys = sigs.selectExpr(f"`{id_col}` AS _bid",
                           f"explode(array({', '.join(band_exprs)})) AS _bkey")

    def verify(with_sig: DataFrame) -> DataFrame:
        return with_sig.selectExpr("*", "bit_count(_ta ^ _tb) AS hamming") \
            .where(f"hamming <= {int(max_hamming)}")

    return _blocked_join((keys, keys), sigs, None, (id_col, "sig") * 2, verify,
                         [("_ida", "id_a"), ("_idb", "id_b"),
                          ("hamming", "hamming")])


def near_dup_dedup(docs: DataFrame, pairs: DataFrame, *,
                   id_col: str = "doc_id", src: str = "id_a",
                   dst: str = "id_b") -> DataFrame:
    """End-to-end near-duplicate REMOVAL — the training-data-pipeline end
    game the pair joins feed: connected components over near-dup pairs
    (large-star/small-star), keep exactly one canonical document per
    cluster (the minimum id — deterministic under any partitioning),
    drop the rest.

    Returns the surviving rows of ``docs`` (all original columns) plus
    ``n_removed`` = cluster size - 1. Docs appearing in no pair survive
    with n_removed = 0. Scale shape: the only new work over the pair join
    is the component labeling (small-graph driver fast path / iterated
    star rounds — see cluster.component_survivor_counts) and two hash
    joins on the id column."""
    from liblevenshtein_rust_spark.operators.cluster import (
        component_survivor_counts)

    survivors = component_survivor_counts(
        pairs, docs.select(id_col), src=src, dst=dst, node_col=id_col)
    return docs.join(survivors, id_col)
