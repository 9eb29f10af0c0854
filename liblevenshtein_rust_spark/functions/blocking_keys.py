"""Blocking-key generation — the distributed Levenshtein automaton.

The reference prunes dictionary traversal with automaton transitions
(/root/reference/src/transducer/transition.rs:176-244). The distributed
equivalent with the same recall guarantee is key-based blocking:

- **Deletion-neighborhood keys** (SymSpell / FastSS): two strings with
  d_L(a,b) <= n share at least one member of their <=n-deletion
  neighborhoods — these neighborhoods are exactly what the automaton's
  delete transitions Position(i+1, e+1) generate
  (/root/reference/src/transducer/transition.rs:213). Exact-complete for
  standard and Damerau distance at depth n, and for merge_and_split at
  depth 2n (one merge/split == <=2 standard edits).
- **PassJoin pigeonhole segment keys** (Li, Deng, Feng: PassJoin, VLDB'11 —
  public algorithm): partition a string into k+1 segments; any string
  within k standard edits contains one segment verbatim at a position
  shifted by at most k. Exact-complete for any string length; used for
  long turn texts where deletion neighborhoods are too wide.

Everything here is built from Spark SQL expressions (transform / sequence /
substring / flatten), so key generation runs inside whole-stage codegen —
zero Python. Keys are hashed to int64 with xxhash64 before the join: a hash
collision only adds a false candidate, which the DP verification stage
removes, so correctness is unaffected while shuffle width shrinks to 8
bytes/key regardless of text length.
"""

from __future__ import annotations

from liblevenshtein_rust_spark.functions.distance import (
    MERGE_AND_SPLIT,
    STANDARD,
    TRANSPOSITION,
)


def effective_depth(n: int, variant: str) -> int:
    """Blocking depth guaranteeing completeness for each distance variant.

    d_std <= 2*d for one transposition (2 subs), merge (sub+del) or split
    (sub+ins), so non-standard variants block at standard-distance 2n.
    For Damerau, depth n is sufficient for deletion neighborhoods (each
    swap is repaired by deleting one char on each side) — verified by the
    blocking-completeness property test; segment blocking for Damerau uses
    2n because one straddling swap can damage two adjacent segments.
    """
    if variant == STANDARD:
        return n
    if variant == TRANSPOSITION:
        return n  # deletion keys; segment path overrides to 2n
    if variant == MERGE_AND_SPLIT:
        return 2 * n
    raise ValueError(variant)


# ---------------------------------------------------------------------------
# deletion neighborhoods
# ---------------------------------------------------------------------------

def _del1_expr(x: str) -> str:
    """SQL expr: all single-char-deletion variants of string expr ``x``."""
    return (
        f"transform(sequence(1, greatest(length({x}), 1)), i -> "
        f"concat(substring({x}, 1, i-1), substring({x}, i+1, length({x}))))"
    )


def deletion_keys_sql(col: str, depth: int, prefix_len: int = 0) -> str:
    """SQL expr: array of all deletion variants of ``col`` at depths
    0..``depth``.

    ``prefix_len`` > 0 caps the keyed region to the first ``prefix_len``
    chars (SymSpell prefix trick — trades exactness for bounded fan-out on
    long strings; leave 0 for exact completeness on short strings, and use
    segment keys for long ones). Key pipelines are composed as SQL
    strings so operators pay ONE py4j round trip for the whole expression
    instead of one per Column op (r6)."""
    base = f"substring({col}, 1, {prefix_len})" if prefix_len > 0 else col
    levels = [f"array({base})"]
    for _ in range(depth):
        prev = levels[-1]
        levels.append(f"array_distinct(flatten(transform({prev}, x -> {_del1_expr('x')})))")
    if len(levels) == 1:
        return levels[0]
    return f"array_distinct(concat({', '.join(levels)}))"


# ---------------------------------------------------------------------------
# PassJoin pigeonhole segment / probe keys
# ---------------------------------------------------------------------------

def _seg_start(l: str, i: str, k: int) -> str:
    """0-based start of segment ``i`` in an even (k+1)-way split of length ``l``."""
    return f"({i} * ({l} div {k + 1}) + least({i}, {l} % {k + 1}))"


def _seg_len(l: str, i: str, k: int) -> str:
    return f"(({l} div {k + 1}) + if({i} < {l} % {k + 1}, 1, 0))"


def segment_keys_sql(col: str, k: int) -> str:
    """SQL expr, index-side keys: the k+1 segments of ``col``, tagged
    (length, idx).

    Empty segments (len(col) < k+1) are legal — an unedited empty segment
    trivially appears in any partner, so the pigeonhole argument still
    holds and short strings need no special casing.
    """
    l = f"length({col})"
    return (
        f"transform(sequence(0, {k}), i -> concat_ws('|', 'G', {l}, i, "
        f"substring({col}, {_seg_start(l, 'i', k)} + 1, {_seg_len(l, 'i', k)})))"
    )


def probe_keys_sql(col: str, k: int, len_tol: int | None = None) -> str:
    """SQL expr, probe-side keys: for every partner length l within
    ``len_tol`` and every segment index i, the substrings of ``col`` that
    could equal that segment, at positions shifted by at most k from its
    home position.

    Fan-out is bounded by (2*len_tol+1) * (k+1) * (2k+1) keys/row.
    """
    tol = k if len_tol is None else len_tol
    m = f"length({col})"
    start = _seg_start("l", "i", k)
    slen = _seg_len("l", "i", k)
    lo = f"greatest({start} - {k}, 0)"
    hi = f"least({start} + {k}, {m} - {slen})"
    return (
        "array_distinct(flatten(flatten("
        f"transform(sequence(greatest({m} - {tol}, 0), {m} + {tol}), l -> "
        f"  transform(sequence(0, {k}), i -> "
        f"    if({hi} < {lo}, cast(array() as array<string>), "
        f"       transform(sequence({lo}, {hi}), p -> "
        f"         concat_ws('|', 'G', l, i, substring({col}, p + 1, {slen})))))"
        "))))"
    )


def hash_keys_sql(keys_sql: str) -> str:
    """SQL expr: a key-array expression hashed to int64 (xxhash64) for
    the join."""
    return f"transform({keys_sql}, k -> xxhash64(k))"
