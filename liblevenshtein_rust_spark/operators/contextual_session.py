"""Contextual completion SESSION — the stateful half of the reference's
contextual engine (/root/reference/src/contextual/engine.rs).

`operators/contextual.py` maps the *query* side (visibility closure,
value-set filtering, ``complete()`` fusion) to pure DataFrame operators.
This module adds the *session* surface the reference layers on top:

- context lifecycle: ``create_root_context`` (engine.rs:275),
  ``create_child_context`` (:314), ``remove_context`` removes the whole
  subtree plus its drafts/checkpoints (:352), ``context_exists`` (:415),
  ``get_visible_contexts`` ordered self -> root (:393).
- per-context draft buffers: ``get_draft``/``has_draft`` (:443,:471),
  ``insert_char``/``insert_str``/``delete_char``/``clear_draft``
  (:502-:602).
- checkpoint/undo discipline: ``checkpoint`` pushes a buffer snapshot
  (:646), ``undo`` restores to the top snapshot then pops it (:697),
  ``checkpoint_count`` (:756), ``clear_checkpoints`` (:786).
- finalization: ``finalize`` moves the draft into the dictionary under
  its context and clears draft + checkpoints (:830), ``finalize_direct``
  (:898), ``discard`` (:947), ``has_term`` (:984), ``term_contexts``
  insertion-ordered (:1015).
- ``complete(context, query, n)`` = drafts + finalized fused with
  draft-wins dedup and (distance, finalized-first, term) ordering
  (engine.rs:1058; Completion::cmp, completion.rs:164-169).

Scale split: the tree / drafts / checkpoint stacks are editing-session
state — bounded by the number of live lexical scopes, so they live on
the driver (the reference holds them in Mutex'd HashMaps for the same
reason: they are small and hot). The FINALIZED DICTIONARY is the part
that grows without bound, so it lives Spark-side: an optional base
DataFrame (e.g. a parquet/Iceberg state table with columns
(term, context_id)) plus a small pending buffer of driver-accumulated
finalizations that is flushed into a DataFrame lazily. ``complete()``
therefore scales to a dictionary of any size — the heavy lifting is the
same blocked fuzzy join every other operator uses.

Errors mirror ContextError variants (contextual/mod.rs) as KeyError /
ValueError with the context id in the message.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from liblevenshtein_rust_spark.functions.distance import STANDARD
from liblevenshtein_rust_spark.operators.contextual import scoped_complete

_TERMS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("context_id", LongType(), False),
])

COMPLETION_SCHEMA = StructType([
    StructField("q_id", LongType(), False),
    StructField("q_text", StringType(), True),
    StructField("term", StringType(), True),
    StructField("distance", IntegerType(), True),
    StructField("is_draft", BooleanType(), True),
    StructField("contexts", ArrayType(LongType()), True),
])


class ContextualSession:
    """Driver-held scopes/drafts/checkpoints + Spark-held finalized terms.

    ``base_terms`` (optional) is a DataFrame of already-finalized
    (term, context_id) rows — e.g. a resumed state table; new
    finalizations accumulate in a driver buffer and union in lazily.
    """

    def __init__(self, spark: SparkSession, *,
                 base_terms: DataFrame | None = None):
        self.spark = spark
        self._parent: dict[int, int | None] = {}
        self._drafts: dict[int, str] = {}
        self._checkpoints: dict[int, list[str]] = {}
        self._pending: list[tuple[str, int]] = []
        self._base = base_terms

    # ---- context lifecycle (engine.rs:275-430) ----

    def create_root_context(self, cid: int) -> int:
        if cid in self._parent:
            raise KeyError(f"context {cid} already exists")
        self._parent[cid] = None
        self._drafts[cid] = ""
        self._checkpoints[cid] = []
        return cid

    def create_child_context(self, cid: int, parent_id: int) -> int:
        if parent_id not in self._parent:
            raise KeyError(f"parent context {parent_id} not found")
        if cid in self._parent:
            raise KeyError(f"context {cid} already exists")
        self._parent[cid] = parent_id
        self._drafts[cid] = ""
        self._checkpoints[cid] = []
        return cid

    def remove_context(self, cid: int) -> bool:
        """Remove ``cid`` and ALL descendants, dropping their drafts and
        checkpoints (engine.rs:352 cleans up by retaining only contexts
        still present in the tree). Finalized terms keep their context
        tag — matching the reference, whose dictionary is independent of
        tree membership; completions from removed contexts simply become
        invisible (no live scope can see them)."""
        if cid not in self._parent:
            return False
        doomed = {cid}
        changed = True
        while changed:  # small driver-side closure over live scopes
            changed = False
            for c, p in self._parent.items():
                if p in doomed and c not in doomed:
                    doomed.add(c)
                    changed = True
        for c in doomed:
            del self._parent[c]
            self._drafts.pop(c, None)
            self._checkpoints.pop(c, None)
        return True

    def context_exists(self, cid: int) -> bool:
        return cid in self._parent

    def get_visible_contexts(self, cid: int) -> list[int]:
        """Self, parent, ..., root (engine.rs:393 ordering)."""
        out: list[int] = []
        cur: int | None = cid if cid in self._parent else None
        while cur is not None:
            out.append(cur)
            cur = self._parent[cur]
        return out

    def _require(self, cid: int) -> None:
        if cid not in self._parent:
            raise KeyError(f"context {cid} not found")

    # ---- draft buffer (engine.rs:443-602) ----

    def get_draft(self, cid: int) -> str | None:
        return self._drafts.get(cid)

    def has_draft(self, cid: int) -> bool:
        return bool(self._drafts.get(cid))

    def insert_char(self, cid: int, ch: str) -> None:
        if len(ch) != 1:
            raise ValueError("insert_char takes exactly one character")
        self.insert_str(cid, ch)

    def insert_str(self, cid: int, s: str) -> None:
        self._require(cid)
        self._drafts[cid] = self._drafts.get(cid, "") + s

    def delete_char(self, cid: int) -> str | None:
        """Remove and return the last character (None on empty buffer),
        mirroring DraftBuffer::delete_char backspace semantics."""
        self._require(cid)
        buf = self._drafts.get(cid, "")
        if not buf:
            return None
        self._drafts[cid] = buf[:-1]
        return buf[-1]

    def clear_draft(self, cid: int) -> None:
        self._require(cid)
        self._drafts[cid] = ""

    # ---- checkpoint / undo (engine.rs:646-826) ----

    def checkpoint(self, cid: int) -> None:
        self._require(cid)
        self._checkpoints[cid].append(self._drafts.get(cid, ""))

    def undo(self, cid: int) -> None:
        """Restore the buffer to the most recent checkpoint, then pop it
        (engine.rs:697: peek -> restore -> pop)."""
        self._require(cid)
        stack = self._checkpoints[cid]
        if not stack:
            raise ValueError(f"context {cid} has no checkpoints")
        self._drafts[cid] = stack.pop()

    def checkpoint_count(self, cid: int) -> int:
        return len(self._checkpoints.get(cid, []))

    def clear_checkpoints(self, cid: int) -> None:
        self._require(cid)
        self._checkpoints[cid] = []

    # ---- finalization (engine.rs:830-1050) ----

    def finalize(self, cid: int) -> str:
        self._require(cid)
        term = self._drafts.get(cid, "")
        if not term:
            raise ValueError(f"context {cid} has an empty draft")
        self._drafts[cid] = ""
        self._checkpoints[cid] = []
        self._pending.append((term, cid))
        return term

    def finalize_direct(self, cid: int, term: str) -> None:
        self._require(cid)
        if not term:
            raise ValueError("empty term")
        self._pending.append((term, cid))

    def discard(self, cid: int) -> None:
        self.clear_draft(cid)
        self.clear_checkpoints(cid)

    # ---- dictionary views ----

    def terms_df(self) -> DataFrame:
        """Finalized dictionary as (term, context_id), deduplicated —
        re-finalizing a term in the same context is a no-op, matching
        `if !contexts.contains(&context)` at engine.rs:866."""
        pend = self.spark.createDataFrame(
            [(t, int(c)) for t, c in self._pending], _TERMS_SCHEMA)
        df = pend if self._base is None else \
            self._base.select("term", F.col("context_id").cast("long")
                              .alias("context_id")).unionByName(pend)
        return df.dropDuplicates(["term", "context_id"])

    def flush(self, path: str | None = None) -> None:
        """Fold the pending buffer into the base DataFrame (optionally via
        a parquet state dir, the durable DynamicDawg-snapshot analog)."""
        if path is not None:
            # materialize BEFORE overwriting: when _base was loaded from
            # this same path (every flush after the first), terms_df()'s
            # plan READS the files the write is about to replace — the
            # read-while-overwrite hazard the CLI insert/delete path
            # guards against the same way
            snap = self.terms_df().localCheckpoint(eager=True)
            snap.write.mode("overwrite").parquet(path)
            self._base = self.spark.read.parquet(path)
        else:
            self._base = self.terms_df().localCheckpoint(eager=True)
        self._pending = []

    def has_term(self, term: str) -> bool:
        if any(t == term for t, _ in self._pending):
            return True
        if self._base is None:
            return False
        return not self._base.where(F.col("term") == F.lit(term)).isEmpty()

    def term_contexts(self, term: str) -> list[int]:
        """Contexts where ``term`` is finalized, insertion-ordered within
        the pending buffer and sorted for the base (parquet carries no
        insertion order — documented deviation from engine.rs:1015)."""
        out: list[int] = []
        if self._base is not None:
            rows = (self._base.where(F.col("term") == F.lit(term))
                    .select("context_id").distinct().orderBy("context_id")
                    .collect())
            out.extend(int(r[0]) for r in rows)
        for t, c in self._pending:
            if t == term and c not in out:
                out.append(c)
        return out

    # ---- completion (engine.rs:1058-1219) ----

    def _drafts_df(self) -> DataFrame:
        schema = StructType([
            StructField("context_id", LongType(), False),
            StructField("draft", StringType(), True),
        ])
        return self.spark.createDataFrame(
            [(int(c), d) for c, d in self._drafts.items()], schema)

    def _visible_df(self, cid: int) -> DataFrame:
        """(context_id, visible_id) rows of scope ``cid``, read off the
        driver-held tree: a local relation, so no Spark job computes it."""
        return self.spark.createDataFrame(
            [(int(cid), int(v)) for v in self.get_visible_contexts(cid)],
            "context_id long, visible_id long")

    def complete(self, cid: int, query: str, n: int, *,
                 variant: str = STANDARD,
                 include_drafts: bool = True,
                 include_finalized: bool = True) -> DataFrame:
        """All visible completions of ``query`` from scope ``cid`` within
        distance ``n``, ordered (distance, finalized-before-draft, term)
        — Completion::cmp (completion.rs:164-169). ``include_*`` toggles
        reproduce complete_drafts (engine.rs:1117) / complete_finalized
        (:1174)."""
        self._require(cid)
        qdf = self.spark.createDataFrame(
            [(0, query, int(cid))],
            "q_id long, q_text string, context_id long")
        terms = self.terms_df()
        drafts = self._drafts_df()
        if not include_drafts:
            drafts = drafts.where(F.lit(False))
        if not include_finalized:
            terms = terms.where(F.lit(False))
        out = scoped_complete(qdf, terms, drafts, None, n=n,
                              variant=variant, vis=self._visible_df(cid))
        return out.orderBy("distance", "is_draft", "term")

    def complete_list(self, cid: int, query: str, n: int, **kw) -> list[tuple]:
        """Collected (term, distance, is_draft) triples — the
        Vec<Completion> shape the reference returns, for tests/REPL."""
        return [(r["term"], r["distance"], r["is_draft"])
                for r in self.complete(cid, query, n, **kw).collect()]
