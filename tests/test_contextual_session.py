"""ContextualSession parity with the reference engine's session surface
(/root/reference/src/contextual/engine.rs doctests and
/root/reference/tests/contextual_stress_test.rs)."""

from __future__ import annotations

import os

import pytest

from liblevenshtein_rust_spark.operators.contextual_session import (
    ContextualSession,
)


@pytest.fixture()
def sess(spark):
    return ContextualSession(spark)


def test_context_lifecycle(sess):
    # engine.rs:275,314,352,415 doctests
    assert sess.create_root_context(0) == 0
    assert sess.create_child_context(1, 0) == 1
    assert sess.context_exists(0) and sess.context_exists(1)
    with pytest.raises(KeyError):
        sess.create_child_context(2, 99)  # parent not found
    with pytest.raises(KeyError):
        sess.create_root_context(0)  # duplicate id
    assert sess.remove_context(1)
    assert not sess.remove_context(1)  # already removed
    assert not sess.context_exists(1)


def test_visible_contexts_order(sess):
    # engine.rs:393 doctest: [self, parent, ..., root]
    g = sess.create_root_context(0)
    m = sess.create_child_context(1, g)
    f = sess.create_child_context(2, m)
    assert sess.get_visible_contexts(f) == [2, 1, 0]
    assert sess.get_visible_contexts(g) == [0]
    assert sess.get_visible_contexts(42) == []


def test_subtree_removal(sess):
    # contextual_stress_test.rs:243 (scaled down): removing a child
    # removes every descendant but leaves siblings intact
    root = sess.create_root_context(0)
    for i in range(1, 4):
        sess.create_child_context(i, root)
        for j in range(1, 6):
            sess.create_child_context(i * 1000 + j, i)
    assert sess.remove_context(1)
    assert not sess.context_exists(1)
    for j in range(1, 6):
        assert not sess.context_exists(1000 + j)
    assert sess.context_exists(2)
    assert sess.context_exists(2001)


def test_draft_editing(sess):
    ctx = sess.create_root_context(0)
    assert sess.get_draft(ctx) == ""          # engine.rs:443: Some("")
    assert not sess.has_draft(ctx)            # empty => no draft (:471)
    sess.insert_str(ctx, "hell")
    sess.insert_char(ctx, "o")
    assert sess.get_draft(ctx) == "hello"
    assert sess.has_draft(ctx)
    assert sess.delete_char(ctx) == "o"       # backspace returns the char
    assert sess.get_draft(ctx) == "hell"
    sess.clear_draft(ctx)
    assert sess.get_draft(ctx) == ""
    assert sess.delete_char(ctx) is None      # empty buffer
    with pytest.raises(ValueError):
        sess.insert_char(ctx, "ab")
    with pytest.raises(KeyError):
        sess.insert_str(99, "x")
    assert sess.get_draft(99) is None         # missing context => None


def test_checkpoint_undo(sess):
    # engine.rs:646/:697 doctests exactly
    ctx = sess.create_root_context(0)
    sess.checkpoint(ctx)                       # empty checkpoint
    sess.insert_str(ctx, "hello")
    sess.checkpoint(ctx)                       # "hello" checkpoint
    sess.insert_str(ctx, " world")
    assert sess.get_draft(ctx) == "hello world"
    assert sess.checkpoint_count(ctx) == 2
    sess.undo(ctx)                             # restore to "hello", pop
    assert sess.get_draft(ctx) == "hello"
    assert sess.checkpoint_count(ctx) == 1
    sess.undo(ctx)                             # restore to "", pop
    assert sess.get_draft(ctx) == ""
    with pytest.raises(ValueError):
        sess.undo(ctx)                         # empty stack errors
    sess.checkpoint(ctx)
    sess.checkpoint(ctx)
    sess.clear_checkpoints(ctx)
    assert sess.checkpoint_count(ctx) == 0


def test_long_edit_session(sess):
    # contextual_stress_test.rs:197 shape (scaled): interleaved
    # insert/checkpoint/delete/undo never corrupts the buffer
    ctx = sess.create_root_context(0)
    for i in range(2000):
        k = i % 4
        if k == 0:
            sess.insert_char(ctx, "a")
        elif k == 1:
            sess.checkpoint(ctx)
        elif k == 2:
            sess.delete_char(ctx)
        else:
            try:
                sess.undo(ctx)
            except ValueError:
                pass
    sess.clear_draft(ctx)
    sess.clear_checkpoints(ctx)
    sess.insert_str(ctx, "still_works")
    assert sess.get_draft(ctx) == "still_works"


def test_finalize_and_discard(sess):
    ctx = sess.create_root_context(0)
    with pytest.raises(ValueError):
        sess.finalize(ctx)                     # empty draft errors
    sess.insert_str(ctx, "hello")
    sess.checkpoint(ctx)
    assert sess.finalize(ctx) == "hello"       # engine.rs:830 doctest
    assert not sess.has_draft(ctx)             # draft cleared
    assert sess.checkpoint_count(ctx) == 0     # checkpoints cleared
    assert sess.has_term("hello")
    assert not sess.has_term("nope")
    sess.insert_str(ctx, "mistake")
    sess.discard(ctx)                          # engine.rs:947 doctest
    assert not sess.has_draft(ctx)
    assert not sess.has_term("mistake")
    with pytest.raises(ValueError):
        sess.finalize_direct(ctx, "")


def test_term_contexts_dedup(sess):
    a = sess.create_root_context(0)
    b = sess.create_child_context(1, a)
    sess.finalize_direct(a, "shared")
    sess.finalize_direct(b, "shared")
    sess.finalize_direct(a, "shared")          # re-finalize: no-op
    assert sess.term_contexts("shared") == [0, 1]
    assert sess.term_contexts("absent") == []
    assert sess.terms_df().count() == 2        # deduplicated rows


def test_complete_visibility_and_order(sess):
    # global(0) <- module(1) <- func(2); sibling other(3)
    g = sess.create_root_context(0)
    m = sess.create_child_context(1, g)
    f = sess.create_child_context(2, m)
    o = sess.create_child_context(3, g)
    sess.finalize_direct(g, "hello")
    sess.finalize_direct(m, "help")
    sess.finalize_direct(o, "hell")            # invisible from f
    got = sess.complete_list(f, "help", 2)
    terms = [t for t, _, _ in got]
    assert "hell" not in terms                 # sibling scope pruned
    assert set(terms) == {"hello", "help"}
    # ordered by (distance, finalized-first, term): help d0 < hello d2
    assert got[0] == ("help", 0, False)
    # from the sibling scope, "hell" IS visible and "help" is not
    got_o = {t for t, _, _ in sess.complete_list(o, "help", 2)}
    assert got_o == {"hell", "hello"}


def test_complete_draft_wins_dedup(sess):
    # a draft identical to a finalized term dedups with draft winning
    # (engine.rs:1073-1082) but sorts after finalized terms at the same
    # distance (completion.rs:164-169)
    g = sess.create_root_context(0)
    sess.finalize_direct(g, "hello")
    sess.finalize_direct(g, "helio")
    sess.insert_str(g, "hello")                # draft == finalized term
    got = sess.complete_list(g, "hello", 1)
    hello = [r for r in got if r[0] == "hello"]
    assert hello == [("hello", 0, True)]       # one row, draft wins
    # ordering: distance asc, finalized before draft within a distance
    assert got[0] == ("helio", 1, False) or got[0][1] == 0
    assert [r[0] for r in got if r[1] == 0] == ["hello"]


def test_complete_toggles(sess):
    g = sess.create_root_context(0)
    sess.finalize_direct(g, "alpha")
    sess.insert_str(g, "alphq")
    drafts_only = sess.complete_list(g, "alpha", 1, include_finalized=False)
    assert drafts_only == [("alphq", 1, True)]     # complete_drafts
    final_only = sess.complete_list(g, "alpha", 1, include_drafts=False)
    assert final_only == [("alpha", 0, False)]     # complete_finalized


def test_flush_and_resume(sess, spark, tmp_path):
    g = sess.create_root_context(0)
    sess.finalize_direct(g, "persisted")
    path = os.path.join(str(tmp_path), "terms")
    sess.flush(path)
    assert sess.has_term("persisted")
    # a new session resumes from the state table
    resumed = ContextualSession(spark, base_terms=spark.read.parquet(path))
    resumed.create_root_context(0)
    assert resumed.has_term("persisted")
    assert resumed.term_contexts("persisted") == [0]
    assert resumed.complete_list(0, "persisted", 0) == [
        ("persisted", 0, False)]


def test_complete_never_runs_visibility_closure(sess, monkeypatch):
    """complete() reads the querying scope's visible set off the
    driver-held tree: the Spark doubling join of visible_contexts (a
    count plus an eager checkpoint per round, then a cycle probe) never
    runs, before or after a tree mutation."""
    import liblevenshtein_rust_spark.operators.contextual as ctx
    import liblevenshtein_rust_spark.operators.contextual_session as cs

    def forbidden(*a, **kw):
        raise AssertionError("complete() ran visible_contexts")

    for mod in (ctx, cs):
        monkeypatch.setattr(mod, "visible_contexts", forbidden, raising=False)
    g = sess.create_root_context(0)
    c = sess.create_child_context(1, g)
    sess.finalize_direct(g, "alpha")
    sess.finalize_direct(c, "alpine")
    for q in ["alpha", "alphq", "alpine"]:
        sess.complete(c, q, 1).collect()
    assert sess.complete_list(c, "alpine", 0) == [("alpine", 0, False)]
    sess.create_child_context(2, c)
    sess.finalize_direct(2, "alto")
    assert sess.complete_list(2, "alto", 0) == [("alto", 0, False)]
    assert sess.complete_list(g, "alpine", 0) == []
    sess.remove_context(2)
    assert sess.complete_list(c, "alto", 0) == []
