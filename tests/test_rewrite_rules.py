"""§4.1 rewrite rules added with the guarantee lattice:
NGramsToLengthFilter / RedundantNGrams (the ``AND(A, []{m,n})``
family) and CCNot (token-complement neighbours in sequences).

Reference: doc/technical/query rewriting.md:30-64 —
``AND(A,B,[]{m,n}) → LENFILTER(AND(A,B))`` and
``!A B → NOTCONTAINING(EXPAND(B,left,1), A)``."""

from __future__ import annotations

import re

import pytest

from blacklab_spark.plans import query as Q
from blacklab_spark.plans.executor import find
from blacklab_spark.plans.parser import parse
from blacklab_spark.plans.rewrite import rewrite


@pytest.fixture(scope="module")
def idx(tiny_engine):
    return tiny_engine.index


def rows_of(df):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in
                  df.select("doc_id", "start", "end").collect())


def toks_of(o):
    return o.tokens


# ---------------- NGramsToLengthFilter ----------------

def test_and_anytoken_becomes_lenfilter_shape():
    assert rewrite(parse('("a" "b" "c") & []{2,2}')) == Q.LenFilter(
        Q.Seq(Q.Term("a"), Q.Term("b"), Q.Term("c")), 2, 2)
    # unbounded any-token: min-only filter
    got = rewrite(parse('("a" "b"+) & []{3,}'))
    assert got == Q.LenFilter(
        Q.Seq(Q.Term("a"), Q.Rep(Q.Term("b"), 1, None)), 3, None)


def test_and_anytoken_redundant_drops():
    """Width bounds that already subsume the clause's: filter is free
    (RedundantNGrams)."""
    assert rewrite(parse('"a" "b" & []{2,3}')) == \
        Q.Seq(Q.Term("a"), Q.Term("b"))
    assert rewrite(parse('"a" & []{1,2}')) == Q.Term("a")
    assert rewrite(parse('("a" | "b") & []{1,1}')) == \
        Q.Or(Q.Term("a"), Q.Term("b"))


def test_and_anytoken_must_not_drop_binding_bounds(idx):
    """The round-2 behavior dropped ``[]{2,2}`` from a width-3 AND —
    wrong answers. The length filter must now bind: a fixed width-3
    phrase AND []{2,2} is empty, and a variable-width clause keeps
    only in-bounds hits."""
    assert find(idx, '("the" "a" "the") & []{2,2}').count() == 0
    got = rows_of(find(idx, '"the"{1,3} & []{2,3}'))
    all_reps = rows_of(find(idx, '"the"{1,3}'))
    assert got == [h for h in all_reps if 2 <= h[2] - h[1] <= 3]
    assert got != all_reps  # the filter really removed something


def test_and_not_clauses_do_not_shrink_width_bounds(idx):
    """Review finding: a negated clause in a same-span AND executes
    as an exact-span anti-join — it must NOT contribute its width-1
    bound, or a binding []{m,n} filter gets dropped as 'redundant'."""
    from blacklab_spark.plans.guarantees import guarantees
    g = guarantees(rewrite(parse('("a" "b") & [word!="x"]')))
    assert (g.len_min, g.len_max) == (2, 2)
    # the width-1 filter must BIND (kept as a LenFilter), and the
    # result is empty: a width-2 phrase can never have width 1
    got = rewrite(parse('("a" "b") & [word!="x"] & []{1,1}'))
    assert isinstance(got, Q.LenFilter) and (got.min_len,
                                             got.max_len) == (1, 1)
    assert find(idx, '("the" "a") & [word!="x"] & []{1,1}').count() == 0


def test_lenfilter_over_possibly_empty_clause_executes(idx,
                                                       tiny_oracle):
    """Review finding: LENFILTER(REP(a,0,inf),1,2) must go nonempty
    (width ≥ 1 excludes the empty match) or the executor rejects it."""
    got = rewrite(parse('("the"* & []{1,2})'))
    assert got == Q.LenFilter(Q.Rep(Q.Term("the"), 1, None), 1, 2)
    rows = rows_of(find(idx, '"a" ("the"* & []{1,2})'))
    # oracle: 'a' followed by 1-2 consecutive 'the'
    want = sorted(
        (d, p, p + 1 + k)
        for d, toks in toks_of(tiny_oracle).items()
        for p in range(len(toks))
        for k in (1, 2)
        if toks[p] == "a" and p + k < len(toks)
        and all(t == "the" for t in toks[p + 1:p + 1 + k]))
    assert rows == want


def test_or_mixed_capture_branches_union(idx):
    """Review finding: OR of a capture-carrying position-filter branch
    with a plain branch must union (empty map on the plain side)."""
    df = find(idx, '(x:("the") within <turn/>) | "visa"')
    assert "match_info" in df.columns
    n_the = find(idx, '"the"').count()
    n_visa = find(idx, '"visa"').count()
    assert df.count() == n_the + n_visa


def test_ccnot_capture_in_producer_survives_sequence(idx):
    """Review finding: the CCNot product hides its neighbour under
    PosFilter.producer; a following sequence join must still take the
    capture-preserving path."""
    df = find(idx, 'x:("good") [word!="the"] "the"')
    assert "match_info" in df.columns
    for r in df.collect():
        assert r["match_info"]["x"]["s"] == r["start"]
        assert r["match_info"]["x"]["e"] == r["start"] + 1


def test_lenfilter_executes_as_row_filter_not_join(idx):
    df = find(idx, '("the" "a" "the") & []{2,2}')
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one phrase plan + a filter; no n-gram generation, no extra join
    assert "posexplode" not in plan


# ---------------- review-pass fixes (session 20, 2nd pass) --------

def test_fold_constrained_desensitizes_literal(idx):
    """:: B.word = "GOOD" must fold the literal like the constraint
    path does — the pinned TERM leaf probes the @i dictionary."""
    got = rewrite(parse('B:[] :: B.word = "GOOD"'))
    assert got == Q.Capture(Q.Term("good"), "B")
    assert find(idx, 'x:[] :: x.word = "GOOD"').count() == \
        find(idx, '"good"').count() > 0


def test_capture_inside_repetition_raises(idx):
    with pytest.raises(ValueError, match="captures inside a repetition"):
        find(idx, '(x:("the")){2,2}').count()


def test_static_width_ignores_not_clauses():
    inner = Q.And(Q.Or(Q.Term("a"), Q.Seq(Q.Term("a"), Q.Term("b"))),
                  Q.Not(Q.Term("c")))
    assert Q.static_width(inner) is None     # NOT must not pin width 1


def test_andnot_variable_width_repetition_identity(idx, tiny_oracle):
    """A variable-width AND-NOT under repetition must not take the
    fixed-width chain path (the old static_width counted the Not's
    width-1 bound)."""
    cql = '(("the" | "the" "a") & [word!="zzzmissing"]){2,2}'
    rows = rows_of(find(idx, cql))
    inner = {}
    for d, toks in toks_of(tiny_oracle).items():
        spans = set()
        for p in range(len(toks)):
            if toks[p] == "the":
                spans.add((p, p + 1))
                if p + 1 < len(toks) and toks[p + 1] == "a":
                    spans.add((p, p + 2))
        inner[d] = spans
    want = sorted((d, s, e2)
                  for d, spans in inner.items()
                  for (s, e) in spans for (s2, e2) in spans
                  if s2 == e)
    assert rows == want


def test_rep_zero_zero_vanishes(idx):
    """A{0,0} matches only the empty sequence: its non-empty variant
    is NoHits and the alternative collapses (no impossible Rep(1,0),
    no descending F.sequence, no IndexError for variable-width A)."""
    assert rewrite(parse('"a" "the"{0,0} "good"')) == \
        Q.Seq(Q.Term("a"), Q.Term("good"))
    a = rows_of(find(idx, '"a" "the"{0,0} "good"'))
    b = rows_of(find(idx, '"a" "good"'))
    assert a == b
    # variable-width clause (the pre-fix IndexError shape)
    c = rows_of(find(idx, '"a" ("the" | "the" "a"){0,0} "good"'))
    assert c == b


def test_overlap_guarantee_admits_zero_width():
    from blacklab_spark.plans.guarantees import guarantees
    g = guarantees(Q.Overlap(Q.Tag("s", adjust="lead"),
                             Q.AnyToken(1, 3)))
    assert g.len_min == 0
    g2 = guarantees(Q.Overlap(Q.AnyToken(1, 2), Q.AnyToken(1, 3)))
    assert g2.len_min == 1


def test_simplest_matcher_keeps_layer_and_folds():
    assert rewrite(Q.Regex("noun", layer="pos")) == \
        Q.Term("noun", layer="pos")
    assert rewrite(Q.Regex("Thé")) == Q.Term("the")
    assert rewrite(Q.Regex("Foo", layer="word_ci")) == \
        Q.Term("foo", layer="word_ci")


def test_fi1_all_annot_leaves_raises(idx):
    with pytest.raises(ValueError, match="word-layer leaf"):
        find(idx, '_FI1([pos="func"] [pos="noun"])').count()


def test_fold_constrained_sees_nested_rebinding():
    """A label rebound inside a repetition must not fold (it does not
    bind once per match)."""
    got = rewrite(parse('A:[] (A:"x"){2,2} :: A.word = "the"'))
    assert isinstance(got, Q.Constrained)


# ---------------- CCRepetition ----------------

def test_ccrepetition_shapes():
    assert rewrite(parse('"the" "the"')) == Q.Rep(Q.Term("the"), 2, 2)
    assert rewrite(parse('"the" "the" "the"')) == \
        Q.Rep(Q.Term("the"), 3, 3)
    # count intervals sum exactly (Minkowski of integer intervals)
    assert rewrite(parse('"the"{2,3} "the"')) == \
        Q.Rep(Q.Term("the"), 3, 4)
    assert rewrite(parse('"the" "the"+')) == \
        Q.Rep(Q.Term("the"), 2, None)
    # a zero-min neighbour merges too, making the result non-empty —
    # no EmptyClauseAlts alternative needed
    assert rewrite(parse('"the" "the"* "a"')) == \
        Q.Seq(Q.Rep(Q.Term("the"), 1, None), Q.Term("a"))
    # captures never merge (their spans are their own)
    got = rewrite(parse('x:("the") "the"'))
    assert isinstance(got, Q.Seq)


def test_ccrepetition_result_identity(idx, tiny_oracle):
    rows = rows_of(find(idx, '"the" "the"'))
    want = sorted((d, p, p + 2)
                  for d, toks in toks_of(tiny_oracle).items()
                  for p in range(len(toks) - 1)
                  if toks[p] == "the" and toks[p + 1] == "the")
    assert rows == want


# ---------------- CCNot ----------------

def test_ccnot_shapes():
    assert rewrite(parse('[word!="the"] "cat"')) == Q.PosFilter(
        Q.Expand(Q.Term("cat"), "left", 1, 1), Q.Term("the"),
        "containing_at_start", invert=True)
    assert rewrite(parse('"cat" [word!="the"]')) == Q.PosFilter(
        Q.Expand(Q.Term("cat"), "right", 1, 1), Q.Term("the"),
        "containing_at_end", invert=True)
    # chains: both complements collapse into nested position filters
    got = rewrite(parse('[word!="a"] [word!="b"] "c"'))
    assert isinstance(got, Q.PosFilter) and got.invert
    assert isinstance(got.producer, Q.Expand)
    # a variable-width but provably-unique neighbour fires too (the
    # by-1 expansion is injective); the group flattens, so the product
    # lands inside the surrounding sequence
    fired = rewrite(parse('[word!="a"] ("b" []{1,2} "c")'))
    assert isinstance(fired, Q.Seq)
    assert isinstance(fired.clauses[0], Q.PosFilter) \
        and fired.clauses[0].invert
    # a possibly-duplicating neighbour (statically-unprovable Or)
    # must NOT fire the rewrite
    kept = rewrite(parse('[word!="a"] ("b" | "c")'))
    assert isinstance(kept, Q.Seq) and isinstance(kept.clauses[0], Q.Not)


def test_ccnot_result_identity(idx, tiny_oracle):
    """CCNot path ≡ brute complement-join semantics, checked against
    the raw token lists."""
    for cql, check in [
        ('[word!="the"] "good"',
         lambda toks, p: p + 1 < len(toks) and toks[p] != "the"
         and toks[p + 1] == "good"),
        ('"good" [word!="the"]',
         lambda toks, p: p + 1 < len(toks) and toks[p] == "good"
         and toks[p + 1] != "the"),
    ]:
        got = rows_of(find(idx, cql))
        want = sorted(
            (d, p, p + 2)
            for d, toks in toks_of(tiny_oracle).items()
            for p in range(len(toks))
            if check(toks, p))
        assert got == want, cql


def test_ccnot_plan_avoids_token_complement(idx, monkeypatch):
    """The rewritten plan never generates the corpus-wide token
    complement: the neighbour's postings expand by one token and
    anti-join the complemented term's hits. On the tiny corpus 'the'
    is HOT (df·4 ≥ n_docs), so the filter side probes the token
    arrays of ONLY the producer's docs — the doc_meta scan must carry
    the pushed doc_id IN-list, and no any-token generation appears.
    The neighbour's postings decode on the driver (a local frame)
    below the hits bound, and in a postings scan at a bound of 0."""
    from blacklab_spark.operators import hits
    for leaf_scan in ("LocalTableScan", "postings"):
        df = find(idx, '[word!="the"] "visa"')
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert leaf_scan in plan
        if "doc_meta" in plan:
            # the hot-filter probe path: an array_contains-guarded token
            # probe (doc-id IN-pushed when the selectivity guard allows;
            # on the tiny corpus the guard correctly skips the IN-list)
            assert "array_contains" in plan
        # the any-token complement would show as a sequence(0,
        # n_tokens…) generator — absent
        assert "sequence(0" not in plan
        monkeypatch.setattr(hits, "DRIVER_HITS_MAX_POSITIONS", 0)


def test_ccnot_hot_filter_pruned_probe_identity(idx, tiny_oracle):
    """Hot-filter pruned probe ≡ postings-decode filter ≡ oracle for
    a rare producer (the shape the pruning exists for)."""
    rows = rows_of(find(idx, '"visa" [word!="the"]'))
    want = sorted(
        (d, p, p + 2)
        for d, toks in toks_of(tiny_oracle).items()
        for p in range(len(toks) - 1)
        if toks[p] == "visa" and toks[p + 1] != "the")
    assert rows == want


def test_ccnot_preserves_captures(idx, tiny_oracle):
    """A captured neighbour keeps its match_info through the
    expansion + position join."""
    df = find(idx, 'x:("good") [word!="the"]')
    assert "match_info" in df.columns
    rows = df.collect()
    assert rows, "expected hits on the tiny corpus"
    for r in rows:
        mi = r["match_info"]
        assert mi["x"]["s"] == r["start"] and mi["x"]["e"] == r["end"] - 1


def test_posfilter_carries_match_info(idx):
    """Captures survive within/containing (reference: match info flows
    through SpanQueryPositionFilter)."""
    df = find(idx, '(x:("the" "a")) containing "the"')
    assert "match_info" in df.columns
    r = df.collect()
    assert r and all(row["match_info"]["x"]["s"] == row["start"]
                     for row in r)
