"""CQL-lite parser + rewriter + executor vs brute-force oracle."""

import re

import pytest

from blacklab_spark.plans import query as Q
from blacklab_spark.plans.executor import explain, find
from blacklab_spark.plans.parser import ParseError, parse
from blacklab_spark.plans.rewrite import rewrite


def hits_of(df):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in
                  df.select("doc_id", "start", "end").collect())


# ---------------- parser ----------------
def test_parse_shapes():
    assert parse('"visa"') == Q.Term("visa")
    assert parse("visa") == Q.Term("visa")
    assert parse('"very" "good"') == Q.Seq(Q.Term("very"), Q.Term("good"))
    assert parse('"very good"') == Q.Seq(Q.Term("very"), Q.Term("good"))
    assert parse("a | b") == Q.Or(Q.Term("a"), Q.Term("b"))
    assert parse("[] {2,3}") == Q.Rep(Q.AnyToken(1, 1), 2, 3)
    assert parse('[word="vi.a"]') == Q.Regex("vi.a")
    assert parse("the{2}") == Q.Rep(Q.Term("the"), 2, 2)
    assert parse("x:(visa)") == Q.Capture(Q.Term("visa"), "x")
    assert parse('"a" within <turn/>') == Q.PosFilter(
        Q.Term("a"), Q.Turn(), "within")
    assert parse("!the") == Q.Not(Q.Term("the"))


def test_parse_errors():
    for bad in ["", "(a", "a)", "|", "a{"]:
        with pytest.raises(ParseError):
            parse(bad)


# ---------------- rewriter ----------------
def test_rewrite_rules():
    # SimplestMatcher
    assert rewrite(Q.Regex("visa")) == Q.Term("visa")
    # TrivialRep, flatten
    assert rewrite(Q.Rep(Q.Term("a"), 1, 1)) == Q.Term("a")
    assert rewrite(Q.Seq(Q.Seq(Q.Term("a"), Q.Term("b")), Q.Term("c"))) == \
        Q.Seq(Q.Term("a"), Q.Term("b"), Q.Term("c"))
    # any-token elimination: "a" [] "b" → SEQ(EXPAND(a,right,1,1), b)
    r = rewrite(parse('"a" [] "b"'))
    assert r == Q.Seq(Q.Expand(Q.Term("a"), "right", 1, 1), Q.Term("b"))
    # any merge: [] [] → []{2,2} then expansion
    r2 = rewrite(parse('"a" [] []'))
    assert r2 == Q.Expand(Q.Term("a"), "right", 2, 2)
    # EmptyClauseAlts: "a" "b"? → OR(a, SEQ(a, b))
    r3 = rewrite(parse('"a" "b"?'))
    assert r3 == Q.Or(Q.Term("a"), Q.Seq(Q.Term("a"), Q.Term("b")))
    # within turn is structural → producer alone
    assert rewrite(parse('"a" within <turn/>')) == Q.Term("a")
    # !! elimination
    assert rewrite(Q.Not(Q.Not(Q.Term("x")))) == Q.Term("x")


def test_explain(idx, monkeypatch):
    s = explain('"a" [] "b"')
    assert "original" in s and "EXPAND" in s
    # with an index, each leaf and phrase line names its Σcf, the
    # driver bound and the side its postings decode runs on
    from blacklab_spark.operators import hits
    bound = hits.DRIVER_HITS_MAX_POSITIONS
    cf = {t: int(idx.lookup_terms([t])["cf"].sum())
          for t in ("visa", "application")}
    s = explain('"visa" [] "application"', idx)
    assert ("-> postings position-intersection, offsets [0, 2] "
            f"[Σcf={cf['visa'] + cf['application']}, "
            f"DRIVER_HITS_MAX_POSITIONS={bound}: driver decode]") in s
    assert (f'leaf "visa" -> postings block decode [Σcf={cf["visa"]}, '
            f"DRIVER_HITS_MAX_POSITIONS={bound}: driver decode]") in s
    monkeypatch.setattr(hits, "DRIVER_HITS_MAX_POSITIONS", 0)
    s = explain('"visa" [] "application"', idx)
    assert "driver decode" not in s and s.count("Spark decode") == 3


def test_explain_names_the_leaf_plan_exec_runs(idx):
    """explain() prints the plan _exec runs: a hot position-filter term
    probes the producer's docs instead of decoding its postings, and a
    merged OR's children get no lines of their own (they are not
    decoded one by one)."""
    the = idx.lookup_terms(["the"])
    assert int(the["df"].sum()) * 4 >= idx.n_docs    # hot by df
    s = explain('"visa" containing "the"', idx)
    assert ('leaf "the" -> forward-index probe of the producer\'s docs'
            in s)
    assert 'leaf "the" -> postings' not in s
    assert 'leaf "visa" -> postings block decode' in s
    s = explain('"visa" | "good"', idx)
    assert "merged postings decode (2 terms" in s and "leaf" not in s


# ---------------- executor vs oracle ----------------
@pytest.fixture(scope="module")
def idx(tiny_engine):
    return tiny_engine.index


def otoks(o):
    return o.tokens


def test_find_term(idx, tiny_oracle, hits_paths):
    expected = sorted((d, p, p + 1)
                      for d, ps in tiny_oracle.postings["visa"].items()
                      for p in ps)
    for _ in hits_paths:
        assert hits_of(find(idx, '"visa"')) == expected


def test_find_phrase(idx, tiny_oracle, hits_paths):
    from blacklab_spark.oracle import phrase_hits
    for _ in hits_paths:
        assert hits_of(find(idx, '"very good"')) == \
            phrase_hits(tiny_oracle, ["very", "good"])


def test_find_gap_pattern(idx, tiny_oracle, hits_paths):
    """"visa" [] "application" — visa, one token, application."""
    expected = []
    for d, toks in otoks(tiny_oracle).items():
        for p in range(len(toks) - 2):
            if toks[p] == "visa" and toks[p + 2] == "application":
                expected.append((d, p, p + 3))
    for _ in hits_paths:
        assert hits_of(find(idx, '"visa" [] "application"')) == \
            sorted(expected)


def test_find_optional(idx, tiny_oracle):
    """"very" "good"? — EmptyClauseAlts path."""
    got = hits_of(find(idx, '"very" "good"?'))
    expected = set()
    for d, toks in otoks(tiny_oracle).items():
        for p, t in enumerate(toks):
            if t == "very":
                expected.add((d, p, p + 1))
                if p + 1 < len(toks) and toks[p + 1] == "good":
                    expected.add((d, p, p + 2))
    assert got == sorted(expected)


def test_find_or_and_regex(idx, tiny_oracle, hits_paths):
    rx = re.compile(r"^(?:goo.)$")
    expected = sorted(
        [(d, p, p + 1) for d, ps in tiny_oracle.postings["visa"].items()
         for p in ps] +
        [(d, p, p + 1) for t, plist in tiny_oracle.postings.items()
         if rx.match(t) for d, ps in plist.items() for p in ps])
    for _ in hits_paths:
        assert hits_of(find(idx, '"visa" | [word="goo."]')) == expected


def test_find_repetition(idx, tiny_oracle):
    got = hits_of(find(idx, '"the"{2,2}'))
    expected = []
    for d, toks in otoks(tiny_oracle).items():
        for p in range(len(toks) - 1):
            if toks[p] == "the" and toks[p + 1] == "the":
                expected.append((d, p, p + 2))
    assert got == sorted(expected)


def test_find_containing(idx, tiny_oracle):
    """([]{3,3}) containing "visa" — 3-grams containing visa."""
    got = hits_of(find(idx, '([]{3,3}) containing "visa"'))
    expected = set()
    for d, toks in otoks(tiny_oracle).items():
        vs = {p for p, t in enumerate(toks) if t == "visa"}
        for s in range(len(toks) - 2):
            if any(s <= v < s + 3 for v in vs):
                expected.add((d, s, s + 3))
    assert got == sorted(expected)


def test_find_capture(idx, tiny_oracle):
    df = find(idx, 'x:("visa") "application"')
    rows = df.collect()
    for r in rows:
        mi = r["match_info"]
        assert mi["x"]["s"] == r["start"]
        assert mi["x"]["e"] == r["start"] + 1
    assert len(rows) > 0


def test_search_settings_caps(spark, tiny_index_dir):
    from blacklab_spark.engine import SearchEngine, SearchSettings
    from blacklab_spark.index import open_index
    idx = open_index(spark, tiny_index_dir)
    capped = SearchEngine(idx, SearchSettings(max_hits_to_process=5,
                                              max_hits_to_count=7))
    assert capped.find('"the"').count() == 5
    assert capped.count_hits('"the"') <= 7
    uncapped = SearchEngine(idx)
    assert uncapped.find('"the"').count() > 5


# ---------------- round-2 regressions (ADVICE r01) ----------------
def test_parse_precedence_adjacency_over_or():
    """'a b | c d' must parse as OR(SEQ(a,b), SEQ(c,d)) — adjacency
    binds tighter than |/& (reference cql.jj booleanQuery)."""
    assert parse("a b | c d") == Q.Or(Q.Seq(Q.Term("a"), Q.Term("b")),
                                      Q.Seq(Q.Term("c"), Q.Term("d")))
    assert parse("a b & c") == Q.And(Q.Seq(Q.Term("a"), Q.Term("b")),
                                     Q.Term("c"))


def test_parse_unbounded_quantifiers():
    assert parse("a*") == Q.Rep(Q.Term("a"), 0, None)
    assert parse("a+") == Q.Rep(Q.Term("a"), 1, None)
    assert parse("a{2,}") == Q.Rep(Q.Term("a"), 2, None)
    assert parse("a{,3}") == Q.Rep(Q.Term("a"), 0, 3)


def test_find_unbounded_repetition(idx, tiny_oracle):
    """"the"+ — fixpoint self-join; all maximal-and-sub runs."""
    got = hits_of(find(idx, '"the"+'))
    expected = set()
    for d, toks in otoks(tiny_oracle).items():
        for s, t in enumerate(toks):
            if t != "the":
                continue
            e = s
            while e < len(toks) and toks[e] == "the":
                e += 1
                expected.add((d, s, e))
    assert got == sorted(expected)


def test_bracket_bool_parse_shapes():
    assert parse('[word="a" | word="b"]') == Q.Or(Q.Term("a"), Q.Term("b"))
    assert parse('[word="th.*" & word!="the"]') == Q.And(
        Q.Regex("th.*"), Q.Not(Q.Term("the")))
    assert parse('[!word="the"]') == Q.Not(Q.Term("the"))
    assert parse('[(word="a" | word="b") & pos="noun"]') == Q.And(
        Q.Or(Q.Term("a"), Q.Term("b")), Q.Term("noun", "pos"))
    with pytest.raises(ParseError):
        parse('[word="a" &]')
    with pytest.raises(ParseError):
        parse('[word="a" ;; word="b"]')


def test_bracket_bool_and_neq(idx, tiny_oracle):
    """[word="th.*" & word!="the"] — same-span AND with a negated
    test (cql.jj attValuePair; TextPatternAndNot)."""
    got = hits_of(find(idx, '[word="th.*" & word!="the"]'))
    expected = sorted(
        (d, p, p + 1)
        for d, toks in otoks(tiny_oracle).items()
        for p, t in enumerate(toks)
        if re.fullmatch("th.*", t) and t != "the")
    assert got == expected


def test_bracket_bool_or(idx, tiny_oracle):
    assert hits_of(find(idx, '[word="the" | word="a"]')) == \
        hits_of(find(idx, '"the" | "a"'))


def test_bracket_bool_cross_layer(idx, tiny_oracle):
    """[word="th.*" & pos="func"] — AND across annotation layers."""
    got = hits_of(find(idx, '[word="th.*" & pos="func"]'))
    inter = hits_of(find(idx, '[word="th.*"]'))
    pos_hits = set(hits_of(find(idx, '[pos="func"]')))
    assert got == sorted(h for h in inter if h in pos_hits)
    assert got  # non-empty on the tiny corpus ("the" is func)


def test_group_repetition_bounded(idx, tiny_oracle):
    """("the" "a"){1,2} — Rep over a Seq group (cql.jj repetition
    applies to any repetitionQuery, not just leaves)."""
    got = hits_of(find(idx, '("the" "a"){1,2}'))
    expected = set()
    for d, toks in otoks(tiny_oracle).items():
        for s in range(len(toks) - 1):
            if toks[s] == "the" and toks[s + 1] == "a":
                expected.add((d, s, s + 2))
                if (s + 3 < len(toks) and toks[s + 2] == "the"
                        and toks[s + 3] == "a"):
                    expected.add((d, s, s + 4))
    assert got == sorted(expected)
    assert parse('("the" "a"){1,2}') == Q.Rep(
        Q.Seq(Q.Term("the"), Q.Term("a")), 1, 2)


def test_group_repetition_unbounded(idx, tiny_oracle):
    """("the" "a")+ — unbounded Rep over a group rides the same
    per-doc closure kernel as a leaf."""
    got = hits_of(find(idx, '("the" "a")+'))
    expected = set()
    for d, toks in otoks(tiny_oracle).items():
        for s in range(len(toks) - 1):
            if toks[s] == "the" and toks[s + 1] == "a":
                e = s
                while (e + 1 < len(toks) and toks[e] == "the"
                       and toks[e + 1] == "a"):
                    e += 2
                    expected.add((d, s, e))
    assert got == sorted(expected)


def test_group_or_repetition(idx, tiny_oracle):
    """("the" | "a"){2} — Rep over an OR group."""
    got = hits_of(find(idx, '("the" | "a"){2}'))
    expected = sorted(
        (d, s, s + 2)
        for d, toks in otoks(tiny_oracle).items()
        for s in range(len(toks) - 1)
        if toks[s] in ("the", "a") and toks[s + 1] in ("the", "a"))
    assert got == expected


# ---------------- fixed-gap phrases: one position intersection -------
def _slot_hits(oracle, slots):
    """Oracle hits of a sequence of ``slots``: a word, or None for any
    token; a hit spans every slot."""
    w = len(slots)
    return sorted((d, p, p + w) for d, toks in oracle.tokens.items()
                  for p in range(len(toks) - w + 1)
                  if all(s is None or toks[p + i] == s
                         for i, s in enumerate(slots)))


def _generic_fold(idx, q, monkeypatch):
    """Hits of ``q`` through the generic join fold, the plan a fixed-gap
    phrase took before the position intersection served it."""
    from blacklab_spark.plans import executor as E
    with monkeypatch.context() as m:
        m.setattr(E, "_seq_choice", lambda index, clauses: ("generic",))
        return hits_of(find(idx, q))


# (CQL with {0}.. for drawn words, slots with None for [])
_GAP_SHAPES = {"one": ('{0} [] {1}', (0, None, 1)),
               "two": ('{0} []{{2}} {1}', (0, None, None, 1)),
               "chain": ('{0} [] {1} [] {2}', (0, None, 1, None, 2))}


def _draw(oracle, slots, seed):
    """Words of a seeded window of the tiny corpus that fits ``slots``,
    so the pattern has at least one hit."""
    import random
    rng = random.Random(seed)
    docs = sorted(oracle.tokens)
    while True:
        toks = oracle.tokens[rng.choice(docs)]
        if len(toks) < len(slots):
            continue
        p = rng.randrange(len(toks) - len(slots) + 1)
        words = [toks[p + i] for i, s in enumerate(slots) if s is not None]
        if all(w.isalpha() for w in words):
            return words


@pytest.mark.parametrize("shape", [*_GAP_SHAPES, "the_the"])
def test_fixed_gap_phrase_equals_oracle_and_generic_fold(
        idx, tiny_oracle, monkeypatch, hits_paths, shape):
    """``"a" [] "b"`` and its kin run as one position intersection with
    slot offsets; the hits equal the oracle's and the old generic
    fold's, on both sides of the driver decode bound."""
    from blacklab_spark.plans import executor as E
    if shape == "the_the":
        q, words, slots = '"the" [] "the"', ["the", "the"], (0, None, 1)
    else:
        pattern, slots = _GAP_SHAPES[shape]
        words = _draw(tiny_oracle, slots, seed=sum(map(ord, shape)))
        q = pattern.format(*[f'"{w}"' for w in words])
    want = _slot_hits(tiny_oracle, [None if s is None else words[s]
                                    for s in slots])
    assert want
    seq = rewrite(parse(q))
    assert E._seq_choice(idx, seq.clauses)[0] == "phrase"
    assert _generic_fold(idx, q, monkeypatch) == want
    for _ in hits_paths:
        assert hits_of(find(idx, q)) == want


@pytest.mark.parametrize("q, slot_sets", [
    ('"visa" []', [("visa", None)]),
    ('"very" "good" []', [("very", "good", None)]),
    ('"visa" []{1,2} "application"', [("visa", None, "application"),
                                      ("visa", None, None,
                                       "application")]),
])
def test_trailing_and_variable_gaps_take_the_generic_plan(
        idx, tiny_oracle, q, slot_sets):
    """A gap at the end has no following term to prove it in bounds, and
    a variable gap has no fixed offset: both keep the generic plan."""
    from blacklab_spark.plans import executor as E
    seqs = [n for n in E._walk(rewrite(parse(q))) if isinstance(n, Q.Seq)]
    assert all(E._seq_choice(idx, n.clauses) == ("generic",) for n in seqs)
    assert "position-intersection" not in explain(q, idx)
    want = sorted(h for slots in slot_sets
                  for h in _slot_hits(tiny_oracle, slots))
    assert hits_of(find(idx, q)) == want and want


def test_regex_case_insensitive(idx):
    """Uppercase in a regex must still match the lowercased @i
    dictionary (reference desensitizes the pattern)."""
    lower = hits_of(find(idx, '[word="goo."]'))
    upper = hits_of(find(idx, '[word="Goo."]'))
    assert len(lower) > 0 and upper == lower


# ---------------- round-2: postings-backed leaves + cost choice ------
def test_term_leaf_uses_postings_not_corpus_scan(idx, monkeypatch):
    """A rare-term CQL query's physical plan must read posting blocks
    only — never scan doc_meta's token arrays (VERDICT r01 #1). The
    bound at 0 keeps the leaf on its Spark plan."""
    from blacklab_spark.operators import hits
    monkeypatch.setattr(hits, "DRIVER_HITS_MAX_POSITIONS", 0)
    df = find(idx, '"visa"')
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "postings" in plan
    assert "doc_meta" not in plan


def test_term_leaf_below_bound_is_a_local_frame(idx):
    """Below the bound the same leaf decodes on the driver: its plan is
    a LocalTableScan, with no postings or doc_meta scan."""
    df = find(idx, '"visa"')
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "doc_meta" not in plan and "postings" not in plan


def test_postings_leaf_equals_probe_leaf(idx):
    """Dual physical path: postings-decoded term hits ≡ token-array
    probe hits (≙ reference _FI1/_FI2 equality)."""
    from blacklab_spark.operators.hits import hits_for_term_ids, term_hits
    for t in ["visa", "the", "good"]:
        probe = sorted(map(tuple, term_hits(idx, t).collect()))
        post = sorted(map(tuple, hits_for_term_ids(
            idx, idx.lookup_terms([t])).collect()))
        assert probe == post and probe


@pytest.fixture(scope="module")
def nopos_idx(spark, tiny_pdf, tmp_path_factory):
    """The tiny corpus indexed without positions."""
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.index import open_index
    out = str(tmp_path_factory.mktemp("nopos") / "idx")
    build_index(spark, spark.createDataFrame(tiny_pdf), out,
                BuildConfig(block_size=8, bucket_size=16, num_partitions=2,
                            store_positions=False))
    return open_index(spark, out)


@pytest.mark.parametrize("q", ['"visa"', '[word="vis."]', '"visa"~1',
                               '"visa" | "good"', '"visa" containing "the"'])
def test_positionless_word_leaves_probe(idx, nopos_idx, q):
    """Without positions every word leaf, a position filter's hot term
    included, runs the forward-index probe over its terms rows, and
    its hits equal the postings decode's."""
    assert hits_of(find(nopos_idx, q)) == hits_of(find(idx, q))
    leaves = [ln for ln in explain(q, nopos_idx).splitlines()
              if ln.startswith(("leaf ", "or "))]
    assert leaves and all(ln.endswith("forward-index probe (word layer)")
                          for ln in leaves)


def test_fiseq_equals_generic_join(idx, monkeypatch, hits_paths):
    """FiSeq (anchor postings + forward-index verify) must produce the
    same hits as the generic positional-join plan for the same query
    (cost threshold forced each way), on both sides of the driver
    decode bound."""
    from blacklab_spark.plans import executor as E
    q = '"visa" [word="applicatio."]'
    for _ in hits_paths:
        monkeypatch.setattr(E, "FI_MATCH_FACTOR", 0)          # always FiSeq
        fiseq = sorted(map(tuple, find(idx, q).collect()))
        monkeypatch.setattr(E, "FI_MATCH_FACTOR", 10 ** 18)   # never FiSeq
        generic = sorted(map(tuple, find(idx, q).collect()))
        assert fiseq == generic and fiseq


def test_fiseq_regex_anchor(idx, tiny_oracle, monkeypatch, hits_paths):
    """FiSeq with the REGEX clause as the rare anchor side, on both
    sides of the driver decode bound."""
    from blacklab_spark.plans import executor as E
    q = '[word="vis."] "application"'
    want = sorted((d, p, p + 2) for d, toks in otoks(tiny_oracle).items()
                  for p in range(len(toks) - 1)
                  if re.fullmatch("vis.", toks[p])
                  and toks[p + 1] == "application")
    for _ in hits_paths:
        monkeypatch.setattr(E, "FI_MATCH_FACTOR", 0)
        fiseq = hits_of(find(idx, q))
        monkeypatch.setattr(E, "FI_MATCH_FACTOR", 10 ** 18)
        generic = hits_of(find(idx, q))
        assert fiseq == generic == want and want


# ---------------- round-2: global constraint syntax ------------------
def test_parse_constraint():
    p = parse("A:[] B:[] :: A.word = B.word")
    assert isinstance(p, Q.Constrained)
    assert p.filter == Q.CCmp(Q.CAnnot("A", "word"), "=",
                              Q.CAnnot("B", "word"))
    p2 = parse('x:"the" y:[] :: x.word != y.word')
    assert p2.filter.op == "!="


def test_parse_constraint_full_grammar():
    """The reference MatchFilter grammar (cql.jj:171-243): literals,
    default annotation, functions, comparisons, & | -> !, parens."""
    p = parse('A:[] B:[] :: A = "visa" & (start(A) < end(B) | !(A.pos = B.pos))')
    f = p.filter
    assert f == Q.CBool(
        "&",
        Q.CCmp(Q.CAnnot("A", "word"), "=", Q.CStr("visa")),
        Q.CBool("|",
                Q.CCmp(Q.CFunc("start", "A"), "<", Q.CFunc("end", "B")),
                Q.CNot(Q.CCmp(Q.CAnnot("A", "pos"), "=",
                              Q.CAnnot("B", "pos")))))
    imp = parse('A:[] B:[] :: A.word = B.word -> A.pos = B.pos').filter
    assert imp.op == "->" and isinstance(imp.a, Q.CCmp)


def test_find_constraint_equal(idx, tiny_oracle):
    """A:[] B:[] :: A.word = B.word — adjacent duplicate words."""
    got = hits_of(find(idx, "A:[] B:[] :: A.word = B.word"))
    expected = []
    for d, toks in otoks(tiny_oracle).items():
        for p in range(len(toks) - 1):
            if toks[p] == toks[p + 1]:
                expected.append((d, p, p + 2))
    assert got == sorted(expected) and got


def test_constrained_anyseq_scan_no_join(idx):
    """An all-any-token constrained query executes as ONE doc_meta
    scan (_constrained_scan): no join, no w-gram explosion — the
    generic path materializes every adjacent pair and joins the
    forward index back onto it."""
    df = find(idx, "A:[] B:[] :: A.word = B.word & start(A) < end(B)")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_constrained_anyseq_scan_equals_generic(idx):
    """Dual physical path: the arithmetic scan ≡ the generic
    explode-then-join constrained path, per hit."""
    from blacklab_spark.operators import spans as S
    from blacklab_spark.plans import query as Q
    from blacklab_spark.plans.executor import _compile_constraint, _exec
    from blacklab_spark.plans.parser import parse
    p = parse('A:[] B:[] :: A.word = B.word & A != "the"')
    fast = hits_of(find(idx, 'A:[] B:[] :: A.word = B.word & A != "the"'))
    hits = _exec(idx, p.clause)
    layers: set = set()
    pred = _compile_constraint(p.filter, layers)
    generic = S.constrained(idx, hits, pred,
                            columns=tuple(sorted(layers)))
    assert fast == hits_of(generic) and fast


def test_find_constraint_not_equal(idx, tiny_oracle):
    got = hits_of(find(idx, 'A:"the" B:[] :: A.word != B.word'))
    expected = []
    for d, toks in otoks(tiny_oracle).items():
        for p in range(len(toks) - 1):
            if toks[p] == "the" and toks[p + 1] != "the":
                expected.append((d, p, p + 2))
    assert got == sorted(expected) and got


def test_find_constraint_literal_and(idx, tiny_oracle):
    """String literal + '&': adjacent duplicates that aren't 'the'
    (MatchFilterString / MatchFilterAnd)."""
    got = hits_of(find(
        idx, 'A:[] B:[] :: A.word = B.word & A.word != "the"'))
    expected = [(d, p, p + 2)
                for d, toks in otoks(tiny_oracle).items()
                for p in range(len(toks) - 1)
                if toks[p] == toks[p + 1] and toks[p] != "the"]
    assert got == sorted(expected) and got


def test_find_constraint_functions_implication(idx, tiny_oracle):
    """start()/end() functions + '->' implication: start(B) = end(A)
    holds for every adjacency pair, so the result is exactly the
    implication's filter (A='the' -> B='the')."""
    got = hits_of(find(
        idx, 'A:[] B:[] :: start(B) = end(A) & '
             '(A.word = "the" -> B.word = A.word)'))
    expected = [(d, p, p + 2)
                for d, toks in otoks(tiny_oracle).items()
                for p in range(len(toks) - 1)
                if toks[p] != "the" or toks[p + 1] == "the"]
    assert got == sorted(expected) and got


def test_constraint_function_registry(idx, tiny_oracle):
    """The constraint-function extension point (r3 What's-missing
    #3): length() is a registered extension, unknown names list the
    registry, and a runtime-registered custom function participates
    in the one-Catalyst-predicate compilation."""
    from pyspark.sql import functions as F
    from blacklab_spark.plans.executor import (CONSTRAINT_FUNCTIONS,
                                               register_constraint_function)
    # length(): keeps only the width-1 A expansion
    got = hits_of(find(idx, 'A:[]{1,2} B:"the" :: '
                            'length(A) = length(B)'))
    expected = [(d, p - 1, p + 1)
                for d, toks in otoks(tiny_oracle).items()
                for p in range(1, len(toks))
                if toks[p] == "the"]
    assert got == sorted(expected) and got
    # unknown function: error names the registry
    with pytest.raises(ValueError, match="registered"):
        find(idx, 'A:[] B:[] :: nosuch(A) = nosuch(B)')
    # custom registration: same-parity starts (start(A) mod 2 =
    # start(B) mod 2) vs the start()-based equivalent
    register_constraint_function(
        "parity", lambda s, e: F.pmod(s, F.lit(2)))
    try:
        a = hits_of(find(idx, 'A:"the" B:[] :: parity(A) = parity(B)'))
        b = hits_of(find(idx, 'A:"the" B:[] :: start(A) = start(A)'))
        # parity(A)=parity(B) with B adjacent to A (start B = start A
        # + 1) is always FALSE; the unconstrained form is all pairs
        assert a == [] and b
    finally:
        del CONSTRAINT_FUNCTIONS["parity"]


def test_find_constraint_or_not_parens(idx, tiny_oracle):
    """'|' / '!' / parens: A='the' or (not A=B)."""
    got = hits_of(find(
        idx, 'A:[] B:[] :: A = "the" | !(A.word = B.word)'))
    expected = [(d, p, p + 2)
                for d, toks in otoks(tiny_oracle).items()
                for p in range(len(toks) - 1)
                if toks[p] == "the" or toks[p] != toks[p + 1]]
    assert got == sorted(expected) and got


def test_find_constraint_ordering(idx, tiny_oracle):
    """Ordering comparison '<' over annotation values
    (MatchFilterCompare, insensitive lexicographic)."""
    got = hits_of(find(idx, 'A:[] B:[] :: A.word < B.word'))
    expected = [(d, p, p + 2)
                for d, toks in otoks(tiny_oracle).items()
                for p in range(len(toks) - 1)
                if toks[p] < toks[p + 1]]
    assert got == sorted(expected) and got


def test_constraint_positions_only_needs_no_forward_index(idx):
    """A constraint over start()/end() alone compiles to a plain
    filter — no forward-index join (scan count in the plan stays 0
    for doc_meta beyond the clause itself)."""
    from blacklab_spark.plans.executor import find as _find
    df = _find(idx, 'A:[] B:[] :: start(A) < start(B)')
    # trivially true for adjacency pairs: equals the unconstrained seq
    base = _find(idx, 'A:[] B:[] :: start(B) = end(A)')
    assert df.count() == base.count() > 0


def test_constraint_bare_value_raises(idx):
    with pytest.raises(ValueError, match="not a boolean"):
        find(idx, 'A:[] B:[] :: A.word').count()


def test_constraint_errors(idx):
    with pytest.raises(ValueError):
        find(idx, '"the" "cat" :: A.word = B.word')   # no captures
    with pytest.raises(ValueError):
        find(idx, "A:[] B:[] :: A.xpos = B.xpos")   # unknown annotation


# ---------------- round-2: annotation layers (pos) -------------------
def _py_pos_layer(toks):
    from blacklab_spark.annotations import py_pos_tag
    return [py_pos_tag(t) for t in toks]


def test_parse_annotation_layer():
    assert parse('[pos="verb"]') == Q.Term("verb", "pos")
    assert parse('[pos="ver."]') == Q.Regex("ver.", "pos")
    assert parse('[word="the"]') == Q.Term("the")


def test_find_pos_term(idx, tiny_oracle):
    """[pos="func"] — every function-word position via the derived
    annotation layer."""
    got = hits_of(find(idx, '[pos="func"]'))
    expected = []
    for d, toks in otoks(tiny_oracle).items():
        for p, tag in enumerate(_py_pos_layer(toks)):
            if tag == "func":
                expected.append((d, p, p + 1))
    assert got == sorted(expected) and got


def test_find_mixed_layer_sequence(idx, tiny_oracle):
    """[pos="func"] "visa" — pos leaf + word leaf positional join."""
    got = hits_of(find(idx, '[pos="func"] "visa"'))
    expected = []
    for d, toks in otoks(tiny_oracle).items():
        tags = _py_pos_layer(toks)
        for p in range(len(toks) - 1):
            if tags[p] == "func" and toks[p + 1] == "visa":
                expected.append((d, p, p + 2))
    assert got == sorted(expected) and got


def test_fiseq_verifies_pos_layer(idx, tiny_oracle, monkeypatch):
    """FiSeq with a pos-layer neighbour: anchor on the rare word,
    verify the pos tag by probing tokens_pos."""
    from blacklab_spark.plans import executor as E
    q = '"visa" [pos="noun"]'
    monkeypatch.setattr(E, "FI_MATCH_FACTOR", 0)
    fiseq = hits_of(find(idx, q))
    monkeypatch.setattr(E, "FI_MATCH_FACTOR", 10 ** 18)
    generic = hits_of(find(idx, q))
    assert fiseq == generic and fiseq


def test_constraint_on_pos_layer(idx, tiny_oracle):
    """A:[] B:[] :: A.pos = B.pos — adjacent same-POS pairs."""
    got = hits_of(find(idx, "A:[] B:[] :: A.pos = B.pos"))
    expected = []
    for d, toks in otoks(tiny_oracle).items():
        tags = _py_pos_layer(toks)
        for p in range(len(toks) - 1):
            if tags[p] == tags[p + 1]:
                expected.append((d, p, p + 2))
    assert got == sorted(expected) and got


def test_unknown_layer_raises(idx):
    with pytest.raises(ValueError):
        find(idx, '[xpos="run"]')


# ---------------- round-3: multi-value lemma layer -------------------
@pytest.fixture(scope="module")
def lemma_engine(spark, tmp_path_factory):
    """Tiny ad-hoc corpus with stemmable tokens — the multi-value
    (position-increment-0) layer fixture."""
    import pandas as pd

    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.engine import SearchEngine
    from blacklab_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    rows = [("c0", 0, "user", "run runs the missed kiss", None),
            ("c0", 1, "assistant", "trained train training brings bring",
             None),
            ("c1", 0, "user", "training the train ring rings", None)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                      "text", "tool"])
    pdf["ts"] = pd.Timestamp("2026-01-01")
    out = str(tmp_path_factory.mktemp("lemma") / "idx")
    build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                out, BuildConfig(block_size=8, bucket_size=8,
                                 num_partitions=2))
    return SearchEngine.open(spark, out)


def _py_lemma_hits(texts, value):
    from blacklab_spark.annotations import py_lemma_stem
    from blacklab_spark.tokenizer import py_tokens_insensitive
    out = []
    for d, text in enumerate(texts):
        for p, t in enumerate(py_tokens_insensitive(text)):
            if t == value or py_lemma_stem(t) == value:
                out.append((d, p, p + 1))
    return sorted(out)


def test_lemma_multivalue_term(lemma_engine):
    """[lemma="train"] matches train, trains, trained, training — any
    stacked value (position-increment-0 model,
    AnnotationWriter.java:233-311)."""
    texts = ["run runs the missed kiss",
             "trained train training brings bring",
             "training the train ring rings"]
    got = hits_of(lemma_engine.find('[lemma="train"]'))
    assert got == _py_lemma_hits(texts, "train") and len(got) == 5
    assert len(hits_of(lemma_engine.find('[lemma="run"]'))) == 2
    # 'kiss' must NOT stem to 'kis' (the -ss guard); 'missed' stems
    # to 'miss', not 'misse'
    assert hits_of(lemma_engine.find('[lemma="kis"]')) == []
    assert len(hits_of(lemma_engine.find('[lemma="miss"]'))) == 1


def test_lemma_in_sequence_both_paths(lemma_engine, monkeypatch):
    """word + lemma mixed sequence: FiSeq verify (array_contains over
    stacked values) ≡ generic join path."""
    from blacklab_spark.plans import executor as E
    q = '"the" [lemma="train"]'
    monkeypatch.setattr(E, "FI_MATCH_FACTOR", 0)
    fiseq = hits_of(lemma_engine.find(q))
    monkeypatch.setattr(E, "FI_MATCH_FACTOR", 10 ** 18)
    generic = hits_of(lemma_engine.find(q))
    # "the train" (doc2); doc0's "the missed" must NOT match
    assert fiseq == generic == [(2, 1, 3)]


def test_lemma_constraint_overlap(lemma_engine):
    """A:[] B:[] :: A.lemma = B.lemma — stacked-value equality is
    ANY-overlap: 'trained train' share lemma 'train'."""
    got = hits_of(lemma_engine.find("A:[] B:[] :: A.lemma = B.lemma"))
    # doc1: trained|train, train|training, brings|bring; doc2:
    # ring|rings
    assert (1, 0, 2) in got and (1, 1, 3) in got and (1, 3, 5) in got
    assert (2, 3, 5) in got
    # 'the missed' shares nothing
    assert (0, 2, 4) not in got


# ---------------- round-2 review regressions -------------------------
def test_cql_terms_fold_accents():
    """CQL word values desensitize like the tokenizer: 'Café' →
    Term('cafe') so accented queries match the folded dictionary."""
    assert parse('"Café"') == Q.Term("cafe")
    assert parse('[word="Visa.*"]') == Q.Regex("visa.*")
    assert parse('"ΚΑΛΆ"') == Q.Term("καλά")


def test_cql_regex_fold_preserves_escapes():
    """Folding a regex must not lowercase escape sequences: \\S→\\s,
    \\D→\\d, \\W→\\w invert their meaning and \\p{L}→\\p{l} is an
    invalid Java property. Only literal runs fold (round-2 ADVICE)."""
    assert parse(r'[word="\S+"]') == Q.Regex(r"\S+")
    assert parse(r'[word="\D\W\S"]') == Q.Regex(r"\D\W\S")
    assert parse(r'[word="\p{L}+"]') == Q.Regex(r"\p{L}+")
    assert parse(r'[word="\P{Lu}+"]') == Q.Regex(r"\P{Lu}+")
    # literals around escapes still fold
    assert parse(r'[word="Café\d+"]') == Q.Regex(r"cafe\d+")
    # escaped literal uppercase letter is kept verbatim ((?iu) at
    # expansion time covers case); trailing lone backslash untouched
    assert parse(r'[word="\Qx"]') == Q.Regex(r"\Qx")


def test_cql_unicode_end_to_end(spark, tmp_path):
    """Accented / Cyrillic CQL terms and regexes match on a
    multilingual index ((?iu) unicode case folding + query folding)."""
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.engine import SearchEngine
    from blacklab_spark.sources.transcripts import gen_multilingual_pandas
    out = str(tmp_path / "multi")
    build_index(spark, spark.createDataFrame(gen_multilingual_pandas()),
                out, BuildConfig(block_size=8, bucket_size=8,
                                 num_partitions=2))
    eng = SearchEngine.open(spark, out)
    plain = eng.find('"cafe"').count()
    assert plain > 0
    assert eng.find('"Café"').count() == plain
    upper_rx = eng.find('[word="Приве.*"]').count()
    lower_rx = eng.find('[word="приве.*"]').count()
    assert upper_rx == lower_rx > 0


# ---------------- round-3: sensitivities, fuzzy, settings ------------
def test_parse_fuzzy_and_settings():
    assert parse('"visa"~1') == Q.Fuzzy("visa", 1)
    assert parse('[word="visa"]~2') == Q.Fuzzy("visa", 2)
    from blacklab_spark.plans.parser import parse_with_settings
    pat, st = parse_with_settings('@max_hits=100 @foo=bar "the"')
    assert pat == Q.Term("the") and st == {"max_hits": 100, "foo": "bar"}
    with pytest.raises(ParseError):
        parse('[]~1')     # fuzzy only on plain terms


def test_find_fuzzy_term(idx, tiny_oracle, hits_paths):
    """"visa"~1 must hit every dictionary term within 1 edit of visa
    — including visa itself — and equal the union of exact probes, on
    both sides of the driver decode bound."""
    terms = [t for t in tiny_oracle.postings if _edit1("visa", t)]
    assert "visa" in terms
    expected = sorted(
        (d, p, p + 1)
        for t in terms
        for d in tiny_oracle.doc_ids
        for p, tok in enumerate(tiny_oracle.tokens[d]) if tok == t)
    for _ in hits_paths:
        assert hits_of(find(idx, '"visa"~1')) == expected


def _edit1(a: str, b: str) -> bool:
    """Levenshtein(a,b) <= 1 (tiny helper for the fuzzy oracle)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]


def test_settings_max_hits_cap(idx):
    """@max_hits=N caps materialized hits (TextPatternSettings
    passthrough, VERDICT r02 #9)."""
    total = find(idx, '"the"').count()
    assert total > 7
    assert find(idx, '@max_hits=7 "the"').count() == 7


def test_sensitivity_ci_di(spark, tmp_path):
    """ci = case-insensitive accent-SENSITIVE; di = accent-insensitive
    case-SENSITIVE (MatchSensitivity.java:12-17). On the multilingual
    fixture: ci("café") matches café+Café but NOT cafe; di("Cafe")
    matches Café+Cafe spellings with capital C only."""
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.engine import SearchEngine
    from blacklab_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                    gen_multilingual_pandas)
    out = str(tmp_path / "multi_sens")
    pdf = gen_multilingual_pandas()
    build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                out, BuildConfig(block_size=8, bucket_size=8,
                                 num_partitions=2))
    eng = SearchEngine.open(spark, out)

    def brute(pred):
        n = 0
        for text in pdf["text"]:
            from blacklab_spark.tokenizer import py_tokens_sensitive
            n += sum(1 for t in py_tokens_sensitive(text) if pred(t))
        return n

    ci = eng.term_hits("café", sensitivity="ci").count()
    assert ci == brute(lambda t: t.lower() == "café") > 0
    # accent-sensitive: plain 'cafe' occurrences are NOT counted
    assert ci < eng.term_hits("cafe", sensitivity="i").count()
    from blacklab_spark.tokenizer import py_fold_diacritics
    di = eng.term_hits("Cafe", sensitivity="di").count()
    assert di == brute(lambda t: py_fold_diacritics(t) == "Cafe") > 0
    # CQL pseudo-layers ride the same columns
    assert eng.find('[word_ci="Café"]').count() == ci
    assert eng.find('[word_di="Café"]').count() == di


def test_expand_regex_limit_raises_not_truncates(idx):
    """Dictionary expansion past the limit must raise, never silently
    truncate to a nondeterministic subset (VERDICT r02 'what's wrong'
    #2): a broad regex over a large vocabulary would otherwise return
    a different wrong answer per run."""
    with pytest.raises(ValueError, match="more than 5 terms"):
        idx.expand_regex(".*", limit=5)
    pdf = idx.expand_regex("(?iu)^(?:goo.)$")
    assert list(pdf["term_id"]) == sorted(pdf["term_id"])
    with pytest.raises(ValueError, match="more than 3 terms"):
        idx.expand_prefix("", limit=3)


def test_unbounded_repetition_leaves_no_persisted_rdds(idx):
    """The closure-kernel path must not leave persisted RDDs behind
    (round-2 fixpoint retained its level caches for the engine's
    lifetime — VERDICT r02 #5/#8). Asserted as no-NEW-persists rather
    than zero session-wide: other operators (duplicate_clusters)
    legitimately return checkpoint-backed frames whose blocks the
    ContextCleaner frees only after driver-side GC, so an absolute
    zero is flaky under session-scoped fixtures."""
    jsc = idx.spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    find(idx, '"the"{2,}').collect()
    assert jsc.getPersistentRDDs().size() <= before


def test_repetition_min_rep_longer_path(spark):
    """A pair reachable at ≥min_rep reps only via a LONGER path than
    its first discovery must still be emitted: spans (0,2),(0,1),
    (1,2),(2,3) give (0,3) at 2 reps (b+d) and 3 reps (a+c+d) —
    {3,} must keep it (level-capped BFS, not naive seen-pruning)."""
    from blacklab_spark.operators.spans import repetition
    hits = spark.createDataFrame(
        [(0, 0, 2), (0, 0, 1), (0, 1, 2), (0, 2, 3)],
        "doc_id long, start int, end int")
    got = sorted(map(tuple, repetition(hits, 3, None).collect()))
    assert (0, 0, 3) in got
    # and nothing below 3 reps leaks in
    assert (0, 0, 2) not in got and (0, 1, 2) not in got


def test_unbounded_repetition_zero_width_terminates(spark):
    """A zero-width span must not spin the fixpoint loop forever —
    A^k of a zero-width span is the span itself."""
    from blacklab_spark.operators.spans import repetition
    hits = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 2), (0, 2, 3)],
        "doc_id long, start int, end int")
    got = sorted(map(tuple, repetition(hits, 1, None).collect()))
    assert got == [(0, 0, 0), (0, 1, 2), (0, 1, 3), (0, 2, 3)]


def test_missing_annotation_layer_raises(spark, tmp_path):
    """An index built with annotations=() must reject [pos=...] with a
    clear ValueError, not an unresolved-column crash."""
    import pandas as pd
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.engine import SearchEngine
    pdf = pd.DataFrame({
        "conv_id": ["c1"], "turn_idx": [0], "role": ["user"],
        "text": ["just words here"], "tool": [None],
        "ts": pd.to_datetime(["2024-01-01"]),
    })
    out = str(tmp_path / "noannot")
    build_index(spark, spark.createDataFrame(pdf), out,
                BuildConfig(block_size=8, bucket_size=8, num_partitions=1,
                            annotations=()))
    eng = SearchEngine.open(spark, out)
    with pytest.raises(ValueError, match="not materialized"):
        eng.find('[pos="func"]').count()


# ---------------- 'overlap' operator (TextPatternOverlapping) --------
def test_parse_overlap_keyword():
    p = parse('"the" [] overlap [] "the"')
    assert isinstance(p, Q.Overlap)
    # keyword needs a word boundary: 'overlapping' is a plain term
    assert isinstance(parse("overlapping"), Q.Term)


def test_overlap_keyword_equals_operator(idx):
    from blacklab_spark.operators.spans import overlapping
    got = hits_of(find(idx, '"the" [] overlap [] "the"'))
    a = find(idx, '"the" []')
    b = find(idx, '[] "the"')
    want = sorted(map(tuple, overlapping(a, b).collect()))
    assert got == want and got


def test_constraint_rare_clause_pushes_doc_ids(idx):
    """A constraint over a RARE clause pushes the clause's doc ids
    into the forward-index scan (the _fiseq anchor pattern): the
    doc_meta side of the constrained join carries doc_id IN (...) /
    doc_id = ... instead of a full-table read."""
    df = find(idx, 'A:"visa" B:[] :: A.word != B.word')
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a 1-element IN-list folds to EqualTo (round-3 note)
    assert ("In(doc_id" in plan or "INSET" in plan
            or "EqualTo(doc_id" in plan)


# ---------------- debug strategy-forcing functions --------------------
# (reference XFDebug.java:42: _ident/_FI1/_FI2, registered like any
# query extension; the reference's own tests use them to pin both
# physical paths of a sequence and assert golden equality)
def test_debug_force_functions_golden_equality(tiny_engine):
    eng = tiny_engine
    auto = sorted(map(tuple, eng.find('"the" "visa"')
                      .select("doc_id", "start", "end").collect()))
    fi1 = sorted(map(tuple, eng.find('_FI1("the" "visa")')
                     .select("doc_id", "start", "end").collect()))
    fi2 = sorted(map(tuple, eng.find('_FI2("the" "visa")')
                     .select("doc_id", "start", "end").collect()))
    assert auto == fi1 == fi2 and auto
    # _ident is the identity
    ident = sorted(map(tuple, eng.find('_ident("the" "visa")')
                       .select("doc_id", "start", "end").collect()))
    assert ident == auto
    # _FI1 accepts regex leaves; _FI2 does not
    assert eng.find('_FI1([word="th."] "visa")').count() >= len(auto)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="_FI2"):
        eng.find('_FI2([word="th."] "visa")').count()


def test_sensitivity_flags(tiny_engine):
    """%c/%d flags (cql.jj:108 FLAGS — the reference lexes and drops
    them; we select the matching sensitivity layer): default ≡ %CD,
    and each flagged form equals its pseudo-layer bracket."""
    eng = tiny_engine
    base = eng.find('"visa"').count()
    assert eng.find('"VISA"%CD').count() == base > 0
    assert eng.find('"visa"%cd').count() == \
        eng.find('[word_s="visa"]').count()
    assert eng.find('"VISA"%d').count() == \
        eng.find('[word_ci="VISA"]').count()
    assert eng.find('"visa"%c').count() == \
        eng.find('[word_di="visa"]').count()
    from blacklab_spark.plans.parser import ParseError
    import pytest as _pytest
    with _pytest.raises(ParseError, match="sensitivity flag"):
        eng.find('"x"%z')


def test_subannotation_pos_coarse(idx, tiny_oracle):
    """[pos/coarse="fw"] — subannotation layer (grammar annotName:
    name '/' subAnnot, cql.jj:643-654): the coarse view of pos
    (fw = func, cw = everything else), derived from tokens_pos."""
    got = hits_of(find(idx, '[pos/coarse="fw"]'))
    func = hits_of(find(idx, '[pos="func"]'))
    assert got == func and got
    # cw ≡ complement within the pos domain
    cw = hits_of(find(idx, '[pos/coarse="cw"]'))
    assert len(cw) + len(got) == sum(
        len(t) for t in otoks(tiny_oracle).values())
    # composes inside boolean brackets and sequences
    both = hits_of(find(idx, '[pos/coarse="cw" & pos="verb"]'))
    verbs = hits_of(find(idx, '[pos="verb"]'))
    assert both == verbs
    seq = hits_of(find(idx, '[pos/coarse="fw"] "visa"'))
    mixed = hits_of(find(idx, '[pos="func"] "visa"'))
    assert seq == mixed and seq


def test_fi_match_factor_override(idx):
    """Scoped fiMatchFactor override (the server's fimatch param):
    0 disables FiSeq, a factor of 1 (any anchor rarer than the rest
    of the sequence) makes it maximally eager — hits identical either
    way. NOTE: our factor is the REQUIRED RARITY RATIO
    (cf_others/cf_anchor must exceed it), so smaller = more eager;
    the 0 = off switch matches blacklab-internals.md:40."""
    from blacklab_spark.plans.executor import (_seq_choice, fi_match,
                                               find)
    from blacklab_spark.plans.parser import parse
    seq = parse('"visa" "the"')  # anchor + hot neighbour
    base = _seq_choice(idx, seq.clauses)
    with fi_match(0):
        off = _seq_choice(idx, seq.clauses)
        hits_off = hits_of(find(idx, '"visa" "the"'))
    with fi_match(1):
        forced = _seq_choice(idx, seq.clauses)
        hits_on = hits_of(find(idx, '"visa" "the"'))
    assert off[0] != "fiseq" and forced[0] == "fiseq"
    assert hits_off == hits_on == hits_of(find(idx, '"visa" "the"'))
    # override is scoped: default behavior restored
    assert _seq_choice(idx, seq.clauses) == base


def test_static_width():
    """plans/query.static_width — fixed hit width where statically
    known (the BLSpanQuery hitsLengthMin==Max analog)."""
    assert Q.static_width(Q.Term("the")) == 1
    assert Q.static_width(Q.Seq(Q.Term("a"), Q.Term("b"))) == 2
    assert Q.static_width(Q.AnyToken(2, 2)) == 2
    assert Q.static_width(Q.AnyToken(1, 3)) is None
    assert Q.static_width(Q.Or(Q.Term("a"), Q.Term("b"))) == 1
    assert Q.static_width(
        Q.Or(Q.Term("a"), Q.Seq(Q.Term("a"), Q.Term("b")))) is None
    assert Q.static_width(Q.Rep(Q.Term("a"), 2, 2)) == 2
    assert Q.static_width(Q.Rep(Q.Term("a"), 1, None)) is None
    assert Q.static_width(Q.Capture(Q.Not(Q.Term("a")), "A")) == 1
    assert Q.static_width(Q.Expand(Q.Term("a"), "right", 2, 2)) == 3


def test_constraint_fold_shapes():
    """Constant propagation through captures: a ``=`` conjunct pinning
    an ``[]`` capture to a constant folds into a TERM leaf; the
    constraint node disappears when every conjunct folds."""
    folded = rewrite(parse('A:"the" B:[] :: A.word = B.word'))
    assert isinstance(folded, Q.Seq) and not isinstance(folded,
                                                        Q.Constrained)
    assert folded.clauses[1] == Q.Capture(Q.Term("the", layer="word"), "B")
    # literal pin, capture alone
    assert rewrite(parse('A:[] :: A.word = "visa"')) == \
        Q.Capture(Q.Term("visa", layer="word"), "A")
    # cascading fold across conjuncts (A pins B, then B pins C)
    chain = rewrite(
        parse('A:"the" B:[] C:[] :: A.word = B.word & B.word = C.word'))
    assert not isinstance(chain, Q.Constrained)
    # partial fold keeps the unfoldable conjunct
    part = rewrite(parse('A:[] B:[] :: B.word = "visa" & A.word < B.word'))
    assert isinstance(part, Q.Constrained)
    assert isinstance(part.filter, Q.CCmp) and part.filter.op == "<"
    # never folds: both sides [], != comparison, mixed layers,
    # capture under OR (may not bind on every match)
    assert isinstance(rewrite(parse('A:[] B:[] :: A.word = B.word')),
                      Q.Constrained)
    assert isinstance(rewrite(parse('A:"the" B:[] :: A.word != B.word')),
                      Q.Constrained)
    assert isinstance(rewrite(parse('A:"the" B:[] :: A.word_s = B.word')),
                      Q.Constrained)
    assert isinstance(rewrite(parse('("x" | A:[]) :: A.word = "y"')),
                      Q.Constrained)


def test_constraint_fold_end_to_end(idx, tiny_oracle):
    """Folded execution ≡ runtime-constraint execution ≡ oracle."""
    from blacklab_spark.plans.executor import _exec
    q = 'A:"the" B:[] :: A.word = B.word'
    got = hits_of(find(idx, q))
    expected = [(d, p, p + 2) for d, toks in otoks(tiny_oracle).items()
                for p in range(len(toks) - 1)
                if toks[p] == "the" and toks[p + 1] == "the"]
    assert got == sorted(expected)
    assert got == hits_of(_exec(idx, parse(q)))   # unfolded path
