"""BM25 rank-identity gate: engine (both paths) vs pure-Python oracle.

Mirrors the reference's golden-response testing discipline
(test/test/hits.js) and its dual-path equality checks (_FI1/_FI2)."""

import pytest

from blacklab_spark.oracle import brute_topk

QUERIES = [
    ["visa"],
    ["visa", "application"],
    ["very", "good"],
    ["the"],            # hottest term — skew / block-skipping exercise
    ["search"],
    ["the", "a", "visa"],
    ["nosuchterm"],
    ["good", "nosuchterm"],
]


def _engine_topk(engine, terms, k, mode):
    rows = engine.topk(terms, k=k, mode=mode).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def _assert_rank_identical(got, expected):
    assert [g[0] for g in got] == [e[0] for e in expected]
    for g, e in zip(got, expected):
        assert g[1] == pytest.approx(e[1], abs=1e-6)


@pytest.mark.parametrize("terms", QUERIES, ids=["-".join(q) for q in QUERIES])
@pytest.mark.parametrize("mode", ["exhaustive", "wand"])
def test_topk_tiny(tiny_engine, tiny_oracle, topk_paths, terms, mode):
    expected = brute_topk(tiny_oracle, terms, k=10)
    for _ in topk_paths:
        got = _engine_topk(tiny_engine, terms, 10, mode)
        _assert_rank_identical(got, expected)


@pytest.mark.parametrize("terms", [["visa"], ["visa", "application"],
                                   ["the"], ["very", "good", "please"]],
                         ids=lambda q: "-".join(q))
@pytest.mark.parametrize("mode", ["exhaustive", "wand"])
def test_topk_small(small_engine, small_oracle, topk_paths, terms, mode):
    expected = brute_topk(small_oracle, terms, k=10)
    for _ in topk_paths:
        got = _engine_topk(small_engine, terms, 10, mode)
        _assert_rank_identical(got, expected)


@pytest.mark.parametrize("k", [1, 3, 25, 1000])
def test_topk_various_k(small_engine, small_oracle, topk_paths, k):
    expected = brute_topk(small_oracle, ["visa", "good"], k=k)
    for _ in topk_paths:
        for mode in ("exhaustive", "wand"):
            got = _engine_topk(small_engine, ["visa", "good"], k, mode)
            _assert_rank_identical(got, expected)


def test_wand_equals_exhaustive_dualpath(small_engine, topk_paths):
    """Dual-path gate ≙ reference _FI1/_FI2 (hits.js:55-57)."""
    for _ in topk_paths:
        for terms in (["visa"], ["the"], ["visa", "application", "good"]):
            a = _engine_topk(small_engine, terms, 20, "wand")
            b = _engine_topk(small_engine, terms, 20, "exhaustive")
            assert [x[0] for x in a] == [x[0] for x in b]
            for x, y in zip(a, b):
                assert x[1] == pytest.approx(y[1], abs=1e-9)


def test_topk_result_schema(tiny_engine, topk_paths):
    for _ in topk_paths:
        df = tiny_engine.topk(["visa"], k=5)
        assert [f.name for f in df.schema.fields] == \
            ["rank", "doc_id", "conv_id", "turn_idx", "score", "text"]
        rows = df.collect()
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_filtered_topk_role(small_engine, small_oracle, topk_paths):
    expected = brute_topk(small_oracle, ["visa"], k=10,
                          predicate=lambda m: m["role"] == "assistant")
    for _ in topk_paths:
        got = small_engine.topk(["visa"], k=10, role="assistant").collect()
        _assert_rank_identical([(r["doc_id"], r["score"]) for r in got],
                               expected)


def test_filtered_topk_tool(small_engine, small_oracle, topk_paths):
    expected = brute_topk(small_oracle, ["search"], k=10,
                          predicate=lambda m: m["tool"] is not None)
    for _ in topk_paths:
        got = small_engine.topk(["search"], k=10, tool=True).collect()
        _assert_rank_identical([(r["doc_id"], r["score"]) for r in got],
                               expected)


def test_filtered_topk_conv(small_engine, small_oracle, topk_paths):
    expected = brute_topk(small_oracle, ["good"], k=10,
                          predicate=lambda m: m["conv_id"] == "conv00001")
    for _ in topk_paths:
        got = small_engine.topk(["good"], k=10,
                                conv_id="conv00001").collect()
        _assert_rank_identical([(r["doc_id"], r["score"]) for r in got],
                               expected)


def test_filtered_wand_equals_filtered_exhaustive(small_engine,
                                                   topk_paths):
    """Round-2 dual path: filter-then-score WAND (bucket prune +
    seeded threshold) must be rank- and score-identical to
    exhaustive-then-filter (VERDICT r01 #3)."""
    cases = [((["visa"],), {"role": "assistant"}),
             ((["visa", "application"],), {"role": "user"}),
             ((["the"],), {"tool": True}),
             ((["good"],), {"conv_id": "conv00001"})]
    for _ in topk_paths:
        for (terms,), filt in cases:
            a = small_engine.topk(terms, k=10, mode="wand", **filt).collect()
            b = small_engine.topk(terms, k=10, mode="exhaustive",
                                  **filt).collect()
            assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
            for x, y in zip(a, b):
                assert x["score"] == pytest.approx(y["score"], abs=1e-9)


def test_filtered_wand_seeds_threshold_and_prunes(small_engine):
    """The filtered path must seed a nonzero threshold from filtered
    candidates and prune buckets whose upper bound falls below it."""
    from pyspark.sql import functions as F
    from blacklab_spark.operators.wand import topk_wand_filtered
    dbg = {}
    df = topk_wand_filtered(small_engine.index, ["visa"],
                            F.col("role") == "assistant", k=3, seed=True,
                            _debug=dbg)
    rows = df.collect()
    assert len(rows) == 3
    assert dbg["t0"] > 0.0
    assert dbg["blocks_after_prune"] < dbg["blocks_total"]


def test_seeded_wand_rank_identical_forced(small_engine, small_oracle):
    """Forced-seed WAND (two-level k-th threshold) stays
    rank/score-identical to the oracle — the r3→r4 seed rewrite
    (groupBy salt slices instead of a per-term window) must be an
    exact k-th, not an approximation."""
    from blacklab_spark.operators.wand import wand_scores
    from blacklab_spark.operators.scoring import finish_topk
    for terms in (["visa"], ["the"], ["visa", "application", "good"]):
        for k in (1, 5, 10):
            expected = brute_topk(small_oracle, terms, k=k)
            got = finish_topk(
                small_engine.index,
                wand_scores(small_engine.index, terms, k, seed=True),
                k).collect()
            _assert_rank_identical(
                [(r["doc_id"], r["score"]) for r in got], expected)


def test_seed_threshold_plan_has_no_window(small_engine):
    """r3 What's-wrong #3: the threshold seed must contain NO window
    operator — a Window.partitionBy(term_id) funnels a stopword's
    ~10^8 bucket maxima through one task at 10^12-doc scale. The
    two-level k-th is groupBy-only (map-side partial aggregation,
    bounded task input at every stage)."""
    from pyspark.sql import functions as F
    from blacklab_spark.operators.wand import _seed_threshold_frame
    idx = small_engine.index
    info = idx.lookup_terms(["the", "visa"])
    blocks = idx.postings.filter(
        F.col("term_id").isin([int(t) for t in info["term_id"]]))
    plan = _seed_threshold_frame(blocks, 10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # and it still computes a real threshold on this corpus
    from blacklab_spark.operators.wand import _seed_threshold
    assert _seed_threshold(blocks, 10) > 0.0


# ---------------- randomized differential top-k ----------------

_FUZZ_VOCAB = ["the", "a", "and", "you", "visa", "very", "good",
               "application", "search", "python", "please", "browser",
               "nosuchterm"]
_ROLES = [None, "assistant", "user"]


@pytest.mark.parametrize("seed", range(25))
def test_topk_random(seed, tiny_engine, tiny_oracle, topk_paths):
    """Seeded random term multisets × k × mode × role filter, rank- and
    score-identical to the brute-force scorer. Duplicate query terms
    are generated on purpose (choices with replacement) — both engine
    and oracle must treat the query as a term set."""
    import random
    rng = random.Random(seed + 31_337)
    terms = rng.choices(_FUZZ_VOCAB, k=rng.randint(1, 4))
    k = rng.choice([1, 3, 10])
    role = rng.choice(_ROLES)
    pred = (lambda m: m["role"] == role) if role else None
    expected = brute_topk(tiny_oracle, terms, k=k, predicate=pred)
    kwargs = {"role": role} if role else {}
    for _ in topk_paths:
        for mode in ("exhaustive", "wand"):
            got = [(r["doc_id"], r["score"]) for r in
                   tiny_engine.topk(terms, k=k, mode=mode,
                                    **kwargs).collect()]
            _assert_rank_identical(got, expected)
