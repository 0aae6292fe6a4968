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


def _part(index, terms):
    """The one ``wand.parts_scores`` part of a top-k over ``index``,
    bounded by the stored block ``max_score``, and its Σdf."""
    from pyspark.sql import functions as F
    info = index.lookup_terms(terms)
    idf_map = {int(t): float(i) for t, i in zip(info["term_id"], info["idf"])}
    return ((index, 0, idf_map, index.avgdl, F.col("max_score")),
            int(info["df"].sum()))


def test_filtered_wand_seeds_threshold_and_prunes(small_engine,
                                                  monkeypatch):
    """The filtered path must seed a nonzero threshold from filtered
    candidates and prune buckets whose upper bound falls below it."""
    from pyspark.sql import functions as F
    from blacklab_spark.operators import wand
    monkeypatch.setattr(wand, "WAND_SEED_MIN_POSTINGS", 0)
    part, n = _part(small_engine.index, ["visa"])
    dbg = {}
    df = wand.parts_scores([part], 3, F.col("role") == "assistant", True, n,
                           _debug=dbg)
    rows = df.orderBy(F.desc("score"), F.asc("doc_id")).limit(3).collect()
    assert len(rows) == 3
    assert dbg["t0"] > 0.0
    assert dbg["blocks_after_prune"] < dbg["blocks_total"]


def test_seeded_wand_rank_identical_forced(small_engine, small_oracle,
                                           monkeypatch):
    """Seeded WAND (the seed gate lowered to 0, the driver bound too)
    stays rank/score-identical to the oracle — the seed must certify
    an exact k-th, not an approximation."""
    from blacklab_spark import engine
    from blacklab_spark.operators import wand
    monkeypatch.setattr(wand, "WAND_SEED_MIN_POSTINGS", 0)
    monkeypatch.setattr(engine, "DRIVER_TOPK_MAX_POSTINGS", 0)
    eng = engine.SearchEngine(small_engine.index)  # fresh plan cache
    for terms in (["visa"], ["the"], ["visa", "application", "good"]):
        for k in (1, 5, 10):
            expected = brute_topk(small_oracle, terms, k=k)
            got = eng.topk(terms, k=k, mode="wand").collect()
            _assert_rank_identical(
                [(r["doc_id"], r["score"]) for r in got], expected)


def test_seed_threshold_plan_has_no_window(small_engine, monkeypatch):
    """r3 What's-wrong #3: the seeded plan must contain NO window
    operator — a Window.partitionBy(term_id) funnels a stopword's
    ~10^8 bucket maxima through one task at 10^12-doc scale. The seed
    is a top-blocks decode and the prune groupBy-only (map-side
    partial aggregation, bounded task input at every stage)."""
    from blacklab_spark.operators import wand
    monkeypatch.setattr(wand, "WAND_SEED_MIN_POSTINGS", 0)
    part, n = _part(small_engine.index, ["the", "visa"])
    dbg = {}
    plan = wand.parts_scores([part], 10, None, True, n, _debug=dbg) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # and it still computes a real threshold on this corpus
    assert dbg["t0"] > 0.0


def _metadata_bound(index, terms, k) -> float:
    """The unfiltered seed the exact one replaced: the max over the
    query terms of each term's k-th largest per-bucket ``max_score``
    (0 when no term has k buckets)."""
    from pyspark.sql import functions as F
    info = index.lookup_terms(terms)
    blocks = (index.postings
              .filter(F.col("term_id").isin([int(t) for t in info["term_id"]]))
              .select("term_id", "bucket", "max_score").toPandas())
    per_bucket = blocks.groupby(["term_id", "bucket"])["max_score"].max()
    kth = [s.sort_values(ascending=False).iloc[k - 1]
           for _, s in per_bucket.groupby(level="term_id") if len(s) >= k]
    return max(kth, default=0.0)


@pytest.mark.parametrize("k", [1, 10, 25, 40])
@pytest.mark.parametrize("terms", [["the"], ["the", "visa"],
                                   ["the", "a", "good"]],
                         ids=lambda q: "-".join(q))
def test_seed_is_never_below_the_metadata_bound(small_engine, monkeypatch,
                                                k, terms):
    """The unfiltered seed decodes max(WAND_SEED_BLOCKS, k × terms)
    top blocks: each block's max_score is reached by one of its docs
    and a doc sits in at most one block per term, so its exact k-th
    is at least the k-th best bucket max of any term. Cases with
    k × terms > WAND_SEED_BLOCKS (k=25 or 40, 3 terms; k=40, 2 terms)
    need the k × terms rule. The small index has fewer than 40
    buckets, so at k=40 the bound is 0."""
    from blacklab_spark.operators import wand
    monkeypatch.setattr(wand, "WAND_SEED_MIN_POSTINGS", 0)
    index = small_engine.index
    bound = _metadata_bound(index, terms, k)
    part, n = _part(index, terms)
    dbg = {}
    wand.parts_scores([part], k, None, True, n, _debug=dbg)
    assert dbg["t0"] >= bound
    assert (bound > 0.0) == (k < 40)  # below 40, a real bound


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
