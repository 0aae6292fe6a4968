import pytest

from blacklab_spark.oracle import phrase_hits as oracle_phrase


def _collect_hits(df):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in df.collect())


@pytest.mark.parametrize("phrase", [
    ["visa", "application"], ["very", "good"], ["the", "a"],
    ["visa", "nosuchterm"],
])
@pytest.mark.parametrize("path", ["postings", "tokens"])
def test_phrase_matches_oracle_tiny(tiny_engine, tiny_oracle, phrase, path):
    expected = oracle_phrase(tiny_oracle, phrase)
    got = _collect_hits(tiny_engine.phrase_hits(phrase, path=path))
    assert got == expected


@pytest.mark.parametrize("phrase", [["visa", "application"], ["very", "good"]])
def test_phrase_dualpath_small(small_engine, small_oracle, phrase,
                               hits_paths):
    expected = oracle_phrase(small_oracle, phrase)
    b = _collect_hits(small_engine.phrase_hits(phrase, path="tokens"))
    assert b == expected
    for _ in hits_paths:   # postings decode on the driver, then in Spark
        a = _collect_hits(small_engine.phrase_hits(phrase, path="postings"))
        assert a == expected


def test_phrase_repeated_term(tiny_engine, tiny_oracle, hits_paths):
    # "the the": the repeated word's positions decode once and feed
    # both slots of the postings kernel (no forward-index fallback)
    expected = oracle_phrase(tiny_oracle, ["the", "the"])
    for _ in hits_paths:
        got = _collect_hits(tiny_engine.phrase_hits(["the", "the"]))
        assert got == expected


@pytest.mark.parametrize("phrase", [
    ["the", "the"], ["the", "a", "the"], ["a", "a"],
])
def test_phrase_repeated_term_dualpath(tiny_engine, tiny_oracle, phrase,
                                       hits_paths):
    """Repeated-word phrases: postings intersection ≡ forward-index
    probe ≡ oracle (the multi-slot kernel must re-use one decode per
    term without slot aliasing), on both sides of the driver decode
    bound."""
    expected = oracle_phrase(tiny_oracle, phrase)
    b = _collect_hits(tiny_engine.phrase_hits(phrase, path="tokens"))
    assert b == expected
    for _ in hits_paths:
        a = _collect_hits(tiny_engine.phrase_hits(phrase, path="postings"))
        assert a == expected


def test_phrase_three_terms(small_engine, small_oracle):
    expected = oracle_phrase(small_oracle, ["visa", "application", "the"])
    got = _collect_hits(small_engine.phrase_hits(["visa", "application", "the"]))
    assert got == expected


def test_phrase_within_conversation(small_engine, small_oracle):
    """`within conversation` structural filter (SURVEY §2.A#13 — free,
    conv is a column)."""
    expected = [h for h in oracle_phrase(small_oracle, ["very", "good"])
                if small_oracle.meta[h[0]]["conv_id"] == "conv00003"]
    got = _collect_hits(small_engine.phrase_hits(
        ["very", "good"], path="tokens", conv_id="conv00003"))
    assert got == expected


def test_term_hits(tiny_engine, tiny_oracle):
    expected = sorted(
        (d, p, p + 1)
        for d, poss in tiny_oracle.postings.get("visa", {}).items()
        for p in poss)
    got = _collect_hits(tiny_engine.term_hits("visa"))
    assert got == expected


def test_phrase_shorter_doc_no_crash(spark, tmp_path):
    """Regression (ADVICE r01): a doc with fewer tokens than the phrase
    passing the array_contains prefilter crashed phrase_via_tokens with
    a descending F.sequence. 'the the' falls back to the tokens path
    and doc 'the' (1 token) must simply not match."""
    import pandas as pd
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.engine import SearchEngine
    pdf = pd.DataFrame({
        "conv_id": ["c1", "c1", "c2"],
        "turn_idx": [0, 1, 0],
        "role": ["user", "assistant", "user"],
        "text": ["the", "the the end", "empty words"],
        "tool": [None, None, None],
        "ts": pd.to_datetime(["2024-01-01"] * 3),
    })
    out = str(tmp_path / "shortdoc")
    build_index(spark, spark.createDataFrame(pdf), out,
                BuildConfig(block_size=8, bucket_size=8, num_partitions=2))
    eng = SearchEngine.open(spark, out)
    hits = sorted((r["doc_id"], r["start"], r["end"])
                  for r in eng.phrase_hits(["the", "the"]).collect())
    assert hits == [(1, 0, 2)]
    # filtered phrase query takes the tokens path too
    assert eng.phrase_hits(["the", "the"], role="user").count() == 0
