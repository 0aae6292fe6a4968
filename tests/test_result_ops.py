import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from blacklab_spark.oracle import collocations as oracle_colloc
from blacklab_spark.oracle import term_frequencies as oracle_tf


def _rarest_term(eng) -> str:
    """A term selective enough that the doc-id IN-list pushdown fires
    (len(docs) * PUSHDOWN_MIN_SELECTIVITY <= n_docs)."""
    return (eng.index.terms.orderBy("df", "term_id").limit(1)
            .collect()[0]["term"])


def test_term_frequencies(tiny_engine, tiny_oracle):
    got = {r["term"]: r["count"] for r in
           tiny_engine.term_frequencies().collect()}
    assert got == oracle_tf(tiny_oracle)


def test_collocations(tiny_engine, tiny_oracle):
    got = {r["term"]: r["count"] for r in
           tiny_engine.collocations("good", window=10).collect()}
    assert got == oracle_colloc(tiny_oracle, "good", window=10)


def test_collocations_small(small_engine, small_oracle):
    got = {r["term"]: r["count"] for r in
           small_engine.collocations("visa", window=5).collect()}
    assert got == oracle_colloc(small_oracle, "visa", window=5)


def test_group_hits_by_next_word(tiny_engine, tiny_oracle):
    """≙ reference property key after:word:i:1 (hits-grouped.js:45-46)."""
    hits = tiny_engine.term_hits("a")
    got = {r["group_key"]: r["count"] for r in
           tiny_engine.group_hits_by_context_word(hits, offset=1).collect()}
    expected: dict[str, int] = {}
    for d, poss in tiny_oracle.postings.get("a", {}).items():
        toks = tiny_oracle.tokens[d]
        for p in poss:
            if p + 1 < len(toks):
                expected[toks[p + 1]] = expected.get(toks[p + 1], 0) + 1
    assert got == expected


def test_group_hits_by_doc_field(tiny_engine, tiny_oracle):
    hits = tiny_engine.term_hits("visa")
    got = {r["group_key"]: r["count"] for r in
           tiny_engine.group_hits_by_doc_field(hits, "role").collect()}
    expected: dict[str, int] = {}
    for d, poss in tiny_oracle.postings.get("visa", {}).items():
        role = tiny_oracle.meta[d]["role"]
        expected[role] = expected.get(role, 0) + len(poss)
    assert got == expected


def test_docs_from_hits(tiny_engine, tiny_oracle):
    hits = tiny_engine.term_hits("the")
    got = {r["doc_id"]: r["n_hits"] for r in
           tiny_engine.docs_from_hits(hits).collect()}
    expected = {d: len(p) for d, p in tiny_oracle.postings["the"].items()}
    assert got == expected


def test_kwic(tiny_engine, tiny_oracle):
    hits = tiny_engine.phrase_hits(["very", "good"], path="tokens")
    rows = tiny_engine.kwic(hits, context=5).collect()
    for r in rows:
        toks = tiny_oracle.tokens[r["doc_id"]]
        s, e = r["start"], r["end"]
        assert list(r["match"]) == toks[s:e] == ["very", "good"]
        assert list(r["left"]) == toks[max(0, s - 5):s]
        assert list(r["right"]) == toks[e:e + 5]


def test_window_hits(tiny_engine):
    from blacklab_spark.operators.hits import window_hits
    hits = tiny_engine.term_hits("the")
    all_rows = sorted((r["doc_id"], r["start"]) for r in hits.collect())
    page = window_hits(hits, first=5, size=10).collect()
    got = [(r["doc_id"], r["start"]) for r in page]
    assert got == all_rows[5:15]


def test_sample_hits_deterministic(tiny_engine):
    from blacklab_spark.operators.hits import sample_hits
    hits = tiny_engine.term_hits("the")
    a = sorted(map(tuple, sample_hits(hits, 0.5, seed=7).collect()))
    b = sorted(map(tuple, sample_hits(hits, 0.5, seed=7).collect()))
    assert a == b


def test_sample_hits_content_deterministic(tiny_engine):
    """Hash-based sample: identical subset regardless of partitioning
    (df.sample's RNG sequence is partition-dependent; this is not)."""
    from blacklab_spark.operators.hits import sample_hits_deterministic
    hits = tiny_engine.term_hits("the").select("doc_id", "start", "end")
    a = sorted(map(tuple, sample_hits_deterministic(
        hits, 0.5, seed=7).collect()))
    b = sorted(map(tuple, sample_hits_deterministic(
        hits.repartition(13), 0.5, seed=7).collect()))
    assert a == b and a
    n_all = hits.count()
    assert 0.25 * n_all < len(a) < 0.75 * n_all
    c = sorted(map(tuple, sample_hits_deterministic(
        hits, 0.5, seed=8).collect()))
    assert c != a  # seed changes the subset


def test_explain(tiny_engine):
    s = tiny_engine.explain(["visa"])
    assert "WAND" in s and "visa" in s


def test_kwic_pushes_anchor_docs_into_scan(tiny_engine):
    """A rare-term KWIC must read doc_meta only for the anchor's docs:
    the hits' doc ids are pushed as a doc_id IN (...) parquet filter
    (VERDICT r02 #2 'done' criterion — mirror of the CQL postings
    plan assertion). Uses the corpus's rarest term: pushdown is
    selectivity-gated (PUSHDOWN_MIN_SELECTIVITY), so a term covering
    a large corpus fraction deliberately keeps the plain join."""
    hits = tiny_engine.term_hits(_rarest_term(tiny_engine))
    df = tiny_engine.kwic(hits, context=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a 1-element IN list constant-folds to EqualTo — both are the
    # pushed data-source filter we require
    assert "In(doc_id" in plan or "EqualTo(doc_id" in plan


def test_facade_term_hits_uses_postings(tiny_engine):
    """Unfiltered RARE-term facade term_hits must ride the postings
    leaf, never the doc_meta token-array probe (VERDICT r02 #2; hot
    terms deliberately keep the probe — see
    test_term_hits_auto_hot_term_uses_probe)."""
    from pyspark.sql import functions as F
    idx = tiny_engine.index
    rare = (idx.terms.filter(F.col("df") * 4 < idx.n_docs)
            .orderBy(F.desc("df"), "term_id").limit(1)
            .collect()[0]["term"])
    df = tiny_engine.term_hits(rare)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "postings" in plan and "doc_meta" not in plan


def test_facade_term_hits_filtered_matches_probe(tiny_engine):
    """Filtered postings-leaf hits ≡ filtered probe hits (dual path)."""
    from blacklab_spark.operators.hits import term_hits
    from pyspark.sql import functions as F
    filt = F.col("role") == "assistant"
    probe = sorted(map(tuple, term_hits(
        tiny_engine.index, "visa", filt).collect()))
    auto = sorted(map(tuple, tiny_engine.term_hits(
        "visa", role="assistant").collect()))
    assert probe == auto and probe


def test_collocations_plan_uses_postings_anchor(tiny_engine):
    """RARE-term collocations anchor via postings + pushed context
    fetch (hot terms take the single-pass probe — cost-based)."""
    from pyspark.sql import functions as F
    hapax = (tiny_engine.index.terms.filter(F.col("df") == 1)
             .orderBy("term_id").limit(1).collect()[0]["term"])
    df = tiny_engine.collocations(hapax, window=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "postings" in plan
    # a 1-element IN-list folds to EqualTo — either form is the
    # pushed anchor-doc filter
    assert "In(doc_id" in plan or "EqualTo(doc_id" in plan
    # dual path: probe-style brute equals the postings path
    from blacklab_spark.operators import hits as H
    brute = (tiny_engine.index.doc_meta
             .filter(F.array_contains("tokens", hapax))
             .select("doc_id", "tokens",
                     F.posexplode("tokens").alias("pos", "tok"))
             .filter(F.col("tok") == hapax))
    idxs = F.array_remove(
        F.sequence(F.greatest(F.lit(0), F.col("pos") - 5),
                   F.least(F.size("tokens") - 1, F.col("pos") + 5)),
        F.col("pos"))
    expected = sorted(map(tuple, brute
                          .select(F.explode(idxs).alias("i"), "tokens")
                          .select(F.element_at("tokens", F.col("i") + 1)
                                  .alias("term"))
                          .groupBy("term").count().collect()))
    got = sorted((r["term"], r["count"]) for r in df.collect())
    assert got == expected and got


def _join_topk_rows(index, scores, k):
    """The Spark-side finish: broadcast the ≤k winners into a join
    with the tombstone-filtered doc_meta, rank by a window."""
    from pyspark.sql import Window
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    top = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    meta = index.doc_meta.select("doc_id", "conv_id", "turn_idx", "text")
    out = (F.broadcast(top).join(meta, "doc_id")
           .withColumn("rank", F.row_number().over(w).cast("int"))
           .select("rank", "doc_id", "conv_id", "turn_idx", "score",
                   "text"))
    return [tuple(r) for r in out.collect()]


def test_topk_finish_equals_join(spark, tiny_index_dir, tmp_path):
    """finish_topk's driver-side metadata read returns exactly the rows
    of a Spark join against doc_meta, including on an index with
    tombstoned docs (the deleted winners drop out before the finish)."""
    import shutil
    from blacklab_spark.delete import delete_docs
    from blacklab_spark.index import open_index
    from blacklab_spark.operators.scoring import (TOPK_SCHEMA, doc_scores,
                                                  finish_topk)
    live = open_index(spark, tiny_index_dir)
    shutil.copytree(tiny_index_dir, str(tmp_path / "del"))
    dead = open_index(spark, str(tmp_path / "del"))
    victims = [r["doc_id"] for r in doc_scores(dead, ["visa", "good"])
               .orderBy(F.desc("score"), F.asc("doc_id")).limit(2)
               .collect()]
    assert delete_docs(dead, F.col("doc_id").isin(victims)) == 2
    for idx in (live, dead):
        for terms in (["visa", "good"], ["the"], ["nosuchterm"]):
            scores = doc_scores(idx, terms)
            for k in (1, 5, 10):
                df = finish_topk(idx, scores, k)
                assert df.schema == TOPK_SCHEMA
                got = [tuple(r) for r in df.collect()]
                assert got == _join_topk_rows(idx, scores, k)
                assert len(got) == (0 if terms == ["nosuchterm"] else k)
                if idx is dead:
                    assert not {r[1] for r in got} & set(victims)


def test_topk_finish_opens_winner_files_only(spark, tiny_index_dir,
                                              tmp_path):
    """A top-k reads metadata from only the doc_meta files whose doc-id
    range holds a winner: after one query has read the footers, every
    other doc_meta file is removed and a new query still finishes."""
    import glob
    import os
    import shutil
    from blacklab_spark.index import open_index
    from blacklab_spark.operators.scoring import doc_scores, finish_topk
    d = str(tmp_path / "idx")
    shutil.copytree(tiny_index_dir, d)
    idx = open_index(spark, d)
    files = sorted(glob.glob(os.path.join(d, "doc_meta", "*.parquet")))
    assert len(files) > 1
    want = [tuple(r) for r in
            finish_topk(idx, doc_scores(idx, ["visa"]), 1).collect()]
    assert want == _join_topk_rows(idx, doc_scores(idx, ["visa"]), 1)
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        if want[0][1] not in ids:
            os.remove(f)
    assert len(glob.glob(os.path.join(d, "doc_meta", "*.parquet"))) == 1
    got = finish_topk(idx, doc_scores(idx, ["visa"]), 1).collect()
    assert [tuple(r) for r in got] == want


def test_window_hits_plan_take_ordered(tiny_engine):
    """Paging must compile to TakeOrderedAndProject (per-partition
    top-N, merged on the driver) — not a single-partition global
    window (VERDICT r01 #9 'done' criterion)."""
    from blacklab_spark.operators.hits import window_hits
    df = window_hits(tiny_engine.term_hits("the"), 5, 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_wand_block_prune_reaches_parquet_scan(tiny_engine):
    """Single-term WAND: the max_score >= t0 block filter must land on
    the postings parquet scan (row-group pruning — pruned payloads are
    never materialized)."""
    from blacklab_spark.operators.wand import wand_scores
    df = wand_scores(tiny_engine.index, ["visa"], k=2, seed=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "max_score" in plan


def test_term_hits_auto_hot_term_uses_probe(tiny_engine):
    """Hot terms (df·4 ≥ n_docs) keep the forward-index probe: most
    docs carry the term anyway, and the JVM-side posexplode beats
    shipping the decoded hot postings through the Arrow kernel (the
    collocations cost rule, applied to the facade term leaf). Dual
    path: probe ≡ postings decode."""
    from pyspark.sql import functions as F
    import pytest
    idx = tiny_engine.index
    hot = (idx.terms.filter(F.col("df") * 4 >= idx.n_docs)
           .orderBy(F.desc("df"), "term_id").limit(1).collect())
    if not hot:
        pytest.skip("no hot term in fixture")
    term = hot[0]["term"]
    df = tiny_engine.term_hits(term)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "doc_meta" in plan
    from blacklab_spark.operators.hits import term_hits_via_postings
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, term_hits_via_postings(idx, term).collect()))
    assert a == b and a


def test_push_hit_docs_bounded_fallback(tiny_engine):
    """push_hit_docs must short-circuit (non-distinct CollectLimit)
    and fall back to the plain scan when the hit count exceeds the
    bound; under the bound it pushes a doc_id IN filter."""
    from blacklab_spark.operators.hits import push_hit_docs
    idx = tiny_engine.index
    hits = tiny_engine.find("[]")       # every token position
    dm = idx.doc_meta.select("doc_id", "tokens")
    over = push_hit_docs(hits, dm, max_docs=1)
    assert "In(doc_id" not in \
        over._jdf.queryExecution().executedPlan().toString()
    under = push_hit_docs(hits.limit(2), dm, max_docs=10)
    p = under._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" in p or "EqualTo(doc_id" in p


def test_concordances_match_kwic(tiny_engine):
    """Content-store concordances (Concordances.java analog): the
    original-text fragments re-tokenize to exactly the KWIC token
    windows, and match covers the hit span verbatim."""
    from blacklab_spark.operators.hits import concordances
    from blacklab_spark.tokenizer import py_tokens_insensitive
    hits = tiny_engine.phrase_hits(["very", "good"], path="tokens")
    conc = {(r["doc_id"], r["start"], r["end"]): r
            for r in concordances(tiny_engine.index, hits,
                                  context=3).collect()}
    krows = tiny_engine.kwic(hits, context=3).collect()
    assert len(conc) == len(krows) > 0
    for k in krows:
        c = conc[(k["doc_id"], k["start"], k["end"])]
        assert py_tokens_insensitive(c["match"]) == list(k["match"])
        assert py_tokens_insensitive(c["left"]) == list(k["left"])
        assert py_tokens_insensitive(c["right"]) == list(k["right"])
        assert (c["conv_id"], c["turn_idx"]) == \
            (k["conv_id"], k["turn_idx"])


def test_push_hit_docs_selectivity_gate(tiny_engine):
    """A doc set covering too large a corpus fraction must NOT become
    an IN-list: building Column.isin at 15k ids took 13s of Py4J
    marshalling alone, and the unselective scan filter ran 6x slower
    than the plain join it was meant to beat (measured, hits.py
    PUSHDOWN_MIN_SELECTIVITY). The hot term falls back (same frame
    returned); the rarest term still pushes down, and both paths
    return identical groups."""
    from blacklab_spark.operators.hits import push_hit_docs
    idx = tiny_engine.index
    dm = idx.doc_meta.select("doc_id", "tokens")

    hot = push_hit_docs(tiny_engine.term_hits("a"), dm, n_docs=idx.n_docs)
    assert hot is dm

    rare_hits = tiny_engine.term_hits(_rarest_term(tiny_engine))
    rare = push_hit_docs(rare_hits, dm, n_docs=idx.n_docs)
    assert rare is not dm
    pushed = {(r["doc_id"],) for r in
              rare.select("doc_id").distinct().collect()}
    plain = {(r["doc_id"],) for r in
             rare_hits.select("doc_id").distinct().collect()}
    assert plain <= pushed


def test_push_hit_docs_empty_hits(tiny_engine):
    """Zero hits → always-false filter, not a ``IN ()`` parse error
    (isin([]) semantics)."""
    from blacklab_spark.operators.hits import push_hit_docs
    idx = tiny_engine.index
    empty = tiny_engine.spark.createDataFrame(
        [], "doc_id long, start int, end int")
    out = push_hit_docs(empty, idx.doc_meta.select("doc_id"),
                        n_docs=idx.n_docs)
    assert out.count() == 0


def test_group_by_context_hot_term_avoids_in_list(tiny_engine):
    """group_hits_by_context_word over a hot term must not carry a
    giant IN(...) in its plan (the q10 regression: 14.6s vs 1.1s)."""
    hits = tiny_engine.term_hits("a")
    df = tiny_engine.group_hits_by_context_word(hits, offset=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" not in plan


def test_concordances_pushdown_plan(tiny_engine):
    """The content fetch reads only the hits' docs (doc_id pushed
    into the scan; rare term — pushdown is selectivity-gated)."""
    from blacklab_spark.operators.hits import concordances
    hits = tiny_engine.term_hits(_rarest_term(tiny_engine))
    plan = concordances(tiny_engine.index, hits)._jdf \
        .queryExecution().executedPlan().toString()
    assert "In(doc_id" in plan or "EqualTo(doc_id" in plan


def test_kwic_multi_annotation(tiny_engine, tiny_oracle):
    """Multi-annotation KWIC: extra layers slice the SAME windows;
    lemma (multi-value) displays its primary value."""
    import pytest
    from blacklab_spark.annotations import py_pos_tag
    from blacklab_spark.operators.hits import kwic
    hits = tiny_engine.term_hits("visa")
    rows = kwic(tiny_engine.index, hits, context=3,
                annotations=("pos", "lemma")).collect()
    assert rows
    for r in rows:
        toks = tiny_oracle.tokens[r["doc_id"]]
        s, e = r["start"], r["end"]
        assert list(r["match"]) == toks[s:e] == ["visa"]
        assert list(r["match_pos"]) == [py_pos_tag("visa")]
        assert list(r["left_pos"]) == [py_pos_tag(t)
                                       for t in toks[max(0, s - 3):s]]
        # lemma primary value of an unstemmable token = the token
        assert list(r["match_lemma"]) == ["visa"]
        assert len(r["right_lemma"]) == len(r["right"])
    with pytest.raises(ValueError):
        kwic(tiny_engine.index, hits, annotations=("bogus",)).collect()
