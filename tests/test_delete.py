"""Document delete (tombstones) + compaction — IndexTool delete
analog (reference: tools/.../IndexTool.java:65, Lucene tombstones)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.delete import compact, delete_docs
from blacklab_spark.engine import SearchEngine
from blacklab_spark.index import open_index
from blacklab_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                gen_conllu_texts,
                                                gen_tagged_pandas,
                                                gen_transcripts_pandas)
from blacklab_spark.streaming.ingest import append_delta


@pytest.fixture(scope="module")
def del_engine(spark, tmp_path_factory):
    """A private tiny index (deletes mutate state — never share the
    session-scoped fixtures)."""
    out = str(tmp_path_factory.mktemp("idx") / "deletable")
    pdf = gen_transcripts_pandas("tiny", seed=42)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=4)
    build_index(spark, spark.createDataFrame(pdf), out, cfg)
    return SearchEngine.open(spark, out)


def test_delete_hides_docs_everywhere(del_engine, topk_paths, hits_paths):
    eng = del_engine
    idx = eng.index
    before_docs = idx.doc_meta.count()
    pre = {r["doc_id"]: r["score"]
           for r in eng.scores(["visa"]).collect()}

    victims = {r["doc_id"] for r in
               idx.doc_meta.filter(F.col("conv_id") == "conv00001")
               .select("doc_id").collect()}
    n = delete_docs(idx, "conv_id = 'conv00001'")
    assert n == len(victims) > 0
    assert idx.doc_meta.count() == before_docs - n

    # postings term hits, phrase, fixed-gap phrase, CQL — no victims,
    # and the same hits from the driver decode and the Spark plans
    found = {}
    for path in hits_paths:
        found[path] = [sorted(map(tuple, df.collect())) for df in (
            eng.find('"visa"'),
            eng.phrase_hits(["very", "good"], path="postings"),
            eng.find('"very" "good"'), eng.find('"the" [] "visa"'))]
        for rows in found[path]:
            assert not ({r[0] for r in rows} & victims)
    assert found["driver"] == found["spark"] and all(found["driver"])

    for _ in topk_paths:
        # BM25 (both modes) — no victims
        for mode in ("wand", "exhaustive"):
            got = {r["doc_id"] for r in
                   eng.topk(["visa"], k=50, mode=mode).collect()}
            assert not (got & victims)

        # dual-path identity holds under deletes
        a = [(r["doc_id"], r["score"]) for r in
             eng.topk(["visa"], k=20, mode="wand").collect()]
        b = [(r["doc_id"], r["score"]) for r in
             eng.topk(["visa"], k=20, mode="exhaustive").collect()]
        assert [x[0] for x in a] == [x[0] for x in b]
        for x, y in zip(a, b):
            assert x[1] == pytest.approx(y[1], abs=1e-12)

    # Lucene-tombstone semantics: surviving docs keep their PRE-delete
    # scores (stats stay stale until compaction)
    post = {r["doc_id"]: r["score"]
            for r in eng.scores(["visa"]).collect()}
    for d, s in post.items():
        assert s == pytest.approx(pre[d], abs=1e-12)

    # idempotent: re-deleting adds nothing
    assert delete_docs(idx, "conv_id = 'conv00001'") == 0


def test_compact_equals_fresh_build(spark, tmp_path, del_engine,
                                    topk_paths):
    """compact(expunge tombstones) ≡ building from the surviving
    corpus: same stats, rank/score-identical queries."""
    eng = del_engine
    out = str(tmp_path / "compacted")
    cidx = compact(spark, eng.index.path, out)
    ceng = SearchEngine(cidx)

    fresh_out = str(tmp_path / "fresh")
    pdf = gen_transcripts_pandas("tiny", seed=42)
    surv = spark.createDataFrame(pdf).filter(F.col("conv_id") != "conv00001")
    build_index(spark, surv, fresh_out, cidx.cfg)
    feng = SearchEngine.open(spark, fresh_out)

    assert cidx.n_docs == feng.index.n_docs
    assert cidx.avgdl == pytest.approx(feng.index.avgdl, abs=1e-12)
    for _ in topk_paths:
        a = [(r["conv_id"], r["turn_idx"], r["score"]) for r in
             ceng.topk(["visa", "good"], k=20).collect()]
        b = [(r["conv_id"], r["turn_idx"], r["score"]) for r in
             feng.topk(["visa", "good"], k=20).collect()]
        assert a == b and a


def test_delete_visible_through_delta_engine(spark, tmp_path, topk_paths):
    """Tombstones on a part are honored by the delta-merged engine and
    expunged by compaction."""
    from blacklab_spark.streaming.ingest import (DeltaSearchEngine,
                                                 append_delta)
    from blacklab_spark.index import open_index
    main = str(tmp_path / "main")
    pdf = gen_transcripts_pandas("micro", seed=42)
    cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
    sdf = spark.createDataFrame(pdf)
    build_index(spark, sdf.filter(F.col("conv_id") != "conv00002"),
                main, cfg)
    append_delta(spark, main,
                 sdf.filter(F.col("conv_id") == "conv00002"), cfg)
    idx = open_index(spark, main)
    victims = {r["doc_id"] for r in
               idx.doc_meta.filter(F.col("conv_id") == "conv00000")
               .select("doc_id").collect()}
    assert delete_docs(idx, "conv_id = 'conv00000'") == len(victims) > 0

    deng = DeltaSearchEngine(spark, main)
    for _ in topk_paths:
        got = {r["doc_id"] for r in deng.topk(["visa"], k=50).collect()}
        assert got and not (got & victims)

    out = str(tmp_path / "compacted_stream")
    compact(spark, main, out, cfg)
    ceng = SearchEngine.open(spark, out)
    assert ceng.index.doc_meta.filter(
        F.col("conv_id") == "conv00000").count() == 0
    assert ceng.index.doc_meta.filter(
        F.col("conv_id") == "conv00002").count() > 0


def test_compact_carries_stored_relations(spark, tmp_path):
    """compact() must carry the stored _relations artifact across the
    rebuild with doc ids remapped — it used to silently drop real
    dependency edges (they are not derivable from doc_meta)."""
    import os
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.delete import compact, delete_docs
    from blacklab_spark.index import open_index
    from blacklab_spark.sources.files import read_conllu
    from blacklab_spark.sources.transcripts import gen_conllu_texts
    src = str(tmp_path / "conllu_src")
    os.makedirs(src)
    for name, content in gen_conllu_texts(seed=42).items():
        with open(os.path.join(src, name), "w") as fh:
            fh.write(content)
    out = str(tmp_path / "idx")
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2)
    build_index(spark, read_conllu(spark, src), out, cfg)
    idx = open_index(spark, out)
    # delete one conversation, then compact
    victim = idx.doc_meta.select("conv_id").first()["conv_id"]
    delete_docs(idx, f"conv_id = '{victim}'")
    new = compact(spark, out, str(tmp_path / "idx2"))
    stored = new.doc_relations_stored
    assert stored is not None
    # expected: surviving edges with ids remapped via (conv, turn)
    old_edges = (idx.doc_relations_stored
                 .join(idx.doc_meta.select("doc_id", "conv_id",
                                           "turn_idx"), "doc_id")
                 .drop("doc_id"))
    new_edges = (stored
                 .join(new.doc_meta.select("doc_id", "conv_id",
                                           "turn_idx"), "doc_id")
                 .drop("doc_id"))
    a = sorted(map(tuple, old_edges.collect()))
    b = sorted(map(tuple, new_edges.collect()))
    assert a == b and b
    assert not any(r[-2] == victim for r in b)  # victim's edges gone


# Each shape runs a different leaf or combinator of the span engine.
FIND_SHAPES = [
    '"visa"',                                   # term
    '"visa" "application"',                     # phrase
    '"good" []{0,2} "visa"',                    # gapped sequence
    '[]{2}',                                    # any-token repetition
    '[word="vis.*"]',                           # regex expansion
    '"visa"~1',                                 # fuzzy expansion
    '"visa" | "good"',                          # OR
    '"visa" within "visa" "application"',       # within
    'A:"the" B:[] :: A.word != B.word',         # global constraint
    '"the" "the"',                              # repeated term
    '"the"{1,3}',                               # bounded repetition
    '([]{3,3}) containing "visa"',              # containing
    '[word_s="visa"]',                          # sensitive layer probe
    '[pos="noun"]',                             # derived annotation layer
]


@pytest.mark.parametrize("cql", FIND_SHAPES)
def test_find_returns_no_tombstoned_doc(del_engine, cql):
    """``find`` is tombstone-free on its own: postings leaves and every
    doc_meta/_spans/edge read are filtered, so callers (the delta
    engine included) add no anti-join of their own."""
    delete_docs(del_engine.index, "conv_id = 'conv00001'")
    victims = {r["doc_id"] for r in
               del_engine.index.deleted_doc_ids.collect()}
    got = {r["doc_id"] for r in
           del_engine.find(cql).select("doc_id").distinct().collect()}
    assert victims and got
    assert not (got & victims)


def _survivor_rows(spark, out):
    """What a compaction must reproduce: terms rows, decoded postings,
    stored doc_meta rows and column names, span/relation rows keyed by
    (conv_id, turn_idx), and the manifest config."""
    from blacklab_spark import codec
    idx = open_index(spark, out)
    term_of = {r["term_id"]: r["term"] for r in idx.terms.collect()}
    postings = set()
    for r in idx.postings.collect():
        docs = codec.decode_deltas(r["doc_ids"]).astype(int)
        tfs = codec.decode_varints(r["tfs"]).astype(int)
        dls = codec.decode_varints(r["dls"]).astype(int)
        poss = codec.decode_positions(r["positions"], r["n_docs"])
        for d, tf, dl, pos in zip(docs, tfs, dls, poss):
            postings.add((term_of[r["term_id"]], int(d), int(tf), int(dl),
                          tuple(pos.astype(int).tolist())))
    keys = idx.doc_meta.select("doc_id", "conv_id", "turn_idx")
    layers = {}
    for name, df in (("spans", idx.doc_spans if idx.cfg.tags else None),
                     ("relations", idx.doc_relations_stored)):
        if df is not None:
            layers[name] = sorted(map(tuple, df.join(keys, "doc_id")
                                      .drop("doc_id").collect()))
    with open(os.path.join(out, "_index_meta.json")) as f:
        config = json.load(f)["config"]
    stored = spark.read.parquet(os.path.join(out, "doc_meta"))
    return {"terms": sorted(map(tuple, idx.terms.collect())),
            "postings": postings,
            "doc_meta": sorted(map(tuple, stored.collect())),
            "doc_meta_stored": sorted(idx.doc_meta_stored),
            "layers": layers, "config": config,
            "stats": idx.meta["stats"]}


def _compaction_corpus(spark, kind, tmp_path):
    cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
    if kind == "plain":
        pdf = gen_transcripts_pandas("micro", seed=42)
        return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), cfg
    if kind == "tags":
        pdf = gen_tagged_pandas(seed=42)
        return (spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                BuildConfig(block_size=8, bucket_size=8, num_partitions=2,
                            tags=True))
    from blacklab_spark.sources.files import read_conllu
    src = tmp_path / "conllu_src"
    src.mkdir()
    for name, content in gen_conllu_texts(seed=42).items():
        (src / name).write_text(content)
    return read_conllu(spark, str(src)).cache(), cfg


@pytest.mark.parametrize("kind", ["plain", "tags", "conllu"])
def test_compact_equals_fresh_build_with_deltas(spark, tmp_path, kind):
    """Main + a delta, a conversation tombstoned in main and one in the
    delta: ``compact`` equals a fresh build of the surviving docs on
    every artifact a query reads, and keeps the main index's config
    (the delta takes it too, through ``append_delta``'s default)."""
    df, cfg = _compaction_corpus(spark, kind, tmp_path)
    convs = sorted(r["conv_id"] for r in
                   df.select("conv_id").distinct().collect())
    assert len(convs) >= 3
    # turns split across the parts, so both parts hold every
    # conversation and the compaction must interleave them
    lo, hi = df.agg(F.min("turn_idx"), F.max("turn_idx")).first()
    cut = lo + (hi - lo + 1) // 2
    main = str(tmp_path / "main")
    build_index(spark, df.filter(F.col("turn_idx") < cut), main, cfg)
    delta = append_delta(spark, main, df.filter(F.col("turn_idx") >= cut))
    assert delete_docs(open_index(spark, main),
                       f"conv_id = '{convs[0]}'") > 0
    assert delete_docs(open_index(spark, delta),
                       f"conv_id = '{convs[1]}'") > 0

    out = str(tmp_path / "compacted")
    compact(spark, main, out)
    fresh = str(tmp_path / "fresh")
    survivors = df.filter(~(
        (F.col("conv_id") == convs[0]) & (F.col("turn_idx") < cut)
        | (F.col("conv_id") == convs[1]) & (F.col("turn_idx") >= cut)))
    build_index(spark, survivors, fresh, cfg)

    got, want = _survivor_rows(spark, out), _survivor_rows(spark, fresh)
    assert want["postings"] and want["doc_meta"]
    if kind != "plain":
        assert want["layers"] and all(want["layers"].values())
    for key in want:
        assert got[key] == want[key], key
