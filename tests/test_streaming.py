"""Incremental/streaming ingestion: delta append, Structured Streaming
sink, query-time merge ≡ compacted rebuild."""

import glob
import os
import shutil

import pytest

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.engine import SearchEngine
from blacklab_spark.delete import compact
from blacklab_spark.streaming.ingest import (DeltaSearchEngine, append_delta,
                                             stream_ingest)


@pytest.fixture()
def split_fixture(spark, tiny_pdf, tmp_path):
    root = str(tmp_path / "stream")
    os.makedirs(root)
    cfg = BuildConfig(block_size=16, bucket_size=32, num_partitions=2)
    parts = {c: tiny_pdf[tiny_pdf.conv_id == c]
             for c in ("conv00000", "conv00001", "conv00002")}
    build_index(spark, spark.createDataFrame(parts["conv00000"]),
                f"{root}/main", cfg)
    return root, cfg, parts


def test_append_delta_and_merge_equals_compacted(spark, split_fixture,
                                                 topk_paths):
    root, cfg, parts = split_fixture
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00001"]), cfg, "d1")
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00002"]), cfg, "d2")
    dse = DeltaSearchEngine(spark, f"{root}/main")
    compact(spark, f"{root}/main", f"{root}/compacted", cfg)
    ceng = SearchEngine.open(spark, f"{root}/compacted")
    for _ in topk_paths:
        merged = [(r["doc_id"], r["score"]) for r in
                  dse.topk(["visa"], k=8).collect()]
        crows = [(r["doc_id"], r["score"]) for r in
                 ceng.topk(["visa"], k=8, mode="exhaustive").collect()]
        # same global BM25 stats → identical scores; doc ids may be
        # permuted between id spaces, so compare score sequences
        assert [round(s, 9) for _, s in merged] == \
            [round(s, 9) for _, s in crows]
    assert dse.n_docs == ceng.index.n_docs


def test_delta_wand_equals_exhaustive(spark, split_fixture, monkeypatch,
                                      topk_paths):
    """Delta-engine block-pruned path ≡ exhaustive path, unfiltered
    and filtered (VERDICT r02 #7 'done' criterion — the delta path now
    carries the same dual-path guarantee as the main engine). The
    seed gate is lowered to 0 so the seeded, pruned plan runs on this
    tiny corpus."""
    from blacklab_spark.operators import wand
    monkeypatch.setattr(wand, "WAND_SEED_MIN_POSTINGS", 0)
    root, cfg, parts = split_fixture
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00001"]), cfg, "d1")
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00002"]), cfg, "d2")
    dse = DeltaSearchEngine(spark, f"{root}/main")
    for _ in topk_paths:
        for kw in ({}, {"role": "assistant"}):
            w = [(r["doc_id"], round(r["score"], 9)) for r in
                 dse.topk(["visa", "good"], k=6, mode="wand",
                          **kw).collect()]
            e = [(r["doc_id"], round(r["score"], 9)) for r in
                 dse.topk(["visa", "good"], k=6, mode="exhaustive",
                          **kw).collect()]
            assert w == e and w


def test_delta_wand_keeps_live_docs_of_part_with_tombstones(
        spark, split_fixture, monkeypatch, topk_paths):
    """A part with tombstones feeds its live doc_meta rows to the
    kernel as the allowed set before the local top-k cut. Cutting
    first and anti-joining the tombstones after let a deleted doc take
    a bucket's slot: with main docs 2 and 27 deleted, top-2 came back
    [42, 106] instead of [42, 29], and top-3 held 106 instead of 21
    (21 and 106 tie; the lower doc id wins)."""
    from blacklab_spark.delete import delete_docs
    from blacklab_spark.index import open_index
    from blacklab_spark.operators import wand
    root, cfg, parts = split_fixture
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00001"]), cfg, "d1")
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00002"]), cfg, "d2")
    assert delete_docs(open_index(spark, f"{root}/main"),
                       "doc_id IN (2, 27)") == 2
    dse = DeltaSearchEngine(spark, f"{root}/main")
    terms = ["visa", "good"]

    def top(k, mode):
        return [(r["doc_id"], r["score"]) for r in
                dse.topk(terms, k=k, mode=mode).collect()]

    seed_gate = wand.WAND_SEED_MIN_POSTINGS
    for path in topk_paths:
        want = {k: top(k, "exhaustive") for k in (1, 2, 3, 5, 8)}
        assert [d for d, _ in want[2]] == [42, 29]
        assert 21 in {d for d, _ in want[3]}
        for gate in (seed_gate, 0):  # unseeded, seeded
            monkeypatch.setattr(wand, "WAND_SEED_MIN_POSTINGS", gate)
            for k, expected in want.items():
                got = top(k, "wand")
                assert [d for d, _ in got] == [d for d, _ in expected], \
                    (path, gate, k)
                assert [s for _, s in got] == [s for _, s in expected]
                assert not {2, 27} & {d for d, _ in got}


def test_append_delta_idempotent(spark, split_fixture):
    root, cfg, parts = split_fixture
    p1 = append_delta(spark, f"{root}/main",
                      spark.createDataFrame(parts["conv00001"]), cfg, "dd")
    p2 = append_delta(spark, f"{root}/main",
                      spark.createDataFrame(parts["conv00001"]), cfg, "dd")
    assert p1 == p2
    assert len(os.listdir(os.path.join(root, "main", "_deltas"))) == 1


def test_stream_ingest_available_now(spark, split_fixture):
    root, cfg, parts = split_fixture
    src = f"{root}/incoming"
    os.makedirs(src)
    tmp = f"{root}/_stage"
    spark.createDataFrame(parts["conv00001"]).coalesce(1) \
        .write.mode("overwrite").parquet(tmp)
    for f in glob.glob(f"{tmp}/*.parquet"):
        shutil.move(f, os.path.join(src, os.path.basename(f)))
    q = stream_ingest(spark, src, f"{root}/main", f"{root}/ckpt", cfg)
    q.awaitTermination(180)
    deltas = os.listdir(os.path.join(root, "main", "_deltas"))
    assert any(d.startswith("batch") for d in deltas)
    dse = DeltaSearchEngine(spark, f"{root}/main")
    assert dse.n_docs == len(parts["conv00000"]) + len(parts["conv00001"])


def test_delta_find_cql_equals_compacted(spark, split_fixture, hits_paths):
    """CQL over main + deltas ≡ the compacted rebuild's hits —
    per-part plan execution with offset-shifted global ids (parts
    appended in conv order ⇒ ids equal the one-shot build's), with the
    postings decoded on the driver and in Spark."""
    root, cfg, parts = split_fixture
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00001"]), cfg, "d1")
    append_delta(spark, f"{root}/main",
                 spark.createDataFrame(parts["conv00002"]), cfg, "d2")
    dse = DeltaSearchEngine(spark, f"{root}/main")
    compact(spark, f"{root}/main", f"{root}/compacted2", cfg)
    ceng = SearchEngine.open(spark, f"{root}/compacted2")
    for _ in hits_paths:
        for q in ['"visa"', '"visa" [] "application"', '"the"+',
                  '[pos="noun"]', '"very" "good"']:
            got = sorted(map(tuple, dse.find(q)
                             .select("doc_id", "start", "end").collect()))
            want = sorted(map(tuple, ceng.find(q)
                              .select("doc_id", "start", "end").collect()))
            assert got == want, q
        assert sorted(map(tuple, dse.find('"visa"').collect()))


def test_streaming_windowed_term_counts(spark, tmp_path):
    """Watermarked windowed term counts (streaming/term_stats.py):
    append mode emits a window exactly once, when the watermark
    passes its end; emitted rows equal the batch aggregation over the
    same events. Late-data contract: the second batch's events
    advance the watermark and flush the first window."""
    import datetime as dt

    import pandas as pd

    from blacklab_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from blacklab_spark.streaming.term_stats import (
        stream_term_counts, windowed_term_counts)

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def turns(conv, ts, texts):
        return pd.DataFrame([{
            "conv_id": conv, "turn_idx": i, "role": "user",
            "text": t, "tool": None, "ts": ts}
            for i, t in enumerate(texts)])

    t0 = dt.datetime(2026, 1, 1, 10, 15)
    batch1 = turns("c1", t0, ["visa visa application", "the visa"])
    spark.createDataFrame(batch1, TRANSCRIPT_SCHEMA) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(src / "f1.parquet"))
    q = stream_term_counts(spark, str(src) + "/*", out, ckpt,
                           window="1 hour", watermark="30 minutes")
    q.awaitTermination()
    # events far past the first window's end + watermark
    t1 = dt.datetime(2026, 1, 1, 14, 0)
    spark.createDataFrame(turns("c2", t1, ["table talk"]),
                          TRANSCRIPT_SCHEMA) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(src / "f2.parquet"))
    q = stream_term_counts(spark, str(src) + "/*", out, ckpt,
                           window="1 hour", watermark="30 minutes")
    q.awaitTermination()

    got = {(r["win_start"], r["term"]): r["count"]
           for r in spark.read.parquet(out).collect()}
    # batch oracle over the SAME first-batch events
    want_df = windowed_term_counts(
        spark.createDataFrame(batch1, TRANSCRIPT_SCHEMA),
        window="1 hour")
    want = {(r["win_start"], r["term"]): r["count"]
            for r in want_df.collect()}
    assert want  # the 10:00-11:00 window with visa=3, the=1, ...
    for k, v in want.items():
        assert got.get(k) == v, (k, v, got)
    # the 14:00 window is still open → not emitted yet
    assert all(ws.hour == 10 for ws, _ in got)


def test_streaming_dedup_equals_offline(spark, tmp_path):
    """Incremental streaming MinHash-LSH (streaming/dedup.py): docs
    arrive in three micro-batches; union of emitted pairs equals the
    offline all-pairs minhash_lsh_pairs over the full corpus —
    including cross-batch pairs (a planted dup split across batches)
    and replay idempotency (re-running the stream adds nothing)."""
    import os

    from pyspark.sql import functions as F

    from blacklab_spark.functions.dedup import minhash_lsh_pairs
    from blacklab_spark.streaming.dedup import dedup_pairs, stream_dedup

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .select("doc_id", "text"))
    offline = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert offline  # planted near-dups exist

    src = tmp_path / "src"
    src.mkdir()
    state, out, ckpt = (str(tmp_path / d)
                        for d in ("state", "out", "ckpt"))
    n = docs.agg(F.max("doc_id")).collect()[0][0]
    cuts = [(0, n // 3), (n // 3 + 1, 2 * n // 3), (2 * n // 3 + 1, n)]
    for i, (lo, hi) in enumerate(cuts):
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(src / f"f{i}.parquet")))
        q = stream_dedup(spark, str(src) + "/*", state, out, ckpt,
                         schema="doc_id long, text string",
                         threshold=0.5)
        q.awaitTermination()
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup_pairs(spark, out).collect()}
    assert got == offline
    # at least one pair crosses batches (else the test is vacuous)
    def batch_of(i):
        return next(k for k, (lo, hi) in enumerate(cuts)
                    if lo <= i <= hi)
    assert any(batch_of(a) != batch_of(b) for a, b in got)
    # replay: restarting the stream over the same source is a no-op
    q = stream_dedup(spark, str(src) + "/*", state, out, ckpt,
                     schema="doc_id long, text string", threshold=0.5)
    q.awaitTermination()
    got2 = {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup_pairs(spark, out).collect()}
    assert got2 == got
    # state holds one subdir per batch, nothing duplicated
    assert sorted(d for d in os.listdir(state)
                  if d.startswith("batch=")) \
        == [f"batch={i:08d}" for i in range(3)]


def test_streaming_conversation_sessions_equal_batch_oracle(
        spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState,
    EventTimeTimeout): streamed closed sessions equal the batch
    F.session_window oracle over the same events — two unrelated
    mechanisms, identical rows. Sessions close only when the
    watermark passes last_ts + gap (the second trigger's far-future
    event advances it); a conversation with turns spanning > gap
    splits into two sessions."""
    import datetime as dt

    import pandas as pd

    from blacklab_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from blacklab_spark.streaming.sessions import (
        batch_sessions, stream_sessions)

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    t0 = dt.datetime(2026, 1, 1, 10, 0)

    def turn(conv, idx, role, text, minutes):
        return {"conv_id": conv, "turn_idx": idx, "role": role,
                "text": text, "tool": None,
                "ts": t0 + dt.timedelta(minutes=minutes)}

    rows = [
        # c1: one 3-turn session
        turn("c1", 0, "user", "visa application please", 0),
        turn("c1", 1, "assistant", "here is the form", 5),
        turn("c1", 2, "user", "thanks", 9),
        # c2: two sessions split by a 90-minute silence
        turn("c2", 0, "user", "hello there", 0),
        turn("c2", 1, "assistant", "hi", 2),
        turn("c2", 2, "user", "back again with more", 92),
    ]
    events = spark.createDataFrame(pd.DataFrame(rows), TRANSCRIPT_SCHEMA)
    events.coalesce(1).write.mode("overwrite") \
        .parquet(str(src / "f1.parquet"))
    q = stream_sessions(spark, str(src) + "/*", out, ckpt,
                        gap="30 minutes")
    q.awaitTermination()
    # far-future sentinel conversation advances the watermark past
    # every session's last_ts + gap, flushing all of them
    sentinel = [turn("zz", 0, "user", "tick", 24 * 60)]
    spark.createDataFrame(pd.DataFrame(sentinel), TRANSCRIPT_SCHEMA) \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(src / "f2.parquet"))
    q = stream_sessions(spark, str(src) + "/*", out, ckpt,
                        gap="30 minutes")
    q.awaitTermination()

    cols = ("conv_id", "n_turns", "n_tokens", "n_user", "n_assistant",
            "first_ts", "last_ts")
    got = sorted(tuple(r[c] for c in cols)
                 for r in spark.read.parquet(out).collect())
    want = sorted(tuple(r[c] for c in cols)
                  for r in batch_sessions(events, "30 minutes").collect())
    assert got == want
    assert len(got) == 3                       # c1×1, c2×2; zz still open
    by_conv = {}
    for g in got:
        by_conv.setdefault(g[0], []).append(g)
    assert len(by_conv["c2"]) == 2
    assert by_conv["c1"][0][1:5] == (3, 8, 2, 1)
