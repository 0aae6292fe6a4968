"""Inline-tag span layer (operators/tags.py; reference
SpanQueryTags.java:30, TextPatternTags)."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.engine import SearchEngine
from blacklab_spark.operators.tags import (attr_value, doc_tag_spans,
                                           strip_tags, tag_hits)
from blacklab_spark.plans.parser import parse
from blacklab_spark.plans.query import PosFilter, Tag, Term
from blacklab_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                gen_tagged_pandas,
                                                gen_transcripts_pandas,
                                                tag_markup)


@pytest.fixture(scope="module")
def tagged_engine_idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "tagged")
    pdf = gen_tagged_pandas(seed=42)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2,
                      tags=True)
    build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                out, cfg)
    return SearchEngine.open(spark, out)


@contextlib.contextmanager
def _spark_log(spark):
    """Yield a function returning what Spark logged inside the block.
    The JVM writes its log to the stderr it inherited when the session
    started, which ``capfd`` does not see, so this adds a log4j appender
    to the root logger instead."""
    jvm = spark._jvm
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = jvm.java.io.StringWriter()
    appender = jvm.org.apache.logging.log4j.core.appender.WriterAppender \
        .createAppender(jvm.org.apache.logging.log4j.core.layout
                        .PatternLayout.createDefaultLayout(),
                        None, writer, "spark-log-probe", False, True)
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        yield writer.toString
    finally:
        root.removeAppender("spark-log-probe")
        ctx.updateLoggers()
        appender.stop()


def test_spans_open_without_ignored_path_warning(spark, tagged_engine_idx):
    """``_spans`` opens through its file list: Spark logs no "All paths
    were ignored" warning, and the rows equal a read of the dir."""
    import os

    from blacklab_spark.index import open_index
    path = tagged_engine_idx.index.path
    with _spark_log(spark) as log:
        rows = sorted(open_index(spark, path).doc_spans.collect())
    assert "All paths were ignored" not in log()
    assert rows == sorted(spark.read.parquet(
        os.path.join(path, "_spans")).collect()) and rows


# -- span derivation ------------------------------------------------

def test_stack_machine_nesting_and_selfclose(spark):
    df = spark.createDataFrame(
        [(0, '<s>a <q>b <q>c</q> d</q> e</s><br/> f'),
         (1, 'plain text no tags'),
         (2, '<ne type="per">alice</ne> spoke')],
        "doc_id long, text string")
    rows = {(r["doc_id"], r["tag"], r["start"], r["end"], r["attrs"])
            for r in doc_tag_spans(df).collect()}
    assert rows == {
        (0, "s", 0, 5, ""), (0, "q", 1, 4, ""), (0, "q", 2, 3, ""),
        (0, "br", 5, 5, ""),
        (2, "ne", 0, 1, 'type="per"'),
    }


def test_stray_close_ignored(spark):
    df = spark.createDataFrame([(0, 'a</s> b <s>c d</s>')],
                               "doc_id long, text string")
    rows = [(r["tag"], r["start"], r["end"])
            for r in doc_tag_spans(df).collect()]
    assert rows == [("s", 2, 4)]


def test_strip_recovers_untagged_tokens():
    """tag_markup then strip must recover the original token stream —
    the build's spans/tokens alignment invariant."""
    plain = gen_transcripts_pandas("micro", seed=42)["text"].tolist()
    for t in plain[:10]:
        stripped = " ".join(tag_markup(t).replace("<", " <").split())
        import re
        assert re.sub(r"</?[A-Za-z][^>]*>", " ", tag_markup(t)).split() \
            == t.split()


# -- build + index handle -------------------------------------------

def test_tagged_build_artifacts(tagged_engine_idx):
    idx = tagged_engine_idx.index
    dm = idx.doc_meta
    assert "text_raw" in dm.columns
    r = dm.filter(F.col("text_raw").contains("<s>")).limit(1).collect()
    assert r, "text_raw keeps the original markup"
    # searchable text is stripped
    assert dm.filter(F.col("text").contains("<")).count() == 0
    sp = idx.doc_spans
    assert set(t["tag"] for t in
               sp.select("tag").distinct().collect()) == {"s", "ne", "br"}


def test_untagged_index_refuses_doc_spans(tiny_engine):
    with pytest.raises(ValueError, match="tags"):
        tiny_engine.index.doc_spans


def test_spans_within_doc_bounds(tagged_engine_idx):
    idx = tagged_engine_idx.index
    bad = (idx.doc_spans.join(idx.doc_meta.select("doc_id", "n_tokens"),
                              "doc_id")
           .filter((F.col("start") < 0) | (F.col("end") > F.col("n_tokens"))
                   | (F.col("start") > F.col("end"))))
    assert bad.count() == 0


# -- CQL surface ----------------------------------------------------

def test_parse_tag_leaf():
    assert parse("<s/>") == Tag("s")
    assert parse('<ne type="doc"/>') == Tag("ne", "type", "doc")
    p = parse('"visa" within <s/>')
    assert isinstance(p, PosFilter) and p.filter == Tag("s")


def test_tag_hits_attr_filter(tagged_engine_idx):
    idx = tagged_engine_idx.index
    doc_tags = tag_hits(idx, "ne", "type", "doc")
    # every <ne type="doc"> wraps the token 'visa' (tag_markup)
    joined = (doc_tags.join(idx.doc_meta.select("doc_id", "tokens"),
                            "doc_id")
              .select(F.element_at("tokens", F.col("start") + 1)
                      .alias("tok")))
    toks = {r["tok"] for r in joined.collect()}
    assert toks == {"visa"}
    assert doc_tags.count() > 0


def test_within_tag_filters_straddlers(spark, tmp_path_factory):
    """A phrase straddling a sentence boundary is dropped by
    `within <s/>`; one inside survives — crafted corpus so both cases
    are guaranteed present."""
    import datetime as dt
    import pandas as pd
    ts = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame([
        {"conv_id": "c0", "turn_idx": 0, "role": "user",
         "text": "<s>alpha beta visa</s> <s>application gamma</s>",
         "tool": None, "ts": ts},
        {"conv_id": "c0", "turn_idx": 1, "role": "user",
         "text": "<s>alpha visa application beta</s>",
         "tool": None, "ts": ts},
    ])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    out = str(tmp_path_factory.mktemp("idx") / "straddle")
    cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=1,
                      tags=True)
    build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                out, cfg)
    eng = SearchEngine.open(spark, out)
    assert eng.find('"visa" "application"').count() == 2
    within = eng.find('"visa" "application" within <s/>').collect()
    assert [(r["doc_id"], r["start"], r["end"])
            for r in within] == [(1, 1, 3)]


def test_within_tag_pushes_anchor_docs_into_spans_scan(tagged_engine_idx):
    """`phrase within <s/>` must read only the anchor docs' span row
    groups: the producer's doc ids land as a doc_id IN (...) filter on
    the _spans scan (push_hit_docs pattern)."""
    df = tagged_engine_idx.find('"visa" "application" within <s/>')
    plan = df._jdf.queryExecution().executedPlan().toString()
    # 1-element IN-lists fold to EqualTo — accept either shape
    assert "In(doc_id" in plan or "EqualTo(doc_id" in plan


def test_compact_preserves_spans(spark, tagged_engine_idx, tmp_path_factory):
    """Delete + compact on a tagged index re-derives the span layer
    from text_raw (delete.compact tags path)."""
    from blacklab_spark.delete import compact, delete_docs
    import shutil
    src = tagged_engine_idx.index.path
    work = str(tmp_path_factory.mktemp("idx") / "tagged_del")
    shutil.copytree(src, work)
    eng = SearchEngine.open(spark, work)
    before = eng.index.doc_spans.count()
    deleted = delete_docs(eng.index, "conv_id = 'conv00000'")
    assert deleted > 0
    out = str(tmp_path_factory.mktemp("idx") / "tagged_compact")
    idx2 = compact(spark, work, out)
    after = idx2.doc_spans.count()
    removed = eng.index.doc_spans.count()  # tombstone-filtered view
    assert after == removed < before
    assert "text_raw" in idx2.doc_meta.columns


def test_server_contents_serves_original_markup(tagged_engine_idx):
    """RequestHandlerDocContents serves the content store's ORIGINAL
    text — for a tags=True build, the pre-strip markup."""
    from blacklab_spark.server import BlsApp
    eng = tagged_engine_idx
    app = BlsApp(eng, corpus="tagged")
    r = eng.index.doc_meta.select("conv_id", "turn_idx", "text_raw",
                                  "text").first()
    pid = f"{r['conv_id']}:{r['turn_idx']}"
    status, ctype, body = app.handle(
        f"/blacklab-server/tagged/docs/{pid}/contents", {})
    assert status == 200 and ctype.startswith("text/plain")
    assert body == r["text_raw"]
    # the markup really is markup (stripped form differs)
    assert "<" in body or body == r["text"]


def test_tag_edge_forms(tagged_engine_idx):
    """<s> / </s> zero-width tag edges (cql.jj tag() Adjust.LEADING_
    EDGE / TRAILING_EDGE): sequencing an edge with a token yields the
    sentence-initial / sentence-final token."""
    eng = tagged_engine_idx
    spans = {(r["doc_id"], r["start"], r["end"])
             for r in eng.index.doc_spans
             .filter(F.col("tag") == "s").collect()}
    assert spans
    # zero-width leaves themselves
    lead = {(r["doc_id"], r["start"], r["end"])
            for r in eng.find("<s>").collect()}
    assert lead == {(d, s, s) for d, s, _ in spans}
    trail = {(r["doc_id"], r["start"], r["end"])
             for r in eng.find("</s>").collect()}
    assert trail == {(d, e, e) for d, _, e in spans}
    # sentence-initial / sentence-final token via sequencing
    first = {(r["doc_id"], r["start"], r["end"])
             for r in eng.find("<s> []").collect()}
    assert first == {(d, s, s + 1) for d, s, e in spans if e > s}
    last = {(r["doc_id"], r["start"], r["end"])
            for r in eng.find("[] </s>").collect()}
    assert last == {(d, e - 1, e) for d, s, e in spans if e > s}
    # sentence-initial "the" is a strict subset
    the_first = eng.find('<s> "the"').count()
    assert 0 < the_first < eng.find('"the"').count()


def test_tag_attr_int_range(spark, tmp_path_factory):
    """key=in[min,max] integer-range attribute test (cql.jj:401
    inIntegerRange → MatchValue.intRange)."""
    import datetime
    out = str(tmp_path_factory.mktemp("idx") / "ranged")
    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("r1", 0, "user", '<chunk n="3">a b c</chunk> <chunk n="7">d e</chunk>', None, ts),
        ("r1", 1, "user", '<chunk n="2">f</chunk> plain tail', None, ts),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=1,
                      tags=True)
    build_index(spark, df, out, cfg)
    eng = SearchEngine.open(spark, out)
    got = {(r["doc_id"], r["start"], r["end"])
           for r in eng.find("<chunk n=in[2,5]/>").collect()}
    assert got == {(0, 0, 3), (1, 0, 1)}
    # combined exact + range attrs must both hold
    assert eng.find('<chunk n="7" n=in[2,5]/>').count() == 0
    assert eng.find('<chunk n="7" n=in[5,9]/>').count() == 1


def test_tag_edge_seq_plan_reads_spans_and_postings_only(tagged_engine_idx,
                                                        monkeypatch):
    """'<s> "the"' physical plan: the tag edge reads the _spans
    artifact, the term reads posting blocks — doc_meta token arrays
    are never scanned (the postings-leaf guarantee survives the
    zero-width sequence join). The term's blocks decode on the driver
    (a local frame) below the hits bound, in a postings scan at 0."""
    from blacklab_spark.operators import hits
    for leaf_scan in ("LocalTableScan", "postings"):
        df = tagged_engine_idx.find('<s> "the"')
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "_spans" in plan
        assert leaf_scan in plan
        assert "doc_meta" not in plan
        monkeypatch.setattr(hits, "DRIVER_HITS_MAX_POSITIONS", 0)


def test_server_contents_highlight_through_markup(tagged_engine_idx):
    """patt= highlighting on a tags build: token positions count the
    STRIPPED text, so the char map blanks tags length-preservingly —
    <hl> wraps the right characters of the ORIGINAL markup."""
    from blacklab_spark.server import BlsApp
    eng = tagged_engine_idx
    app = BlsApp(eng, corpus="tagged")
    # pick a word with hits and a doc containing it
    hit = eng.find('"the"').first()
    assert hit is not None
    r = (eng.index.doc_meta
         .filter(F.col("doc_id") == hit["doc_id"])
         .select("conv_id", "turn_idx", "text_raw").first())
    pid = f"{r['conv_id']}:{r['turn_idx']}"
    status, _ctype, body = app.handle(
        f"/blacklab-server/tagged/docs/{pid}/contents",
        {"patt": ['"the"']})
    assert status == 200
    assert "<hl>the</hl>" in body
    # nothing else changed, markup intact
    assert body.replace("<hl>", "").replace("</hl>", "") == r["text_raw"]


def test_relations_endpoint_reports_spans(tagged_engine_idx):
    """On a tags build, /relations reports the inline-tag layer
    separately under 'spans' (the CLASS_INLINE_TAG split)."""
    import json
    from blacklab_spark.server import BlsApp
    app = BlsApp(tagged_engine_idx, corpus="tagged")
    st, _c, body = app.handle("/blacklab-server/tagged/relations", {})
    assert st == 200
    d = json.loads(body)
    assert d["spans"]
    want = {r["tag"]: r["count"] for r in
            tagged_engine_idx.index.doc_spans
            .groupBy("tag").count().collect()}
    assert d["spans"] == want
    st, _c, body = app.handle("/blacklab-server/tagged/relations",
                              {"onlyspans": ["yes"]})
    d = json.loads(body)
    assert st == 200 and "relations" not in d and d["spans"] == want
