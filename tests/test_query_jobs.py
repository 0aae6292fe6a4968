"""Spark jobs on the query path: exact-term lookups read the terms
dictionary on the driver, a top-k with few postings scores on the
driver and every top-k attaches its winners' rows there, and a BLS
/hits page reads its KWIC and docInfos on the driver, so none pays a
Spark job for work that small, and neither does a CQL postings leaf
or phrase with few positions. Artifacts open
with the schema stored in their footers, so opening one runs no
schema-inference job, and a build or an append pays no job for its
statistics or its doc-id base. Checked with the status store's job
list for a job group of the test's own."""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.engine import SearchEngine
from blacklab_spark.index import open_index, read_artifact
from blacklab_spark.oracle import bm25_idf


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _spark_lookup(idx, terms):
    """Exact lookup through a Spark scan of ``terms/``."""
    uniq = sorted(set(terms))
    pdf = (idx.terms.filter(F.col("term").isin(uniq))
           .select("term", "term_id", "df", "cf").toPandas())
    pdf["idf"] = [bm25_idf(idx.n_docs, int(d)) for d in pdf["df"]]
    return pdf.sort_values("term_id").reset_index(drop=True)


_LOOKUPS = [["visa"], ["nosuchterm"], ["the", "visa", "the", "good"],
            [], ["good", "nosuchterm", "good"]]


@pytest.fixture(scope="module")
def multi_terms_dir(spark, tiny_pdf, tmp_path_factory):
    """The tiny corpus with the distributed terms path forced, so
    ``terms/`` spans several files (AQE would coalesce a dictionary
    this small into one partition)."""
    from blacklab_spark import build
    out = str(tmp_path_factory.mktemp("idx") / "multiterms")
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=4)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(build, "TERMS_SINGLE_PARTITION_MAX", 1)
            build_index(spark, spark.createDataFrame(tiny_pdf), out, cfg)
    finally:
        spark.conf.set(key, "true")
    return out


def test_lookup_terms_matches_spark_read(spark, tiny_index_dir):
    idx = open_index(spark, tiny_index_dir)
    for terms in _LOOKUPS:
        pd.testing.assert_frame_equal(idx.lookup_terms(terms),
                                      _spark_lookup(idx, terms))


def test_lookup_terms_matches_spark_read_multi_file(spark,
                                                    multi_terms_dir):
    import glob
    import os
    assert len(glob.glob(os.path.join(multi_terms_dir, "terms",
                                      "*.parquet"))) > 1
    idx = open_index(spark, multi_terms_dir)
    for terms in _LOOKUPS:
        got = idx.lookup_terms(terms)
        pd.testing.assert_frame_equal(got, _spark_lookup(idx, terms))
    assert len(idx.lookup_terms(["the", "visa", "good"])) == 3


def test_lookup_terms_runs_no_spark_job(spark, tiny_index_dir):
    idx = open_index(spark, tiny_index_dir)
    info, n = _jobs(spark, lambda: idx.lookup_terms(["visa", "good"]))
    assert len(info) == 2 and n == 0


def test_topk_runs_no_spark_job(spark, tiny_index_dir):
    eng = SearchEngine.open(spark, tiny_index_dir)
    rows, n = _jobs(spark,
                    lambda: eng.topk("visa application", k=5).collect())
    assert len(rows) == 5 and n == 0
    # the plan cache holds the rows: a repeat runs no job
    again, n = _jobs(spark,
                     lambda: eng.topk("visa application", k=5).collect())
    assert again == rows and n == 0


def test_topk_plans_raise_no_user_warning(spark, tiny_index_dir,
                                          topk_paths):
    """Every applyInPandas kernel on the top-k and phrase paths is
    hinted so PySpark can infer its eval type, or not hinted at all."""
    for _ in topk_paths:
        eng = SearchEngine.open(spark, tiny_index_dir)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            eng.topk("visa application", k=5).collect()
            eng.topk("visa", k=5, role="assistant").collect()
            eng.topk("good", k=3, mode="wand", role="user").collect()
            eng.phrase_hits("very good").count()
        assert not [w for w in caught if issubclass(w.category, UserWarning)]


# ---- top-k below the driver bound: no job, the Spark plans' bits ----

@pytest.fixture(scope="module")
def delta_index_dir(spark, tiny_pdf, tiny_index_dir, tmp_path_factory):
    """A copy of the tiny index with one delta part: the tiny corpus's
    first conversation appended again."""
    from blacklab_spark.streaming.ingest import append_delta
    out = str(tmp_path_factory.mktemp("idx") / "tiny_delta")
    shutil.copytree(tiny_index_dir, out)
    first = sorted(tiny_pdf["conv_id"].unique())[0]
    append_delta(spark, out, spark.createDataFrame(
        tiny_pdf[tiny_pdf["conv_id"] == first]),
        BuildConfig(block_size=8, bucket_size=16, num_partitions=2))
    return out


# shape → (index fixture, top-k filters); "delta" opens main + delta
_TOPK_SHAPES = {"unfiltered": ("tiny_index_dir", {}),
                "role": ("tiny_index_dir", {"role": "assistant"}),
                "tombstones": ("deleted_index_dir", {}),
                "delta": ("delta_index_dir", {})}


def _shape_topk(spark, request, shape):
    """k → the (doc_id, score) rows of a "visa good" top-k of ``shape``,
    run through a fresh engine."""
    from blacklab_spark.streaming.ingest import DeltaSearchEngine
    fixture, filters = _TOPK_SHAPES[shape]
    path = request.getfixturevalue(fixture)
    eng = (DeltaSearchEngine(spark, path) if shape == "delta"
           else SearchEngine.open(spark, path))

    def topk(k, mode="auto"):
        return [(r["doc_id"], r["score"]) for r in eng.topk(
            ["visa", "good"], k=k, mode=mode, **filters).collect()]
    return topk


@pytest.mark.parametrize("shape", ["role", "tombstones", "delta"])
def test_topk_shapes_run_no_spark_job(spark, request, shape):
    topk = _shape_topk(spark, request, shape)
    rows, n = _jobs(spark, lambda: topk(5))
    assert len(rows) == 5 and n == 0


@pytest.mark.parametrize("shape", list(_TOPK_SHAPES))
def test_driver_topk_rows_equal_spark_rows_bitwise(spark, request,
                                                   monkeypatch, shape):
    """Below the bound the driver scores with the Spark plans' kernel:
    its rows equal the Spark exhaustive rows bit for bit."""
    from blacklab_spark import engine
    topk = _shape_topk(spark, request, shape)
    driver = {k: topk(k) for k in (1, 5, 10)}
    monkeypatch.setattr(engine, "DRIVER_TOPK_MAX_POSTINGS", 0)
    for k, rows in driver.items():
        want, n = _jobs(spark, lambda: topk(k, "exhaustive"))
        assert n > 0 and len(rows) == k
        assert [(d, s.hex()) for d, s in rows] == \
            [(d, s.hex()) for d, s in want]


@pytest.mark.parametrize("shape", ["unfiltered", "role", "delta"])
def test_unknown_topk_mode_raises(spark, request, topk_paths, shape):
    """An unknown mode is a ValueError on both engines and on both
    sides of the driver bound, not a silent exhaustive run."""
    topk = _shape_topk(spark, request, shape)
    for _ in topk_paths:
        with pytest.raises(ValueError,
                           match=re.escape("auto|wand|exhaustive")):
            topk(3, "WAND")


def test_where_topk_runs_the_spark_plan(spark, tiny_index_dir, tiny_oracle):
    """A ``where=`` string may name any doc_meta column, so its top-k
    keeps the Spark plan, and stays oracle-exact."""
    from blacklab_spark.oracle import brute_topk
    eng = SearchEngine.open(spark, tiny_index_dir)
    rows, n = _jobs(spark, lambda: eng.topk(
        "visa good", k=5, where="turn_idx > 2").collect())
    want = brute_topk(tiny_oracle, ["visa", "good"], k=5,
                      predicate=lambda m: m["turn_idx"] > 2)
    assert n > 0 and len(want) == 5
    assert [r["doc_id"] for r in rows] == [d for d, _ in want]
    assert [r["score"] for r in rows] == \
        pytest.approx([s for _, s in want], abs=1e-9)


# ---- CQL postings leaves and phrases below the driver bound ---------

@pytest.mark.parametrize("cql", ['"zzzunknown"', '"zzzunknown" "the"'])
def test_find_of_unknown_term_runs_no_job(spark, tiny_index_dir, cql):
    """A query whose leaf matches no term is an empty local frame."""
    eng = SearchEngine.open(spark, tiny_index_dir)
    rows, n = _jobs(spark, lambda: eng.find(cql).collect())
    assert rows == [] and n == 0


@pytest.mark.parametrize("cql", ['"visa"', '"visa" | "good"',
                                 '"visa" "application"',
                                 '"visa" [] "application"'])
def test_find_below_hits_bound_runs_no_job(spark, tiny_index_dir, cql):
    """Leaves, OR-merged leaves, phrases and fixed-gap phrases whose
    Σcf is below hits.DRIVER_HITS_MAX_POSITIONS decode on the driver:
    planning and collecting the hits run no Spark job."""
    eng = SearchEngine.open(spark, tiny_index_dir)
    rows, n = _jobs(spark, lambda: eng.find(cql).collect())
    assert rows and n == 0


# ---- BLS /hits page: one window action and one count action --------

_HITS_PAGES = ['"visa"', '"the"', '"visa" "application"', 'a:"visa"']


@pytest.mark.parametrize("patt", _HITS_PAGES)
def test_hits_page_runs_at_most_four_jobs(spark, tiny_index_dir, patt):
    """A plain /hits page: the window action and one action for the
    hit and doc counts; KWIC and docInfos read on the driver."""
    from blacklab_spark.server import BlsApp
    eng = SearchEngine.open(spark, tiny_index_dir)
    app = BlsApp(eng, corpus="t")
    q = {"patt": [patt], "number": ["20"]}
    (st, _, body), n = _jobs(
        spark, lambda: app.handle("/blacklab-server/t/hits", q))
    assert st == 200 and json.loads(body)["hits"]
    assert n <= 4


@pytest.mark.parametrize("patt", _HITS_PAGES)
def test_hits_page_below_hits_bound_equals_spark_page(spark, tiny_index_dir,
                                                      monkeypatch, patt):
    """A page over a driver-decoded hits frame windows and counts its
    rows on the driver with no job, and answers as the Spark plan's
    page does."""
    from blacklab_spark.operators import hits as H
    from blacklab_spark.server import BlsApp
    q = {"patt": [patt], "number": ["20"], "first": ["3"]}

    def page():
        app = BlsApp(SearchEngine.open(spark, tiny_index_dir), corpus="t")
        return _jobs(spark, lambda: app.handle("/blacklab-server/t/hits", q))
    (st, _, body), n = page()
    monkeypatch.setattr(H, "DRIVER_HITS_MAX_POSITIONS", 0)
    (st0, _, body0), n0 = page()
    assert st == st0 == 200 and n == 0 < n0
    got, want = json.loads(body), json.loads(body0)
    assert got == want and got["hits"]


@pytest.mark.parametrize("patt", _HITS_PAGES)
def test_hits_page_collects_a_local_frame_once(spark, tiny_index_dir,
                                               monkeypatch, patt):
    """An unsorted page over a driver-decoded hits frame collects the
    frame once, for its window and its counts both."""
    from blacklab_spark.operators import hits as H
    from blacklab_spark.operators import scoring
    from blacklab_spark.server import BlsApp
    real, collects = scoring.local_rows, []

    def counting(df):
        rows = real(df)
        if rows is not None:
            collects.append(len(rows))
        return rows
    monkeypatch.setattr(scoring, "local_rows", counting)
    monkeypatch.setattr(H, "local_rows", counting)
    app = BlsApp(SearchEngine.open(spark, tiny_index_dir), corpus="t")
    st, _, body = app.handle("/blacklab-server/t/hits",
                             {"patt": [patt], "number": ["20"]})
    assert st == 200 and json.loads(body)["hits"]
    assert len(collects) == 1


@pytest.mark.parametrize("first,size", [(0, 5), (3, 20), (0, 10_000),
                                        (10_000, 20)])
def test_window_of_a_local_frame_runs_no_job(spark, tiny_index_dir,
                                             first, size):
    """A window of a driver-decoded hits frame, inside its rows or past
    them, is sliced on the driver into a local frame: no Spark job,
    and the rows a Spark window of the same hits gives."""
    from blacklab_spark.operators.hits import window_hits
    from blacklab_spark.operators.scoring import local_rows
    eng = SearchEngine.open(spark, tiny_index_dir)
    hits = eng.find('"the"')
    rows = local_rows(hits)
    assert rows is not None and 20 < len(rows) < 10_000
    got, n = _jobs(spark, lambda: window_hits(hits, first, size).collect())
    assert n == 0
    spark_hits = hits.repartition(2)  # no longer a local relation
    assert local_rows(spark_hits) is None
    want = window_hits(spark_hits, first, size).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == max(0, min(size, len(rows) - first))


def test_hits_page_kwic_and_doc_infos_run_no_job(spark, tiny_index_dir):
    from blacklab_spark.operators.hits import window_hits
    from blacklab_spark.server import BlsApp
    eng = SearchEngine.open(spark, tiny_index_dir)
    app = BlsApp(eng, corpus="t")
    window = window_hits(eng.find('a:"visa" "application"'), 0,
                         20).collect()
    ids = [h["doc_id"] for h in window]
    (kwic, (infos, _), orig), n = _jobs(spark, lambda: (
        app._kwic(window, 5), app._doc_infos(ids),
        app._orig_concordances(window, 5)))
    assert len(kwic) == len(orig) == len(window) > 0
    assert len(infos) == len(set(ids))
    assert n == 0


def test_hits_page_repeat_with_cache_runs_only_the_window(
        spark, tiny_index_dir, monkeypatch):
    """The cached hit and doc counts save the count action of a hits
    frame that Spark computes (the bound at 0: a local frame's page
    runs no job at all)."""
    from blacklab_spark.operators import hits as H
    from blacklab_spark.operators.hits import window_hits
    from blacklab_spark.server import BlsApp
    monkeypatch.setattr(H, "DRIVER_HITS_MAX_POSITIONS", 0)
    eng = SearchEngine(open_index(spark, tiny_index_dir), cache_size=16)
    app = BlsApp(eng, corpus="t")
    q = {"patt": ['"visa" "application"'], "number": ["20"]}
    (_, _, first), n_first = _jobs(
        spark, lambda: app.handle("/blacklab-server/t/hits", q))
    (_, _, again), n_again = _jobs(
        spark, lambda: app.handle("/blacklab-server/t/hits", q))
    hits = eng.find('"visa" "application"')
    _, n_window = _jobs(spark,
                        lambda: window_hits(hits, 0, 20).collect())
    assert json.loads(again) == json.loads(first)
    assert n_again == n_window < n_first


# ---- artifacts open with their stored schema -----------------------

@pytest.fixture(scope="module")
def deleted_index_dir(spark, tiny_index_dir, tmp_path_factory):
    """A copy of the tiny index with one conversation tombstoned."""
    from blacklab_spark.delete import delete_docs
    out = str(tmp_path_factory.mktemp("idx") / "tiny_deleted")
    shutil.copytree(tiny_index_dir, out)
    conv = open_index(spark, out).doc_meta.first()["conv_id"]
    assert delete_docs(open_index(spark, out), f"conv_id = '{conv}'") > 0
    return out


def test_fresh_handle_opens_artifacts_without_a_job(spark,
                                                    deleted_index_dir):
    idx = open_index(spark, deleted_index_dir)
    _, n = _jobs(spark, lambda: (idx.terms, idx.doc_meta, idx.postings,
                                 idx.deleted_doc_ids))
    assert n == 0
    # memoized per tombstone listing, like doc_meta
    assert idx.deleted_doc_ids is idx.deleted_doc_ids


def test_deleted_doc_ids_follow_the_tombstone_listing(spark,
                                                      deleted_index_dir,
                                                      tmp_path):
    from blacklab_spark.delete import delete_docs
    out = str(tmp_path / "idx")
    shutil.copytree(deleted_index_dir, out)
    idx = open_index(spark, out)
    first = idx.deleted_doc_ids
    before = {r["doc_id"] for r in first.collect()}
    spark_read = {r["doc_id"] for r in spark.read.parquet(
        idx.deletes_path).collect()}
    assert before == spark_read and before
    live = idx.doc_meta.filter(~F.col("doc_id").isin(list(before)))
    victim = live.first()["doc_id"]
    assert delete_docs(idx, f"doc_id = {victim}") == 1
    after = idx.deleted_doc_ids
    assert after is not first
    assert {r["doc_id"] for r in after.collect()} == before | {victim}


@pytest.mark.parametrize("art", ["terms", "doc_meta", "postings"])
def test_read_artifact_uses_stored_schema(spark, tiny_index_dir, art):
    path = os.path.join(tiny_index_dir, art)
    got, n = _jobs(spark, lambda: read_artifact(spark, path))
    want = spark.read.parquet(path)
    assert n == 0
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_read_artifact_equals_spark_read_on_pyarrow_dir(spark,
                                                        tiny_index_dir,
                                                        tmp_path):
    """A dir with no Spark-written file reads with inference; one
    rewritten by pyarrow minus a column keeps Spark's stored schema in
    its footer, which inference returns as well. Either way the read
    equals ``spark.read.parquet``."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    src = ds.dataset(os.path.join(tiny_index_dir, "doc_meta"),
                     format="parquet").to_table().drop(["tokens"])
    for name, table in (("plain", src.replace_schema_metadata(None)),
                        ("stale_key", src)):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(table, str(d / "part-0.parquet"),
                       coerce_timestamps="us")
        got, want = read_artifact(spark, str(d)), spark.read.parquet(str(d))
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())


# ---- build and append: statistics and id base without a job ---------

def test_append_delta_id_base_runs_no_job(spark, tiny_pdf, tiny_index_dir,
                                          tmp_path):
    from blacklab_spark.streaming.ingest import _doc_id_base, append_delta
    main = str(tmp_path / "main")
    shutil.copytree(tiny_index_dir, main)
    convs = sorted(tiny_pdf["conv_id"].unique())
    batch = tiny_pdf[tiny_pdf["conv_id"] == convs[0]]
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2)
    append_delta(spark, main, spark.createDataFrame(batch), cfg)
    base, n = _jobs(spark, lambda: _doc_id_base(spark, main))
    assert n == 0
    # what the Spark aggregate over every part's doc_meta gives
    want = -1
    for p in [main] + [os.path.join(main, "_deltas", d)
                       for d in os.listdir(os.path.join(main, "_deltas"))]:
        with open(os.path.join(p, "_index_meta.json")) as f:
            off = json.load(f).get("doc_id_offset", 0)
        top = spark.read.parquet(os.path.join(p, "doc_meta")) \
            .agg(F.max("doc_id")).collect()[0][0]
        want = max(want, off + top)
    assert base == want + 1 == len(tiny_pdf) + len(batch)


# Spark jobs of a warm build of the tiny corpus: the build's fixed
# per-call cost, pinned so that a change to it is seen.
TINY_BUILD_JOBS = 16


def test_warm_tiny_build_job_count(spark, tiny_pdf, tmp_path):
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=4)
    df = spark.createDataFrame(tiny_pdf)
    build_index(spark, df, str(tmp_path / "warm"), cfg)
    _, n = _jobs(spark, lambda: build_index(spark, df,
                                            str(tmp_path / "idx"), cfg))
    assert n == TINY_BUILD_JOBS


_CONLLU = """\
# newdoc id = conv-a
# sent_id = a-1
1\tThe\tthe\tDET\tDT\t_\t2\tdet\t_\t_
2\tVisa\tvisa\tNOUN\tNN\t_\t0\troot\t_\t_

# sent_id = a-2
1\tApproved\tapprove\tVERB\tVBN\t_\t0\troot\t_\t_
"""


def _fixture_frames(spark, tiny_pdf, tmp_path):
    from blacklab_spark.sources.files import read_conllu
    from blacklab_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                    gen_tagged_pandas)
    conllu = tmp_path / "conllu"
    conllu.mkdir()
    (conllu / "conv-a.conllu").write_text(_CONLLU)
    gapped = tiny_pdf.copy()
    gapped["turn_idx"] = gapped["turn_idx"] * 2  # assign_dense_ids path
    small = dict(block_size=8, bucket_size=16, num_partitions=2)
    return {
        "tags": (spark.createDataFrame(gen_tagged_pandas(seed=42),
                                       schema=TRANSCRIPT_SCHEMA),
                 BuildConfig(tags=True, **small)),
        "conllu": (read_conllu(spark, str(conllu)),
                   BuildConfig(num_partitions=4)),
        "synonyms": (spark.createDataFrame(tiny_pdf),
                     BuildConfig(synonyms={"visa": ["the", "permit"]},
                                 **small)),
        "dense_ids_fallback": (spark.createDataFrame(gapped),
                               BuildConfig(**small)),
    }


@pytest.mark.parametrize("name", ["tags", "conllu", "synonyms",
                                  "dense_ids_fallback"])
def test_observed_stats_equal_doc_meta_aggregate(spark, tiny_pdf, tmp_path,
                                                 name):
    df, cfg = _fixture_frames(spark, tiny_pdf, tmp_path)[name]
    out = str(tmp_path / "idx")
    m = build_index(spark, df, out, cfg)
    agg = spark.read.parquet(os.path.join(out, "doc_meta")).agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("tot")).first()
    n_docs, total = int(agg["n"]), int(agg["tot"] or 0)
    assert m["stats"] == {"n_docs": n_docs, "total_tokens": total,
                          "avgdl": total / max(1, n_docs)}
    with open(os.path.join(out, "_index_meta.json")) as f:
        assert json.load(f)["stats"] == m["stats"]
