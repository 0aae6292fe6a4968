"""Spark jobs on the query path: exact-term lookups read the terms
dictionary on the driver, a top-k attaches its winners' rows on the
driver, and a BLS /hits page reads its KWIC and docInfos on the
driver, so none pays a Spark job for work that small. Checked with
the status store's job list for a job group of the test's own."""

from __future__ import annotations

import json
import uuid
import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.engine import SearchEngine
from blacklab_spark.index import open_index
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
    out = str(tmp_path_factory.mktemp("idx") / "multiterms")
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=4,
                      terms_single_partition_max=1)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try:
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


def test_topk_runs_at_most_two_jobs(spark, tiny_index_dir):
    eng = SearchEngine.open(spark, tiny_index_dir)
    # a handle's first query also pays the postings schema read
    eng.topk("good", k=3).collect()
    rows, n = _jobs(spark,
                    lambda: eng.topk("visa application", k=5).collect())
    assert len(rows) == 5 and n <= 2
    # the plan cache holds the rows: a repeat runs no job
    again, n = _jobs(spark,
                     lambda: eng.topk("visa application", k=5).collect())
    assert again == rows and n == 0


def test_topk_plans_raise_no_user_warning(spark, tiny_index_dir):
    """Every applyInPandas kernel on the top-k and phrase paths is
    hinted so PySpark can infer its eval type, or not hinted at all."""
    eng = SearchEngine.open(spark, tiny_index_dir)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        eng.topk("visa application", k=5).collect()
        eng.topk("visa", k=5, role="assistant").collect()
        eng.topk("good", k=3, mode="wand", role="user").collect()
        eng.phrase_hits("very good").count()
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


# ---- BLS /hits page: one window action and one count action --------

_HITS_PAGES = ['"visa"', '"the"', '"visa" "application"', 'a:"visa"']


@pytest.mark.parametrize("patt", _HITS_PAGES)
def test_hits_page_runs_at_most_four_jobs(spark, tiny_index_dir, patt):
    """A plain /hits page: the window action and one action for the
    hit and doc counts; KWIC and docInfos read on the driver."""
    from blacklab_spark.server import BlsApp
    eng = SearchEngine.open(spark, tiny_index_dir)
    # a handle's first query also pays the postings schema read
    eng.find('"good"').count()
    app = BlsApp(eng, corpus="t")
    q = {"patt": [patt], "number": ["20"]}
    (st, _, body), n = _jobs(
        spark, lambda: app.handle("/blacklab-server/t/hits", q))
    assert st == 200 and json.loads(body)["hits"]
    assert n <= 4


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
        spark, tiny_index_dir):
    from blacklab_spark.operators.hits import window_hits
    from blacklab_spark.server import BlsApp
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
