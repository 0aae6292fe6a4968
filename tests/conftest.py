from __future__ import annotations

import pytest

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.engine import SearchEngine
from blacklab_spark.oracle import build_oracle_index
from blacklab_spark.session import get_spark
from blacklab_spark.sources.transcripts import gen_transcripts_pandas


@pytest.fixture(scope="session")
def spark():
    s = get_spark("blacklab-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_pdf():
    return gen_transcripts_pandas("tiny", seed=42)


@pytest.fixture(scope="session")
def small_pdf():
    return gen_transcripts_pandas("small", seed=42)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_pdf):
    return build_oracle_index(tiny_pdf.to_dict("records"))


@pytest.fixture(scope="session")
def small_oracle(small_pdf):
    return build_oracle_index(small_pdf.to_dict("records"))


@pytest.fixture(scope="session")
def tiny_index_dir(spark, tiny_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "tiny")
    df = spark.createDataFrame(tiny_pdf)
    # small block/bucket sizes so tiny corpora exercise multi-block,
    # multi-bucket code paths
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=4)
    build_index(spark, df, out, cfg)
    return out


@pytest.fixture(scope="session")
def small_index_dir(spark, small_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "small")
    df = spark.createDataFrame(small_pdf)
    cfg = BuildConfig(block_size=32, bucket_size=256, num_partitions=8)
    build_index(spark, df, out, cfg)
    return out


@pytest.fixture(scope="session")
def tiny_engine(spark, tiny_index_dir):
    return SearchEngine.open(spark, tiny_index_dir)


@pytest.fixture(scope="session")
def small_engine(spark, small_index_dir):
    return SearchEngine.open(spark, small_index_dir)


def _bound_paths(monkeypatch, module, name: str):
    """Yield "driver" with the driver bound ``module.name`` at its
    default, then "spark" with it at 0."""
    for path, bound in (("driver", getattr(module, name)), ("spark", 0)):
        monkeypatch.setattr(module, name, bound)
        yield path


@pytest.fixture()
def topk_paths(monkeypatch):
    """Iterate it to run a test body on both top-k paths: first with
    ``engine.DRIVER_TOPK_MAX_POSTINGS`` at its default, so a top-k with
    few postings scores on the driver, then with the bound at 0, so
    every top-k runs its Spark plan and WAND, exhaustive and the oracle
    stay compared there. Yields the path's name."""
    from blacklab_spark import engine
    return _bound_paths(monkeypatch, engine, "DRIVER_TOPK_MAX_POSTINGS")


@pytest.fixture()
def hits_paths(monkeypatch):
    """Iterate it to run a test body on both CQL postings paths: first
    with ``hits.DRIVER_HITS_MAX_POSITIONS`` at its default, so a leaf or
    phrase with few positions decodes on the driver into a local frame,
    then with the bound at 0, so every one runs its Spark plan. Yields
    the path's name."""
    from blacklab_spark.operators import hits
    return _bound_paths(monkeypatch, hits, "DRIVER_HITS_MAX_POSITIONS")
