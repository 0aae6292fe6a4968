"""End-to-end smoke of the north rule's launch path: ``spark-submit
--py-files blacklab_spark.zip cli.py <cmd>`` in a clean subprocess —
no repo on PYTHONPATH, cwd outside the repo, so every import on the
driver AND the executors' Python workers must resolve from the
shipped zip (the exact artifact a cluster launch distributes)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

from blacklab_spark.shipping import make_pkg_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or (
    os.path.join(os.path.dirname(__import__("pyspark").__file__),
                 "bin", "spark-submit"))

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="no spark-submit on host")


@pytest.fixture(scope="module")
def launch_dir(spark, tmp_path_factory):
    """Corpus parquet + py-files zip + a copy of cli.py as the
    application file, all outside the repo."""
    d = tmp_path_factory.mktemp("submit")
    from blacklab_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                    gen_transcripts_pandas)
    pdf = gen_transcripts_pandas("micro", seed=42)
    spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA) \
        .write.mode("overwrite").parquet(str(d / "corpus"))
    make_pkg_zip(str(d / "blacklab_spark.zip"))
    shutil.copy(os.path.join(REPO, "blacklab_spark", "cli.py"),
                str(d / "app.py"))
    return d


def _submit(launch_dir, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_DRIVER_MEM"] = "2g"
    cmd = [SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "2g",
           "--py-files", str(launch_dir / "blacklab_spark.zip"),
           str(launch_dir / "app.py"), *args]
    return subprocess.run(cmd, cwd=str(launch_dir), env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          timeout=420)


def test_spark_submit_build_then_query(launch_dir):
    idx = str(launch_dir / "idx")
    r = _submit(launch_dir, "build", "--input",
                str(launch_dir / "corpus"), "--out", idx,
                "--block-size", "8", "--bucket-size", "8")
    assert r.returncode == 0, r.stderr.decode()[-3000:]
    assert os.path.exists(os.path.join(idx, "_index_meta.json"))
    m = json.load(open(os.path.join(idx, "_index_meta.json")))
    assert all(s["status"] == "done" for s in m["stages"].values())

    q = _submit(launch_dir, "query", "--index", idx, "--terms", "visa",
                "--k", "5", "--json")
    assert q.returncode == 0, q.stderr.decode()[-3000:]
    # last stdout line is the one-line JSON result
    payload = json.loads(q.stdout.decode().strip().splitlines()[-1])
    rows = payload["rows"]
    assert 0 < len(rows) <= 5
    assert all(row["score"] > 0 for row in rows)
    assert [row["rank"] for row in rows] == list(range(1, len(rows) + 1))


def test_cli_query_languages_inprocess(tiny_index_dir, capsys, monkeypatch):
    """QueryTool-analog surface: --cql / --contextql / --filter through
    main() in-process (the spark-submit transport is covered above)."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    from blacklab_spark.cli import main
    assert main(["query", "--index", tiny_index_dir,
                 "--cql", '"visa" "application"', "--k", "5",
                 "--json"]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"]
    assert 0 < len(rows) <= 5 and {"doc_id", "start", "end"} <= set(rows[0])

    assert main(["query", "--index", tiny_index_dir,
                 "--contextql", 'visa and role = "user"', "--k", "5",
                 "--json"]) == 0
    assert json.loads(capsys.readouterr().out.strip()
                      .splitlines()[-1])["rows"]

    assert main(["query", "--index", tiny_index_dir, "--terms", "visa",
                 "--filter", "role:assistant", "--json"]) == 0
    assert json.loads(capsys.readouterr().out.strip()
                      .splitlines()[-1])["rows"]

    # exactly one query arg required
    assert main(["query", "--index", tiny_index_dir]) == 2
    assert main(["query", "--index", tiny_index_dir, "--terms", "a",
                 "--cql", '"a"']) == 2


def test_cli_compact_keeps_delta_turns(spark, tmp_path, capsys,
                                       monkeypatch):
    """``compact`` merges the index's deltas too: every turn of main
    and delta survives the rebuild."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    from pyspark.sql import functions as F

    from blacklab_spark.build import build_index
    from blacklab_spark.cli import main
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                    gen_transcripts_pandas)
    from blacklab_spark.streaming.ingest import append_delta
    df = spark.createDataFrame(gen_transcripts_pandas("micro", seed=42),
                               schema=TRANSCRIPT_SCHEMA)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "compacted")
    build_index(spark, df.filter(F.col("conv_id") != "conv00002"), idx,
                BuildConfig(block_size=8, bucket_size=8, num_partitions=2))
    append_delta(spark, idx, df.filter(F.col("conv_id") == "conv00002"))
    assert main(["compact", "--index", idx, "--out", out]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["n_docs"] == df.count() == 24
