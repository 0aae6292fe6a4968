"""Benchmark of blacklab_spark: the ``search`` and ``ingest`` workloads,
each behind a set-up that is the index build, driven through the public
API.

Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 24

A run starts one Spark session at local[nproc/2], generates its corpus from
the seed, and builds the index SETUP_BUILDS times (the set-up; the first
build also warms up the JVM). It then sends the workload's requests from
this one client, one at a time, each after the previous answer (a closed
loop), and checks every answer against the oracle. How many requests a run sends is fixed by
``--seconds`` through a nominal cost per request, so two commits given
the same arguments send identical requests. ``--trace 1`` records a
span around every call into a layer and reports the per-layer metrics.

The last line on stdout is the result; the workload's own metrics
(query, append, delete latencies, failed_ops_ratio) go to stderr, and
the artifact (request lists, samples, spans, host health, session
config) to ``.perfbench/artifacts/``. ``--workload all`` runs the
workloads one after another and prints all of it. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
import traceback

import numpy as np
import pyarrow.parquet as pq

from inputs import (CORPUS, QueryMaker, band_terms, conversations, cql,
                    search_stream, write_parquet)
from tracing import (Tracer, descendants, host_health, jvm_gc_seconds, median,
                   peak_rss_mb, summary)

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("search", "ingest")
BASE_CONVS = 200        # about 11k turns
BATCH_CONVS = 50        # one ingest append, about 2.7k turns
SETUP_BUILDS = 3
K = 10
HITS_PAGE = 20
BUILD_CONFIG = {"block_size": 128, "bucket_size": 4096}
# Nominal seconds per request: a run sends max(MIN_OPS, seconds / NOMINAL_S).
NOMINAL_S = {"search": 1.2, "ingest": 6.0}
MIN_OPS = {"search": 20, "ingest": 3}

E2E_UNITS = {"setup_s": "s", "request_p50_s": "s", "request_mean_s": "s",
             "index_bytes_per_turn": "B/turn"}
POSTINGS_PAYLOAD = ("doc_ids", "tfs", "dls", "positions")
FIND_SHAPES = ("term", "phrase", "gapped")


def session_env(run_dir: str) -> dict:
    """Spark session settings sized to this host, exported before the
    session starts; scratch and temp files stay inside the run dir."""
    # Spark gets half the CPUs: its task threads, the driver, the JVM's
    # own threads and the Python workers then fit the CPUs without
    # queueing. At local[nproc] on a shared 4-CPU host, ingest rounds
    # ran up to 1.2x slower and spread more from run to run.
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, nproc // 2)
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) >> 20
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a quarter of the host's memory, at most 4 GB: the Python
        # workers and the page cache need the rest
        "SPARK_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # every JVM, the launcher that spark-submit starts first too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def ship_from(run_dir: str) -> None:
    """``get_spark`` ships the package as a zip built under /tmp; build
    it in the run dir instead, so a run writes only inside the checkout."""
    from blacklab_spark import shipping

    def ship(spark) -> None:
        if id(spark) not in shipping._SHIPPED:
            zip_path = os.path.join(run_dir, "blacklab_spark_pkg.zip")
            spark.sparkContext.addPyFile(shipping.make_pkg_zip(zip_path))
            shipping._SHIPPED.add(id(spark))

    shipping.ship = ship


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in "ZX"
    except OSError:
        return False


def stop_spark(spark) -> list[int]:
    """Stop the session and its JVM, and wait until the JVM and every
    Python worker it started have exited. Returns any still running."""
    from pyspark import SparkContext
    procs = descendants(os.getpid())
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()       # the gateway JVM exits at EOF on its stdin
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.terminate()
        jvm.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_running(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.05)
    return [p for p in procs if _running(p)]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def footer_bytes(path: str) -> tuple[dict[str, int], int]:
    """Compressed bytes per top-level column and rows, from the footers."""
    cols: dict[str, int] = {}
    rows = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                name = col.path_in_schema.split(".")[0]
                cols[name] = cols.get(name, 0) + col.total_compressed_size
    return cols, rows


class Bench:
    def __init__(self, args, run_dir: str):
        self.args, self.run_dir = args, run_dir
        self.workload = args.workload
        self.tr = Tracer(bool(args.trace))
        self.quiet = Tracer(False)
        self.rng = np.random.default_rng([args.seed, 1])
        self.attempted = self.failed = 0
        self.errors: list[dict] = []
        self.samples: list[dict] = []      # every checked operation
        self.loop: list[float] = []        # the workload's own requests
        self.builds: list[dict] = []       # every build of the base corpus
        self.rounds: list[dict] = []       # ingest rounds
        self.requests: list[dict] = []     # exact request list, in order
        self.art: dict = {"workload": args.workload, "seed": args.seed,
                          "seconds": args.seconds, "trace": args.trace,
                          "base_convs": BASE_CONVS,
                          "batch_convs": BATCH_CONVS,
                          "setup_builds": SETUP_BUILDS,
                          "build_config": BUILD_CONFIG}

    # -- one checked operation ------------------------------------------
    def op(self, kind: str, fn, loop: bool = False) -> float | None:
        """Time ``fn`` (which sends one request and returns an untimed
        check), then run the check. A raised error or a wrong answer
        counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            verify = fn()
            dt = time.perf_counter() - t0
            ok = bool(verify())
        except Exception as e:      # count the failure, keep the run going
            traceback.print_exc()
            self.failed += 1
            self.errors.append({"kind": kind, "error": repr(e)})
            return None
        if not ok:
            self.failed += 1
            self.errors.append({"kind": kind, "error": "wrong answer",
                                "index": len(self.samples)})
        self.samples.append({"kind": kind, "s": dt, "ok": ok})
        if loop:
            self.loop.append(dt)
        return dt

    # -- build ----------------------------------------------------------
    def build(self, corpus):
        """Build the base index from scratch and open it for search."""
        from blacklab_spark.build import build_index
        from blacklab_spark.config import BuildConfig
        from blacklab_spark.engine import SearchEngine
        sc, out, rec = self.sc, self.index_dir, {}
        shutil.rmtree(out, ignore_errors=True)

        def go():
            gc0 = jvm_gc_seconds(sc) if self.tr.enabled else 0.0
            t0 = time.perf_counter()
            with self.tr.span("build.build_index", sc=sc) as sp:
                m = build_index(self.spark, corpus, out,
                                BuildConfig(**BUILD_CONFIG))
            rec["build_s"] = time.perf_counter() - t0
            with self.tr.span("index.open"):
                self.engine = SearchEngine.open(self.spark, out)
            if self.tr.enabled:
                rec["gc_s"] = jvm_gc_seconds(sc) - gc0
                rec["jobs"] = sp["jobs"]
            rec["stages"] = {n: {k: v for k, v in st.items() if k != "files"}
                             for n, st in m.get("stages", {}).items()}
            return lambda: self.ref.build_ok(m, out, self.rng)

        rec["setup_s"] = self.op("build", go)
        if rec["setup_s"] is not None:
            self.builds.append(rec)

    # -- search requests ------------------------------------------------
    def request(self, q: dict, qid: int, loop: bool = True) -> None:
        kind = q["kind"]
        self.requests.append(q)
        self.tr.qid = qid
        sc = self.sc

        def go():
            with self.tr.span(f"client.{kind}", sc=sc, layer="client"):
                if kind == "repeat":
                    with self.tr.span("engine.repeat"):
                        return self._send(q["of"], self.quiet)
                return self._send(q, self.tr)

        self.op(kind, go, loop=loop)
        self.tr.qid = None

    def _send(self, q: dict, tr: Tracer):
        eng, ref = self.engine, self.ref
        if q["kind"] == "topk":
            with tr.span("index.lookup_terms"):
                eng.index.lookup_terms(q["terms"])
            with tr.span("engine.topk_plan"):
                df = eng.topk(q["terms"], k=K, role=q["role"])
            with tr.span("engine.topk_exec", layer="operators"):
                got = [(r["doc_id"], r["score"]) for r in df.collect()]
            return lambda: ref.topk_ok(got, q["terms"], K, q["role"])
        if q["kind"] == "find":
            with tr.span("engine.find_plan", layer="plans"):
                hits = eng.find(cql(q))
            with tr.span("engine.find_exec", layer="operators"):
                n = hits.count()
            return lambda: n == ref.count(q["shape"], q["terms"])
        with tr.span("server.hits"):
            status, _, body = self.app.handle(
                f"/blacklab-server/{CORPUS}/hits",
                {"patt": [cql(q)], "number": [str(HITS_PAGE)],
                 "wordsaroundhit": ["5"]})

        def verify() -> bool:
            if status != 200:
                return False
            r = json.loads(body)
            n = ref.count(q["shape"], q["terms"])
            return (r["summary"]["numberOfHits"] == n
                    and r["summary"]["numberOfDocs"]
                    == ref.docs(q["shape"], q["terms"])
                    and len(r["hits"]) == min(HITS_PAGE, n)
                    and all([w.lower() for w in h["match"]["word"]]
                            == q["terms"] for h in r["hits"]))
        return verify

    def search_probe(self, qm: QueryMaker) -> None:
        """One request of each search kind (traced ``ingest`` runs, whose
        own requests do not reach these layers)."""
        stream = [qm.topk(), qm.find("phrase"), qm.hits()]
        stream.append({"kind": "repeat", "of": stream[0]})
        for i, q in enumerate(stream):
            self.request(q, qid=10_000 + i, loop=False)

    # -- ingest rounds --------------------------------------------------
    def ingest_setup(self, n_rounds: int) -> None:
        """Pick the conversation each round deletes."""
        self.main_dir = os.path.join(self.run_dir, "live")
        self.victims = [f"conv{c:05d}" for c in self.rng.choice(
            BASE_CONVS, size=n_rounds, replace=False)]

    def ingest_round(self, i: int, qm: QueryMaker, loop: bool = True) -> None:
        """From a fresh copy of the base index, append a batch, delete one
        base conversation, then query the two-part index through a fresh
        DeltaSearchEngine. Every round starts from the same state, so the
        rounds of a run are alike and their median is one of several
        samples; with deltas piling up, each round was slower than the
        last, and the median was the middle round alone. Timed rounds
        send a count of one hot term, which every part holds; a rarer
        term missing from the delta took twice as long, and a phrase cut
        from the text may hold hot words and cost twice as much too. The
        round of a traced ``search`` run sends all three shapes."""
        from blacklab_spark.config import BuildConfig
        from blacklab_spark.delete import delete_docs
        from blacklab_spark.index import open_index
        from blacklab_spark.streaming.ingest import (DeltaSearchEngine,
                                                     append_delta)
        tr, sc, spark, ref = self.tr, self.sc, self.spark, self.ref
        path, rows = self.batches[i]
        victim = self.victims[i]
        tq = qm.topk()
        fqs = [qm.find("term", band="hot")] if loop else [
            qm.find(s) for s in FIND_SHAPES]
        self.requests.append({"round": i, "batch": os.path.basename(path),
                              "delete_conv": victim, "topk": tq, "find": fqs})
        rec: dict = {"loop": loop}
        shutil.rmtree(self.main_dir, ignore_errors=True)
        shutil.copytree(self.index_dir, self.main_dir)

        def go():
            t0 = time.perf_counter()
            with tr.span("ingest.append_delta", sc=sc):
                append_delta(spark, self.main_dir, spark.read.parquet(path),
                             BuildConfig(**BUILD_CONFIG))
            t1 = time.perf_counter()
            with tr.span("delete.delete_docs"):
                n_del = delete_docs(open_index(spark, self.main_dir),
                                    f"conv_id = '{victim}'")
            t2 = time.perf_counter()
            with tr.span("ingest.open") as sp:
                deng = DeltaSearchEngine(spark, self.main_dir)
                sp["parts"] = len(deng.parts)
            with tr.span("ingest.delta_topk"):
                got = [(r["doc_id"], r["score"])
                       for r in deng.topk(tq["terms"], k=K).collect()]
            t3 = time.perf_counter()
            n_find = []
            for q in fqs:
                with tr.span("ingest.delta_find"):
                    n_find.append(deng.find(cql(q)).count())
            t4 = time.perf_counter()
            rec.update(append_s=t1 - t0, delete_s=t2 - t1,
                       delta_topk_s=t3 - t2, delta_find_s=t4 - t3,
                       parts=len(deng.parts))

            def verify() -> bool:
                ref.append(rows)
                return (n_del == ref.delete_conv(victim)
                        and ref.topk_ok(got, tq["terms"], K)
                        and n_find == [ref.count(q["shape"], q["terms"])
                                       for q in fqs])
            return verify

        rec["round_s"] = self.op("ingest", go, loop=loop)
        self.rounds.append(rec)
        ref.rollback(self.art["turns"])

    # -- the run --------------------------------------------------------
    def prepare(self, n_batches: int, parts: int) -> None:
        """Generate and write the base corpus and the ingest batches as
        parquet, and build the oracle over the base corpus."""
        from check import Reference
        seed = self.args.seed
        base = conversations(seed, 0, BASE_CONVS)
        write_parquet(base, self.corpus_path, parts)
        self.ref = Reference(base.to_dict("records"))
        self.batches = []
        for i in range(n_batches):
            first = BASE_CONVS + i * BATCH_CONVS
            pdf = conversations(seed, first, BATCH_CONVS)
            path = os.path.join(self.run_dir, f"batch{first}")
            write_parquet(pdf, path, 1)
            self.batches.append((path, pdf.to_dict("records")))

    def run(self) -> dict:
        a = self.args
        self.art["session"] = env = session_env(self.run_dir)
        self.art["host_before"] = host_health()
        from blacklab_spark.session import get_spark
        ship_from(self.run_dir)
        self.n_ops = max(MIN_OPS[a.workload],
                         round(a.seconds / NOMINAL_S[a.workload]))
        n_batches = self.n_ops if a.workload == "ingest" else a.trace
        self.corpus_path = os.path.join(self.run_dir, "corpus")
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            # the inputs are generated while the JVM starts
            prep = pool.submit(self.prepare, n_batches,
                               int(env["SPARK_GRAFT_CPUS"]))
            self.spark = get_spark("perfbench")
            self.art["session_start_s"] = time.perf_counter() - t0
            prep.result()
        self.art["inputs_s"] = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        try:
            self._run()
        finally:
            self.art["peak_rss_mb"] = peak_rss_mb(descendants(os.getpid()))
            t0 = time.perf_counter()
            self.art["still_running"] = stop_spark(self.spark)
            self.art["stop_s"] = time.perf_counter() - t0
        self.art["host_after"] = host_health()
        return self.art

    def _run(self) -> None:
        from blacklab_spark.server import BlsApp
        a, w, tr, n_ops = self.args, self.workload, self.tr, self.n_ops
        corpus = self.spark.read.parquet(self.corpus_path)
        self.index_dir = os.path.join(self.run_dir, "index")
        self.art["turns"] = n_docs = self.ref.n_docs

        t0 = time.perf_counter()
        for _ in range(SETUP_BUILDS):
            self.build(corpus)
        if len(self.builds) < SETUP_BUILDS:
            raise RuntimeError("set-up build failed")
        self.art["setup_builds_s"] = time.perf_counter() - t0
        self.art["index_bytes"] = dir_bytes(self.index_dir)
        if tr.enabled:
            self.art["storage"] = self.storage(n_docs)
            self.art["spimi_kernel_s"] = self.spimi_kernel_s()

        terms = pq.read_table(os.path.join(self.index_dir, "terms"),
                              columns=["term", "df"])
        bands = band_terms(dict(zip(terms.column("term").to_pylist(),
                                    terms.column("df").to_pylist())), n_docs)
        qm = QueryMaker(np.random.default_rng([a.seed, 2]), bands,
                        self.ref.idx.tokens, alive=self.ref.alive)
        self.app = BlsApp(self.engine, corpus=CORPUS)

        t_loop = time.perf_counter()
        if w == "search":
            for i, q in enumerate(search_stream(qm, n_ops)):
                self.request(q, qid=i)
        else:
            if tr.enabled:
                self.search_probe(qm)
            self.ingest_setup(n_ops)
            t_loop = time.perf_counter()
            for i in range(n_ops):
                self.ingest_round(i, qm)
        self.art["loop_s"] = time.perf_counter() - t_loop

        if tr.enabled and w == "search":
            # a traced run reports every layer; reach the ones the
            # workload's own requests do not
            self.ingest_setup(1)
            self.ingest_round(0, qm, loop=False)

    # -- layer measurements outside the spans ---------------------------
    def storage(self, n_docs: int) -> dict:
        post, blocks = footer_bytes(os.path.join(self.index_dir, "postings"))
        out = {f"postings.{c}_bytes_per_turn": post.get(c, 0) / n_docs
               for c in POSTINGS_PAYLOAD}
        out["postings.fixed_bytes_per_turn"] = sum(
            v for c, v in post.items() if c not in POSTINGS_PAYLOAD) / n_docs
        out["postings.blocks"] = blocks
        nd = pq.read_table(os.path.join(self.index_dir, "postings"),
                           columns=["n_docs"]).column("n_docs").to_numpy()
        out["postings.docs_per_block_p50"] = float(np.median(nd))
        for art in ("runs", "doc_meta"):
            cols, _ = footer_bytes(os.path.join(self.index_dir, art))
            out[f"{art}.bytes_per_turn"] = sum(cols.values()) / n_docs
        return out

    def spimi_kernel_s(self) -> float:
        """The SPIMI kernel called directly on the built doc_meta batches,
        one thread, batches decoded before timing."""
        from blacklab_spark.arrow_kernels import spimi_miniblocks
        from blacklab_spark.config import BuildConfig
        gen = spimi_miniblocks(BuildConfig(**BUILD_CONFIG))
        total = 0.0
        for f in sorted(glob.glob(os.path.join(self.index_dir, "doc_meta",
                                               "*.parquet"))):
            batches = list(pq.ParquetFile(f).iter_batches(
                batch_size=65536, columns=["doc_id", "tokens"]))
            with self.tr.span("arrow_kernels.spimi_miniblocks") as sp:
                for _ in gen(iter(batches)):
                    pass
            total += sp["end"] - sp["start"]
        return total

    # -- metrics --------------------------------------------------------
    def end_to_end(self) -> dict:
        """The metrics every workload reports; a request is one query on
        ``search`` and one ingest round on ``ingest``."""
        return {
            "setup_s": median(b["setup_s"] for b in self.builds),
            "request_p50_s": median(self.loop),
            "request_mean_s": statistics.fmean(self.loop),
            "index_bytes_per_turn": self.art["index_bytes"] / self.art["turns"],
        }

    def named(self) -> dict:
        """The workload's own metrics, each with its sample count."""
        timed = [b["build_s"] for b in self.builds[1:]]
        out = {"failed_ops_ratio": self.failed / self.attempted,
               "build_turns_per_s": self.art["turns"] / median(timed),
               "build_n": len(timed),
               "peak_rss_mb": self.art["peak_rss_mb"]}
        if self.workload == "search":
            out.update(percentiles("query", self.loop))
        else:
            rounds = [r for r in self.rounds if r["loop"] and "append_s" in r]
            for key in ("append", "delete"):
                out.update(percentiles(key, [r[f"{key}_s"] for r in rounds]))
            out.update(percentiles("delta_query", [
                r[k] for r in rounds for k in ("delta_topk_s", "delta_find_s")]))
        return out

    def per_layer(self) -> dict:
        tr, n = self.tr, self.art["turns"]
        traced = self.builds[1:]        # the builds after the first

        def stage(b, name, key="duration_sec"):
            return b["stages"].get(name, {}).get(key) or 0.0

        out = {f"build.{s}_s": median(stage(b, s) for b in traced)
               for s in ("doc_meta", "runs", "terms", "postings")}
        out["build.driver_s"] = median(
            b["build_s"] - sum(st.get("duration_sec", 0.0)
                               for st in b["stages"].values())
            for b in traced)
        out["build.spark_jobs"] = median(b["jobs"] for b in traced)
        for s in ("doc_meta", "postings"):
            out[f"build.{s}_shuffle_bytes_per_turn"] = median(
                stage(b, s, "shuffle_write_bytes") for b in traced) / n
        out["spark.jvm_gc_s"] = median(b["gc_s"] for b in traced)
        out["arrow_kernels.spimi_s"] = self.art["spimi_kernel_s"]
        out.update(self.art["storage"])
        for name in ("index.lookup_terms", "engine.topk_plan",
                     "engine.topk_exec", "engine.find_plan",
                     "engine.find_exec", "engine.repeat", "server.hits",
                     "ingest.append_delta", "ingest.delta_topk",
                     "ingest.delta_find", "delete.delete_docs"):
            out[f"{name}_s"] = median(tr.durations(name))
        out["engine.spark_jobs_per_query"] = median(
            tr.values("client.topk", "jobs") + tr.values("client.find", "jobs"))
        out["ingest.append_spark_jobs"] = median(
            tr.values("ingest.append_delta", "jobs"))
        out["ingest.parts"] = max(tr.values("ingest.open", "parts"))
        out["trace.request_p50_s"] = median(self.loop)
        return out


def percentiles(prefix: str, samples: list[float]) -> dict:
    return {f"{prefix}_{k}" + ("" if k == "n" else "_s"): v
            for k, v in summary(samples).items()}


def per_layer_unit(name: str) -> str:
    if name.endswith("_per_turn"):
        return "B/turn"
    if name.endswith("_s"):
        return "s"
    return "count"


def artifact_path(a, trace: int) -> str:
    return os.path.join(
        WORK, "artifacts",
        f"{a.workload}-seed{a.seed}-s{a.seconds:g}-trace{trace}.json")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    """Run each workload in a process of its own; print every metric of
    every workload, then one JSON line with all of them."""
    out, code = {}, 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", f"{args.seconds:g}",
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"{w}: exit code {proc.returncode}")
            code = code or proc.returncode
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        a = argparse.Namespace(**{**vars(args), "workload": w})
        with open(artifact_path(a, args.trace)) as f:
            named = json.load(f)["named"]
        res["workload_metrics"] = named
        out[w] = res
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for k, m in res["metrics"].items():
            print(f"  {k:<44} {m['value']:>14.6g} {m['unit']}")
        for k, v in named.items():
            print(f"  {k:<44} {v:>14.6g}")
    print(json.dumps(out))
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import blacklab_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    bench = Bench(args, run_dir)
    try:
        art = bench.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    art["wall_s"] = time.perf_counter() - T_START

    art.update(attempted=bench.attempted, failed=bench.failed,
               errors=bench.errors, samples=bench.samples,
               requests=bench.requests, builds=bench.builds,
               rounds=bench.rounds, loop=summary(bench.loop),
               named=bench.named())
    if args.trace:
        metrics = bench.per_layer()
        units = {k: per_layer_unit(k) for k in metrics}
        art["self_s_by_layer"] = bench.tr.self_times()
        art["spans"] = bench.tr.spans
        try:
            with open(artifact_path(args, 0)) as f:
                untraced = json.load(f)["metrics"]["request_p50_s"]
            traced = metrics["trace.request_p50_s"]
            art["tracing_overhead"] = {
                "traced_request_p50_s": traced,
                "untraced_request_p50_s": untraced,
                "overhead_s": traced - untraced}
        except (OSError, KeyError, ValueError):
            art["tracing_overhead"] = "no untraced run of this seed to compare"
        print(f"perfbench: tracing overhead {art['tracing_overhead']}",
              file=sys.stderr)
    else:
        metrics = bench.end_to_end()
        units = E2E_UNITS
    art["metrics"] = metrics
    path = artifact_path(args, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(art, f, indent=1, default=str)
    print(f"perfbench: {args.workload} {json.dumps(art['named'])}",
          file=sys.stderr)
    print(f"perfbench: artifact {path}", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
