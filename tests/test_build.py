import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from blacklab_spark import codec
from blacklab_spark.build import assign_dense_ids, build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.index import open_index


def test_assign_dense_ids_matches_global_rank(spark, tiny_pdf):
    df = spark.createDataFrame(tiny_pdf)
    out, cached = assign_dense_ids(df, ["conv_id", "turn_idx"], "doc_id", 4)
    rows = out.select("conv_id", "turn_idx", "doc_id").collect()
    cached.unpersist()
    got = sorted((r["conv_id"], r["turn_idx"], r["doc_id"]) for r in rows)
    expected = sorted((r["conv_id"], r["turn_idx"])
                      for r in tiny_pdf.to_dict("records"))
    assert [g[:2] for g in got] == expected
    assert [g[2] for g in got] == list(range(len(expected)))


def test_assign_doc_ids_fast_path_matches_generic(spark, tiny_pdf):
    """The conv-offset fast path must assign the SAME ids as the
    generic global-rank scheme (gates hash-verify doc_id everywhere,
    so the two plans must be bit-identical)."""
    from blacklab_spark.build import assign_doc_ids
    df = spark.createDataFrame(tiny_pdf)
    fast, c1 = assign_doc_ids(df, 4)
    slow, c2 = assign_dense_ids(df, ["conv_id", "turn_idx"], "doc_id", 4)
    got = sorted((r["conv_id"], r["turn_idx"], r["doc_id"])
                 for r in fast.select("conv_id", "turn_idx",
                                      "doc_id").collect())
    exp = sorted((r["conv_id"], r["turn_idx"], r["doc_id"])
                 for r in slow.select("conv_id", "turn_idx",
                                      "doc_id").collect())
    c1.unpersist()
    c2.unpersist()
    assert got == exp


def test_assign_doc_ids_sort_survives_optimizer(spark, tiny_pdf):
    """Catalyst's EliminateSorts drops a local sort BELOW a join, so
    the fast path must sort doc_id ABOVE the join. Assert (a) a Sort
    node survives in the executed plan and (b) every written doc_meta
    file is internally doc_id-ascending — the invariant the SPIMI
    kernel's presorted fast path and row-group pruning rely on."""
    import glob

    import pyarrow.parquet as pq

    from blacklab_spark.build import assign_doc_ids
    df = spark.createDataFrame(tiny_pdf)
    out, cached = assign_doc_ids(df, 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    cached.unpersist()
    assert "Sort [doc_id" in plan, plan
    # (b) on a real index dir built by the session fixture
    # (tiny_index_dir builds through this exact path)


def test_doc_meta_files_internally_sorted(spark, tiny_index_dir):
    import glob

    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(tiny_index_dir, "doc_meta",
                                          "part-*.parquet")))
    assert files
    for f in files:
        d = pq.read_table(f, columns=["doc_id"]).column("doc_id").to_numpy()
        assert (np.diff(d) >= 0).all(), f


def test_assign_doc_ids_nondense_falls_back(spark, tiny_pdf):
    """Gapped turn_idx (e.g. a deleted middle turn in the source) must
    take the generic path and still produce dense global ranks."""
    from blacklab_spark.build import assign_doc_ids
    pdf = tiny_pdf.copy()
    pdf["turn_idx"] = pdf["turn_idx"] * 2  # gaps: 0,2,4,...
    df = spark.createDataFrame(pdf)
    out, cached = assign_doc_ids(df, 4)
    rows = sorted((r["conv_id"], r["turn_idx"], r["doc_id"])
                  for r in out.select("conv_id", "turn_idx",
                                      "doc_id").collect())
    cached.unpersist()
    assert [r[2] for r in rows] == list(range(len(rows)))


def test_doc_meta_matches_oracle(spark, tiny_index_dir, tiny_oracle):
    idx = open_index(spark, tiny_index_dir)
    assert idx.n_docs == tiny_oracle.n_docs
    assert abs(idx.avgdl - tiny_oracle.avgdl) < 1e-9
    meta = {r["doc_id"]: r for r in idx.doc_meta.collect()}
    for d in tiny_oracle.doc_ids:
        assert meta[d]["n_tokens"] == tiny_oracle.dl[d]
        assert list(meta[d]["tokens"]) == tiny_oracle.tokens[d]


def test_content_store_roundtrip(spark, tiny_index_dir, tiny_pdf):
    """Per-turn text equality end-to-end — the invariant from
    BASELINE.json input_hint (≙ BlackLab content-store round-trip)."""
    idx = open_index(spark, tiny_index_dir)
    got = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in idx.doc_meta.select("conv_id", "turn_idx", "text").collect()}
    for rec in tiny_pdf.to_dict("records"):
        assert got[(rec["conv_id"], rec["turn_idx"])] == rec["text"]


def test_terms_dictionary(spark, tiny_index_dir, tiny_oracle):
    idx = open_index(spark, tiny_index_dir)
    terms = idx.terms.orderBy("term_id").collect()
    # dense ids in sorted-term order (deterministic reruns, SURVEY §1.5)
    assert [r["term_id"] for r in terms] == list(range(len(terms)))
    assert [r["term"] for r in terms] == sorted(r["term"] for r in terms)
    for r in terms:
        assert r["df"] == tiny_oracle.df(r["term"]), r["term"]
        assert r["cf"] == tiny_oracle.cf(r["term"]), r["term"]


def test_posting_blocks_decode_to_oracle(spark, tiny_index_dir, tiny_oracle):
    idx = open_index(spark, tiny_index_dir)
    term_of = {r["term_id"]: r["term"] for r in idx.terms.collect()}
    seen: dict[str, dict[int, tuple[int, list[int]]]] = {}
    for r in idx.postings.collect():
        term = term_of[r["term_id"]]
        docs = codec.decode_deltas(r["doc_ids"]).astype(int)
        tfs = codec.decode_varints(r["tfs"]).astype(int)
        dls = codec.decode_varints(r["dls"]).astype(int)
        poss = codec.decode_positions(r["positions"], r["n_docs"])
        assert r["n_docs"] == len(docs) <= idx.cfg.block_size
        # block never spans buckets
        assert (docs // idx.cfg.bucket_size == r["bucket"]).all()
        assert r["max_tf"] == tfs.max()
        for d, tf, dl, pos in zip(docs, tfs, dls, poss):
            seen.setdefault(term, {})[int(d)] = (int(tf), list(pos.astype(int)))
            assert dl == tiny_oracle.dl[int(d)]
    for term, plist in tiny_oracle.postings.items():
        assert term in seen, term
        for doc_id, positions in plist.items():
            tf, pos = seen[term][doc_id]
            assert tf == len(positions)
            assert pos == positions
    assert sum(len(v) for v in seen.values()) == \
        sum(len(v) for v in tiny_oracle.postings.values())


def test_resume_skips_done_stages(spark, tiny_pdf, tmp_path):
    out = str(tmp_path / "idx")
    df = spark.createDataFrame(tiny_pdf)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2)
    m1 = build_index(spark, df, out, cfg)
    assert all(s["status"] == "done" for s in m1["stages"].values())
    # wipe one stage's success marker → resume rebuilds only that stage
    os.remove(os.path.join(out, "postings", "_SUCCESS"))
    m2 = build_index(spark, df, out, cfg, resume=True)
    assert m2["stages"]["postings"]["status"] == "done"
    # earlier stages were not re-run: durations preserved
    assert m2["stages"]["doc_meta"] == m1["stages"]["doc_meta"]
    idx = open_index(spark, out)
    assert idx.postings.count() > 0


def test_manifest_lineage(spark, tiny_index_dir):
    with open(os.path.join(tiny_index_dir, "_index_meta.json")) as f:
        m = json.load(f)
    for st in ("doc_meta", "runs", "terms", "postings"):
        assert m["stages"][st]["status"] == "done"
        assert m["stages"][st]["rows"] > 0
        assert m["stages"][st]["rows_per_sec"] is not None
        # per-partition lineage: one entry per output file, rows add up
        files = m["stages"][st]["files"]
        assert files and sum(e["rows"] for e in files) == m["stages"][st]["rows"]
    assert m["config"]["k1"] == 1.2 and m["config"]["b"] == 0.75
    assert m["stats"]["n_docs"] == 112  # 41+30+41 turns (FIXTURES.md tiny)


def test_synonym_injection_word_multivalue(spark, tiny_pdf, tmp_path):
    """BuildConfig.synonyms — word-layer posIncr-0 stacking
    (AnnotationWriter.java:233-311): injected values are searchable
    through the postings with the source's positions, df/tf count
    stacked occurrences, the forward index keeps primary values, and
    the planner pins postings (no FiSeq) for word leaves."""
    from blacklab_spark.engine import SearchEngine
    out = str(tmp_path / "syn_idx")
    df = spark.createDataFrame(tiny_pdf)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2,
                      synonyms={"visa": ["permit"]})
    build_index(spark, df, out, cfg)
    eng = SearchEngine.open(spark, out)
    visa = sorted((r["doc_id"], r["start"])
                  for r in eng.find('"visa"').collect())
    permit = sorted((r["doc_id"], r["start"])
                    for r in eng.find('"permit"').collect())
    assert visa and permit == visa
    # forward index / display stays primary: no 'permit' in tokens
    toks = eng.index.doc_meta.select(
        F.explode("tokens").alias("t")).filter(
        F.col("t") == "permit").count()
    assert toks == 0
    # phrase through postings rides the stacked values
    assert (eng.phrase_hits(["permit", "application"]).count()
            == eng.phrase_hits(["visa", "application"]).count())
    # planner pins postings under synonyms (FiSeq verifies against
    # the primary-value forward index)
    from blacklab_spark.plans.parser import parse
    from blacklab_spark.plans.rewrite import rewrite
    from blacklab_spark.plans.executor import _seq_choice
    pat = rewrite(parse('"permit" "application"'))
    choice = _seq_choice(eng.index, list(pat.clauses))
    assert choice[0] != "fiseq"
    # BM25 over an injected term is rank-identical to the source term
    a = [(r["doc_id"],) for r in eng.topk(["permit"], k=5).collect()]
    b = [(r["doc_id"],) for r in eng.topk(["visa"], k=5).collect()]
    assert a == b


def test_synonym_config_validation(spark, tiny_pdf, tmp_path):
    df = spark.createDataFrame(tiny_pdf)
    with pytest.raises(ValueError, match="store_positions"):
        build_index(spark, df, str(tmp_path / "x1"),
                    BuildConfig(store_positions=False,
                                synonyms={"a": ["b"]}))
    with pytest.raises(ValueError, match="itself"):
        build_index(spark, df, str(tmp_path / "x2"),
                    BuildConfig(synonyms={"a": ["a"]}))


def test_resume_skips_artifact_stages(spark, tiny_pdf, tmp_path):
    """Underscore-dir artifact stages (relations/alignments/spans)
    must SKIP on resume like every other stage — they used to re-run
    every time because _stage_done probed out/<stage>/ instead of
    the _-prefixed artifact dir."""
    from blacklab_spark.sources.transcripts import gen_aligned_rows
    import pyspark.sql.functions as F2
    rows = gen_aligned_rows(seed=42)
    df = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"],
          r["tokens_s"], r["tokens_b"], r["align_pairs"]) for r in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, tokens_s array<string>, tokens_b array<string>, "
        "align_pairs array<struct<src:int,tgt:int>>") \
        .withColumn("ts", F2.timestamp_seconds(F2.lit(946684800)))
    out = str(tmp_path / "al_idx")
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2)
    m1 = build_index(spark, df, out, cfg)
    assert m1["stages"]["alignments"]["status"] == "done"
    m2 = build_index(spark, df, out, cfg, resume=True)
    # identical stage records → the stage was skipped, not re-run
    assert m2["stages"]["alignments"] == m1["stages"]["alignments"]


def test_synonym_target_collides_with_real_token(spark, tiny_pdf,
                                                 tmp_path):
    """Injected value = an existing vocabulary token: its postings
    must be the UNION of natural and injected positions with merged
    tf (one group per (term, doc) even when entries interleave), and
    BM25 df/tf must count both — checked against a pure-Python brute
    force over the corpus."""
    from blacklab_spark.engine import SearchEngine
    from blacklab_spark.tokenizer import py_tokens_insensitive
    out = str(tmp_path / "syncol_idx")
    df = spark.createDataFrame(tiny_pdf)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2,
                      synonyms={"visa": ["the"]})
    build_index(spark, df, out, cfg)
    eng = SearchEngine.open(spark, out)
    got = sorted((r["doc_id"], r["start"])
                 for r in eng.find('"the"').collect())
    docs = sorted(tiny_pdf.to_dict("records"),
                  key=lambda r: (r["conv_id"], r["turn_idx"]))
    expected = []
    for did, row in enumerate(docs):
        for p, t in enumerate(py_tokens_insensitive(row["text"])):
            if t in ("the", "visa"):
                expected.append((did, p))
    assert got == expected and got
    # tf merged: no duplicate (doc, pos) pairs
    assert len(set(got)) == len(got)


def test_terms_single_partition_matches_distributed(spark, tiny_pdf,
                                                    tmp_path):
    """r5 terms fast path: the bounded single-task dictionary sort
    must produce EXACTLY the distributed dense-id scheme's output
    (term, term_id, df, cf) — the id assignment contract both the
    postings join and every dictionary lookup depend on."""
    df = spark.createDataFrame(tiny_pdf)
    cfg_kw = dict(block_size=8, bucket_size=16, num_partitions=2)
    build_index(spark, df, str(tmp_path / "single"),
                BuildConfig(**cfg_kw))
    build_index(spark, df, str(tmp_path / "dist"),
                BuildConfig(**cfg_kw, terms_single_partition_max=0))
    a = spark.read.parquet(str(tmp_path / "single" / "terms")) \
        .toPandas().sort_values("term_id").reset_index(drop=True)
    b = spark.read.parquet(str(tmp_path / "dist" / "terms")) \
        .toPandas().sort_values("term_id").reset_index(drop=True)
    cols = ["term", "term_id", "df", "cf"]
    assert a[cols].equals(b[cols]) and len(a) > 0
    assert (a["term_id"].values == range(len(a))).all()
    # and the postings artifacts agree too (ids feed the merge join)
    pa_ = spark.read.parquet(str(tmp_path / "single" / "postings")) \
        .toPandas().sort_values(["term_id", "bucket", "block_id"]) \
        .reset_index(drop=True)
    pb_ = spark.read.parquet(str(tmp_path / "dist" / "postings")) \
        .toPandas().sort_values(["term_id", "bucket", "block_id"]) \
        .reset_index(drop=True)
    assert pa_.equals(pb_)


def test_spimi_kernel_int64_doc_range_fallback():
    """r5 int32 kernel keys: a batch whose doc-id RANGE exceeds 2^31
    must take the int64 path and still produce correct groups (the
    build's dense ids never hit this; direct kernel feed does)."""
    import pyarrow as pa
    from blacklab_spark.arrow_kernels import spimi_arrow_rows
    from blacklab_spark import codec
    batch = pa.RecordBatch.from_arrays(
        [pa.array([0, 2**40], type=pa.int64()),
         pa.array([["a", "b"], ["b", "a"]],
                  type=pa.list_(pa.string()))],
        names=["doc_id", "tokens"])
    rows = list(spimi_arrow_rows([batch]))
    assert len(rows) == 1
    out = rows[0].to_pydict()
    got = sorted(zip(out["term"], out["doc_id"], out["tf"]))
    assert got == [("a", 0, 1), ("a", 2**40, 1),
                   ("b", 0, 1), ("b", 2**40, 1)]
    # positions stream decodes back to the original indices
    by_key = {(t, d): p for t, d, p in
              zip(out["term"], out["doc_id"], out["positions"])}
    dec = codec.decode_varints(by_key[("a", 0)])
    assert list(dec) == [1, 0]           # tf=1, first_abs=0
    dec = codec.decode_varints(by_key[("b", 2**40)])
    assert list(dec) == [1, 0]           # 'b' is token 0 of doc 2^40


def _explicit_positions_batch(seed: int, top: int, dl: int):
    """Seeded 4-column kernel batch (doc_id, tokens, positions, dl)
    whose largest explicit position is ``top``."""
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    toks, poss = [], []
    for _ in range(3):
        n = int(rng.integers(1, 6))
        toks.append([str(t) for t in rng.choice(["a", "b", "c"], n)])
        poss.append(sorted(int(p) for p in rng.integers(0, top, n)))
    poss[-1][-1] = top
    return pa.RecordBatch.from_arrays(
        [pa.array([0, 1, 2], type=pa.int64()),
         pa.array(toks, type=pa.list_(pa.string())),
         pa.array(poss, type=pa.list_(pa.int64())),
         pa.array([dl] * 3, type=pa.int64())],
        names=["doc_id", "tokens", "positions", "dl"]), toks, poss


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_spimi_kernel_explicit_positions_int32_bound(seed):
    """Explicit positions and dl are stored as int32: the largest
    representable value round-trips, one more raises ValueError
    instead of wrapping."""
    from blacklab_spark.arrow_kernels import spimi_arrow_rows
    top = 2**31 - 1
    batch, toks, poss = _explicit_positions_batch(seed, top, top)
    out = list(spimi_arrow_rows([batch]))[0].to_pydict()
    want: dict = {}
    for d, (ts, ps) in enumerate(zip(toks, poss)):
        for t, p in zip(ts, ps):
            want.setdefault((t, d), []).append(p)
    got = {}
    for t, d, blob, dl in zip(out["term"], out["doc_id"],
                              out["positions"], out["dl"]):
        dec = [int(x) for x in codec.decode_varints(blob)]
        assert dec[0] == len(dec) - 1 and dl == top
        got[(t, d)] = list(np.cumsum(dec[1:]))
    assert got == want
    with pytest.raises(ValueError, match="position 2147483648"):
        list(spimi_arrow_rows([_explicit_positions_batch(seed, top + 1,
                                                         top)[0]]))
    with pytest.raises(ValueError, match="dl 2147483648"):
        list(spimi_arrow_rows([_explicit_positions_batch(seed, top,
                                                         top + 1)[0]]))


def test_preprocess_plugin_tagger(spark, tiny_pdf, tmp_path):
    """Convert-and-tag plugin hook (reference ConvertPlugin/TagPlugin/
    DocIndexerConvertAndTag, r4 VERDICT #7): a registered transform
    runs over the input before stage 1; the toy length tagger's
    layers land in the pre-annotated path and [pos=...] queries them.
    Hash-checked against a pure-Python application of the same
    tagger."""
    from blacklab_spark.engine import SearchEngine
    from blacklab_spark.tokenizer import (py_fold_insensitive,
                                          py_tokens_sensitive)
    out = str(tmp_path / "prep_idx")
    df = spark.createDataFrame(tiny_pdf)
    build_index(spark, df, out,
                BuildConfig(block_size=8, bucket_size=16,
                            num_partitions=2,
                            preprocess=("length_tagger",)))
    eng = SearchEngine.open(spark, out)
    got = sorted((r["doc_id"], r["start"])
                 for r in eng.find('[pos="long"]').collect())
    docs = sorted(tiny_pdf.to_dict("records"),
                  key=lambda r: (r["conv_id"], r["turn_idx"]))
    exp = []
    for did, row in enumerate(docs):
        for p, t in enumerate(py_tokens_sensitive(row["text"])):
            if len(py_fold_insensitive(t)) > 4:
                exp.append((did, p))
    assert got == exp and got
    # layer-AND with the word layer composes
    n_and = eng.find('[pos="long" & word="application"]').count()
    assert n_and == eng.find('"application"').count() > 0


def test_preprocess_unknown_name_raises(spark, tiny_pdf, tmp_path):
    df = spark.createDataFrame(tiny_pdf)
    with pytest.raises(ValueError, match="unknown preprocessor"):
        build_index(spark, df, str(tmp_path / "p_idx"),
                    BuildConfig(preprocess=("no_such_plugin",)))


def test_synonym_hot_filter_term_uses_postings(spark, tiny_pdf,
                                               tmp_path):
    """r4 ADVICE #1: the PosFilter hot-filter-term shortcut probes the
    forward index (PRIMARY values only) — on a synonym-stacked index
    it must be disabled, or positions where the filter term exists
    only as an injected synonym are silently missed.

    Fixture: synonyms {'visa': ['the']} makes every 'visa' position an
    injected 'the'; 'the' is hot (df*4 >= n_docs, and df counts
    stacked postings).  ``"visa" containing "the"`` must therefore
    return EVERY visa hit — the probe path returns none of them (no
    primary token 'the' at a visa position)."""
    from blacklab_spark.engine import SearchEngine
    from blacklab_spark.plans.executor import _is_hot_term
    out = str(tmp_path / "synhot_idx")
    df = spark.createDataFrame(tiny_pdf)
    build_index(spark, df, out,
                BuildConfig(block_size=8, bucket_size=16,
                            num_partitions=2,
                            synonyms={"visa": ["the"]}))
    eng = SearchEngine.open(spark, out)
    # the guard only matters if the term qualifies as hot here
    assert _is_hot_term(eng.index, "the")
    visa = sorted((r["doc_id"], r["start"])
                  for r in eng.find('"visa"').collect())
    filt = sorted((r["doc_id"], r["start"])
                  for r in eng.find('"visa" containing "the"').collect())
    assert visa and filt == visa


def test_synonym_guard_narrowed_to_injected_values(spark, tiny_pdf,
                                                   tmp_path):
    """r5 review: the probe/FiSeq synonym guards must disable fast
    paths only for terms that exist as INJECTED VALUES — synonym keys
    and uninvolved hot terms keep the probe (injection stacks values
    AT key positions, never the key elsewhere), so results through
    either path are identical."""
    from blacklab_spark.engine import SearchEngine
    from blacklab_spark.plans import query as Q
    from blacklab_spark.plans.executor import (_fiseq_synonym_unsafe,
                                               _is_hot_term)
    out = str(tmp_path / "syng_idx")
    df = spark.createDataFrame(tiny_pdf)
    build_index(spark, df, out,
                BuildConfig(block_size=8, bucket_size=16,
                            num_partitions=2,
                            synonyms={"visa": ["permit"]}))
    eng = SearchEngine.open(spark, out)
    idx = eng.index
    assert idx.synonym_injected_values == frozenset({"permit"})
    # value → unsafe; key and uninvolved terms → safe
    assert _fiseq_synonym_unsafe(idx, [Q.Term("permit")])
    assert not _fiseq_synonym_unsafe(idx, [Q.Term("visa"),
                                           Q.Term("the")])
    assert _fiseq_synonym_unsafe(idx, [Q.Regex("perm.*")])
    # hot uninvolved filter term goes through the probe and agrees
    # with the postings truth
    assert _is_hot_term(idx, "the")
    got = sorted((r["doc_id"], r["start"])
                 for r in eng.find('"visa" containing "visa"').collect())
    visa = sorted((r["doc_id"], r["start"])
                  for r in eng.find('"visa"').collect())
    assert got == visa and visa
    # and the injected value still returns every stacked position
    permit = sorted((r["doc_id"], r["start"])
                    for r in eng.find(
                        '"permit" containing "permit"').collect())
    assert permit == visa


def test_synonym_unfolded_keys_and_values_fold(spark, tiny_pdf,
                                               tmp_path):
    """Review fix: synonym keys/values are folded into the @i value
    space at build — 'Visa'→['Permit'] must behave exactly like
    'visa'→['permit'] (raw keys would silently never match the folded
    tokens column; raw values would be stored unsearchable)."""
    from blacklab_spark.engine import SearchEngine
    out = str(tmp_path / "synfold_idx")
    df = spark.createDataFrame(tiny_pdf)
    build_index(spark, df, out,
                BuildConfig(block_size=8, bucket_size=16,
                            num_partitions=2,
                            synonyms={"Visa": ["Permit"]}))
    eng = SearchEngine.open(spark, out)
    n = eng.find('"visa"').count()
    assert n > 0 and eng.find('"permit"').count() == n


def test_synonym_duplicate_values_dedup(spark, tiny_pdf, tmp_path):
    """Duplicate values in one synonym list (incl. dups created by
    folding) are deduped — no double-counted postings."""
    from blacklab_spark.engine import SearchEngine
    out = str(tmp_path / "syndup_idx")
    df = spark.createDataFrame(tiny_pdf)
    build_index(spark, df, out,
                BuildConfig(block_size=8, bucket_size=16,
                            num_partitions=2,
                            synonyms={"visa": ["permit", "Permit"]}))
    eng = SearchEngine.open(spark, out)
    rows = [(r["doc_id"], r["start"])
            for r in eng.find('"permit"').collect()]
    assert rows and len(set(rows)) == len(rows)
    # identity after folding still raises
    with pytest.raises(ValueError, match="itself"):
        build_index(spark, df, str(tmp_path / "x3"),
                    BuildConfig(synonyms={"visa": ["Visa"]}))


def test_stale_relations_artifact_not_served(spark, tiny_pdf,
                                             tmp_path):
    """Review fix: rebuilding into a dir whose previous build stored
    a _relations artifact, from an input WITHOUT a dependency layer,
    must remove the stale artifact (manifest + dir) — the synthetic
    fallback serves relation queries, not another corpus's edges."""
    import os as _os
    from blacklab_spark.index import open_index
    from blacklab_spark.sources.transcripts import (gen_conllu_texts)
    from blacklab_spark.sources.files import read_conllu
    out = str(tmp_path / "stale_idx")
    src = str(tmp_path / "conllu_src")
    _os.makedirs(src)
    for name, content in gen_conllu_texts(seed=42).items():
        with open(_os.path.join(src, name), "w") as fh:
            fh.write(content)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2)
    build_index(spark, read_conllu(spark, src), out, cfg)
    assert open_index(spark, out).doc_relations_stored is not None
    # rebuild same dir from a plain corpus (no HEAD/DEPREL layer)
    build_index(spark, spark.createDataFrame(tiny_pdf), out, cfg)
    idx = open_index(spark, out)
    assert idx.doc_relations_stored is None
    assert not _os.path.isdir(_os.path.join(out, "_relations"))
    assert "relations" not in idx.meta["stages"]
