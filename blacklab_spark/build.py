"""Index build pipeline: transcripts table → inverted-index artifacts.

Replaces the reference's Lucene write path (IndexerImpl → BlackLab40
codec, reference: engine/src/main/java/nl/inl/blacklab/codec/BlackLab40PostingsWriter.java:145-225,
SURVEY.md §2.C) with Spark jobs:

  1. stable ordering + dense int64 doc ids by global (conv_id, turn_idx)
     rank — range-partition + per-partition offsets, no zipWithIndex,
     no single-partition window (scales to 10^12 rows);
  2. tokenize (JVM regexp, §tokenizer) → doc_meta: the engine's
     *forward index* + *content store* in one table (token arrays +
     text column; SURVEY.md §1.1);
  3. SPIMI: per-partition vectorized posting construction
     (mapInPandas; one output row per (term, doc) with tf + positions
     — the per-(term,doc) aggregation happens inside the doc row, so
     nothing is shuffled per token occurrence);
  4. terms dictionary with dense term ids (sorted by term string —
     deterministic across reruns, mirrors the reference's sorted terms
     file, reference: forwardindex/TermsIntegrated.java:82-111);
  5. shuffle merge by (term_id, doc-range bucket) → delta-gap+varint
     posting blocks with per-block max BM25 score (k1/b frozen at
     build; reference analog: per-segment postings merged by codec,
     BlackLab40PostingsWriter.java:87-106).

Doc-range bucketing doubles as the skew strategy: a hot term's
postings split across all buckets (≤ bucket_size docs per group), so
no reducer sees more than bucket_size rows per term.

Build is resumable: each stage writes its artifact dir + a manifest
entry (`_index_meta.json`); ``resume=True`` skips completed stages.
The corpus stats (n_docs, total_tokens, avgdl) are observed on the
doc_meta write and saved with its stage entry. Each stage runs its
jobs under a job tag of its own, and its manifest entry sums shuffle
bytes over those jobs' stages only. Stages re-read their inputs with
the schema stored in the parquet footers (index.read_artifact).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F, types as T

from blacklab_spark.arrow_kernels import finalize_blocks_arrow, spimi_miniblocks
from blacklab_spark.config import INDEX_FORMAT_VERSION, BuildConfig
from blacklab_spark.index import read_artifact
from blacklab_spark.tokenizer import tokens_insensitive

# SPIMI emits pre-encoded MINI-BLOCKS, not raw posting rows: doc ids
# are range-partitioned, so a (term, bucket) group lives in ≤2 adjacent
# partitions and per-partition encoding is already ~the merge. The
# shuffle then carries ~5× fewer rows with payloads as opaque bytes —
# the 63M-row version spent ~480 CPU-s in the JVM↔Arrow row pivot
# alone (measured at sf-bench scale).
MINIBLOCK_SCHEMA = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("bucket", T.LongType(), False),
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("n_docs", T.IntegerType(), False),
    T.StructField("sum_tf", T.LongType(), False),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("doc_ids", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
    T.StructField("positions", T.BinaryType(), True),
])

BLOCK_SCHEMA = T.StructType([
    T.StructField("term_id", T.LongType(), False),
    T.StructField("bucket", T.LongType(), False),
    T.StructField("n_docs", T.IntegerType(), False),
    T.StructField("doc_ids", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
    T.StructField("positions", T.BinaryType(), True),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("max_score", T.DoubleType(), False),
])


@contextlib.contextmanager
def stage_jobs(spark: SparkSession):
    """Run the body's Spark jobs under a job tag of their own; yields
    the tag. Tags leave job groups alone, and jobs of other threads do
    not carry it."""
    sc, tag = spark.sparkContext, f"blacklab-stage-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        yield tag
    finally:
        sc.removeJobTag(tag)


def _tagged_shuffle_bytes(spark, tag: str) -> tuple[int, int] | None:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over the stages
    of the jobs that carry ``tag``, from the live AppStatusStore — so
    concurrent jobs in the session do not count, and neither do stages
    outside the tag's jobs. The per-stage numbers land in the manifest
    so scaling efficiency can be tied to a measured bytes-moved-per-turn
    number. Pure introspection via py4j — any reflection drift across
    Spark versions degrades to None, never fails the build."""
    try:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        store = jsc.statusStore()
        empty = sc._jvm.java.util.ArrayList()
        quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        stage_ids = {s for j in jsc.statusTracker().getJobIdsForTag(tag)
                     for s in sc.statusTracker().getJobInfo(j).stageIds}
        w = r = 0
        for sid in stage_ids:
            it = store.stageData(sid, False, empty, False,
                                 quantiles).iterator()
            while it.hasNext():
                s = it.next()
                w += s.shuffleWriteBytes()
                r += s.shuffleReadBytes()
        return int(w), int(r)
    except Exception:
        return None


def _parquet_file_rows(path: str) -> list[tuple[str, int]]:
    """(file, rows) per output partition file, from the footers.
    This is the stage's per-partition lineage: which task wrote which
    rows. Footer reads are O(files) driver-side metadata lookups; a
    10^12-row index with ~10^5 files costs a few seconds and a few MB
    of manifest — no data pass."""
    import glob as _glob

    import pyarrow.parquet as _pq
    out = []
    for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
        out.append((os.path.basename(f),
                    _pq.ParquetFile(f).metadata.num_rows))
    return out


def assign_dense_ids(df: DataFrame, key_cols: list[str], id_col: str,
                     num_partitions: int):
    """Dense 0-based int64 ids by global sort order of unique ``key_cols``.

    Range-partition on the keys (disjoint ordered ranges per partition),
    count rows per partition (small driver-side cumsum), then
    ``offset + row_number within partition``. Equivalent to a global
    row_number but with no single-partition bottleneck — this is the
    10^12-row-safe scheme from SURVEY.md §7 "hard parts (3)".
    Deterministic: ids depend only on the key order, not on boundaries.
    """
    spark = df.sparkSession
    d = df.repartitionByRange(num_partitions, *key_cols) \
          .withColumn("_pid", F.spark_partition_id()).persist()
    counts = {r["_pid"]: r["cnt"] for r in
              d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets, schema="_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in key_cols])
    out = (d.join(F.broadcast(off_df), "_pid")
            .withColumn(id_col, (F.row_number().over(w) - 1 + F.col("_off")).cast("long"))
            .drop("_pid", "_off"))
    # caller must unpersist `d` once `out` is materialized — leaving the
    # whole input cached poisons later stages' execution memory / GC
    return out, d


# assign_doc_ids fast path: broadcast the per-conversation offset table
# only below this many conversations (~30 MB of (conv_id, off) rows).
# Above it the generic assign_dense_ids scheme is used — still
# 10^12-row-safe, just heavier (full-corpus range shuffle + window).
OFFSETS_BROADCAST_MAX_CONVS = 1_000_000


def assign_doc_ids(df: DataFrame, num_partitions: int):
    """doc ids for the transcript shape, exploiting per-conversation
    turn density: when every conversation's ``turn_idx`` is dense
    0..n-1 (validated by one per-conversation aggregate — true for any
    well-formed transcript table), the global (conv_id, turn_idx) rank
    is simply ``conv_offset + turn_idx``. That replaces the generic
    :func:`assign_dense_ids` plan's full-corpus persist + count job +
    row_number window with a keys-only aggregate and a broadcast join,
    leaving ONE full-corpus job (range shuffle → sort → downstream
    tokenize/write). The generic plan cached the entire text corpus
    between its two jobs — measured as the build's worst-scaling stage
    (doc_meta 1→4 cores: 0.43 efficiency) and the old-gen-pressure
    source behind multi-× rep variance at full occupancy.

    Returns (with_ids, cached) with the same contract as
    assign_dense_ids: rows range-partitioned and sorted by
    (conv_id, turn_idx) = doc_id order; caller unpersists `cached`.
    Falls back to assign_dense_ids when turns are not dense or the
    conversation count exceeds the broadcast bound."""
    spark = df.sparkSession
    stats = (df.groupBy("conv_id")
             .agg(F.count("*").alias("_n"),
                  F.min("turn_idx").alias("_lo"),
                  F.max("turn_idx").alias("_hi"))
             .persist())
    agg = stats.agg(
        F.count("*").alias("convs"),
        F.sum(F.when((F.col("_lo") != 0) |
                     (F.col("_hi") != F.col("_n") - 1), 1)
              .otherwise(0)).alias("bad")).collect()[0]
    if int(agg["bad"] or 0) > 0 or \
            int(agg["convs"]) > OFFSETS_BROADCAST_MAX_CONVS:
        stats.unpersist()
        return assign_dense_ids(df, ["conv_id", "turn_idx"], "doc_id",
                                num_partitions)
    # exclusive running sum of turn counts in conv_id order; the stats
    # table is |convs| rows, so a single-partition window is bounded
    # by the broadcast cap, not the corpus
    w = Window.orderBy("conv_id").rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = stats.select(
        "conv_id",
        F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_off"))
    # The partition sort must come AFTER the join: Catalyst's
    # EliminateSorts silently drops a local sort that sits below a
    # join (verified on the executed plan — no Sort node survived),
    # which left each doc_meta file a concatenation of a few sorted
    # mapper-chunk runs instead of one sorted run. Sorting the
    # computed doc_id above the join survives the optimizer (plan-
    # asserted in tests) and is also cheaper: one int64 key instead
    # of (string, int).
    out = (df.repartitionByRange(num_partitions, "conv_id", "turn_idx")
           .join(F.broadcast(offsets), "conv_id")
           .withColumn("doc_id",
                       (F.col("_off") + F.col("turn_idx")).cast("long"))
           .drop("_off")
           .sortWithinPartitions("doc_id"))
    return out, stats


# Terms-dictionary dense-id fast path: vocabularies at or below this
# row count take a single-task sort (one job, near-zero fixed floor)
# instead of the generic range-partition scheme (a sampling job + a
# count job + a window join — measured as the build's worst-scaling
# stage, 0.57 efficiency at 1→4 cores, because its ~2s serial floor
# doesn't parallelize). The reference holds the ENTIRE dictionary in
# memory per index (TermsIntegrated.java), so a bounded single-task
# dictionary sort is faithful to it; corpora whose vocabulary exceeds
# the bound (web-scale mixed text) fall back to the fully-distributed
# scheme automatically.
TERMS_SINGLE_PARTITION_MAX = 4_000_000


def normalized_synonyms(synonyms: dict) -> dict:
    """Fold a BuildConfig.synonyms map into the @i layer's value
    space (fold∘lower — the layer the injection matches and stores
    against): raw keys like "Visa" would silently never match the
    folded `tokens` column, and raw values like "Permit" would be
    stored unsearchable since query literals fold too. Values are
    deduped after folding (duplicates would double-count postings);
    a value folding onto its own key raises (same double-count the
    identity check exists for)."""
    from blacklab_spark.tokenizer import py_fold_insensitive as fold
    out: dict[str, list[str]] = {}
    for k, vs in synonyms.items():
        fk = fold(k)
        fvs = sorted({fold(v) for v in vs})
        if fk in fvs:
            raise ValueError(
                f"synonym list of {k!r} contains the token itself "
                f"(after @i folding: {fk!r}) — would double-count "
                "its postings")
        if fk in out:
            raise ValueError(
                f"synonym keys {k!r} and a previous key fold to the "
                f"same @i term {fk!r}; merge their lists")
        out[fk] = fvs
    return out


def _spimi_miniblocks(doc_meta: DataFrame, cfg: BuildConfig) -> DataFrame:
    """Per-partition SPIMI → encoded mini-block rows (Arrow-native,
    see arrow_kernels.spimi_miniblocks). Tokenizes from text when the
    arrays are not materialized (format v5).

    With ``cfg.synonyms`` the postings input is the FLATTENED
    multi-value view (reference posIncr-0 stacking,
    AnnotationWriter.java:233-311): per position, the primary token
    plus its injected alternatives, with EXPLICIT positions and the
    primary doc length — all JVM higher-order functions, one extra
    flat array per doc, no shuffle. Same-position stacked entries
    stay adjacent, so the kernel's sorted fast path still applies."""
    from blacklab_spark.annotations import with_token_layers
    dm = with_token_layers(doc_meta)
    if cfg.synonyms:
        pairs = []
        for k, vs in sorted(normalized_synonyms(cfg.synonyms).items()):
            pairs += [F.lit(k), F.array(*[F.lit(v) for v in vs])]
        syn = F.create_map(*pairs)
        ts = F.col("tokens")
        mv = F.transform(ts, lambda t: F.concat(
            F.array(t), F.coalesce(syn[t],
                                   F.array().cast("array<string>"))))
        flat_tokens = F.flatten(mv)
        flat_pos = F.flatten(F.transform(
            mv, lambda vs, i: F.transform(vs, lambda _: i)))
        return (dm.select(
            "doc_id", flat_tokens.alias("tokens"),
            flat_pos.cast("array<int>").alias("positions"),
            F.size(ts).cast("int").alias("dl"))
            .mapInArrow(spimi_miniblocks(cfg), MINIBLOCK_SCHEMA))
    return dm.select("doc_id", "tokens") \
        .mapInArrow(spimi_miniblocks(cfg), MINIBLOCK_SCHEMA)


class IndexBuilder:
    """Drives the staged, checkpointed build. See module docstring."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 cfg: BuildConfig | None = None):
        self.spark = spark
        self.out = out_dir.rstrip("/")
        self.cfg = cfg or BuildConfig()
        self.manifest_path = os.path.join(self.out, "_index_meta.json")

    # -- manifest / checkpoint helpers ---------------------------------
    def _load_manifest(self) -> dict:
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                return json.load(f)
        return {"format_version": INDEX_FORMAT_VERSION,
                "config": self.cfg.to_dict(), "stages": {}}

    def _save_manifest(self, m: dict) -> None:
        os.makedirs(self.out, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2, default=str)
        os.replace(tmp, self.manifest_path)

    def _stage_done(self, m: dict, name: str,
                    path: str | None = None) -> bool:
        """``path`` overrides the artifact dir for stages whose dir
        name differs from the stage name (the `_`-prefixed span/
        relation/alignment artifacts) — without it those stages
        re-ran on every resume because out/<stage>/_SUCCESS never
        exists."""
        st = m["stages"].get(name)
        return bool(st and st.get("status") == "done"
                    and os.path.exists(os.path.join(
                        path or os.path.join(self.out, name),
                        "_SUCCESS")))

    def _drop_stage(self, m: dict, name: str, path: str) -> None:
        """Remove a stale optional-stage artifact (dir + manifest
        entry): a rebuild whose input lacks the layer must not leave
        a previous corpus's edges on disk where a dir-existence
        check could serve them against the new doc ids."""
        changed = m["stages"].pop(name, None) is not None
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
            changed = True
        if changed:
            self._save_manifest(m)

    def _finish_stage(self, m: dict, name: str, t0: float, path: str,
                      partitions: int, tag: str) -> int:
        """Record a written stage in the manifest: its output files and
        rows, and the shuffle bytes of the jobs run under ``tag``."""
        dur = time.time() - t0
        files = _parquet_file_rows(path)
        rows = sum(r for _, r in files)
        m["stages"][name] = {
            "status": "done", "rows": rows, "partitions": partitions,
            "duration_sec": round(dur, 3),
            "rows_per_sec": round(rows / dur, 1) if dur > 0 else None,
            # per-partition lineage (north rule): one entry per output
            # file = per write-task row count, from the parquet footers
            "files": [{"file": f, "rows": r} for f, r in files],
        }
        shuffle = _tagged_shuffle_bytes(self.spark, tag)
        if shuffle is not None:
            m["stages"][name]["shuffle_write_bytes"] = shuffle[0]
            m["stages"][name]["shuffle_read_bytes"] = shuffle[1]
        self._save_manifest(m)
        return rows

    # -- build ---------------------------------------------------------
    def _doc_meta_frame(self, transcripts: DataFrame, parts: int):
        """(doc_meta rows to write, cached frame the caller unpersists
        once they are written): dense ids, token layers, text."""
        cfg = self.cfg
        with_ids, cached = assign_doc_ids(transcripts, parts)
        if cfg.tags:
            # inline-tag corpora (operators/tags.py): tokenize the
            # tag-stripped text; the original markup is kept as
            # `text_raw` (content store) and feeds the _spans
            # stage below. Plain corpora skip both projections.
            from blacklab_spark.operators.tags import strip_tags
            with_ids = (with_ids
                        .withColumn("text_raw", F.col("text"))
                        .withColumn("text", strip_tags("text")))
        # two sensitivity layers per annotation (BlackLab @i/@s,
        # SURVEY.md §1.1): `tokens` = lowercased (drives postings +
        # BM25), `tokens_s` = original case. Format v6 stores ONLY
        # `tokens` — the @i layer that drives every hot probe path
        # (CQL default layer, phrase probe, collocations,
        # repetition closure, FiSeq verify); parquet
        # dictionary-encodes it, so on disk it is effectively the
        # reference's term-id tokens file, and SPIMI reads it
        # instead of tokenizing a second time. Rarer layers
        # (tokens_s/ci/di/pos) are DERIVED from text at read time
        # (annotations.with_token_layers; the tokenizer is a
        # deterministic JVM expression, so derived ≡ stored).
        # Deriving every layer measured 3-12× probe-path latency
        # at sf0.1. Older indexes that stored all layers or none
        # still read: with_token_layers derives only absent ones.
        pre_layers = [c for c in ("tokens_s", "tokens_pos",
                                  "tokens_lemma")
                      if c in transcripts.columns]
        if pre_layers:
            # PRE-ANNOTATED input (e.g. sources/files.read_conllu —
            # the reference's pre-tagged-corpus mode,
            # formats/conll-u.blf.yaml): the input defines the
            # token stream, so never re-tokenize from text; the @i
            # layer is the per-token fold∘lower of the given
            # surface forms, and provided pos/lemma layers are
            # stored as given (with_token_layers derives only
            # ABSENT columns at read time, so queries see these).
            if "tokens_s" not in pre_layers:
                raise ValueError(
                    "pre-annotated input needs tokens_s alongside "
                    f"{pre_layers}")
            if cfg.tags:
                raise ValueError(
                    "tags=True (inline-markup) and pre-tokenized "
                    "input are mutually exclusive")
            from blacklab_spark.tokenizer import fold_insensitive
            doc_meta = with_ids.withColumn(
                "tokens", F.transform(F.col("tokens_s"),
                                      fold_insensitive))
            stored = ["tokens"] + pre_layers
        else:
            doc_meta = with_ids.withColumn(
                "tokens", tokens_insensitive("text"))
            stored = ["tokens"]
        doc_meta = doc_meta.withColumn(
            "n_tokens", F.size("tokens").cast("int"))
        doc_meta = doc_meta.select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
            "n_tokens", *stored, "text",
            *(["text_raw"] if cfg.tags else []),
            # parallel-corpus field b: a GIVEN second token layer
            # (its own coordinate system) is stored as-is; the
            # alignment edges land in the _alignments artifact
            # (stage 1d). Catalyst prunes the column for queries
            # that never touch field b.
            *(["tokens_b"] if "tokens_b" in transcripts.columns
              else []))
        return doc_meta, cached

    def build(self, transcripts: DataFrame, resume: bool = False) -> dict:
        """Run all stages; returns the final manifest."""
        cfg = self.cfg
        if cfg.preprocess:
            # convert-and-tag hooks (preprocess.py): column-expression
            # transforms fused into the stage-1 scan by Catalyst; a
            # tagger that adds tokens_s/tokens_pos flows into the
            # pre-annotated input mode below
            from blacklab_spark.preprocess import apply_preprocessors
            transcripts = apply_preprocessors(transcripts,
                                              cfg.preprocess)
        if cfg.synonyms:
            # stacked word values live in the POSTINGS only; a
            # positionless/probe-only index would silently drop them
            if not cfg.store_positions:
                raise ValueError(
                    "BuildConfig.synonyms requires store_positions="
                    "True (stacked values are searchable through the "
                    "postings; probes see the primary value only)")
            normalized_synonyms(cfg.synonyms)  # raises on identity
        parts = cfg.num_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))
        m = self._load_manifest() if resume else {
            "format_version": INDEX_FORMAT_VERSION, "config": cfg.to_dict(),
            "stages": {}}

        # Stage 1: doc_meta = ids + tokens + text (forward index+content store)
        doc_meta_path = os.path.join(self.out, "doc_meta")
        # the manifest's stats ride the doc_meta stage: a resumed
        # manifest without them re-runs it
        if not (resume and self._stage_done(m, "doc_meta")
                and "stats" in m):
            t0 = time.time()
            with stage_jobs(self.spark) as tag:
                doc_meta, cached = self._doc_meta_frame(transcripts, parts)
                # the rows are already range-partitioned by (conv_id,
                # turn_idx) = doc_id order, rows sorted within
                # partitions → files hold disjoint sorted doc_id runs;
                # writing directly keeps parquet row-group pruning and
                # avoids a second shuffle (repartitionByRange would
                # also re-execute the pipeline for boundary sampling).
                # 4MB row groups: splittable scans regardless of file
                # count (a single 128MB row group makes a file one
                # indivisible task → stage skew), and finer row-group
                # pruning at query time. n_docs/total_tokens are
                # observed on the write instead of a second job; an
                # unnamed Observation, so concurrent builds never
                # share one.
                obs = Observation()
                doc_meta.observe(
                    obs, F.count(F.lit(1)).alias("n_docs"),
                    F.sum("n_tokens").alias("total_tokens")) \
                    .write.mode("overwrite") \
                    .option("parquet.block.size", 4 * 1024 * 1024) \
                    .parquet(doc_meta_path)
                cached.unpersist()
            n_docs = int(obs.get["n_docs"])
            total_tokens = int(obs.get["total_tokens"] or 0)
            m["stats"] = {"n_docs": n_docs, "total_tokens": total_tokens,
                          "avgdl": total_tokens / max(1, n_docs)}
            self._finish_stage(m, "doc_meta", t0, doc_meta_path, parts,
                               tag)
        n_docs, avgdl = m["stats"]["n_docs"], m["stats"]["avgdl"]

        doc_meta = read_artifact(self.spark, doc_meta_path)

        # Stage 1b (cfg.tags): inline-tag span layer — map-side stack
        # machine over text_raw (operators/tags.py), one narrow
        # artifact (doc_id, tag, start, end, attrs). Spans inherit
        # doc_meta's doc-id-ordered files → row-group pruning on the
        # tag-leaf scan works like every other artifact.
        if cfg.tags:
            spans_path = os.path.join(self.out, "_spans")
            if not (resume and self._stage_done(m, "spans",
                                                spans_path)):
                t0 = time.time()
                from blacklab_spark.operators.tags import doc_tag_spans
                with stage_jobs(self.spark) as tag:
                    doc_tag_spans(doc_meta, "text_raw") \
                        .write.mode("overwrite") \
                        .option("parquet.block.size", 4 * 1024 * 1024) \
                        .parquet(spans_path)
                self._finish_stage(m, "spans", t0, spans_path, parts, tag)

        # Stage 1c: REAL dependency edges — inputs carrying a
        # per-token HEAD/DEPREL layer (read_conllu; reference indexes
        # relations from input, integrated.md:34-119) get a stored
        # `_relations` edge artifact (doc_id, rel_type, src/tgt span);
        # operators/relations.doc_relations prefers it over the
        # synthetic pos-grammar fallback. The input arrays join to
        # doc_meta's dense ids on the natural key — a narrow
        # build-time join, never on the query path.
        rel_path = os.path.join(self.out, "_relations")
        if not {"tokens_head",
                "tokens_deprel"} <= set(transcripts.columns):
            # input has no dependency layer: a LEFTOVER artifact from
            # a previous build of a different corpus into this dir
            # would otherwise be served against the new doc ids
            # (doc_relations_stored is manifest-gated, but keep the
            # on-disk state consistent too)
            self._drop_stage(m, "relations", rel_path)
        else:
            if not (resume and self._stage_done(m, "relations",
                                                rel_path)):
                t0 = time.time()
                from blacklab_spark.operators.relations import \
                    edges_from_head_layer
                keyed = transcripts.select(
                    "conv_id", "turn_idx", "tokens_head",
                    "tokens_deprel")
                rel_src = doc_meta.select(
                    "doc_id", "conv_id", "turn_idx") \
                    .join(keyed, ["conv_id", "turn_idx"])
                with stage_jobs(self.spark) as tag:
                    edges_from_head_layer(rel_src) \
                        .write.mode("overwrite") \
                        .option("parquet.block.size", 4 * 1024 * 1024) \
                        .parquet(rel_path)
                self._finish_stage(m, "relations", t0, rel_path, parts,
                                   tag)

        # Stage 1d: REAL alignment edges — parallel-corpus inputs
        # carrying an `align_pairs` column (array<struct<src,tgt>> of
        # token-level pairs, the fast_align/eflomal output shape) get
        # a stored `_alignments` edge artifact;
        # operators/parallel.alignment_edges prefers it over the
        # derived 2:1-fusion fallback.
        al_path = os.path.join(self.out, "_alignments")
        if "align_pairs" not in transcripts.columns:
            self._drop_stage(m, "alignments", al_path)
        else:
            if not (resume and self._stage_done(m, "alignments",
                                                al_path)):
                t0 = time.time()
                keyed = transcripts.select("conv_id", "turn_idx",
                                           "align_pairs")
                al_src = doc_meta.select(
                    "doc_id", "conv_id", "turn_idx") \
                    .join(keyed, ["conv_id", "turn_idx"])
                edges = al_src.select(
                    "doc_id", F.explode("align_pairs").alias("e")) \
                    .select(
                        "doc_id",
                        F.col("e.src").cast("int").alias("al_src_start"),
                        (F.col("e.src") + 1).cast("int")
                        .alias("al_src_end"),
                        F.col("e.tgt").cast("int").alias("al_tgt_start"),
                        (F.col("e.tgt") + 1).cast("int")
                        .alias("al_tgt_end"))
                with stage_jobs(self.spark) as tag:
                    edges.write.mode("overwrite") \
                        .option("parquet.block.size", 4 * 1024 * 1024) \
                        .parquet(al_path)
                self._finish_stage(m, "alignments", t0, al_path, parts,
                                   tag)

        # Stage 2: SPIMI mini-blocks (explicit checkpoint — both the
        # terms stage and the merge stage consume it, and a resumed
        # build must not re-tokenize).
        runs_path = os.path.join(self.out, "runs")
        if not (resume and self._stage_done(m, "runs")):
            t0 = time.time()
            with stage_jobs(self.spark) as tag:
                _spimi_miniblocks(doc_meta, cfg).write.mode("overwrite") \
                    .option("parquet.block.size", 4 * 1024 * 1024) \
                    .parquet(runs_path)
            self._finish_stage(m, "runs", t0, runs_path, parts, tag)
        runs = read_artifact(self.spark, runs_path)

        # Stage 3: terms dictionary with dense ids (sorted by term).
        # The distinct terms never outnumber the runs rows, so a count
        # only runs when those exceed TERMS_SINGLE_PARTITION_MAX. On
        # that path the aggregate is persisted BEFORE any id scheme
        # runs: the generic scheme's range-boundary sampling job used
        # to execute the full groupBy a second time (the stage's
        # 1→4-core efficiency was 0.57 — a serial floor of repeated
        # jobs, not parallel work; r4 VERDICT #2b).
        terms_path = os.path.join(self.out, "terms")
        if not (resume and self._stage_done(m, "terms")):
            t0 = time.time()
            terms_agg = (runs.groupBy("term")
                         .agg(F.sum("n_docs").alias("df"),
                              F.sum("sum_tf").alias("cf")))
            single = (m["stages"]["runs"]["rows"]
                      <= TERMS_SINGLE_PARTITION_MAX)
            t_cached = None
            with stage_jobs(self.spark) as tag:
                try:
                    if not single:
                        terms_agg = terms_agg.persist()
                        single = (terms_agg.count()
                                  <= TERMS_SINGLE_PARTITION_MAX)
                    if single:
                        # bounded dictionary (the common case — the
                        # reference holds the whole dictionary in
                        # memory per index, TermsIntegrated.java:82-111):
                        # ONE task sorts the vocabulary and numbers rows
                        # in sort order via monotonically_increasing_id
                        # (pid 0 → dense 0-based). One job total; no
                        # sampling pass, no count-collect, no window
                        # join.
                        terms = (terms_agg.repartition(1)
                                 .sortWithinPartitions("term")
                                 .select("term",
                                         F.monotonically_increasing_id()
                                         .alias("term_id"), "df", "cf"))
                    else:
                        # web-scale vocabulary: fully-distributed ids
                        terms, t_cached = assign_dense_ids(
                            terms_agg, ["term"], "term_id", parts)
                        terms = terms.select("term", "term_id", "df", "cf")
                        # assign_dense_ids leaves terms range-partitioned
                        # and sorted by term (= term_id order)
                    terms.write.mode("overwrite").parquet(terms_path)
                finally:
                    terms_agg.unpersist()
                    if t_cached is not None:
                        t_cached.unpersist()
            self._finish_stage(m, "terms", t0, terms_path,
                               1 if single else parts, tag)
        terms = read_artifact(self.spark, terms_path)

        # Stage 4: shuffle merge of mini-blocks per (term_id, bucket):
        # assign term ids and add the per-block max BM25 score (df is
        # only known after the terms stage — that is why max_score
        # cannot be computed in SPIMI).
        postings_path = os.path.join(self.out, "postings")
        if not (resume and self._stage_done(m, "postings")):
            t0 = time.time()
            joined = runs.join(terms.select("term", "term_id", "df"), "term")
            # hash-shuffle on (term_id, bucket) keeps each group whole
            # within a partition; sortWithinPartitions gives the kernel
            # contiguous groups in doc order — the SPIMI merge shuffle,
            # now over pre-encoded rows.
            blocks = (joined
                      .repartition(parts, "term_id", "bucket")
                      .sortWithinPartitions("term_id", "bucket", "first_doc")
                      .select("term_id", "bucket", "n_docs", "df", "max_tf",
                              "doc_ids", "tfs", "dls", "positions")
                      .mapInArrow(finalize_blocks_arrow(n_docs, avgdl),
                                  BLOCK_SCHEMA))
            # kernel output preserves the (term_id, bucket, doc_id)
            # sort of its input partition → each file is a sorted run
            # with non-overlapping row-group [min,max] on term_id, so
            # a k-term lookup touches ≤k row groups per file. A
            # repartitionByRange here would re-run the whole encode
            # pipeline for boundary sampling — write directly.
            with stage_jobs(self.spark) as tag:
                blocks.write.mode("overwrite") \
                    .option("parquet.block.size", 4 * 1024 * 1024) \
                    .parquet(postings_path)
            self._finish_stage(m, "postings", t0, postings_path, parts, tag)

        m["built_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        self._save_manifest(m)
        return m


def build_index(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                cfg: BuildConfig | None = None, resume: bool = False) -> dict:
    return IndexBuilder(spark, out_dir, cfg).build(transcripts, resume=resume)
