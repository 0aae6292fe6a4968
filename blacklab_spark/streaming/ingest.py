"""Incremental / streaming index ingestion.

The reference is strictly batch: documents are appended through
``Indexer`` into Lucene segments, and Lucene merges segments later
(reference: engine/src/main/java/nl/inl/blacklab/index/IndexerImpl.java:436,
codec merge path BlackLab40PostingsWriter.java:87-106). The Spark
re-expression of "append a segment, merge later":

* ``append_delta`` — index a new batch of turns into a *delta*
  directory (its own doc-id range, own terms/postings); cheap,
  no touch of the main index.
* ``DeltaSearchEngine`` — query-time merge: scores are computed
  per-delta and combined (BM25 global stats are recomputed from the
  union's terms tables at open time, so scores equal a from-scratch
  build's — verified in tests).
* ``delete.compact`` — offline merge of main + deltas (minus their
  tombstones) into a fresh index (≙ Lucene segment merge); the
  compacted index equals a one-shot build of the surviving docs.
* ``stream_ingest`` — Structured Streaming front door:
  ``readStream`` over a directory of transcript parquet,
  ``foreachBatch`` → ``append_delta``. Watermarking is not needed for
  index build (append-only, order fixed by (conv_id, turn_idx));
  exactly-once comes from the checkpointLocation + idempotent delta
  dirs keyed by batch id.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.index import open_index
from blacklab_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def part_dirs(main_dir: str) -> list[str]:
    """``main_dir`` and its complete ``_deltas/*`` parts, in order."""
    ddir = os.path.join(main_dir, "_deltas")
    if not os.path.isdir(ddir):
        return [main_dir]
    return [main_dir] + sorted(
        os.path.join(ddir, d) for d in os.listdir(ddir)
        if os.path.exists(os.path.join(ddir, d, "_index_meta.json")))


def _doc_id_base(spark: SparkSession, main_dir: str) -> int:
    """One past the largest global doc id of main + its deltas: each
    part's ids are local-dense and its recorded offset shifts them.
    Read from the doc_meta footers' doc-id ranges, with no Spark job."""
    base = -1
    for p in part_dirs(main_dir):
        idx = open_index(spark, p)
        hi = max((h for _, _, h in idx._doc_meta_listing()), default=-1)
        base = max(base, idx.meta.get("doc_id_offset", 0) + hi)
    return base + 1


def append_delta(spark: SparkSession, main_dir: str, batch: DataFrame,
                 cfg: BuildConfig | None = None,
                 delta_name: str | None = None) -> str:
    """Index ``batch`` as a delta of ``main_dir``. Doc ids continue
    after the current maximum across main + existing deltas, so the
    global id space stays dense-ish and unique. ``cfg`` defaults to
    the main index's, so the delta stores the layers its compaction
    reads. Idempotent per ``delta_name`` (existing complete delta is
    left untouched)."""
    base = _doc_id_base(spark, main_dir)
    name = delta_name or f"delta{len(part_dirs(main_dir)) - 1:05d}"
    out = os.path.join(main_dir, "_deltas", name)
    if os.path.exists(os.path.join(out, "_index_meta.json")):
        return out
    cfg = cfg or open_index(spark, main_dir).cfg
    # shift doc ids by building standalone then offsetting at read —
    # simpler: build with an id offset recorded in the delta meta
    build_index(spark, batch, out, cfg)
    with open(os.path.join(out, "_index_meta.json")) as f:
        meta = json.load(f)
    meta["doc_id_offset"] = base
    with open(os.path.join(out, "_index_meta.json"), "w") as f:
        json.dump(meta, f, indent=2, default=str)
    return out


class DeltaSearchEngine:
    """Query-time merge over main + delta indexes (≙ Lucene searching
    across unmerged segments). BM25 stats (N, avgdl, df) are the union
    corpus's, so scores equal a from-scratch build of the union —
    verified in tests against a compacted rebuild."""

    def __init__(self, spark: SparkSession, main_dir: str):
        self.spark = spark
        self.parts = [open_index(spark, p) for p in part_dirs(main_dir)]
        self.offsets = [p.meta.get("doc_id_offset", 0) for p in self.parts]
        self.n_docs = sum(p.n_docs for p in self.parts)
        total_tokens = sum(p.meta["stats"]["total_tokens"] for p in self.parts)
        self.avgdl = total_tokens / max(1, self.n_docs)

    def find(self, cql: str) -> DataFrame:
        """CQL over main + deltas (≙ Lucene searching unmerged
        segments): every part is a complete index, positional
        semantics are per-document, so each part executes the same
        plan locally — postings leaves, cost-based sequences, the
        whole span algebra — its tombstones are honored (``find``
        returns tombstone-free hits), local hit doc ids shift by the
        part's recorded offset, and the results union. Each part picks
        its own decode side (hits.DRIVER_HITS_MAX_POSITIONS, on the
        part's Σcf), so the union of driver-decoded parts is one of
        local frames. Identical to a
        compacted rebuild's hits by construction (ids are the
        one-shot build's when parts were appended in (conv_id,
        turn_idx) order — tested)."""
        from blacklab_spark.plans.executor import find as _find
        outs = []
        for p, off in zip(self.parts, self.offsets):
            hits = _find(p, cql)
            cols = [c for c in ("doc_id", "start", "end", "match_info")
                    if c in hits.columns]
            outs.append(hits.select(*cols).withColumn(
                "doc_id", F.col("doc_id") + F.lit(off)))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return out

    def topk(self, terms: list[str], k: int = 10, mode: str = "auto",
             role=None, tool=None, conv_id=None):
        """Top-k (doc_id, score) over main + deltas with union-corpus
        BM25 stats and metadata filters, as a local frame: the
        single-index top-k (``operators.wand.parts_topk``) with one
        part per index (same kernel, same tombstone rule). When Σdf
        over every part is below ``engine.DRIVER_TOPK_MAX_POSTINGS``
        every candidate scores on the driver with no Spark job,
        whatever ``mode``; otherwise ``wand.parts_scores`` runs.

        The stored per-block ``max_score`` was computed with the
        PART's build-time idf/avgdl, so it is not a valid bound under
        union stats. A dl-free bound from ``max_tf`` is
        ``bm25_contrib(idf_union, max_tf, dl=0)`` — the contribution
        is increasing in tf and decreasing in dl.
        mode: auto (exhaustive below AUTO_EXHAUSTIVE_MAX_DOCS union
        docs, filtered or not — unlike SearchEngine.topk, which sends
        unfiltered queries through WAND at any size) | wand |
        exhaustive (dual verification path); any other value raises
        ValueError."""
        from blacklab_spark.arrow_kernels import bm25_contrib, bm25_idf
        from blacklab_spark.engine import (AUTO_EXHAUSTIVE_MAX_DOCS,
                                           DRIVER_TOPK_MAX_POSTINGS,
                                           SearchEngine)
        from blacklab_spark.operators.scoring import SCORE_SCHEMA, local_frame
        from blacklab_spark.operators.wand import parts_topk, wand_mode
        wand = wand_mode(mode, self.n_docs >= AUTO_EXHAUSTIVE_MAX_DOCS)
        # global df per term across parts
        df_by_term: dict[str, int] = {}
        infos = [p.lookup_terms(terms) for p in self.parts]
        for info in infos:
            for t, d in zip(info["term"], info["df"]):
                df_by_term[t] = df_by_term.get(t, 0) + int(d)

        parts = []
        for p, off, info in zip(self.parts, self.offsets, infos):
            if info.empty:
                continue
            idf_map = {int(tid): float(bm25_idf(self.n_docs, df_by_term[t]))
                       for t, tid in zip(info["term"], info["term_id"])}
            parts.append((p, off, idf_map, self.avgdl))

        def ub(idf_map, avgdl):
            imap = F.create_map(*[F.lit(x) for kv in idf_map.items()
                                  for x in kv])
            return bm25_contrib(imap[F.col("term_id")], F.col("max_tf"), 0,
                                avgdl)
        filt = SearchEngine._doc_filter(role, tool, conv_id)
        cols = SearchEngine._filter_cols(role, tool, conv_id)
        n_postings = sum(df_by_term.values())
        top = parts_topk(parts, k, filt, cols, wand,
                         n_postings < DRIVER_TOPK_MAX_POSTINGS, n_postings, ub)
        return local_frame(self.spark, top, SCORE_SCHEMA)


def stream_ingest(spark: SparkSession, source_dir: str, main_dir: str,
                  checkpoint_dir: str, cfg: BuildConfig | None = None,
                  available_now: bool = True):
    """Structured Streaming ingestion: watch ``source_dir`` for new
    transcript parquet files, append each micro-batch as a delta.

    Returns the StreamingQuery (caller awaits/terminates). Deltas are
    keyed by batch id → restarts re-use the checkpoint and already-
    written deltas are skipped (exactly-once at the index level)."""
    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .parquet(source_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_delta(spark, main_dir, batch_df, cfg,
                     delta_name=f"batch{batch_id:08d}")

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
