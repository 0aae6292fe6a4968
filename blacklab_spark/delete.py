"""Document delete / retract — the engine's ``IndexTool delete``
(reference: tools/src/main/java/nl/inl/blacklab/tools/IndexTool.java:65;
Lucene tombstones).

Tombstone model, exactly like Lucene: ``delete_docs`` appends the
matching doc_ids to ``<index>/_deletes/`` (idempotent — re-deleting is
a no-op on results); every query path anti-joins the tombstones so
deleted docs are invisible, while corpus statistics (df/idf/avgdl/N)
stay stale until ``compact`` rebuilds the index from the surviving
docs (≙ Lucene segment merge expunging deletes). ``compact`` output is
identical to a fresh build of the surviving corpus — dense doc ids
reassigned by (conv_id, turn_idx), postings bit-identical (tested).

Scope: tombstones apply to ONE index directory. A streaming
DeltaSearchEngine (streaming/ingest.py) merges several part-indexes,
each with its own ``_deletes``; delete against the part that holds the
doc, or compact the merged view. Deleting from the base part is the
common case (retract old data while deltas append).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from blacklab_spark.config import BuildConfig
from blacklab_spark.index import InvertedIndex, open_index

SOURCE_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def delete_docs(index: InvertedIndex, condition: Column | str) -> int:
    """Tombstone every doc matching ``condition`` (a metadata
    predicate over doc_meta columns). Returns the number of NEWLY
    deleted docs. Distributed end-to-end: the matching doc_ids are
    written as a parquet append, never collected."""
    cond = F.expr(condition) if isinstance(condition, str) else condition
    victims = index.doc_meta.filter(cond).select("doc_id")
    n = victims.count()
    if n:
        victims.write.mode("append").parquet(index.deletes_path)
    return n


def compact(spark: SparkSession, index_dir: str, out_dir: str,
            cfg: BuildConfig | None = None) -> InvertedIndex:
    """Rebuild the index from surviving docs — expunges tombstones and
    refreshes all statistics (≙ Lucene forceMerge after deletes). The
    source columns round-trip through doc_meta (the content store), so
    no original input table is needed."""
    from blacklab_spark.build import build_index
    idx = open_index(spark, index_dir)
    # pre-annotated indexes (sources/files.read_conllu): carry the
    # stored layer arrays through the rebuild so it stays
    # pre-tokenized instead of re-tokenizing the reconstructed text;
    # tokens_b (parallel field) is a stored column and rides the
    # same way
    pre = [c for c in ("tokens_s", "tokens_pos", "tokens_lemma",
                       "tokens_b")
           if c in idx.doc_meta.columns]
    src = idx.doc_meta.select(*SOURCE_COLUMNS, *pre)
    if getattr(idx.cfg, "tags", False):
        # tags index: doc_meta.text is the STRIPPED text; the rebuild
        # must re-ingest the original markup (text_raw) so the new
        # _spans stage re-derives the tag layer.
        src = (idx.doc_meta
               .select(*[c for c in SOURCE_COLUMNS if c != "text"],
                       F.col("text_raw").alias("text")))
    build_index(spark, src, out_dir, cfg or idx.cfg)
    # Stored edge artifacts are NOT derivable from doc_meta (the
    # HEAD/DEPREL / align_pairs inputs aren't stored columns), so
    # carry the surviving edges across with doc ids remapped through
    # the natural key — without this a compaction silently dropped
    # the real relation/alignment layers.
    for stored, stage, dirname in (
            (idx.doc_relations_stored, "relations", "_relations"),
            (idx.doc_alignments_stored, "alignments", "_alignments")):
        if stored is not None:
            _carry_edge_artifact(spark, idx, stored, out_dir, stage,
                                 dirname)
    return open_index(spark, out_dir)


def _carry_edge_artifact(spark: SparkSession, old: InvertedIndex,
                         edges: DataFrame, out_dir: str, stage: str,
                         dirname: str) -> None:
    """Rewrite a stored edge artifact against the compacted index's
    dense doc ids: old doc_id → (conv_id, turn_idx) → new doc_id.
    ``edges`` is already tombstone-filtered, and tombstoned docs have
    no row in the new doc_meta, so deleted docs' edges drop out of
    the joins either way. Records the stage in the new manifest so
    the manifest-gated accessor serves it."""
    import time as _time
    from blacklab_spark.build import IndexBuilder, stage_jobs
    new = open_index(spark, out_dir)
    t0 = _time.time()
    old_map = old.doc_meta.select(F.col("doc_id").alias("_old_id"),
                                  "conv_id", "turn_idx")
    new_map = new.doc_meta.select("doc_id", "conv_id", "turn_idx")
    cols = [c for c in edges.columns if c != "doc_id"]
    remapped = (edges.withColumnRenamed("doc_id", "_old_id")
                .join(old_map, "_old_id")
                .join(new_map, ["conv_id", "turn_idx"])
                .select("doc_id", *cols))
    path = os.path.join(out_dir.rstrip("/"), dirname)
    with stage_jobs(spark) as tag:
        remapped.write.mode("overwrite") \
            .option("parquet.block.size", 4 * 1024 * 1024).parquet(path)
    b = IndexBuilder(spark, out_dir, new.cfg)
    m = b._load_manifest()
    b._finish_stage(m, stage, t0, path,
                    int(spark.conf.get("spark.sql.shuffle.partitions")), tag)
