"""Document delete / retract — the engine's ``IndexTool delete``
(reference: tools/src/main/java/nl/inl/blacklab/tools/IndexTool.java:65;
Lucene tombstones).

Tombstone model, exactly like Lucene: ``delete_docs`` appends the
matching doc_ids to ``<index>/_deletes/`` (idempotent — re-deleting is
a no-op on results); every query path anti-joins the tombstones so
deleted docs are invisible, while corpus statistics (df/idf/avgdl/N)
stay stale until ``compact`` rebuilds the index from the surviving
docs (≙ Lucene segment merge expunging deletes).

Tombstones apply to ONE index directory: a streaming
DeltaSearchEngine (streaming/ingest.py) merges several part-indexes,
each with its own ``_deletes``, so delete against the part that holds
the doc. ``compact`` is the one merge of an index, its tombstones and
its deltas: its output equals a fresh build of the surviving docs of
every part — dense doc ids reassigned by (conv_id, turn_idx), terms,
postings, doc_meta, span and relation layers and the manifest config
identical (tested for plain, tags and CoNLL-U corpora).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, SparkSession, functions as F

from blacklab_spark.config import BuildConfig
from blacklab_spark.index import InvertedIndex, open_index

SOURCE_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# doc_meta columns that are build INPUT when stored: pre-annotated
# layers and the parallel field b
PRE_LAYERS = ["tokens_s", "tokens_pos", "tokens_lemma", "tokens_b"]


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
    """Rebuild the index and every ``_deltas/*`` part from their
    surviving docs into one fresh index — expunges tombstones, merges
    deltas and refreshes all statistics (≙ Lucene forceMerge). The
    source round-trips through each part's tombstone-filtered doc_meta
    (the content store), so no original input table is needed:

    * pre-annotated layers (sources/files.read_conllu) and the
      parallel field ``tokens_b`` ride along when a part STORES them
      (``doc_meta_stored``; the derived layers of a plain index are
      not input), so the rebuild stays pre-tokenized; a part that
      does not store such a layer gives its derived one (an empty
      main index under uploaded CoNLL-U deltas, say);
    * a tags part re-ingests its original markup (``text_raw``) as
      ``text``, so the ``_spans`` stage re-derives the tag layer;
    * ``cfg`` defaults to the main index's config;
    * stored edge artifacts are carried across (_carry_edge_artifact).
    """
    from blacklab_spark.build import build_index
    from blacklab_spark.streaming.ingest import part_dirs
    parts = [open_index(spark, p) for p in part_dirs(index_dir)]
    layers = [c for c in PRE_LAYERS
              if any(c in p.doc_meta_stored for p in parts)]
    src = None
    for p in parts:
        text = F.col("text_raw" if p.cfg.tags else "text").alias("text")
        rows = p.doc_meta.select(*[text if c == "text" else c
                                   for c in SOURCE_COLUMNS], *layers)
        src = rows if src is None else src.unionByName(rows)
    build_index(spark, src, out_dir, cfg or parts[0].cfg)
    for stage, dirname in (("relations", "_relations"),
                           ("alignments", "_alignments")):
        _carry_edge_artifact(spark, parts, out_dir, stage, dirname)
    return open_index(spark, out_dir)


def _carry_edge_artifact(spark: SparkSession, parts: list[InvertedIndex],
                         out_dir: str, stage: str, dirname: str) -> None:
    """Stored edge artifacts are NOT derivable from doc_meta (the
    HEAD/DEPREL and align_pairs inputs aren't stored columns), so the
    surviving edges of every part are rewritten against the compacted
    index's dense doc ids: part doc_id → (conv_id, turn_idx) → new
    doc_id, written once. Each part's edges are already
    tombstone-filtered. Records the stage in the new manifest so the
    manifest-gated accessor serves it."""
    import time as _time
    from blacklab_spark.build import IndexBuilder, stage_jobs
    keyed = None
    for p in parts:
        edges = p._stored_artifact(stage, dirname)
        if edges is None:
            continue
        cols = [c for c in edges.columns if c != "doc_id"]
        rows = edges.join(p.doc_meta.select("doc_id", "conv_id",
                                            "turn_idx"), "doc_id") \
            .drop("doc_id")
        keyed = rows if keyed is None else keyed.unionByName(rows)
    if keyed is None:
        return
    new = open_index(spark, out_dir)
    t0 = _time.time()
    remapped = keyed.join(new.doc_meta.select("doc_id", "conv_id",
                                              "turn_idx"),
                          ["conv_id", "turn_idx"]).select("doc_id", *cols)
    path = os.path.join(out_dir.rstrip("/"), dirname)
    with stage_jobs(spark) as tag:
        remapped.write.mode("overwrite") \
            .option("parquet.block.size", 4 * 1024 * 1024).parquet(path)
    b = IndexBuilder(spark, out_dir, new.cfg)
    m = b._load_manifest()
    b._finish_stage(m, stage, t0, path,
                    int(spark.conf.get("spark.sql.shuffle.partitions")), tag)
