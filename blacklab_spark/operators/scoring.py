"""Exhaustive BM25 scorer — the reference path of the dual-path gate.

Scores every posting block of the query terms through the shared
per-bucket kernel (``score_bucket_kernel``), then finishes with
``orderBy(score desc, doc_id).limit(k)`` (Catalyst compiles this to
TakeOrderedAndProject — per-partition top-k, no global sort).

**Float determinism contract** (SURVEY.md §7 hard part 4): a doc's
final score is always the sum of its per-term contributions in
*term_id-ascending* order, computed inside one kernel invocation — a
doc's postings live in exactly one doc-range bucket, so no partial
sums are ever combined across tasks and the result is bit-identical
across paths, partitionings and cluster sizes. The Python oracle sums
in sorted-term order (= term_id order) with the identical expression
shape, so engine ties resolve exactly like oracle ties.

Mirrors the role of plain Lucene scoring without WAND; the WAND path
(operators/wand.py) must be rank- and score-identical to this one
(dual-path testing ≙ the reference's _FI1/_FI2 golden equality,
reference: test/test/hits.js:55-57).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F, types as T

from blacklab_spark import codec
from blacklab_spark.index import InvertedIndex

SCORE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

TOPK_SCHEMA = T.StructType([
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("conv_id", T.StringType(), True),
    T.StructField("turn_idx", T.IntegerType(), True),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("text", T.StringType(), True),
])


def score_bucket_kernel(idf_by_term: dict[int, float], k1: float, b: float,
                        avgdl: float, local_k: int | None = None):
    """applyInPandas kernel over one doc-range bucket's blocks: decode,
    canonical (doc_id, term_id)-ordered contribution sum per doc,
    optional local top-k (tie-break score desc → doc_id asc so the cut
    never drops a global winner). Shared by the exhaustive and WAND
    paths — identical arithmetic by construction."""
    def kernel(key, pdf):
        docs_out, tids_out, contribs_out = [], [], []
        for term_id, blob_doc, blob_tf, blob_dl in zip(
                pdf["term_id"], pdf["doc_ids"], pdf["tfs"], pdf["dls"]):
            doc = codec.decode_deltas(blob_doc).astype(np.int64)
            tf = codec.decode_varints(blob_tf).astype(np.float64)
            dl = codec.decode_varints(blob_dl).astype(np.float64)
            idf = idf_by_term[int(term_id)]
            # expression shape MUST match oracle.bm25_score exactly
            contrib = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl / avgdl))
            docs_out.append(doc)
            tids_out.append(np.full(doc.size, int(term_id), dtype=np.int64))
            contribs_out.append(contrib)
        d = np.concatenate(docs_out)
        t = np.concatenate(tids_out)
        c = np.concatenate(contribs_out)
        order = np.lexsort((t, d))  # doc asc, then term_id asc
        d, c = d[order], c[order]
        starts = np.empty(d.size, dtype=bool)
        starts[0] = True
        starts[1:] = d[1:] != d[:-1]
        s_idx = np.nonzero(starts)[0]
        uniq = d[s_idx]
        sums = np.add.reduceat(c, s_idx)
        if local_k is not None and uniq.size > local_k:
            top = np.lexsort((uniq, -sums))[:local_k]
            uniq, sums = uniq[top], sums[top]
        return pd.DataFrame({"doc_id": uniq, "score": sums})

    return kernel


def score_bucket_kernel_filtered(idf_by_term: dict[int, float], k1: float,
                                 b: float, avgdl: float,
                                 local_k: int | None = None):
    """Cogrouped variant of :func:`score_bucket_kernel`: the right
    side carries the ALLOWED doc ids of this bucket (from the
    metadata filter); only allowed docs are decoded into the sum.
    Same canonical (doc_id, term_id)-ordered summation, so scores are
    bit-identical to the unfiltered kernel for the surviving docs."""
    def kernel(key, blocks_pdf, allowed_pdf):
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "score": pd.Series([], dtype="float64")})
        if blocks_pdf.empty or allowed_pdf.empty:
            return empty
        allowed = np.sort(allowed_pdf["doc_id"].to_numpy(np.int64))
        docs_out, tids_out, contribs_out = [], [], []
        for term_id, blob_doc, blob_tf, blob_dl in zip(
                blocks_pdf["term_id"], blocks_pdf["doc_ids"],
                blocks_pdf["tfs"], blocks_pdf["dls"]):
            doc = codec.decode_deltas(blob_doc).astype(np.int64)
            keep = np.isin(doc, allowed, assume_unique=False)
            if not keep.any():
                continue
            tf = codec.decode_varints(blob_tf).astype(np.float64)[keep]
            dl = codec.decode_varints(blob_dl).astype(np.float64)[keep]
            doc = doc[keep]
            idf = idf_by_term[int(term_id)]
            contrib = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl / avgdl))
            docs_out.append(doc)
            tids_out.append(np.full(doc.size, int(term_id), dtype=np.int64))
            contribs_out.append(contrib)
        if not docs_out:
            return empty
        d = np.concatenate(docs_out)
        t = np.concatenate(tids_out)
        c = np.concatenate(contribs_out)
        order = np.lexsort((t, d))  # doc asc, then term_id asc
        d, c = d[order], c[order]
        starts = np.empty(d.size, dtype=bool)
        starts[0] = True
        starts[1:] = d[1:] != d[:-1]
        s_idx = np.nonzero(starts)[0]
        uniq = d[s_idx]
        sums = np.add.reduceat(c, s_idx)
        if local_k is not None and uniq.size > local_k:
            top = np.lexsort((uniq, -sums))[:local_k]
            uniq, sums = uniq[top], sums[top]
        return pd.DataFrame({"doc_id": uniq, "score": sums})

    return kernel


def doc_scores(index: InvertedIndex, terms: list[str],
               doc_filter: Column | None = None) -> DataFrame:
    """Full BM25 score per candidate doc (no top-k cut). Empty-safe."""
    info = index.lookup_terms(terms)
    spark = index.spark
    if info.empty:
        return spark.createDataFrame([], "doc_id long, score double")
    idf_map = {int(t): float(i) for t, i in zip(info["term_id"], info["idf"])}
    blocks = index.postings.filter(
        F.col("term_id").isin([int(t) for t in info["term_id"]]))
    scores = (blocks.select("bucket", "term_id", "doc_ids", "tfs", "dls")
              .groupBy("bucket")
              .applyInPandas(
                  score_bucket_kernel(idf_map, index.cfg.k1, index.cfg.b,
                                      index.avgdl),
                  SCORE_SCHEMA))
    scores = index.without_deleted(scores)
    if doc_filter is not None:
        allowed = index.doc_meta.filter(doc_filter).select("doc_id")
        scores = scores.join(allowed, "doc_id", "left_semi")
    return scores


def finish_topk(index: InvertedIndex, scores: DataFrame, k: int) -> DataFrame:
    """orderBy+limit (TakeOrderedAndProject) → collect the ≤k winners
    → attach their conv_id/turn_idx/text with a driver-side read
    (InvertedIndex.doc_rows; a k-row result needs no cluster job) →
    rank. Winners are tombstone-free already: doc_scores anti-joins
    the tombstones, and WAND reroutes to the filtered plan when
    deletes exist. Collecting the local result runs no Spark job."""
    top = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect()
    if not top:
        return index.spark.createDataFrame([], TOPK_SCHEMA)
    winners = pd.DataFrame({"doc_id": [int(r["doc_id"]) for r in top],
                            "score": [float(r["score"]) for r in top]})
    meta = index.doc_rows(winners["doc_id"].tolist(),
                          ["doc_id", "conv_id", "turn_idx", "text"])
    out = winners.merge(meta, on="doc_id")
    out.insert(0, "rank", np.arange(1, len(out) + 1, dtype=np.int32))
    return index.spark.createDataFrame(
        out[["rank", "doc_id", "conv_id", "turn_idx", "score", "text"]],
        TOPK_SCHEMA)


def topk_exhaustive(index: InvertedIndex, terms: list[str], k: int = 10,
                    doc_filter: Column | None = None) -> DataFrame:
    return finish_topk(index, doc_scores(index, terms, doc_filter), k)
