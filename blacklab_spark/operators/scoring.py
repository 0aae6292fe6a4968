"""The one per-bucket BM25 kernel every top-k plan shares, and the
driver-side top-k below the postings bound.

``score_buckets`` groups posting blocks by doc-range bucket and runs
``score_bucket`` on each group, optionally cogrouped with an allowed
doc-id set and cut to a local top-k. The one Spark plan
(``operators/wand.py``: ``parts_scores``, exhaustive or WAND, one
index or main + deltas) scores through it; the contribution itself is
``arrow_kernels.bm25_contrib``, the same expression the build uses
for block ``max_score``.

A query whose terms hold few postings
(``engine.DRIVER_TOPK_MAX_POSTINGS``) skips Spark:
``driver_parts_topk`` reads the posting blocks with Arrow and runs
``score_bucket`` on the driver over every candidate, with no seed and
no prune. ``SearchEngine`` finishes both paths' winners through
``winner_rows``.

**Float determinism contract** (SURVEY.md §7 hard part 4): a doc's
final score is always the sum of its per-term contributions in
*term_id-ascending* order, computed inside one kernel invocation — a
doc's postings live in exactly one doc-range bucket, so no partial
sums are ever combined across tasks and the result is bit-identical
across paths (the driver path included), partitionings and cluster
sizes. The Python oracle sums in sorted-term order (= term_id order)
with the identical expression shape, so engine ties resolve exactly
like oracle ties.

Exhaustive scoring mirrors plain Lucene scoring without WAND; WAND
must be rank- and score-identical to it (dual-path testing ≙ the
reference's _FI1/_FI2 golden equality, reference:
test/test/hits.js:55-57).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from blacklab_spark import codec
from blacklab_spark.arrow_kernels import bm25_contrib
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


def score_bucket(blocks_pdf: pd.DataFrame, idf_by_term: dict[int, float],
                 avgdl: float,
                 local_k: int | None = None,
                 allowed: np.ndarray | None = None) -> pd.DataFrame:
    """One doc-range bucket's blocks → exact (doc_id, score): decode,
    canonical (doc_id, term_id)-ordered contribution sum per doc,
    optional local top-k (tie-break score desc → doc_id asc so the cut
    never drops a global winner). ``allowed`` (sorted doc ids of this
    bucket) keeps only those docs in the sum; an empty bucket or an
    empty allowed set gives an empty frame. The one scorer of every
    BM25 path — exhaustive, WAND, filtered and delta."""
    docs_out, tids_out, contribs_out = [], [], []
    for term_id, blob_doc, blob_tf, blob_dl in zip(
            blocks_pdf["term_id"], blocks_pdf["doc_ids"],
            blocks_pdf["tfs"], blocks_pdf["dls"]):
        doc = codec.decode_deltas(blob_doc).astype(np.int64)
        tf = codec.decode_varints(blob_tf).astype(np.float64)
        dl = codec.decode_varints(blob_dl).astype(np.float64)
        if allowed is not None:
            keep = np.isin(doc, allowed)
            doc, tf, dl = doc[keep], tf[keep], dl[keep]
        docs_out.append(doc)
        tids_out.append(np.full(doc.size, int(term_id), dtype=np.int64))
        contribs_out.append(bm25_contrib(idf_by_term[int(term_id)], tf, dl,
                                         avgdl))
    d = np.concatenate(docs_out) if docs_out else np.empty(0, np.int64)
    if d.size == 0:
        return pd.DataFrame({"doc_id": d, "score": np.empty(0, np.float64)})
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


def score_buckets(blocks: DataFrame, idf_by_term: dict[int, float],
                  avgdl: float,
                  local_k: int | None = None,
                  allowed: DataFrame | None = None) -> DataFrame:
    """(doc_id, score) of every doc in ``blocks``, one
    :func:`score_bucket` call per bucket. ``allowed`` — a
    (doc_id, bucket) frame — is cogrouped by bucket so only those docs
    enter the sum (metadata filters, live rows of a part with
    tombstones)."""
    grouped = (blocks.select("bucket", "term_id", "doc_ids", "tfs", "dls")
               .groupBy("bucket"))
    if allowed is None:
        return grouped.applyInPandas(
            lambda key, pdf: score_bucket(pdf, idf_by_term, avgdl, local_k),
            SCORE_SCHEMA)
    return grouped.cogroup(allowed.groupBy("bucket")).applyInPandas(
        lambda key, pdf, apdf: score_bucket(
            pdf, idf_by_term, avgdl, local_k,
            np.sort(apdf["doc_id"].to_numpy(np.int64))),
        SCORE_SCHEMA)


def local_frame(spark, pdf: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """``pdf`` as a frame of ``schema`` whose collect runs no Spark job.
    Spark would plan an empty pandas frame (or list) as an RDD scan,
    one job, so an empty one goes through an empty Arrow table."""
    if pdf.empty:
        return spark.createDataFrame(to_arrow_schema(schema).empty_table())
    return spark.createDataFrame(pdf, schema)


def local_rows(df: DataFrame) -> list | None:
    """The rows of ``df`` if its optimized plan is a local relation
    (a :func:`local_frame`, maybe under a projection or limit, which
    Catalyst folds into it) — collecting it runs no Spark job — else
    None."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation":
        return None
    return df.collect()


def winner_rows(index: InvertedIndex, winners: pd.DataFrame) -> DataFrame:
    """The ≤k sorted (doc_id, score) winners of a top-k → its result
    frame: conv_id/turn_idx/text attached with a driver-side read
    (InvertedIndex.doc_rows; a k-row result needs no cluster job),
    then rank. A local frame: collecting it runs no Spark job."""
    if winners.empty:
        return local_frame(index.spark, winners, TOPK_SCHEMA)
    meta = index.doc_rows(winners["doc_id"].tolist(),
                          ["doc_id", "conv_id", "turn_idx", "text"]
                          ).to_pandas()
    out = winners.merge(meta, on="doc_id")
    out.insert(0, "rank", np.arange(1, len(out) + 1, dtype=np.int32))
    return local_frame(
        index.spark,
        out[["rank", "doc_id", "conv_id", "turn_idx", "score", "text"]],
        TOPK_SCHEMA)


def _passing_ids(index: InvertedIndex, ids: np.ndarray, doc_filter: Column,
                 filter_cols: list[str]) -> np.ndarray:
    """The ``ids`` whose doc_meta rows pass ``doc_filter``, a predicate
    over ``filter_cols`` only. Spark evaluates it on one row per
    distinct value combination, in a local frame: Catalyst folds a
    filter over a local relation into the relation, so this runs no
    job and keeps Spark's semantics for the predicate."""
    rows = index.doc_rows(ids.tolist(), ["doc_id", *filter_cols])
    group = (rows.select(filter_cols).to_pandas()
             .groupby(filter_cols, dropna=False, sort=False).ngroup()
             .to_numpy())
    groups, first = np.unique(group, return_index=True)
    combos = rows.select(filter_cols).take(first).append_column(
        "_group", pa.array(groups))
    ok = [r["_group"] for r in index.spark.createDataFrame(combos)
          .filter(doc_filter).select("_group").collect()]
    return rows["doc_id"].to_numpy()[np.isin(group, ok)]


def driver_parts_topk(parts: list[tuple], k: int,
                      doc_filter: Column | None = None,
                      filter_cols: list[str] = ()) -> pd.DataFrame:
    """Exact BM25 top-k (doc_id, score) over index parts in one doc-id
    space, scored on the driver with no Spark job — the plan of a
    query whose postings are few (engine.DRIVER_TOPK_MAX_POSTINGS).
    Each part is ``(index, doc_id offset, {term_id: idf}, avgdl)``.

    Every candidate posting is scored: the part's blocks of the query
    terms, read with Arrow, go through one :func:`score_bucket` call.
    A doc's sum is its contributions in term_id order whatever the
    blocks are grouped by, so scores are bit-identical to the Spark
    plans. The part's tombstoned ids are dropped; under ``doc_filter``
    (a predicate over the doc_meta ``filter_cols``) only passing docs
    stay. Ids shift by the part's offset; rows sort by score desc,
    then doc_id, as the Spark plans' orderBy does."""
    docs, scores = [np.empty(0, np.int64)], [np.empty(0, np.float64)]
    for index, off, idf_map, avgdl in parts:
        s = score_bucket(index.posting_blocks(list(idf_map)), idf_map, avgdl)
        ids = s["doc_id"].to_numpy()
        keep = ~np.isin(ids, index.tombstoned_ids())
        if doc_filter is not None and keep.any():
            keep &= np.isin(ids, _passing_ids(index, ids[keep], doc_filter,
                                              list(filter_cols)))
        docs.append(ids[keep] + off)
        scores.append(s["score"].to_numpy()[keep])
    d, sc = np.concatenate(docs), np.concatenate(scores)
    top = np.lexsort((d, -sc))[:k]
    return pd.DataFrame({"doc_id": d[top], "score": sc[top]})
