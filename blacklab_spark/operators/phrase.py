"""Phrase / sequence matching → hits ``(doc_id, start, end)``.

Two physical strategies for the same logical operator, mirroring the
reference's cost-based choice between postings-join sequences
(SpanQuerySequence, reference:
engine/src/main/java/nl/inl/blacklab/search/lucene/SpanQuerySequence.java:50)
and forward-index NFA matching (SpanQueryFiSeq, SpansFiSeq.java:14;
decision logic SURVEY.md §4.4):

* ``phrase_via_tokens`` — probe the token-array column of doc_meta
  (our forward index) with pure JVM higher-order functions: for each
  start position check ``slice(tokens, i, n) == phrase``. Whole-stage
  codegen, no shuffle, no Python. Best when the corpus scan is
  acceptable or a cheap pre-filter (array_contains of the rarest term)
  prunes most docs — exactly the reference's NFA-side win.
* ``phrase_via_postings`` — decode the phrase terms' position lists
  from posting blocks, per-bucket document-at-a-time position
  intersection (numpy). Best for rare phrases over huge corpora:
  touches only the terms' postings, never the corpus.

Both must return identical hit lists (dual-path test ≙ reference
_FI1/_FI2 goldens, test/test/hits.js:55-57). Hits are half-open token
intervals, the reference's Hit contract
(search/results/EphemeralHit.java:13-15).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from blacklab_spark import codec
from blacklab_spark.index import InvertedIndex

HITS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
])


def phrase_via_tokens(index: InvertedIndex, terms: list[str],
                      doc_filter=None) -> DataFrame:
    """Forward-index probe: JVM-only HOF scan over token arrays."""
    n = len(terms)
    dm = index.doc_meta
    if doc_filter is not None:
        dm = dm.filter(doc_filter)
    # cheap pre-filter: every phrase term must occur in the doc; docs
    # shorter than the phrase can't match and would make F.sequence
    # below descend (INVALID_PARAMETER_VALUE.START crash).
    dm = dm.filter(F.size("tokens") >= n)
    for t in terms:
        dm = dm.filter(F.array_contains("tokens", t))
    phrase = F.array(*[F.lit(t) for t in terms])
    starts = F.filter(
        F.sequence(F.lit(0), F.size("tokens") - n),
        lambda i: F.slice("tokens", i + 1, n) == phrase,
    )
    return (dm.select("doc_id", F.explode(starts).alias("start"))
            .select("doc_id", F.col("start").cast("int"),
                    (F.col("start") + n).cast("int").alias("end")))


def _decode_doc_positions(blob_doc: bytes, blob_tf: bytes,
                          blob_pos: bytes) -> tuple[np.ndarray, np.ndarray]:
    """One block → (doc_id per position, absolute position) arrays,
    fully vectorized: the tfs stream doubles as the positions-stream
    interleaved counts, so segment boundaries need no sequential scan;
    per-doc delta chains resolve with a segmented-cumsum correction."""
    docs = codec.decode_deltas(blob_doc).astype(np.int64)
    tf = codec.decode_varints(blob_tf).astype(np.int64)
    flat = codec.decode_varints(blob_pos).astype(np.int64)
    n_docs = docs.size
    total = int(tf.sum())
    # value layout per doc: [count, first_abs, gaps...]
    starts_v = np.concatenate(([0], np.cumsum(tf + 1)))[:-1]  # count slots
    mask = np.ones(total + n_docs, dtype=bool)
    mask[starts_v] = False
    deltas = flat[mask]                       # first_abs + gaps, per doc
    seg_first = np.concatenate(([0], np.cumsum(tf)))[:-1]
    S = np.cumsum(deltas)
    base = S[seg_first] - deltas[seg_first]   # cumsum before each segment
    pos = S - np.repeat(base, tf)
    return np.repeat(docs, tf), pos


def _phrase_kernel(slots_of: dict[int, list[int]], n_terms: int):
    """Per-bucket kernel: vectorized position intersection.

    Keys (doc_id << 21 | position) make slot membership an int64
    ``isin`` (sort + searchsorted in numpy) — no per-doc Python.
    Positions are < 2^21 tokens/turn by construction; doc ids fit the
    remaining 42 bits per bucket. ``slots_of`` maps a term_id to EVERY
    phrase slot it occupies — a repeated word ("the" "the") decodes
    once and feeds each of its slots."""
    def kernel(key, pdf):
        slot_keys: list[list[np.ndarray]] = [[] for _ in range(n_terms)]
        for term_id, blob_doc, blob_tf, blob_pos in zip(
                pdf["term_id"], pdf["doc_ids"], pdf["tfs"], pdf["positions"]):
            d, p = _decode_doc_positions(blob_doc, blob_tf, blob_pos)
            ks = (d << np.int64(21)) | p
            for slot in slots_of[int(term_id)]:
                slot_keys[slot].append(ks)
        empty = pd.DataFrame({"doc_id": [], "start": [], "end": []}).astype(
            {"doc_id": "int64", "start": "int32", "end": "int32"})
        if any(not ks for ks in slot_keys):
            return empty
        keys = [np.sort(np.concatenate(ks)) for ks in slot_keys]
        cand = keys[0]
        for i in range(1, n_terms):
            cand = cand[np.isin(cand + i, keys[i], assume_unique=True)]
            if cand.size == 0:
                return empty
        doc = cand >> np.int64(21)
        start = (cand & np.int64((1 << 21) - 1)).astype(np.int32)
        return pd.DataFrame({"doc_id": doc, "start": start,
                             "end": start + n_terms})

    return kernel


def phrase_via_postings(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """Postings path: bucket-grouped position intersection."""
    if not index.cfg.store_positions:
        raise ValueError("index built without positions")
    info = index.lookup_terms(terms)
    have = set(info["term"])
    if any(t not in have for t in terms):
        return index.spark.createDataFrame([], HITS_SCHEMA)
    tid_of = {t: int(i) for t, i in zip(info["term"], info["term_id"])}
    # slots_of: term_id → every slot it fills; a repeated word's
    # positions decode once and serve all its slots (no forward-index
    # fallback — 'the the' used to force a corpus scan)
    slots_of: dict[int, list[int]] = {}
    for i, t in enumerate(terms):
        slots_of.setdefault(tid_of[t], []).append(i)
    n = len(terms)
    blocks = index.postings.filter(
        F.col("term_id").isin(list(slots_of.keys())))
    out = (blocks.select("bucket", "term_id", "doc_ids", "tfs", "positions")
           .groupBy("bucket")
           .applyInPandas(_phrase_kernel(slots_of, n), HITS_SCHEMA))
    return index.without_deleted(out).orderBy("doc_id", "start")
