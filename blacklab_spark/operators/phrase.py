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
  from posting blocks and intersect them (numpy, ``_phrase_kernel``).
  Best for rare phrases over huge corpora: touches only the terms'
  postings, never the corpus. Slots carry offsets, so a fixed-gap
  phrase (``"a" [] "b"``, offsets 0 and 2) is the same intersection.

``postings_hits`` is the one code that turns posting blocks into hits:
phrases, fixed-gap phrases and, with one slot, every postings leaf
(``hits.hits_for_term_ids``: a term, regex, fuzzy or merged OR leaf).
Below ``hits.DRIVER_HITS_MAX_POSITIONS`` (the terms' Σcf) the blocks
are read with Arrow and the kernel runs once on the driver, giving a
local frame sorted by (doc_id, start); at or above it the kernel runs
per doc-range bucket in ``applyInPandas`` and the rows are unordered.

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

# the posting-block columns the hit kernels decode
POSITION_COLUMNS = ("term_id", "doc_ids", "tfs", "positions")

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


def _phrase_kernel(slots_of: dict[int, list[int]], offsets: tuple[int, ...]):
    """Position-intersection kernel over posting blocks → hits sorted
    by (doc_id, start): one call per bucket on the Spark path, one call
    over every block on the driver, and, with one slot, the decode of a
    postings leaf.

    Keys (doc_id << 21 | position) make slot membership an int64
    ``isin`` (sort + searchsorted in numpy) — no per-doc Python.
    Positions are < 2^21 tokens/turn by construction; doc ids fit the
    remaining 42 bits. Slot ``i`` holds its term at ``start +
    offsets[i]`` (``offsets[0] == 0``) and the hit ends one token after
    the last slot, so ``"a" [] "b"`` is offsets (0, 2), hits 3 tokens
    wide. Grouping the blocks differently does not change the output:
    a key is one doc's position. ``slots_of`` maps a term_id to EVERY slot it occupies — a
    repeated word ("the" "the") decodes once and feeds each of its
    slots; a slot fed by several terms (an OR leaf) keeps one key per
    (term, position)."""
    def kernel(key, pdf):
        slot_keys: list[list[np.ndarray]] = [[] for _ in offsets]
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
        for off, k in zip(offsets[1:], keys[1:]):
            cand = cand[np.isin(cand + off, k, assume_unique=True)]
            if cand.size == 0:
                return empty
        start = (cand & np.int64((1 << 21) - 1)).astype(np.int32)
        return pd.DataFrame({"doc_id": cand >> np.int64(21), "start": start,
                             "end": start + np.int32(offsets[-1] + 1)})

    return kernel


def postings_hits(index: InvertedIndex, slots_of: dict[int, list[int]],
                  offsets: tuple[int, ...], n_positions: int) -> DataFrame:
    """Hits of :func:`_phrase_kernel` over the blocks of the term_ids in
    ``slots_of``, tombstones dropped. ``n_positions`` — the term_ids'
    Σcf, what the decode produces — picks the side: below
    ``hits.DRIVER_HITS_MAX_POSITIONS`` the blocks are read with Arrow
    and the kernel runs once on the driver, giving a local frame sorted
    by (doc_id, start); otherwise it runs per bucket in Spark and the
    rows come in no particular order (``window_hits`` and
    ``sort_hits`` order their own input)."""
    from blacklab_spark.operators import hits as H
    if not H.decodes_on_driver(n_positions):
        blocks = index.postings.filter(
            F.col("term_id").isin(list(slots_of.keys())))
        out = (blocks.select("bucket", "term_id", "doc_ids", "tfs",
                             "positions")
               .groupBy("bucket")
               .applyInPandas(_phrase_kernel(slots_of, offsets),
                              HITS_SCHEMA))
        return index.without_deleted(out)
    from blacklab_spark.operators.scoring import local_frame
    blocks = index.posting_blocks(list(slots_of), POSITION_COLUMNS)
    hits = _phrase_kernel(slots_of, offsets)(None, blocks)
    dead = index.tombstoned_ids()
    if dead.size:
        hits = hits[~np.isin(hits["doc_id"].to_numpy(), dead)]
    return local_frame(index.spark, hits, HITS_SCHEMA)


def phrase_via_postings(index: InvertedIndex, terms: list[str],
                        offsets: tuple[int, ...] | None = None) -> DataFrame:
    """Postings path: position intersection of ``terms``, term ``i`` at
    ``start + offsets[i]`` (default: adjacent, a plain phrase), hits
    ending one token after the last term."""
    if not index.cfg.store_positions:
        raise ValueError("index built without positions")
    if offsets is None:
        offsets = tuple(range(len(terms)))
    info = index.lookup_terms(terms)
    have = set(info["term"])
    if any(t not in have for t in terms):
        from blacklab_spark.operators.spans import no_hits
        return no_hits(index)
    tid_of = {t: int(i) for t, i in zip(info["term"], info["term_id"])}
    # slots_of: term_id → every slot it fills; a repeated word's
    # positions decode once and serve all its slots (no forward-index
    # fallback — 'the the' used to force a corpus scan)
    slots_of: dict[int, list[int]] = {}
    for i, t in enumerate(terms):
        slots_of.setdefault(tid_of[t], []).append(i)
    return postings_hits(index, slots_of, tuple(offsets),
                         int(info["cf"].sum()))
