"""Block-max WAND top-k: an exact seed, bucket pruning, and one
per-bucket DAAT kernel.

Distributed shape of block-max WAND (Ding & Suel 2011) adapted to
Spark's execution model — the reference's analog is its cost-based
forward-index-vs-postings decision (SURVEY.md §4.4); Lucene itself
does per-segment WAND. Every BM25 top-k that runs in Spark — an
unfiltered or filtered index, an index with tombstones, and the
main+delta engine (streaming/ingest.py), WAND or exhaustive — is one
plan, :func:`parts_scores`, over one or more index parts in one doc-id
space:

1. **Allowed set first** (WAND only). Under a filter, or for a part
   with tombstones, the part's live doc_meta rows are cogrouped into
   the kernel, so the local top-k cut never drops a live doc for a
   dead one.
2. **Seed** from exact scores of each part's highest-bound blocks: a
   certified lower bound ``t0`` on the k-th best total.
3. **Safe pruning** (:func:`prune_buckets`). Per bucket,
   ub(bucket) = Σ_terms max(block bound within bucket); a bucket below
   ``t0`` cannot contain a top-k doc and is dropped *before* decode.
   Single-term queries prune per *block*.
4. **Exact per-bucket kernel.** Surviving buckets hold *all* blocks of
   all query terms for their doc range (a doc's postings always land
   in its own bucket), so ``scoring.score_buckets`` computes exact
   BM25 totals and emits a local top-k.

The parts differ only in the block bound: the stored ``max_score`` for
one index, a dl-free ``max_tf`` bound under the union statistics of
the delta engine.

:func:`parts_topk` is the one top-k dispatch of both engines: below
``engine.DRIVER_TOPK_MAX_POSTINGS`` candidate postings
``scoring.driver_parts_topk`` scores every candidate on the driver
with the same kernel, and no Spark job runs; at or above it the ≤k
winners of :func:`parts_scores` are collected.

Rank/score-identical to the exhaustive plan by construction; the
dual-path pytest enforces it (≙ reference _FI1/_FI2 goldens,
test/test/hits.js:55-57).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blacklab_spark.operators.scoring import driver_parts_topk, score_buckets

# Skip the seed pass below this many candidate postings (Σ df over the
# query terms). Seeding costs one fixed Spark job (the top blocks'
# decode and a collect round-trip) before scoring can start;
# score_bucket decodes and scores about 8×10^5 postings/s per core
# (quartiles 6.7×10^5-1.1×10^6, measured on a 4-CPU Xeon along with
# engine.DRIVER_TOPK_MAX_POSTINGS), so below ~10^6 entries spread over
# the executors' cores the seed job costs about as much wall-clock as
# the decode it could save. At 10^11-posting stopword volume the seed +
# block-max prune is what makes the query feasible at all — the same
# statistics-driven physical choice as engine.topk's mode="auto".
WAND_SEED_MIN_POSTINGS = 1_000_000

# Blocks per part that the seed pass of parts_scores decodes at least
# (the highest-bound ones; k × query terms when that is more): enough
# to reach k real docs for a usual k, small enough to stay one cheap
# task.
WAND_SEED_BLOCKS = 64


def wand_mode(mode: str, auto: bool) -> bool:
    """Whether a top-k in ``mode`` runs the WAND cut; ``auto`` is the
    calling engine's own ``mode="auto"`` rule."""
    if mode not in ("auto", "wand", "exhaustive"):
        raise ValueError(f"unknown top-k mode {mode!r}: "
                         "expected auto|wand|exhaustive")
    return auto if mode == "auto" else mode == "wand"


def prune_buckets(blocks: DataFrame, t0: float, ub: Column,
                  single_term: bool = False) -> DataFrame:
    """Drop the blocks that cannot hold a doc scoring ≥ ``t0``.

    ``ub`` bounds one doc's contribution from a block's term. Per
    bucket, Σ_terms max(ub) bounds every doc of the bucket (a doc's
    postings all live in its own bucket), so buckets below ``t0`` are
    semi-joined away before any payload decode; AQE broadcasts the
    surviving bucket list when it is small and sort-merges it when it
    isn't. A single-term query prunes per block instead (score ==
    contribution, so ``ub < t0`` is individually safe). ``t0 <= 0``
    prunes nothing."""
    if t0 <= 0.0:
        return blocks
    if single_term:
        return blocks.filter(ub >= t0)
    keep = (blocks.groupBy("bucket", "term_id")
            .agg(F.max(ub).alias("term_best"))
            .groupBy("bucket").agg(F.sum("term_best").alias("ub"))
            .filter(F.col("ub") >= t0).select("bucket"))
    return blocks.join(keep, "bucket", "left_semi")


def parts_scores(parts: list[tuple], k: int, doc_filter: Column | None,
                 wand: bool, n_postings: int,
                 _debug: dict | None = None) -> DataFrame:
    """Candidate (doc_id, score) rows of a BM25 top-k over one or more
    index parts in one doc-id space — the one Spark plan of every
    top-k shape. Each part is ``(index, doc_id offset, {term_id: idf},
    avgdl, ub)`` where ``ub`` is a per-block Column bound on one doc's
    contribution of the block's term. ``wand`` turns on the local
    top-k cut, the seed and the prune; without it every candidate is
    scored.

    1. **Allowed set first** (``wand``). Under ``doc_filter``, or for a
       part with tombstones, the part's live doc_meta rows
       (doc_id, bucket) are the allowed set: blocks semi-join on the
       allowed BUCKETS before any decode, and the kernel sums only
       allowed docs, so no cut ever drops a live doc for a dead one.
       Without ``wand`` every candidate is scored, the tombstones are
       anti-joined from the scores and the filter's docs semi-joined.
    2. **Seed.** When Σdf ≥ WAND_SEED_MIN_POSTINGS, decode each part's
       max(``WAND_SEED_BLOCKS``, k × its terms) highest-``ub`` blocks
       and take the k-th best exact score of their allowed docs. Those
       are partial sums of k distinct real docs (part offsets keep ids
       disjoint) and contributions are non-negative, so the k-th
       certifies a lower bound ``t0`` on the k-th best total (the
       eager input filter of External Merge Sort for Top-K, SIGMOD
       2020). With ``ub`` the stored ``max_score``, reached by a doc of
       its block, and a doc in at most one block per term, k × terms
       blocks hold k distinct docs at or above any term's k-th best
       bucket max, so the unfiltered seed is never below that
       metadata bound.
    3. **Prune** each part with :func:`prune_buckets` against ``t0``.
    4. **Score** each part through ``score_buckets`` (local top-k when
       ``wand``) and union."""
    planned = []
    for index, off, idf_map, avgdl, ub in parts:
        blocks = index.postings.filter(F.col("term_id").isin(list(idf_map)))
        allowed = None
        if wand and (doc_filter is not None or index.has_deletes):
            live = index.doc_meta
            if doc_filter is not None:
                live = live.filter(doc_filter)
            # no persist: each reuse recomputes a pushdown-pruned
            # parquet scan (cheap), and cached frames would otherwise
            # accumulate per query in a long-lived engine.
            allowed = live.select(
                "doc_id", F.expr(f"doc_id div {index.cfg.bucket_size}")
                .alias("bucket"))
            blocks = blocks.join(allowed.select("bucket").distinct(),
                                 "bucket", "left_semi")
        planned.append((index, off, idf_map, avgdl, ub, blocks, allowed))

    def score(cut, local_k: int | None) -> DataFrame:
        """Union of every part's scores over ``cut(blocks, ub, idf_map)``."""
        out = None
        for index, off, idf_map, avgdl, ub, blocks, allowed in planned:
            s = score_buckets(cut(blocks, ub, idf_map), idf_map, avgdl,
                              local_k, allowed)
            if allowed is None:
                s = index.without_deleted(s)
                if doc_filter is not None:
                    s = s.join(index.doc_meta.filter(doc_filter)
                               .select("doc_id"), "doc_id", "left_semi")
            if off:
                s = s.select((F.col("doc_id") + off).alias("doc_id"),
                             "score")
            out = s if out is None else out.unionByName(s)
        return out

    def prune(blocks, ub, idf_map):
        return prune_buckets(blocks, t0, ub, len(idf_map) == 1)

    t0 = 0.0
    if wand and n_postings >= WAND_SEED_MIN_POSTINGS:
        top = (score(lambda b, ub, m: b.orderBy(ub.desc()).limit(
                   max(WAND_SEED_BLOCKS, k * len(m))), k)
               .orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect())
        t0 = float(top[-1]["score"]) if len(top) == k else 0.0
    if _debug is not None:
        _debug["t0"] = t0
        kept = [(b, prune(b, ub, m)) for _, _, m, _, ub, b, _ in planned]
        _debug["blocks_total"] = sum(b.count() for b, _ in kept)
        _debug["blocks_after_prune"] = sum(p.count() for _, p in kept)
    return score(prune, k if wand else None)


def parts_topk(parts: list[tuple], k: int, doc_filter: Column | None,
               filter_cols: list[str], wand: bool, on_driver: bool,
               n_postings: int, ub: Callable[[dict, float], Column]
               ) -> pd.DataFrame:
    """The ≤k sorted (doc_id, score) winners of a BM25 top-k over
    index parts ``(index, doc_id offset, {term_id: idf}, avgdl)`` —
    the one top-k of ``SearchEngine`` and ``DeltaSearchEngine``.
    ``on_driver`` (or no part) scores every candidate on the driver
    (``scoring.driver_parts_topk``, whatever ``wand``); otherwise
    :func:`parts_scores` runs with ``ub(idf_map, avgdl)`` as each
    part's block bound — built only here, so the driver path makes no
    Py4J call for it — and its winners are collected."""
    if on_driver or not parts:
        return driver_parts_topk(parts, k, doc_filter, filter_cols)
    planned = [(*p, ub(p[2], p[3])) for p in parts]
    top = (parts_scores(planned, k, doc_filter, wand, n_postings)
           .orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect())
    return pd.DataFrame({"doc_id": [int(r["doc_id"]) for r in top],
                         "score": [float(r["score"]) for r in top]})
