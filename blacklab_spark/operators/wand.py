"""Block-max WAND top-k: metadata-driven pruning + per-bucket DAAT kernel.

Distributed shape of block-max WAND (Ding & Suel 2011) adapted to
Spark's execution model — the reference's analog is its cost-based
forward-index-vs-postings decision (SURVEY.md §4.4); Lucene itself
does per-segment WAND. Here:

1. **Threshold seeding from metadata only.** Per-block ``max_score``
   is the *achieved* best single-term contribution of some doc in the
   block (k1/b frozen at build). Blocks of one term are doc-disjoint,
   so the k-th largest ``max_score`` among one term's blocks is a
   certified lower bound on the k-th best *total* score (k distinct
   docs each score ≥ their block max). t0 = max over query terms of
   that bound. Pure metadata aggregation — no posting decode.
2. **Safe pruning** (:func:`prune_buckets`, DataFrame ops on block
   metadata). Per bucket, ub(bucket) = Σ_terms max(max_score within
   bucket). A bucket with ub < t0 cannot contain a top-k doc → pruned
   *before* decode; posting payloads of pruned buckets are never read
   (column pruning + the bucket semi-join). Single-term queries prune
   per *block* (score == contribution, so ``max_score < t0`` is
   individually safe).
3. **Exact per-bucket kernel.** Surviving buckets hold *all* blocks of
   all query terms for their doc range (a doc's postings always land
   in its own bucket), so ``scoring.score_buckets`` computes exact
   BM25 totals (numpy sort + reduceat) and emits a local top-k.
4. Global ``orderBy(score desc, doc_id).limit(k)`` finishes.

Filtered queries, indexes with tombstones and the main+delta engine
(streaming/ingest.py) share one plan, :func:`parts_scores`: allowed
set first, an exact seed from the top blocks, the same
:func:`prune_buckets`, the same kernel. Only the bound differs — the
stored ``max_score`` for one index, a dl-free ``max_tf`` bound under
the union statistics of the delta engine.

These plans run at or above ``engine.DRIVER_TOPK_MAX_POSTINGS``
candidate postings; below it ``scoring.driver_parts_topk`` scores
every candidate on the driver with the same kernel, and no Spark job
runs.

Rank/score-identical to operators/scoring.py by construction; the
dual-path pytest enforces it (≙ reference _FI1/_FI2 goldens,
test/test/hits.js:55-57).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blacklab_spark.index import InvertedIndex
from blacklab_spark.operators.scoring import (SCORE_SCHEMA, finish_topk,
                                              local_frame, score_buckets)

# Skip the threshold-seeding pass below this many candidate postings
# (Σ df over the query terms). Seeding costs one fixed Spark job
# (collect round-trip + block-metadata scan) before scoring can start;
# score_bucket decodes and scores about 8×10^5 postings/s per core
# (quartiles 6.7×10^5-1.1×10^6, measured on a 4-CPU Xeon along with
# engine.DRIVER_TOPK_MAX_POSTINGS), so below ~10^6 entries spread over
# the executors' cores the seed job costs about as much wall-clock as
# the decode it could save. At 10^11-posting stopword volume the seed +
# block-max prune is what makes the query feasible at all — the same
# statistics-driven physical choice as engine.topk's mode="auto".
WAND_SEED_MIN_POSTINGS = 1_000_000


# Salt width of the two-level k-th threshold seed: per-term bucket
# maxima are pre-reduced to a top-k per (term_id, pmod(bucket, S))
# slice before the per-term k-th is taken, so no single task ever
# holds more than max(n_buckets/S, S·k) rows for a term. At 10^12
# docs / 8192-doc buckets a stopword has ~1.2×10^8 buckets; S=4096
# caps the per-task row count at ~3×10^4 either level.
WAND_SEED_SALT = 4096

# Blocks per part that the exact seed pass of parts_scores decodes
# (the highest-bound ones): enough to reach k real docs for a usual
# k, small enough to stay one cheap task.
WAND_SEED_BLOCKS = 64


def _seed_threshold_frame(blocks: DataFrame, k: int) -> DataFrame:
    """One-row frame with the seed threshold ``t0`` (collected by
    :func:`_seed_threshold`; factored out so tests can assert the
    PLAN — notably that no per-term single-partition window remains).

    k-th largest per-BUCKET max_score within a single term → lower
    bound on the k-th best total score (see module docstring §1).
    Buckets are doc-disjoint, so k buckets above the bound certify k
    distinct docs scoring ≥ it — a valid (slightly weaker) bound vs
    the per-block k-th.

    Skew shape (r3 What's-wrong #3): a ``Window.partitionBy(term_id)``
    k-th would funnel ALL of a stopword's bucket maxima through one
    task (~1.2×10^8 rows at 10^12 docs). Instead: two-level exact
    k-th — (1) groupBy(term_id, bucket) max with map-side partial
    aggregation, (2) per (term_id, pmod(bucket, S)) salt slice keep
    the top-k bucket maxima (any value below a slice's k-th can never
    be the term's k-th), (3) k-th of the ≤S·k survivors per term,
    (4) max over terms. Every stage is a groupBy with bounded task
    input; no window, no single-partition shuffle."""
    per_bucket = (blocks.groupBy("term_id", "bucket")
                  .agg(F.max("max_score").alias("bucket_max")))
    partial = (per_bucket
               .groupBy("term_id",
                        F.pmod("bucket", F.lit(WAND_SEED_SALT))
                        .alias("salt"))
               .agg(F.slice(F.sort_array(F.collect_list("bucket_max"),
                                         asc=False),
                            1, k).alias("top"))
               .select("term_id", F.explode("top").alias("bucket_max")))
    return (partial.groupBy("term_id")
            .agg(F.try_element_at(
                F.sort_array(F.collect_list("bucket_max"), asc=False),
                F.lit(k)).alias("kth"))
            .agg(F.max("kth").alias("t0")))


def _seed_threshold(blocks: DataFrame, k: int) -> float:
    kth = _seed_threshold_frame(blocks, k).collect()[0]["t0"]
    return float(kth) if kth is not None else 0.0


def topk_wand(index: InvertedIndex, terms: list[str], k: int = 10) -> DataFrame:
    """Block-max-pruned BM25 top-k (unfiltered queries).

    Filtered queries (role/tool/...) go through topk_wand_filtered:
    the metadata threshold certifies the *unfiltered* k-th score, which
    is not a valid bound once candidates are removed — the same reason
    an index with delete-tombstones reroutes below (a deleted doc
    could otherwise certify a threshold that prunes real results).
    """
    if index.has_deletes:
        return topk_wand_filtered(index, terms, None, k)
    return finish_topk(index, wand_scores(index, terms, k), k)


def wand_scores(index: InvertedIndex, terms: list[str],
                k: int, seed: bool | None = None) -> DataFrame:
    """The block-pruned per-bucket local-top-k scores stage of
    :func:`topk_wand` (factored out so plan assertions can inspect the
    scoring plan — finish_topk materializes the winners eagerly).

    ``seed=None`` decides from term statistics whether the
    threshold-seeding job pays for itself (WAND_SEED_MIN_POSTINGS);
    True/False forces it (tests / debugging)."""
    info = index.lookup_terms(terms)
    if info.empty:
        return local_frame(index.spark, pd.DataFrame(), SCORE_SCHEMA)
    idf_map = {int(t): float(i) for t, i in zip(info["term_id"], info["idf"])}
    blocks = index.postings.filter(F.col("term_id").isin(list(idf_map)))
    if seed is None:
        seed = int(info["df"].sum()) >= WAND_SEED_MIN_POSTINGS
    t0 = _seed_threshold(blocks, k) if seed else 0.0
    pruned = prune_buckets(blocks, t0, F.col("max_score"), len(idf_map) == 1)
    return score_buckets(pruned, idf_map, index.avgdl, local_k=k)


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
                 wand: bool, n_postings: int, seed: bool | None = None,
                 _debug: dict | None = None) -> DataFrame:
    """Candidate (doc_id, score) rows of a BM25 top-k over one or more
    index parts in one doc-id space — the plan of the filtered single
    index (one part) and of the main+delta engine (one part each).
    Each part is ``(index, doc_id offset, {term_id: idf}, avgdl, ub)``
    where ``ub`` is a per-block Column bound on one doc's contribution
    of the block's term. ``wand`` turns on the local top-k cut, the
    seed and the prune; without it every candidate is scored.

    1. **Allowed set first.** Under ``doc_filter`` — or, when the cut
       applies, for a part with tombstones — the part's live doc_meta
       rows (doc_id, bucket) are the allowed set: blocks semi-join on
       the allowed BUCKETS before any decode, and the kernel sums only
       allowed docs, so no cut ever drops a live doc for a dead one.
       Otherwise tombstones are anti-joined from the scores.
    2. **Seed.** When Σdf ≥ WAND_SEED_MIN_POSTINGS (``seed`` forces
       it), decode each part's ``WAND_SEED_BLOCKS`` highest-``ub``
       blocks and take the k-th best exact score of their allowed
       docs. Those are partial sums of k distinct real docs (part
       offsets keep ids disjoint) and contributions are non-negative,
       so the k-th certifies a lower bound ``t0`` on the k-th best
       total (the eager input filter of External Merge Sort for Top-K,
       SIGMOD 2020).
    3. **Prune** each part with :func:`prune_buckets` against ``t0``.
    4. **Score** each part through ``score_buckets`` (local top-k when
       ``wand``) and union."""
    planned = []
    for index, off, idf_map, avgdl, ub in parts:
        blocks = index.postings.filter(F.col("term_id").isin(list(idf_map)))
        allowed = None
        if doc_filter is not None or (wand and index.has_deletes):
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
            if off:
                s = s.select((F.col("doc_id") + off).alias("doc_id"),
                             "score")
            out = s if out is None else out.unionByName(s)
        return out

    def prune(blocks, ub, idf_map):
        return prune_buckets(blocks, t0, ub, len(idf_map) == 1)

    t0 = 0.0
    if seed is None:
        seed = n_postings >= WAND_SEED_MIN_POSTINGS
    if wand and seed:
        top = (score(lambda b, ub, _: b.orderBy(ub.desc())
                     .limit(WAND_SEED_BLOCKS), k)
               .orderBy(F.desc("score"), F.asc("doc_id")).limit(k).collect())
        t0 = float(top[-1]["score"]) if len(top) == k else 0.0
    if _debug is not None:
        _debug["t0"] = t0
        kept = [(b, prune(b, ub, m)) for _, _, m, _, ub, b, _ in planned]
        _debug["blocks_total"] = sum(b.count() for b, _ in kept)
        _debug["blocks_after_prune"] = sum(p.count() for _, p in kept)
    return score(prune, k if wand else None)


def topk_wand_filtered(index: InvertedIndex, terms: list[str],
                       doc_filter: Column | None, k: int = 10,
                       seed: bool | None = None,
                       _debug: dict | None = None) -> DataFrame:
    """Filter-then-score block-max top-k under a metadata filter (or
    over the live docs of an index with tombstones, ``doc_filter``
    None): the one-part :func:`parts_scores` plan with the stored
    block ``max_score`` as the bound. The unfiltered metadata seed is
    invalid once candidates are removed (:func:`topk_wand`), so the
    threshold comes from exact scores of allowed docs. Rank- and
    score-identical to exhaustive-then-filter (dual-path tested)."""
    info = index.lookup_terms(terms)
    if info.empty:
        return finish_topk(
            index, local_frame(index.spark, pd.DataFrame(), SCORE_SCHEMA), k)
    idf_map = {int(t): float(i) for t, i in zip(info["term_id"], info["idf"])}
    part = (index, 0, idf_map, index.avgdl, F.col("max_score"))
    return finish_topk(index, parts_scores(
        [part], k, doc_filter, True, int(info["df"].sum()), seed, _debug), k)
