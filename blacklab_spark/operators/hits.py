"""Result-set operators over hits / docs (SURVEY.md §2.B).

The reference materializes hits into big arrays and applies
sort/group/filter/sample/window in Java
(engine/src/main/java/nl/inl/blacklab/search/results/HitsAbstract.java:157-327).
Here hits are just a DataFrame ``(doc_id, start, end)`` and every
result op is a declarative DataFrame op — Catalyst/Tungsten provide
the codegen, partial aggregation and spill the reference hand-rolls.

KWIC/context/collocations read the token-array column of doc_meta —
the engine's forward index (SURVEY.md §1.1) — via JVM array slices,
the Spark equivalent of Contexts.java:34-120 forward-index lookups.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from blacklab_spark.index import InvertedIndex

DEFAULT_CONTEXT = 5  # reference: search/BlackLabIndex.java:71


#: sensitivity → (doc_meta token column, query-term desensitizer).
#: The four variants mirror the reference's MatchSensitivity
#: (indexmetadata/MatchSensitivity.java:12-17).
def _sens(sensitivity: str, term: str) -> tuple[str, str]:
    from blacklab_spark.tokenizer import (py_fold_diacritics,
                                          py_fold_insensitive)
    if sensitivity == "i":
        return "tokens", py_fold_insensitive(term)
    if sensitivity == "s":
        return "tokens_s", term
    if sensitivity == "ci":      # case-insensitive, accent-sensitive
        return "tokens_ci", term.lower()
    if sensitivity == "di":      # accent-insensitive, case-sensitive
        return "tokens_di", py_fold_diacritics(term)
    raise ValueError(f"unknown sensitivity {sensitivity!r} "
                     "(expected one of: i, s, ci, di)")


def term_hits(index: InvertedIndex, term: str,
              doc_filter: Column | None = None,
              sensitivity: str = "i",
              dm: DataFrame | None = None) -> DataFrame:
    """All positions of a single term → hits (BLSpanTermQuery analog,
    reference: search/lucene/BLSpanTermQuery.java:52). Forward-index
    probe: posexplode of token arrays, JVM-side.

    sensitivity picks the probed layer and desensitizes the query term
    the same way (≙ BlackLab's @i/@s/@ci/@di annotation sensitivities,
    indexmetadata/MatchSensitivity.java:12-17). ``dm`` substitutes a
    pre-pruned doc_meta frame (the push_hit_docs anchor pattern: a
    position-filter over a rare producer probes only the producer's
    docs' token arrays)."""
    col, term = _sens(sensitivity, term)
    if dm is None:
        dm = index.doc_meta
    if doc_filter is not None:
        dm = dm.filter(doc_filter)
    return (dm.filter(F.array_contains(col, term))
            .select("doc_id", F.posexplode(col).alias("start", "tok"))
            .filter(F.col("tok") == term)
            .select("doc_id", F.col("start").cast("int"),
                    (F.col("start") + 1).cast("int").alias("end")))


def hits_for_term_ids(index: InvertedIndex,
                      term_ids: list[int]) -> DataFrame:
    """Positions of a set of term_ids decoded from POSTING BLOCKS —
    the postings-backed leaf (≙ Lucene reading a term's postings
    instead of walking the forward index). Touches only the terms'
    blocks: for a hapax term this reads a few KB, where the
    token-array probe would scan the whole corpus. No shuffle, no
    groupBy — each block row decodes independently (mapInArrow).

    Reference analog: BLSpanTermQuery over Lucene postings
    (search/lucene/BLSpanTermQuery.java:52); dual physical path to
    :func:`term_hits` like SpansFiSeq vs postings sequences
    (SURVEY.md §4.4)."""
    import pyarrow as pa
    from blacklab_spark.operators.phrase import _decode_doc_positions

    if not term_ids:
        return index.spark.createDataFrame(
            [], "doc_id long, start int, end int")
    if not index.cfg.store_positions:
        raise ValueError("index built without positions")
    blocks = (index.postings
              .filter(F.col("term_id").isin([int(t) for t in term_ids]))
              .select("doc_ids", "tfs", "positions"))

    def gen(batches):
        import numpy as np
        for batch in batches:
            docs_out, pos_out = [], []
            col_d, col_tf, col_p = (batch.column(i) for i in range(3))
            for i in range(batch.num_rows):       # per BLOCK, not per hit
                d, p = _decode_doc_positions(
                    col_d[i].as_py(), col_tf[i].as_py(), col_p[i].as_py())
                docs_out.append(d)
                pos_out.append(p)
            if not docs_out:
                continue
            doc = np.concatenate(docs_out)
            start = np.concatenate(pos_out).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc, pa.int64()), pa.array(start, pa.int32()),
                 pa.array(start + 1, pa.int32())],
                ["doc_id", "start", "end"])

    out = blocks.mapInArrow(gen, "doc_id long, start int, end int")
    return index.without_deleted(out)


def term_hits_via_postings(index: InvertedIndex, term: str) -> DataFrame:
    """Single-term postings leaf (insensitive layer — postings are
    built over @i tokens)."""
    info = index.lookup_terms([term])
    return hits_for_term_ids(index, [int(t) for t in info["term_id"]])


def term_hits_auto(index: InvertedIndex, term: str,
                   doc_filter: Column | None = None,
                   sensitivity: str = "i") -> DataFrame:
    """Cost-based term-hits leaf — the engine facade's default path.

    Insensitive layer with stored positions → postings block decode
    (reads only the term's blocks; a hapax anchor reads a few KB where
    the probe scans every token array). A doc filter becomes a
    semi-join against the filtered doc ids: doc_meta is read with only
    (doc_id, filter columns) — token arrays stay unread. Sensitive
    layer or positionless index → forward-index probe (the only path
    that can compare original-case tokens).

    Hot terms (df·4 ≥ n_docs, the collocations rule) keep the probe
    even when postings exist: most docs carry the term anyway, so the
    JVM-side posexplode beats shipping millions of decoded positions
    through the Arrow kernel.

    Same df-based physical choice the CQL executor makes for its
    leaves (plans/executor.py _exec Term case; VERDICT r02 #2)."""
    if sensitivity != "i" or not index.cfg.store_positions:
        return term_hits(index, term, doc_filter, sensitivity)
    from blacklab_spark.tokenizer import py_fold_insensitive
    folded = py_fold_insensitive(term)
    info = index.lookup_terms([folded])
    if (not info.empty and int(info["df"].sum()) * 4 >= index.n_docs
            and folded not in index.synonym_injected_values):
        # hot-term probe shortcut — sound unless the term exists
        # somewhere ONLY as an injected synonym value (the probe
        # compares primary values; postings carry the stacked
        # alternatives). Synonym keys and uninvolved terms keep the
        # fast path (r5 review: the blanket synonyms guard disabled
        # it for every term on a synonym index).
        return term_hits(index, term, doc_filter, sensitivity)
    hits = term_hits_via_postings(index, py_fold_insensitive(term))
    if doc_filter is not None:
        allowed = index.doc_meta.filter(doc_filter).select("doc_id")
        hits = hits.join(allowed, "doc_id", "left_semi")
    return hits


# Doc-set size we are willing to collect to the driver to push a
# ``doc_id IN (...)`` filter into a doc_meta scan (row-group pruning;
# same bound as plans/executor.FISEQ_MAX_ANCHOR_DOCS).
MAX_PUSHDOWN_DOCS = 65536

# Pushdown must also be SELECTIVE: an IN-list covering more than
# 1/this of the corpus prunes (almost) no row groups, so the scan does
# full work PLUS a large In-filter per row — measured 5.7s vs 0.86s
# for the plain join when the id set covered 70% of a 21k-doc corpus.
# At 10^12 docs the same 65k-id list passes easily (selectivity
# ~10^-7) and saves the full-table scan, which is the case the
# pushdown exists for.
PUSHDOWN_MIN_SELECTIVITY = 64


def in_list_pred(ids, col: str = "doc_id"):
    """``col IN (...)`` for a large id list via ONE parsed SQL
    expression. ``Column.isin(list)`` marshals every literal through
    Py4J individually — measured 13.3s to merely BUILD the Column at
    15k ids; the SQL parser takes the same list in ~1s. Sorted for
    deterministic plans. Strings are SQL-quoted (doubled single
    quotes); everything else renders as an integer literal. An empty
    list is always-false (``isin([])`` semantics; ``IN ()`` would be a
    SQL parse error)."""
    vals = sorted(ids)
    if not vals:
        return F.lit(False)
    if vals and isinstance(vals[0], str):
        body = ",".join("'" + v.replace("'", "''") + "'" for v in vals)
    else:
        body = ",".join(map(str, vals))
    return F.expr(f"{col} IN ({body})")


def push_hit_docs(hits: DataFrame, dm: DataFrame,
                  max_docs: int = MAX_PUSHDOWN_DOCS,
                  n_docs: int | None = None) -> DataFrame:
    """Push a hits frame's doc set into a doc_meta scan as
    ``doc_id IN (...)`` — the _fiseq anchor pattern: a rare-term
    context fetch then reads only the anchor's row groups instead of
    broadcast-joining against a full-table scan. Falls back to the
    plain scan (join prunes rows, not row groups) when the HIT count
    exceeds the driver-collect bound, or when the id set is too large
    a fraction of the corpus for row-group pruning to pay
    (PUSHDOWN_MIN_SELECTIVITY; ``n_docs`` = corpus size, pass
    ``index.n_docs``). Costs one extra bounded job over
    the hits plan — deliberately a non-distinct limit: CollectLimit
    over raw hits short-circuits after max_docs+1 ROWS (a hot-term
    frame stops after its first partition), where a distinct() would
    force a full scan + shuffle of the very frame we are trying not
    to scan. A rare term's hits all fit under the bound and dedupe
    driver-side; a ≤max_docs-doc set hiding under >max_docs hits just
    falls back to the plain join — the bound is a heuristic, not a
    semantic."""
    rows = hits.select("doc_id").limit(max_docs + 1).collect()
    if len(rows) > max_docs:
        return dm
    ids = {r[0] for r in rows}
    if n_docs is not None and len(ids) * PUSHDOWN_MIN_SELECTIVITY > n_docs:
        return dm
    return dm.filter(in_list_pred(ids))


def kwic(index: InvertedIndex, hits: DataFrame,
         context: int = DEFAULT_CONTEXT, pushdown: bool = True,
         field: str = "a",
         annotations: tuple = ()) -> DataFrame:
    """Keyword-in-context: left/match/right token windows
    (reference: search/results/Kwics.java:25, Contexts.java:34-120).
    With ``pushdown`` (default) the hits' doc ids are pushed into the
    doc_meta scan so a rare-term KWIC reads only the anchor's row
    groups — set False to keep the plan fully lazy. ``field="b"``
    slices the parallel field-b token array instead (hit coordinates
    must already be field-b, e.g. from other_field_hits).

    ``annotations`` adds further layers (the reference's multi-
    annotation KWIC — Kwic.java carries every listed annotation's
    context): per layer ``a``, columns ``left_a/match_a/right_a``
    sliced from the SAME windows (multi-value layers display their
    primary value). Layers derive lazily on the pushed-down doc set
    only."""
    extra: list[str] = []
    if field == "b":
        if annotations:
            raise ValueError("multi-annotation KWIC applies to the "
                             "source field (field b has word only)")
        from blacklab_spark.operators.parallel import tokens_other_field
        dm = index.doc_meta.select(
            "doc_id", "conv_id", "turn_idx",
            tokens_other_field("tokens").alias("tokens"))
    else:
        from blacklab_spark.annotations import (ANNOTATION_COLUMNS,
                                                with_token_layers)
        extra = [a for a in annotations if a != "word"]
        for a in extra:
            if a not in ANNOTATION_COLUMNS:
                raise ValueError(f"unknown annotation {a!r} "
                                 f"(have: {sorted(ANNOTATION_COLUMNS)})")
        dm = index.doc_meta
        if extra:
            dm = with_token_layers(
                dm, tuple({"pos" for a in extra
                           if a.startswith("pos")}))
        dm = dm.select("doc_id", "conv_id", "turn_idx", "tokens",
                       *[F.col(ANNOTATION_COLUMNS[a]) for a in extra])
    if pushdown:
        dm = push_hit_docs(hits, dm, n_docs=index.n_docs)
    j = hits.join(dm, "doc_id")
    left_from = F.greatest(F.lit(0), F.col("start") - context)

    def _windows(col: str, suffix: str = ""):
        from blacklab_spark.annotations import MULTI_VALUE_LAYERS
        def disp(c):
            # multi-value layers (lemma): display the PRIMARY value
            if suffix and suffix.lstrip("_") in MULTI_VALUE_LAYERS:
                return F.transform(c, lambda v: v[0])
            return c
        return [
            disp(F.slice(col, left_from + 1,
                         F.col("start") - left_from))
            .alias(f"left{suffix}"),
            disp(F.slice(col, F.col("start") + 1,
                         F.col("end") - F.col("start")))
            .alias(f"match{suffix}"),
            disp(F.slice(col, F.col("end") + 1, F.lit(context)))
            .alias(f"right{suffix}"),
        ]

    cols = _windows("tokens")
    from blacklab_spark.annotations import ANNOTATION_COLUMNS as _AC
    for a in extra:
        cols.extend(_windows(_AC[a], "_" + a.replace("/", "_")))
    return j.select("doc_id", "conv_id", "turn_idx", "start", "end",
                    *cols)


def concordances(index: InvertedIndex, hits: DataFrame,
                 context: int = DEFAULT_CONTEXT,
                 pushdown: bool = True) -> DataFrame:
    """Concordances from the ORIGINAL stored content (reference:
    search/results/Concordances.java:23, ContentStoreIntegrated
    substring access): left/match/right as character-range fragments
    of the content store, token context mapped to char offsets via the
    frozen tokenizer's run spans. On tag-indexed builds positions
    count the stripped text, so tags are blanked length-preservingly
    for the offset map while the emitted fragments keep the original
    markup (the reference returns XML fragments the same way).

    Arrow-batched kernel (mapInPandas): offset mapping is inherently
    per-document string processing with no JVM expression equivalent;
    the token→char span map is computed once per document within a
    batch. Doc ids are pushed into the content scan (``pushdown``)."""
    import pandas as pd

    tagged = "text_raw" in index.doc_meta.columns
    col = "text_raw" if tagged else "text"
    dm = index.doc_meta.select("doc_id", "conv_id", "turn_idx",
                               F.col(col).alias("_raw"))
    if pushdown:
        dm = push_hit_docs(hits, dm, n_docs=index.n_docs)
    j = hits.select("doc_id", "start", "end").join(dm, "doc_id")

    import re as _re

    from blacklab_spark.operators.tags import TAG_RE
    from blacklab_spark.tokenizer import py_token_spans
    tag_re = _re.compile(TAG_RE)

    def kernel(batches):
        cache: dict = {}
        for pdf in batches:
            lefts, matches, rights = [], [], []
            for did, s, e, raw in zip(pdf["doc_id"], pdf["start"],
                                      pdf["end"], pdf["_raw"]):
                spans = cache.get(did)
                if spans is None:
                    basis = tag_re.sub(
                        lambda m: " " * len(m.group(0)),
                        raw) if tagged else raw
                    spans = cache[did] = py_token_spans(basis)
                n = len(spans)
                if not (0 <= s < e <= n):
                    lefts.append(None); matches.append(None)
                    rights.append(None)
                    continue
                a, b = spans[s][0], spans[e - 1][1]
                lo = spans[max(0, s - context)][0]
                hi = spans[min(n, e + context) - 1][1]
                lefts.append(raw[lo:a])
                matches.append(raw[a:b])
                rights.append(raw[b:hi])
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "conv_id": pdf["conv_id"],
                "turn_idx": pdf["turn_idx"], "start": pdf["start"],
                "end": pdf["end"], "left": lefts, "match": matches,
                "right": rights})

    return j.mapInPandas(
        kernel, "doc_id long, conv_id string, turn_idx int, "
                "start int, end int, left string, match string, "
                "right string")


def group_hits_by_context_word(index: InvertedIndex, hits: DataFrame,
                               offset: int = 1) -> DataFrame:
    """Group hits by a context token (e.g. first word after the hit ≙
    property key ``after:word:i:1``; reference:
    resultproperty/HitPropertyAfterHit.java via HitProperty.java:60-128).
    offset>0 → after-hit, offset<0 → before-hit. Hits that have no such
    token (doc edge) group under NULL, then are dropped (reference
    groups them under an empty context)."""
    dm = push_hit_docs(hits, index.doc_meta.select("doc_id", "tokens"),
                       n_docs=index.n_docs)
    j = hits.join(dm, "doc_id")
    idx = (F.col("end") + offset) if offset > 0 else (F.col("start") + 1 + offset)
    # guard idx >= 1: negative element_at indexes from the array END
    # (wraparound), which would silently mis-group edge hits.
    word = F.when(idx >= 1, F.try_element_at("tokens", idx.cast("int")))
    return (j.select(word.alias("group_key"))
            .filter(F.col("group_key").isNotNull())
            .groupBy("group_key").agg(F.count("*").alias("count")))


def group_hits_by_doc_field(index: InvertedIndex, hits: DataFrame,
                            field: str) -> DataFrame:
    """Group hits by a per-doc metadata field (HitPropertyDocumentStoredField)."""
    dm = push_hit_docs(hits, index.doc_meta.select("doc_id", field),
                       n_docs=index.n_docs)
    return (hits.join(dm, "doc_id")
            .groupBy(F.col(field).alias("group_key"))
            .agg(F.count("*").alias("count")))


def docs_from_hits(index: InvertedIndex, hits: DataFrame,
                   max_stored_per_doc: int | None = None) -> DataFrame:
    """Hits → per-doc results with hit counts (DocResults.fromHits,
    reference: search/results/DocResults.java:125)."""
    agg = [F.count("*").alias("n_hits")]
    if max_stored_per_doc:
        agg.append(F.slice(
            F.sort_array(F.collect_list(F.struct("start", "end"))),
            1, max_stored_per_doc).alias("stored_hits"))
    return hits.groupBy("doc_id").agg(*agg)


def term_frequencies(index: InvertedIndex, doc_filter: Column | None = None,
                     min_count: int = 1) -> DataFrame:
    """Corpus-wide (or doc-filtered) collection frequencies — the
    reference's fast token-frequency path is *the default* DataFrame
    agg here (HitGroupsTokenFrequencies.java:50 fast path ≙ plain
    explode+groupBy; SURVEY.md §2.B)."""
    if doc_filter is None and not index.has_deletes:
        # the terms dictionary already holds exact collection
        # frequencies over the @i layer — a tiny-table scan instead of
        # exploding every token array (the build did the aggregation
        # once; ≙ Lucene reading totalTermFreq from the terms dict).
        # With tombstones present the dictionary is stale (Lucene
        # model) but this op reports *results*, so fall through to the
        # exact explode.
        out = index.terms.select("term", F.col("cf").alias("count"))
    else:
        dm = index.doc_meta
        if doc_filter is not None:
            dm = dm.filter(doc_filter)
        out = (dm.select(F.explode("tokens").alias("term"))
               .groupBy("term").agg(F.count("*").alias("count")))
    if min_count > 1:
        out = out.filter(F.col("count") >= min_count)
    return out


def collocations(index: InvertedIndex, term: str, window: int = 10,
                 doc_filter: Column | None = None) -> DataFrame:
    """Token frequencies in ±window around hits of ``term``, hit token
    excluded (reference: search/results/Contexts.java:247-292).

    Cost-based anchor (the context fetch needs token arrays either
    way, so the choice is about avoiding a second pass + shuffle):

    * rare term (df ≪ n_docs) → postings leaf + push the anchor's doc
      ids into the doc_meta scan: reads only the anchor's row groups;
    * hot term (df ≥ n_docs/4) → single-pass probe: most docs carry
      the anchor anyway, and the probe finds positions and context in
      the same row — no join, no second corpus pass."""
    from blacklab_spark.tokenizer import py_fold_insensitive
    folded = py_fold_insensitive(term)
    hot = True
    if index.cfg.store_positions:
        info = index.lookup_terms([folded])
        hot = (not info.empty
               and int(info["df"].sum()) * 4 >= index.n_docs)
    if hot:
        dm = index.doc_meta
        if doc_filter is not None:
            dm = dm.filter(doc_filter)
        j = (dm.filter(F.array_contains("tokens", folded))
             .select("doc_id", "tokens",
                     F.posexplode("tokens").alias("pos", "tok"))
             .filter(F.col("tok") == folded))
        pos = F.col("pos")
    else:
        hits = term_hits_auto(index, folded, doc_filter)
        dm = push_hit_docs(hits, index.doc_meta.select("doc_id", "tokens"),
                       n_docs=index.n_docs)
        j = hits.join(dm, "doc_id")
        pos = F.col("start")
    idxs = F.array_remove(
        F.sequence(F.greatest(F.lit(0), pos - window),
                   F.least(F.size("tokens") - 1, pos + window)),
        pos)
    return (j.select(F.explode(idxs).alias("i"), "tokens")
            .select(F.element_at("tokens", F.col("i") + 1).alias("term"))
            .groupBy("term").agg(F.count("*").alias("count")))


def collocations_from_hits(index: InvertedIndex, hits: DataFrame,
                           window: int = 10) -> DataFrame:
    """Token frequencies in ±window around ARBITRARY hits (any span
    width), the whole hit span excluded — the general form behind BLS
    ``/hits?calc=colloc`` (Contexts.java:247-292 over a pattern's
    hits). The hits' doc ids are pushed into the doc_meta scan, so the
    context fetch reads only the anchor docs' row groups."""
    dm = push_hit_docs(hits, index.doc_meta.select("doc_id", "tokens"),
                       n_docs=index.n_docs)
    j = hits.join(dm, "doc_id")
    idxs = F.filter(
        F.sequence(F.greatest(F.lit(0), F.col("start") - window),
                   F.least(F.size("tokens") - 1,
                           F.col("end") - 1 + window)),
        lambda i: (i < F.col("start")) | (i >= F.col("end")))
    return (j.select(F.explode(idxs).alias("i"), "tokens")
            .select(F.element_at("tokens", F.col("i") + 1).alias("term"))
            .groupBy("term").agg(F.count("*").alias("count")))


def sample_hits(hits: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Seeded pseudo-random subset (HitsAbstract.java:213-270; sequence
    differs from java.util.Random — documented, SURVEY.md §2.B)."""
    return hits.sample(fraction=fraction, seed=seed)


def sample_hits_deterministic(hits: DataFrame, fraction: float,
                              seed: int = 42,
                              cols: tuple = ("doc_id", "start", "end")) \
        -> DataFrame:
    """Content-deterministic sample: keep a hit iff the md5 of its
    identity (seed|doc_id|start|end) falls below ``fraction`` of the
    hash space. Unlike ``df.sample`` (partition-order-dependent RNG
    sequence) the selection depends only on hit identity, so it is
    reproducible across cluster sizes, repartitions and engines — the
    property reference HitsSample(seed) provides via a fixed hit
    ordering (HitsAbstract.java:213-270), reformulated hash-first so
    no global order is needed. Pure JVM exprs; the same formula runs
    in DuckDB (gate: hits_sample_deterministic)."""
    width = 8
    thresh = format(min(16 ** width, int(fraction * 16 ** width)),
                    f"0{width}x")
    key = F.md5(F.concat_ws("|", F.lit(str(seed)),
                            *[F.col(c) for c in cols]))
    return hits.filter(F.substring(key, 1, width) < F.lit(thresh))


def window_hits(hits: DataFrame, first: int, size: int,
                order_cols: list[str] = ("doc_id", "start")) -> DataFrame:
    """Paging window with deterministic order (HitsAbstract.java:157-204).

    Scale shape: ``orderBy(...).limit(first+size)`` compiles to
    TakeOrderedAndProject (per-partition top-(first+size), merged on
    the driver) — no global sort, no single-partition window over the
    full hit set. The row_number window then runs over ≤ first+size
    rows (one tiny partition)."""
    from pyspark.sql import Window as W
    cols = [F.col(c) for c in order_cols]
    head = hits.orderBy(*cols).limit(first + size)
    w = W.orderBy(*cols)
    return (head.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > first)
            .drop("_rn"))
