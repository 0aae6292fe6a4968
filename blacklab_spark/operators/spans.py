"""Span algebra: BlackLab's BLSpanQuery operator set over hit frames.

A *hits frame* is a DataFrame ``(doc_id:long, start:int, end:int)``
(half-open token intervals — the reference's Hit contract,
engine/src/main/java/nl/inl/blacklab/search/results/EphemeralHit.java:13-15),
optionally with a ``match_info`` map column for named captures.

Each function mirrors one operator from SURVEY.md §2.A (reference
file:line cited per function) as a declarative DataFrame plan:
unions, equi-joins on (doc_id, position) and interval joins — all
strategies Catalyst already optimizes (broadcast vs SMJ, AQE skew
splitting). Nothing here shuffles more than the join keys demand;
the positional join keys are (doc_id) with range predicates on
positions, so co-partitioning by doc_id makes every operator a local
join at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from blacklab_spark.index import InvertedIndex

HIT_COLS = ["doc_id", "start", "end"]


def _h(df: DataFrame) -> DataFrame:
    return df.select(*HIT_COLS, *[c for c in df.columns
                                  if c == "match_info"])


# -- leaves -----------------------------------------------------------
def annot_term(index: InvertedIndex, layer: str, text: str) -> DataFrame:
    """All positions where a non-word annotation layer equals
    ``text`` (≙ [pos="verb"]; reference TextPatternAnnotation /
    cql.jj:631). Non-word layers have no postings (low-cardinality
    derived columns) — forward-index probe of the layer's token-array
    column."""
    from blacklab_spark.annotations import ANNOTATION_COLUMNS
    if layer not in ANNOTATION_COLUMNS:
        raise ValueError(f"unknown annotation layer {layer!r} "
                         f"(have: {sorted(ANNOTATION_COLUMNS)})")
    col = ANNOTATION_COLUMNS[layer]
    dm = index.doc_meta
    if col not in dm.columns:
        raise ValueError(
            f"annotation layer {layer!r} was not materialized in this "
            f"index (built with annotations={index.cfg.annotations!r})")
    from blacklab_spark.annotations import MULTI_VALUE_LAYERS
    if layer in MULTI_VALUE_LAYERS:
        # multi-value layer (position-increment-0 model): a position
        # matches iff ANY stacked value equals the query value.
        return (dm.filter(F.exists(
                    col, lambda vals: F.array_contains(vals, text)))
                .select("doc_id", F.posexplode(col).alias("start", "vals"))
                .filter(F.array_contains("vals", text))
                .select("doc_id", F.col("start").cast("int"),
                        (F.col("start") + 1).cast("int").alias("end")))
    return (dm.filter(F.array_contains(col, text))
            .select("doc_id", F.posexplode(col).alias("start", "tok"))
            .filter(F.col("tok") == text)
            .select("doc_id", F.col("start").cast("int"),
                    (F.col("start") + 1).cast("int").alias("end")))


def annot_terms(index: InvertedIndex, layer: str,
                texts: tuple[str, ...]) -> DataFrame:
    """All positions where a SINGLE-VALUE annotation layer equals any
    of ``texts`` — one forward-index probe for an OR of same-layer
    term leaves (``[pos="noun"] | [pos="verb"]``), instead of one
    posexplode pass per alternative + union. A position holds exactly
    one value, so the output is intrinsically duplicate-free and
    equals the union of the per-term probes (multi-value layers are
    excluded by the caller: a stacked position matching two
    alternatives must yield two union rows)."""
    from blacklab_spark.annotations import (ANNOTATION_COLUMNS,
                                            MULTI_VALUE_LAYERS)
    if layer in MULTI_VALUE_LAYERS:
        raise ValueError(f"annot_terms requires a single-value layer, "
                         f"got {layer!r}")
    if layer not in ANNOTATION_COLUMNS:
        raise ValueError(f"unknown annotation layer {layer!r} "
                         f"(have: {sorted(ANNOTATION_COLUMNS)})")
    col = ANNOTATION_COLUMNS[layer]
    dm = index.doc_meta
    if col not in dm.columns:
        raise ValueError(
            f"annotation layer {layer!r} was not materialized in this "
            f"index (built with annotations={index.cfg.annotations!r})")
    tset = F.array(*[F.lit(t) for t in texts])
    return (dm.filter(F.arrays_overlap(col, tset))
            .select("doc_id", F.posexplode(col).alias("start", "tok"))
            .filter(F.array_contains(tset, F.col("tok")))
            .select("doc_id", F.col("start").cast("int"),
                    (F.col("start") + 1).cast("int").alias("end")))


def annot_regex(index: InvertedIndex, layer: str, pattern: str) -> DataFrame:
    from blacklab_spark.annotations import ANNOTATION_COLUMNS
    if layer not in ANNOTATION_COLUMNS:
        raise ValueError(f"unknown annotation layer {layer!r} "
                         f"(have: {sorted(ANNOTATION_COLUMNS)})")
    col = ANNOTATION_COLUMNS[layer]
    dm = index.doc_meta
    if col not in dm.columns:
        raise ValueError(
            f"annotation layer {layer!r} was not materialized in this "
            f"index (built with annotations={index.cfg.annotations!r})")
    from blacklab_spark.annotations import MULTI_VALUE_LAYERS
    rx = f"^(?:{pattern})$"
    if layer in MULTI_VALUE_LAYERS:
        return (dm.select("doc_id", F.posexplode(col).alias("start", "vals"))
                .filter(F.exists("vals", lambda v: v.rlike(rx)))
                .select("doc_id", F.col("start").cast("int"),
                        (F.col("start") + 1).cast("int").alias("end")))
    return (dm.select("doc_id", F.posexplode(col).alias("start", "tok"))
            .filter(F.col("tok").rlike(rx))
            .select("doc_id", F.col("start").cast("int"),
                    (F.col("start") + 1).cast("int").alias("end")))


def term(index: InvertedIndex, t: str, sensitivity: str = "i") -> DataFrame:
    """All positions of a term (BLSpanTermQuery.java:52); sensitivity
    "i"/"s" selects the annotation layer (SURVEY §1.1)."""
    from blacklab_spark.operators.hits import term_hits
    return term_hits(index, t, sensitivity=sensitivity)


def regex_terms(index: InvertedIndex, pattern: str) -> DataFrame:
    """Multi-term: regex → matching terms → OR of term hits
    (BLSpanMultiTermQueryWrapper.java:53 rewrite-to-OR). The term
    dictionary drives expansion; hits come from one array probe with
    an OR-set membership filter, not |terms| separate scans.

    The pattern is matched case-insensitively with Unicode case
    folding ((?iu) — Java's bare (?i) is ASCII-only) because the
    insensitive term dictionary is lowercased — the reference likewise
    desensitizes the pattern for @i matching (DesensitizeFilter)."""
    info = index.expand_regex(f"(?iu)^(?:{pattern})$")
    return terms_probe(index, list(info["term"]))


def terms_probe(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """All positions of any of ``terms`` (@i dictionary terms) from one
    forward-index probe: an array-overlap pre-filter, then posexplode
    with an OR-set membership filter. No terms → no hits."""
    if not terms:
        return no_hits(index)
    dm = index.doc_meta
    tset = F.array(*[F.lit(t) for t in terms])
    return (dm.filter(F.arrays_overlap("tokens", tset))
            .select("doc_id", F.posexplode("tokens").alias("start", "tok"))
            .filter(F.array_contains(tset, F.col("tok")))
            .select("doc_id", F.col("start").cast("int"),
                    (F.col("start") + 1).cast("int").alias("end")))


def any_token(index: InvertedIndex, min_len: int = 1,
              max_len: int | None = 1) -> DataFrame:
    """``[]{m,n}`` — every n-gram span (SpanQueryAnyToken.java:25,
    SpansNGrams.java:17). Generated from doc lengths, not stored.
    ``max_len=None`` = unbounded, clamped to doc length.
    NOTE: the rewriter (plans/rewrite.py) eliminates this in favour of
    expansion whenever possible — materializing it is the expensive
    last resort, exactly as in the reference (§4.1 CCAnyExpansion)."""
    dm = index.doc_meta.select("doc_id", "n_tokens") \
        .filter(F.col("n_tokens") >= max(min_len, 1))
    hi = F.col("n_tokens") if max_len is None else \
        F.least(F.lit(max_len), F.col("n_tokens"))
    lens = F.explode(F.sequence(F.lit(min_len), hi)).alias("w")
    with_w = dm.select("doc_id", "n_tokens", lens)
    starts = F.explode(F.sequence(
        F.lit(0), F.col("n_tokens") - F.col("w"))).alias("start")
    return (with_w.filter(F.col("n_tokens") >= F.col("w"))
            .select("doc_id", "w", starts)
            .select("doc_id", F.col("start").cast("int"),
                    (F.col("start") + F.col("w")).cast("int").alias("end")))


def no_hits(index: InvertedIndex) -> DataFrame:
    """Empty relation (SpanQueryNoHits.java:20), a local frame whose
    collect runs no Spark job."""
    import pandas as pd
    from blacklab_spark.operators.phrase import HITS_SCHEMA
    from blacklab_spark.operators.scoring import local_frame
    return local_frame(index.spark, pd.DataFrame(), HITS_SCHEMA)


def fixed_span(index: InvertedIndex, start: int, end: int) -> DataFrame:
    """Constant span per doc, clamped (SpanQueryFixedSpan.java:32)."""
    return (index.doc_meta.filter(F.col("n_tokens") >= end)
            .select("doc_id", F.lit(start).cast("int").alias("start"),
                    F.lit(end).cast("int").alias("end")))


# -- set combinators --------------------------------------------------
def or_(*clauses: DataFrame) -> DataFrame:
    """Union of span sets (BLSpanOrQuery priority-queue merge ≙ union +
    downstream sort; duplicates kept, as in the reference). When any
    branch carries match_info (e.g. a capture inside a position
    filter), the others gain an empty map so the union schemas line
    up."""
    frames = [_h(c) for c in clauses]
    if any("match_info" in f.columns for f in frames):
        frames = [capture_noop(f) for f in frames]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def and_(*clauses: DataFrame,
         inputs_unique: tuple[bool, ...] | None = None) -> DataFrame:
    """Same-span intersection (SpanQueryAnd.java:11, SpansAndSimple):
    keep spans identical in all clauses.

    ``inputs_unique[i]`` = the i-th clause is provably duplicate-free
    (plans/guarantees.py, the reference's hitsHaveUniqueStartEnd) —
    its input dedup exchange is elided; the join on the full hit key
    then cannot multiply rows, exactly why SpansAndSimple needs no
    SpansUnique."""
    uq = inputs_unique or (False,) * len(clauses)
    if len(uq) != len(clauses):
        raise ValueError(
            f"inputs_unique has {len(uq)} entries for "
            f"{len(clauses)} clauses")

    def _u(df: DataFrame, unique: bool) -> DataFrame:
        d = _h(df)
        return d if unique else d.dropDuplicates(HIT_COLS)
    out = _u(clauses[0], uq[0])
    for c, u in zip(clauses[1:], uq[1:]):
        out = out.join(_u(c, u), HIT_COLS)
    return out


def and_not(positive: DataFrame, negative: DataFrame) -> DataFrame:
    """Positive minus negative on identical spans
    (SpanQueryAndNot.java:34)."""
    return _h(positive).join(_h(negative), HIT_COLS, "left_anti")


def not_(index: InvertedIndex, clause: DataFrame) -> DataFrame:
    """Token complement: all single-token positions not covered by a
    clause hit (SpanQueryNot.java:25; uses doc lengths like
    DocFieldLengthGetter.java:20). Rewritten away whenever possible."""
    return and_not(any_token(index, 1, 1), _h(clause))


# -- positional combinators ------------------------------------------
def sequence(a: DataFrame, b: DataFrame, min_gap: int = 0,
             max_gap: int = 0, dedup: bool = True) -> DataFrame:
    """A followed by B with gap∈[min_gap, max_gap]
    (SpanQuerySequence.java:50; gapped variant
    SpansSequenceWithGap.java:57). Equi-join on doc + position range;
    with gap 0 it is a pure equi-join on (doc_id, boundary) — the
    merge-join fast path (SpansSequenceSimple.java:18) falls out of
    Catalyst choosing SMJ on those keys.

    ``dedup=False`` elides the output dedup exchange when the caller
    PROVED the join cannot produce duplicate spans — both inputs
    duplicate-free and (adjacent case) either side fixed-width, so an
    output (start, end) pins both operand rows (plans/guarantees.py ≙
    the reference inserting SpansUnique only when SpanGuarantees
    cannot rule duplicates out, SpanQuerySequence.java:641-730)."""
    aa, bb = _h(a).alias("a"), _h(b).alias("b")
    if min_gap == 0 and max_gap == 0:
        cond = (F.col("a.doc_id") == F.col("b.doc_id")) & \
               (F.col("b.start") == F.col("a.end"))
    else:
        cond = (F.col("a.doc_id") == F.col("b.doc_id")) & \
               (F.col("b.start") >= F.col("a.end") + min_gap) & \
               (F.col("b.start") <= F.col("a.end") + max_gap)
    out = (aa.join(bb, cond)
           .select(F.col("a.doc_id").alias("doc_id"),
                   F.col("a.start").alias("start"),
                   F.col("b.end").alias("end")))
    return out.dropDuplicates(HIT_COLS) if dedup else out


def expand(index: InvertedIndex, clause: DataFrame, direction: str,
           min_exp: int, max_exp: int | None) -> DataFrame:
    """Stretch hits left/right by m..n tokens, one hit per amount,
    clamped to doc bounds (SpanQueryExpansion.java:36,
    SpansExpansionRaw.java:33). ``max_exp=None`` = unbounded (every
    amount up to the doc edge). No join — explode + clamp. Existing
    match_info rides along (the reference's expansion keeps match
    info — captures must survive the any-token-elimination rewrite
    that turns trailing ``[]`` into an expansion)."""
    mi = ["match_info"] if "match_info" in clause.columns else []
    # left expansion never needs doc lengths (start >= 0 is the only
    # bound) — skip the doc_meta join entirely; right expansion joins
    # (doc_id, n_tokens) for the doc-edge clamp
    if direction == "left":
        j = _h(clause)
        if max_exp is None:
            room = F.col("start")
            j = j.filter(room >= min_exp)
            amt = F.explode(
                F.sequence(F.lit(min_exp), room)).alias("amt")
        else:
            amt = F.explode(
                F.sequence(F.lit(min_exp), F.lit(max_exp))).alias("amt")
        out = (j.select("doc_id", "start", "end", *mi, amt)
               .select("doc_id",
                       (F.col("start") - F.col("amt")).alias("start"),
                       "end", *mi)
               .filter(F.col("start") >= 0))
        return out.select("doc_id", F.col("start").cast("int"),
                          F.col("end").cast("int"), *mi)
    dm = index.doc_meta.select("doc_id", "n_tokens")
    j = _h(clause).join(dm, "doc_id")
    if max_exp is None:
        room = F.col("n_tokens") - F.col("end")
        j = j.filter(room >= min_exp)
        amt = F.explode(F.sequence(F.lit(min_exp), room)).alias("amt")
    else:
        amt = F.explode(
            F.sequence(F.lit(min_exp), F.lit(max_exp))).alias("amt")
    out = (j.select("doc_id", "start", "end", "n_tokens", *mi, amt)
           .select("doc_id", "start",
                   (F.col("end") + F.col("amt")).alias("end"),
                   "n_tokens", *mi)
           .filter(F.col("end") <= F.col("n_tokens"))
           .drop("n_tokens"))
    return out.select("doc_id", F.col("start").cast("int"),
                      F.col("end").cast("int"), *mi)


def repetition(clause: DataFrame, min_rep: int,
               max_rep: int | None, width: int | None = None,
               clause_unique: bool = False) -> DataFrame:
    """A{m,n}: consecutive self-concatenation
    (SpanQueryRepetition.java:25; unbounded = cql.jj:415
    MAX_UNLIMITED).

    ``width`` = the clause's statically-known fixed hit width
    (plans/query.py static_width), or None. When the width is fixed
    (the common shape: a term, a bracket expression, a fixed phrase),
    concatenation chains are arithmetic progressions with stride
    ``width``, so the whole closure is computable JVM-side with a
    gaps-and-islands window + one explode — no Python kernel, no
    output dedup (each chain sub-interval is generated exactly once).
    Variable-width fallback: bounded = iterated self-join on
    end == next.start; unbounded = per-doc BFS closure kernel.

    ``clause_unique`` (plans/guarantees.py) elides the base dedup
    exchange — both the chain window (row_number per residue class)
    and the closure kernel need duplicate-free input, so the dedup is
    kept unless the clause PROVES it produces none."""
    assert min_rep >= 1
    base = _h(clause) if clause_unique \
        else _h(clause).dropDuplicates(HIT_COLS)
    if width is not None and width > 0 and "match_info" not in base.columns:
        return _repetition_chains(base.select(*HIT_COLS), width,
                                  min_rep, max_rep)
    if max_rep is not None:
        reps = {1: base}
        for i in range(2, max_rep + 1):
            reps[i] = sequence(reps[i - 1], reps[1])
        frames = [reps[i] for i in range(min_rep, max_rep + 1)]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.dropDuplicates(HIT_COLS)
    # unbounded: per-doc transitive closure in ONE cogrouped kernel.
    # Concatenation never crosses docs, so after a single shuffle on
    # doc_id every level of A⁺ is computable locally — replacing the
    # round-2 driver-loop fixpoint (L sequential shuffle joins, one
    # Spark job per level, persisted level caches that outlived the
    # query; VERDICT r02 #5). Zero-width spans (end == start) would
    # self-concatenate forever (A^k = A), so they bypass the kernel
    # and re-union unchanged.
    zero = base.filter(F.col("end") == F.col("start"))
    pos = base.filter(F.col("end") > F.col("start"))
    closed = _repetition_closure(pos, min_rep)
    return zero.unionByName(closed).dropDuplicates(HIT_COLS)


def _repetition_chains(pos: DataFrame, w: int, min_rep: int,
                       max_rep: int | None) -> DataFrame:
    """A{m,n} for a clause whose every hit has fixed width ``w``.

    Concatenation (end == next.start) only links hits whose starts
    differ by exactly ``w``, i.e. hits in the same residue class
    start ≡ r (mod w). Within a residue class, maximal chains are
    found with the gaps-and-islands trick (start − w·row_number is
    constant along a chain); a span of k consecutive hits starting at
    chain index i and ending at index j covers
    [start_j − (j−i)·w, start_j + w) with j−i+1 repetitions. Each
    (chain, i, j) pair is generated exactly once, so the output needs
    no dedup — one shuffle (the window partition), then pure
    whole-stage codegen."""
    from pyspark.sql import Window
    m = max(1, min_rep)
    win = Window.partitionBy("doc_id", "_r").orderBy("start")
    df = (pos.select("doc_id", "start")
          .withColumn("_r", F.pmod(F.col("start"), F.lit(w)))
          .withColumn("_chain",
                      F.col("start") - F.lit(w) * F.row_number().over(win)))
    cwin = Window.partitionBy("doc_id", "_r", "_chain").orderBy("start")
    df = (df.withColumn("_j", F.row_number().over(cwin) - 1)
          .filter(F.col("_j") >= m - 1))
    hi = F.col("_j") - (m - 1)
    lo = F.lit(0) if max_rep is None else \
        F.greatest(F.lit(0), F.col("_j") - (max_rep - 1))
    out = df.select("doc_id", "start", "_j",
                    F.explode(F.sequence(lo, hi)).alias("_i"))
    return out.select(
        "doc_id",
        (F.col("start") - (F.col("_j") - F.col("_i")) * w)
        .cast("int").alias("start"),
        (F.col("start") + w).cast("int").alias("end"))


# Kernel-group key: docs hashed into this many buckets so applyInPandas
# pays per-GROUP Python overhead ~REP_BUCKETS times, not once per doc.
REP_BUCKETS = 1024


def _repetition_closure(pos: DataFrame, min_rep: int) -> DataFrame:
    """All concatenations A^k (k ≥ min_rep) of positive-width spans,
    computed per doc inside an applyInPandas kernel.

    Per doc: BFS over the span DAG (edges end==next.start; ends
    strictly increase along a path, so it is acyclic) with the level
    capped at min_rep — state (span_pair, min(level, min_rep)) is
    finite, so visited-state pruning terminates without losing any
    pair that only reaches level ≥ min_rep via a longer path."""
    import pandas as pd

    cap = max(1, min_rep)

    def kernel(key, pdf):
        out_d: list[int] = []
        out_s: list[int] = []
        out_e: list[int] = []
        for doc_id, g in pdf.groupby("doc_id", sort=False):
            pairs = set(zip(g["start"].tolist(), g["end"].tolist()))
            adj: dict[int, list[int]] = {}
            for s, e in pairs:
                adj.setdefault(s, []).append(e)
            result = set(pairs) if cap <= 1 else set()
            frontier = {(p, 1) for p in pairs}
            seen = set(frontier)
            while frontier:
                nxt = set()
                for (ps, pe), k in frontier:
                    for e2 in adj.get(pe, ()):
                        k2 = min(k + 1, cap)
                        st = ((ps, e2), k2)
                        if st not in seen:
                            seen.add(st)
                            nxt.add(st)
                            if k2 >= cap:
                                result.add((ps, e2))
                frontier = nxt
            for s, e in result:
                out_d.append(doc_id)
                out_s.append(s)
                out_e.append(e)
        return pd.DataFrame({"doc_id": pd.Series(out_d, dtype="int64"),
                             "start": pd.Series(out_s, dtype="int32"),
                             "end": pd.Series(out_e, dtype="int32")})

    return (pos.withColumn("_b", F.pmod(F.col("doc_id"),
                                        F.lit(REP_BUCKETS)))
            .groupBy("_b")
            .applyInPandas(kernel, "doc_id long, start int, end int"))


# -- position filters (SpanQueryPositionFilter.java:24, ops enum
#    :160-181; interval joins) ---------------------------------------
def _pos_join(a: DataFrame, b: DataFrame, cond, invert: bool) -> DataFrame:
    aa, bb = _h(a).alias("a"), _h(b).alias("b")
    full = (F.col("a.doc_id") == F.col("b.doc_id")) & cond
    how = "left_anti" if invert else "left_semi"
    cols = [F.col("a.doc_id").alias("doc_id"),
            F.col("a.start").alias("start"),
            F.col("a.end").alias("end")]
    if "match_info" in a.columns:
        # captures flow through position filters (the reference's
        # match info survives SpanQueryPositionFilter)
        cols.append(F.col("a.match_info").alias("match_info"))
    return aa.join(bb, full, how).select(*cols)


def within(a: DataFrame, b: DataFrame, invert: bool = False) -> DataFrame:
    """Keep hits of A contained in some hit of B."""
    return _pos_join(a, b, (F.col("a.start") >= F.col("b.start"))
                     & (F.col("a.end") <= F.col("b.end")), invert)


def containing(a: DataFrame, b: DataFrame, invert: bool = False) -> DataFrame:
    """Keep hits of A that contain some hit of B."""
    return _pos_join(a, b, (F.col("b.start") >= F.col("a.start"))
                     & (F.col("b.end") <= F.col("a.end")), invert)


def matches(a: DataFrame, b: DataFrame, invert: bool = False) -> DataFrame:
    return _pos_join(a, b, (F.col("a.start") == F.col("b.start"))
                     & (F.col("a.end") == F.col("b.end")), invert)


def containing_at_start(a: DataFrame, b: DataFrame,
                        invert: bool = False) -> DataFrame:
    """Keep hits of A containing a hit of B that STARTS where A starts
    (Operation.CONTAINING_AT_START, SpanQueryPositionFilter.java:160-181).
    Inverted, this is the physical form of the CCNot rewrite product
    ``!B A → NOTCONTAINING_AT_START(EXPAND(A,left,1), B)``."""
    return _pos_join(a, b, (F.col("b.start") == F.col("a.start"))
                     & (F.col("b.end") <= F.col("a.end")), invert)


def containing_at_end(a: DataFrame, b: DataFrame,
                      invert: bool = False) -> DataFrame:
    """Keep hits of A containing a hit of B that ENDS where A ends
    (Operation.CONTAINING_AT_END)."""
    return _pos_join(a, b, (F.col("b.end") == F.col("a.end"))
                     & (F.col("b.start") >= F.col("a.start")), invert)


def starts_at(a: DataFrame, b: DataFrame, invert: bool = False) -> DataFrame:
    return _pos_join(a, b, F.col("a.start") == F.col("b.start"), invert)


def ends_at(a: DataFrame, b: DataFrame, invert: bool = False) -> DataFrame:
    return _pos_join(a, b, F.col("a.end") == F.col("b.end"), invert)


def overlapping(a: DataFrame, b: DataFrame) -> DataFrame:
    """Overlap regions of A and B (SpanQueryOverlapping.java:15):
    emit (max(start), min(end)) per overlapping pair."""
    aa, bb = _h(a).alias("a"), _h(b).alias("b")
    cond = (F.col("a.doc_id") == F.col("b.doc_id")) & \
           (F.col("a.start") < F.col("b.end")) & \
           (F.col("b.start") < F.col("a.end"))
    return (aa.join(bb, cond)
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.greatest("a.start", "b.start").cast("int").alias("start"),
                    F.least("a.end", "b.end").cast("int").alias("end"))
            .dropDuplicates(HIT_COLS))


def filter_ngrams(index: InvertedIndex, clause: DataFrame, direction: str,
                  min_len: int, max_len: int | None) -> DataFrame:
    """N-grams positioned relative to anchor hits
    (SpanQueryFilterNGrams.java:18): each anchor hit expands
    ``direction``-ward by min..max tokens, deduplicated — the
    reference's operator IS an optimization of expand+unique
    (query rewriting.md FilterNGrams), which is exactly this
    composition here."""
    return unique(expand(index, clause, direction, min_len, max_len))


# -- unary shapes -----------------------------------------------------
def edge(clause: DataFrame, trailing: bool = False) -> DataFrame:
    """Zero-length leading/trailing edge (SpanQueryEdge.java:23)."""
    c = _h(clause)
    if trailing:
        return c.select("doc_id", F.col("end").alias("start"), "end")
    return c.select("doc_id", "start", F.col("start").alias("end"))


def unique(clause: DataFrame) -> DataFrame:
    """Dedup identical spans (SpansUnique.java:11)."""
    return _h(clause).dropDuplicates(HIT_COLS)


def filter_by_length(clause: DataFrame, min_len: int,
                     max_len: int) -> DataFrame:
    """Keep hits with length in [min_len, max_len]
    (SpanQueryFilterByHitLength.java:21)."""
    return _h(clause).filter(
        (F.col("end") - F.col("start")).between(min_len, max_len))


def filter_by_docs(clause: DataFrame, docs: DataFrame) -> DataFrame:
    """Restrict hits to a doc set from a metadata query
    (SpanQueryFiltered.java:24) — semi-join; Catalyst broadcasts the
    filtered doc list when small."""
    return _h(clause).join(docs.select("doc_id"), "doc_id", "left_semi")


# -- captures + global constraints -----------------------------------
def capture(clause: DataFrame, name: str) -> DataFrame:
    """Record the clause span under ``name`` in match_info
    (SpanQueryCaptureGroup.java:19; registry HitQueryContext.java:16).
    match_info is a map<string, struct<start,end>> carried through
    downstream operators by the *_keep_info variants."""
    c = _h(clause)
    entry = F.create_map(
        F.lit(name), F.struct(F.col("start").alias("s"),
                              F.col("end").alias("e")))
    if "match_info" in c.columns:
        return c.withColumn("match_info",
                            F.map_concat("match_info", entry))
    return c.withColumn("match_info", entry)


def sequence_keep_info(a: DataFrame, b: DataFrame) -> DataFrame:
    """Adjacency join that merges both sides' match_info."""
    aa = capture_noop(a).alias("a")
    bb = capture_noop(b).alias("b")
    cond = (F.col("a.doc_id") == F.col("b.doc_id")) & \
           (F.col("b.start") == F.col("a.end"))
    return (aa.join(bb, cond)
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.col("a.start").alias("start"),
                    F.col("b.end").alias("end"),
                    F.map_concat(F.col("a.match_info"),
                                 F.col("b.match_info")).alias("match_info")))


def capture_noop(clause: DataFrame) -> DataFrame:
    c = _h(clause)
    if "match_info" not in c.columns:
        c = c.withColumn(
            "match_info",
            F.create_map().cast("map<string,struct<s:int,e:int>>"))
    return c


def constrained(index: InvertedIndex, clause: DataFrame,
                predicate: Column,
                columns: tuple[str, ...] = ("tokens",)) -> DataFrame:
    """Global constraint over captured groups, e.g.
    ``tokens[A.start] == tokens[B.start]``
    (SpanQueryConstrained.java:25; MatchFilter AST ≙ a plain Catalyst
    expression over match_info + the token-array forward index —
    Catalyst evaluates what the reference needed a custom NFA/forward-
    index machinery for). ``columns`` lists the annotation-layer
    arrays the predicate reads; a predicate over span positions only
    (start()/end() functions) needs no forward-index join at all."""
    if not columns:
        return (clause.filter(predicate)
                .select(*HIT_COLS, "match_info"))
    # rare-clause pushdown (the _fiseq anchor pattern): a constraint
    # over few hits reads only those docs' forward-index row groups
    # instead of joining the full doc_meta; hot clauses short-circuit
    # the probe and fall back to the plain co-partitioned join
    from blacklab_spark.operators.hits import push_hit_docs
    dm = push_hit_docs(clause, index.doc_meta).select("doc_id", *columns)
    return (clause.join(dm, "doc_id").filter(predicate)
            .select(*HIT_COLS, "match_info"))


def capture_token(name: str, offset: int = 0,
                  column: str = "tokens") -> Column:
    """Column expr: the annotation value at
    ``match_info[name].s + offset`` in layer array ``column``
    (1-based element_at; NULL off-edge)."""
    return F.try_element_at(
        column,
        (F.col("match_info")[name]["s"] + offset + 1).cast("int"))
