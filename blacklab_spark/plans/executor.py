"""Pattern AST → hits DataFrame, via the span-algebra operators.

The translate step of the reference lifecycle (TextPattern.toQuery →
BLSpanQuery → BLSpans, SURVEY.md §3.1 steps 4-7), except the physical
side is a Catalyst plan: each AST node maps to one operators.spans
function, and Catalyst then handles join strategy, pushdown and AQE.

Physical leaf strategy: a word-layer Term/Regex/Fuzzy leaf maps to its
terms rows (_word_leaf_terms) and decodes their POSTING BLOCKS
(hits_for_term_ids → phrase.postings_hits, the one block decoder of
leaves, merged ORs and phrases) instead of scanning the corpus's token
arrays — a hapax-term CQL query reads a few KB of blocks, not every
doc. Below hits.DRIVER_HITS_MAX_POSITIONS (Σcf) a leaf or phrase
decodes on the driver and returns a local frame. Sequences of width-1
leaves pick between three plans from term statistics, mirroring the
reference's cost-based
ClauseCombinerNfa decision (optimize/ClauseCombinerNfa.java:38-200,
threshold :67):

* all-Term phrase, or fixed-gap phrase (``"a" []{m} "b"``, rewritten
  to ``SEQ(EXPAND(a, right, m, m), b)``) → vectorized postings
  intersection with slot offsets (phrase_via_postings);
* rare anchor + ≫cf neighbours → FiSeq: decode only the anchor's
  postings, push the anchor's doc ids into the doc_meta parquet scan
  (row-group pruning) and verify neighbours by probing token arrays
  (SpanQueryFiSeq.java:26 / SpansFiSeq analog);
* otherwise → pairwise positional joins over postings-backed leaves.

``find()`` = parse → rewrite → execute; ``explain()`` returns the
original and rewritten pattern plus the op mapping (≙
BlackLabIndex.explain → QueryExplanation,
engine/src/main/java/nl/inl/blacklab/search/BlackLabIndex.java:230).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from blacklab_spark.index import InvertedIndex
from blacklab_spark.operators import phrase as P
from blacklab_spark.operators import spans as S
from blacklab_spark.plans import query as Q
import contextlib

from blacklab_spark.plans.guarantees import SpanGuarantees, guarantees
from blacklab_spark.plans.parser import parse
from blacklab_spark.plans.rewrite import rewrite

# Cost-ratio threshold for the forward-index (FiSeq) strategy —
# the reference's search.fiMatchFactor default
# (optimize/ClauseCombinerNfa.java:67). 0 disables the strategy
# (blacklab-internals.md:40); per-request override via fi_match().
FI_MATCH_FACTOR = 900
_FI_OVERRIDE: list[int] = []


def _fi_factor() -> int:
    return _FI_OVERRIDE[-1] if _FI_OVERRIDE else FI_MATCH_FACTOR


@contextlib.contextmanager
def fi_match(factor: int):
    """Scoped fiMatchFactor override (the server's ``fimatch``
    request parameter; strategy choice happens eagerly at plan-build
    time, so wrapping find() is sufficient). 0 = disable FiSeq."""
    _FI_OVERRIDE.append(factor)
    try:
        yield
    finally:
        _FI_OVERRIDE.pop()
# Anchor doc-set size we are willing to collect to the driver for
# parquet-filter pushdown (doc_id IN (...) → row-group pruning).
FISEQ_MAX_ANCHOR_DOCS = 65536


_NO_STATS = 1 << 60   # non-word layers have no dictionary stats


def _word_leaf_terms(index: InvertedIndex, c: Q.Pattern) -> pd.DataFrame:
    """The terms rows (term, term_id, df, cf) a word-layer Term, Regex or
    Fuzzy leaf matches: its dictionary lookup or expansion (memoized
    per index)."""
    if isinstance(c, Q.Term):
        return index.lookup_terms([c.text])
    if isinstance(c, Q.Regex):
        return index.expand_regex(f"(?iu)^(?:{c.pattern})$")
    return index.expand_fuzzy(c.text, c.max_edits)


def _leaf_info(index: InvertedIndex, c: Q.Pattern):
    """(cf, df, terms rows) for a width-1 leaf, from the terms table.
    Non-word annotation layers carry no postings/stats → effectively
    infinite cost, so they are never picked as the FiSeq anchor but
    CAN be verified by the forward-index probe."""
    if getattr(c, "layer", "word") != "word":
        return (_NO_STATS, _NO_STATS, None)
    info = _word_leaf_terms(index, c)
    return (int(info["cf"].sum()), int(info["df"].sum()), info)


def _fiseq(index: InvertedIndex, clauses, stats, a: int) -> DataFrame:
    """Anchor-and-verify: decode the rare clause's postings, probe the
    other clauses against the token-array forward index of ONLY the
    anchor's docs (doc_id IN-list pushed to the parquet scan)."""
    from blacklab_spark.annotations import ANNOTATION_COLUMNS
    from blacklab_spark.operators.hits import (PUSHDOWN_MIN_SELECTIVITY,
                                               hits_for_term_ids,
                                               in_list_pred)
    n = len(clauses)
    anchor = hits_for_term_ids(index, stats[a][2])
    ids = [r[0] for r in anchor.select("doc_id").distinct()
           .limit(FISEQ_MAX_ANCHOR_DOCS + 1).collect()]
    # anchor is re-decoded by the verify join below instead of being
    # persisted — the rare term's blocks are small, and per-query
    # caches would leak in a long-lived engine.
    layers = {ANNOTATION_COLUMNS[getattr(c, "layer", "word")]
              for i, c in enumerate(clauses) if i != a}
    dm_cols = set(index.doc_meta.columns)
    for i, c in enumerate(clauses):
        layer = getattr(c, "layer", "word")
        if i != a and ANNOTATION_COLUMNS[layer] not in dm_cols:
            # same clear error annot_term raises on the single-leaf
            # path — not an unresolved-column AnalysisException
            # (round-2 ADVICE: non-word leaves carry _NO_STATS, so an
            # annotations=() index can still reach FiSeq).
            raise ValueError(
                f"annotation layer {layer!r} was not materialized in "
                f"this index (have columns: {sorted(dm_cols)})")
    dm = index.doc_meta.select("doc_id", "n_tokens", *sorted(layers))
    if len(ids) <= FISEQ_MAX_ANCHOR_DOCS and \
            len(ids) * PUSHDOWN_MIN_SELECTIVITY <= index.n_docs:
        # selectivity guard + SQL-parsed IN list: see push_hit_docs —
        # Column.isin marshals literals one Py4J call each (13s at 15k
        # ids), and an unselective IN-list costs more than it prunes.
        dm = dm.filter(in_list_pred(ids))
    j = anchor.join(dm, "doc_id")
    start0 = F.col("start") - a
    j = j.filter((start0 >= 0) & (start0 + n <= F.col("n_tokens")))
    from blacklab_spark.annotations import MULTI_VALUE_LAYERS
    for i, c in enumerate(clauses):
        if i == a:
            continue
        layer = getattr(c, "layer", "word")
        col = ANNOTATION_COLUMNS[layer]
        tok = F.try_element_at(col, (start0 + i + 1).cast("int"))
        if layer in MULTI_VALUE_LAYERS:
            # stacked values: verify = ANY value matches
            if isinstance(c, Q.Term):
                j = j.filter(F.array_contains(tok, c.text))
            else:
                rx = f"(?iu)^(?:{c.pattern})$"
                j = j.filter(F.exists(tok, lambda v: v.rlike(rx)))
        elif isinstance(c, Q.Term):
            j = j.filter(tok == c.text)
        else:
            j = j.filter(tok.rlike(f"(?iu)^(?:{c.pattern})$"))
    # no output dedup: the anchor's postings hits are duplicate-free
    # (one row per corpus position), doc_meta joins 1:1 on its key,
    # and everything after is a row filter (plans/guarantees.py)
    return j.select("doc_id", start0.cast("int").alias("start"),
                    (start0 + n).cast("int").alias("end"))


def _word_term(c) -> bool:
    return isinstance(c, Q.Term) and c.layer == "word"


def _gap_offsets(clauses) -> tuple[int, ...] | None:
    """Slot offsets of a fixed-gap phrase: every clause a word Term or,
    except the last, ``Expand(word Term, right, m, m)`` — the rewrite of
    ``"a" []{m} "b"``. The following term's hit proves the expansion
    in bounds, so no doc-length clamp is needed. None otherwise."""
    offsets, pos = [], 0
    for i, c in enumerate(clauses):
        offsets.append(pos)
        if _word_term(c):
            pos += 1
        elif (isinstance(c, Q.Expand) and _word_term(c.clause)
              and c.direction == "right" and c.min_exp == c.max_exp
              and i < len(clauses) - 1):
            pos += 1 + c.min_exp
        else:
            return None
    return tuple(offsets)


def _seq_choice(index: InvertedIndex, clauses):
    """Cost-based physical decision for a sequence of width-1 leaves
    or a fixed-gap phrase: ('fiseq', anchor_idx, stats) |
    ('phrase', terms, offsets) | ('empty',) | ('generic',). Shared by
    execution and explain()."""
    if not index.cfg.store_positions:
        return ("generic",)
    if any(isinstance(c, Q.Expand) for c in clauses):
        offsets = _gap_offsets(clauses)
        if offsets is None:
            return ("generic",)
        terms = [c.clause.text if isinstance(c, Q.Expand) else c.text
                 for c in clauses]
        if len(index.lookup_terms(terms)) < len(set(terms)):
            return ("empty",)
        return ("phrase", terms, offsets)
    if not all(isinstance(c, (Q.Term, Q.Regex)) for c in clauses):
        return ("generic",)
    stats = [_leaf_info(index, c) for c in clauses]
    if any(s[2] is not None and s[2].empty for s in stats):
        return ("empty",)         # a word-layer leaf matches no term
    a = min(range(len(clauses)), key=lambda i: stats[i][0])
    if stats[a][2] is None:
        return ("generic",)       # no word-layer anchor available
    cf_anchor, df_anchor = stats[a][0], stats[a][1]
    cf_others = sum(s[0] for i, s in enumerate(stats) if i != a)
    factor = _fi_factor()
    if (factor > 0 and cf_anchor * factor < cf_others
            and df_anchor <= FISEQ_MAX_ANCHOR_DOCS
            # FiSeq verifies against the forward index, which stores
            # the PRIMARY word value only — pin postings when any
            # clause could match through an injected synonym value
            # (reference: NFA matching reads the forward index's
            # primary values too)
            and not _fiseq_synonym_unsafe(index, clauses)):
        return ("fiseq", a, stats)
    if all(_word_term(c) for c in clauses):
        return ("phrase", [c.text for c in clauses],
                tuple(range(len(clauses))))
    return ("generic",)


def _seq_strategy(index: InvertedIndex, clauses) -> DataFrame | None:
    """Execute the cost-based choice; None → generic pairwise joins."""
    choice = _seq_choice(index, clauses)
    if choice[0] == "empty":
        return S.no_hits(index)
    if choice[0] == "fiseq":
        return _fiseq(index, clauses, choice[2], choice[1])
    if choice[0] == "phrase":
        return P.phrase_via_postings(index, choice[1], choice[2])
    return None


def _or_merge_term_ids(index: InvertedIndex,
                       clauses) -> pd.DataFrame | None:
    """Memoizing wrapper: planning calls this for the same Or node
    up to three times per query (_guar, the exec branch, explain()),
    and each uncached call re-runs the driver-side dictionary
    expansions (expand_regex/expand_fuzzy scans — r3 ADVICE #2). The
    memo lives in the index's immutable-dictionary term cache, keyed
    by the clause tuple; unhashable clause shapes just compute
    uncached."""
    cache = index._term_cache
    try:
        key = ("or_merge", tuple(clauses))
        hit = key in cache          # hashes the key — may TypeError
    except TypeError:
        return _or_merge_term_ids_uncached(index, clauses)
    if not hit:
        cache[key] = _or_merge_term_ids_uncached(index, clauses)
    return cache[key]


def _or_merge_term_ids_uncached(index: InvertedIndex,
                                clauses) -> pd.DataFrame | None:
    """OR of word-layer term-set leaves → ONE postings decode over
    their combined terms rows (term_id, cf).

    When every clause is a word-layer Term/Regex/Fuzzy and their
    dictionary expansions are pairwise DISJOINT, the union of hits is
    exactly ``hits_for_term_ids`` over the combined id set — one block
    scan with ``term_id IN (...)`` instead of N decodes + union, and
    intrinsically duplicate-free (a position holds one @i term).
    Overlapping expansions fall back to the generic union, which keeps
    the reference's duplicate-per-matching-clause semantics
    (BLSpanOrQuery merges sub-spans without dedup). Reference analog:
    SpanQueryOr over term queries rewriting to one multi-term query
    (the SimplestMatcher family, query rewriting.md:30-64)."""
    if not index.cfg.store_positions:
        return None
    if not all(isinstance(c, (Q.Term, Q.Regex, Q.Fuzzy))
               and c.layer == "word" for c in clauses):
        return None
    rows = pd.concat([_word_leaf_terms(index, c)[["term_id", "cf"]]
                      for c in clauses], ignore_index=True)
    if not rows["term_id"].is_unique:
        return None          # overlap → union semantics must keep dups
    return rows


def _or_annot_merge(clauses) -> tuple[str, tuple[str, ...]] | None:
    """(layer, texts) when every clause is a Term on the SAME
    single-value annotation layer with pairwise-distinct values — the
    shape that executes as ONE forward-index probe (annot_terms)
    instead of per-alternative posexplode passes + union."""
    from blacklab_spark.annotations import MULTI_VALUE_LAYERS
    if not clauses or not all(isinstance(c, Q.Term) for c in clauses):
        return None
    layer = clauses[0].layer
    if layer == "word" or layer in MULTI_VALUE_LAYERS:
        return None
    if any(c.layer != layer for c in clauses):
        return None
    texts = tuple(c.text for c in clauses)
    if len(set(texts)) != len(texts):
        return None          # duplicate alternative → union keeps dups
    return layer, texts


def _guar(index: InvertedIndex, p: Q.Pattern) -> SpanGuarantees:
    """Static guarantees, upgraded with what the physical planner
    knows: an Or that will execute as ONE merged postings decode (or
    one single-value-layer probe) is duplicate-free even though the
    AST-level rule cannot prove it."""
    g = guarantees(p)
    if isinstance(p, Q.Or) and not g.unique and (
            _or_merge_term_ids(index, p.clauses) is not None
            or _or_annot_merge(p.clauses) is not None):
        return SpanGuarantees(g.len_min, g.len_max, True)
    return g


def _fold_i(text: str) -> str:
    from blacklab_spark.tokenizer import py_fold_insensitive
    return py_fold_insensitive(text)


def _fiseq_synonym_unsafe(index: InvertedIndex, clauses) -> bool:
    """FiSeq verifies candidate sequences against the forward index's
    PRIMARY word values, so it misses matches that exist only through
    an injected synonym. Unsafe exactly when: some word-layer Term's
    folded text is an injected value, or a word-layer non-Term leaf
    (regex/fuzzy) could expand onto one (conservative). Synonym keys
    and uninvolved terms keep the FiSeq fast path (r5 review)."""
    inj = index.synonym_injected_values
    if not inj:
        return False
    for c in clauses:
        if getattr(c, "layer", None) != "word":
            continue           # other layers are untouched by stacking
        if isinstance(c, Q.Term):
            if _fold_i(c.text) in inj:
                return True
        else:
            return True        # word-layer regex/fuzzy: may expand to
    return False               # an injected value — stay on postings


def _probes_filter_term(index: InvertedIndex, f: Q.Pattern) -> bool:
    """Whether a position filter's filter clause runs as a forward-index
    probe of only the producer's docs: a word-layer Term that
    :func:`hits.is_hot_term` calls hot, on an index with positions
    (without them the filter's leaf is a whole-corpus probe)."""
    from blacklab_spark.operators.hits import is_hot_term
    return (index.cfg.store_positions and isinstance(f, Q.Term)
            and f.layer == "word" and is_hot_term(index, _fold_i(f.text)))


def _fixed_width(p: Q.Pattern) -> int | None:
    """Token width of a pattern if constant, else None."""
    if isinstance(p, (Q.Term, Q.Regex)):
        return 1
    if isinstance(p, Q.AnyToken):
        return p.min_len if p.min_len == p.max_len else None
    if isinstance(p, Q.Capture):
        return _fixed_width(p.clause)
    if isinstance(p, Q.Rep):
        if p.max_rep is not None and p.min_rep == p.max_rep:
            w = _fixed_width(p.clause)
            return None if w is None else w * p.min_rep
    if isinstance(p, Q.Seq):
        ws = [_fixed_width(c) for c in p.clauses]
        return None if any(w is None for w in ws) else sum(ws)
    return None


def _seq_captures_arithmetic(index: InvertedIndex,
                             clauses) -> DataFrame | None:
    """Captured sequence fast path: when every clause has FIXED width
    and captures sit at clause top level, each capture's span is pure
    arithmetic on the match start — so execute the STRIPPED sequence
    (which gets the rewriter's any-token elimination and the
    cost-based strategies) and attach match_info as column arithmetic,
    instead of the N-way keep-info join that materializes every
    clause's hit set (e.g. ``A:[] B:[]`` no longer self-joins the
    all-token relation).

    Reference analog: SpanQueryCaptureGroup over fixed-length clauses
    has statically-known spans (SpanGuarantees hitsAllSameLength,
    SURVEY.md §4.2)."""
    offs = []
    stripped = []
    pos = 0
    for c in clauses:
        inner = c.clause if isinstance(c, Q.Capture) else c
        if _has_capture(inner):
            return None            # nested captures → generic path
        w = _fixed_width(inner)
        if w is None:
            return None
        if isinstance(c, Q.Capture):
            offs.append((c.name, pos, pos + w))
        stripped.append(inner)
        pos += w
    hits = _exec(index, rewrite(Q.Seq(*stripped)))
    entries = []
    for name, s0, e0 in offs:
        entries.extend([
            F.lit(name),
            F.struct((F.col("start") + s0).cast("int").alias("s"),
                     (F.col("start") + e0).cast("int").alias("e"))])
    return hits.select("doc_id", "start", "end",
                       F.create_map(*entries).alias("match_info"))


def _anyseq_caps(clause):
    """``(width, {name: (offset, cap_width)})`` when ``clause`` is a
    fixed-width sequence of any-token elements (``[]{k,k}``, plain or
    captured) — the shape where the generic constrained path would
    materialize EVERY w-gram of the corpus and join the forward index
    back onto it. None otherwise (a selective leaf anchors better via
    postings)."""
    elems = list(clause.clauses) if isinstance(clause, Q.Seq) \
        else [clause]
    off, caps = 0, {}
    for e in elems:
        name = None
        if isinstance(e, Q.Capture):
            name, e = e.name, e.clause
        if not (isinstance(e, Q.AnyToken) and e.max_len is not None
                and e.min_len == e.max_len):
            return None
        if name is not None:
            if name in caps:
                return None
            caps[name] = (off, e.min_len)
        off += e.min_len
    if not caps:
        return None
    return off, caps


def _constraint_labels(c) -> set[str]:
    """Capture labels a MatchFilter tree references."""
    if isinstance(c, Q.CBool):
        return _constraint_labels(c.a) | _constraint_labels(c.b)
    if isinstance(c, Q.CNot):
        return _constraint_labels(c.v)
    if isinstance(c, Q.CCmp):
        return _constraint_labels(c.lhs) | _constraint_labels(c.rhs)
    if isinstance(c, (Q.CAnnot, Q.CFunc)):
        return {c.label}
    return set()


def _constrained_scan(index: InvertedIndex, width: int, caps: dict,
                      filt) -> DataFrame | None:
    """CONSTRAINED over an all-any-token fixed-width sequence → ONE
    forward-index scan: per document, filter ``sequence(0, n - w)``
    with the constraint compiled against arithmetic capture positions
    (start + offset), entirely inside whole-stage codegen. No w-gram
    materialization, no join — the generic path for ``A:[] B:[] ::
    A.word = B.word`` explodes every adjacent pair of the corpus and
    joins doc_meta back onto it (reference: SpanQueryConstrained over
    SpansNGrams, the worst case its forward-index NFA exists for)."""
    if not _constraint_labels(filt) <= set(caps):
        return None                      # undefined capture → generic

    def acol(i):
        def resolve(label, col):
            off, _w = caps[label]
            return F.try_element_at(
                F.col(col), (i + F.lit(off + 1)).cast("int"))
        return resolve

    def pcol(i):
        def resolve(label, key):
            off, w = caps[label]
            return (i + F.lit(off if key == "s" else off + w)) \
                .cast("int")
        return resolve

    layers: set[str] = set()
    starts = F.filter(
        F.sequence(F.lit(0), F.col("n_tokens") - width),
        lambda i: _compile_constraint(filt, layers, acol(i), pcol(i)))
    missing = [c for c in sorted(layers)
               if c not in index.doc_meta.columns]
    if missing:
        raise ValueError(
            f"annotation layer column(s) {missing} were not "
            "materialized in this index")
    out = (index.doc_meta.select("doc_id", "n_tokens", *sorted(layers))
           .filter(F.col("n_tokens") >= width)
           .select("doc_id", F.explode(starts).alias("start")))
    entries = []
    for name, (off, w) in caps.items():
        entries.extend([
            F.lit(name),
            F.struct((F.col("start") + off).cast("int").alias("s"),
                     (F.col("start") + off + w).cast("int").alias("e"))])
    return out.select(
        "doc_id", F.col("start").cast("int").alias("start"),
        (F.col("start") + width).cast("int").alias("end"),
        F.create_map(*entries).alias("match_info"))


#: Constraint-function registry — the extension point for NAME(label)
#: calls inside a global `::` constraint (reference:
#: matchfilter/MatchFilterFunctionCall.java:20, which hard-codes
#: start|end; the registry mirrors the query-level extension-function
#: registry QueryExtensions.java:142 at the constraint level, r3
#: What's-missing #3). Each entry maps the function name to a
#: callable (start: Column, end: Column) -> Column over the captured
#: span's boundaries; the result participates in the one-Catalyst-
#: predicate compilation like any other operand (whole-stage codegen,
#: no Python).
CONSTRAINT_FUNCTIONS: dict = {}


def register_constraint_function(name: str, fn) -> None:
    """Register ``name(label)`` for use inside ``::`` constraints;
    ``fn(start, end)`` receives the captured span's boundary Columns
    and returns the value Column."""
    CONSTRAINT_FUNCTIONS[name] = fn


# reference parity: MatchFilterFunctionCall accepts exactly start|end
register_constraint_function("start", lambda s, e: s)
register_constraint_function("end", lambda s, e: e)
# registered extension beyond the reference's built-ins (demonstrates
# the extension point; width of the captured span in tokens)
register_constraint_function("length", lambda s, e: e - s)


def _compile_constraint(c, layers: set[str],
                        annot_col=None, pos_col=None):
    """MatchFilter AST → ONE Catalyst boolean Column over match_info +
    the forward-index layer arrays (reference: the MatchFilter
    hierarchy cql.jj:171-243 evaluated per-hit via HitQueryContext;
    here Catalyst evaluates the whole tree inside whole-stage codegen).
    ``layers`` collects the doc_meta array columns the predicate reads
    so the constrained join selects only those.

    ``annot_col(label, layer_column)`` / ``pos_col(label, "s"|"e")``
    override how capture references resolve: the default reads
    match_info on a hits frame; the all-any-token scan path
    (_constrained_scan) resolves them arithmetically from the
    candidate start index instead."""
    from blacklab_spark.annotations import (ANNOTATION_COLUMNS,
                                            MULTI_VALUE_LAYERS)
    if isinstance(c, Q.CBool):
        a = _compile_constraint(c.a, layers, annot_col, pos_col)
        b = _compile_constraint(c.b, layers, annot_col, pos_col)
        if c.op == "&":
            return a & b
        if c.op == "|":
            return a | b
        return ~a | b                 # '->' (MatchFilterImplication)
    if isinstance(c, Q.CNot):
        return ~_compile_constraint(c.v, layers, annot_col, pos_col)
    if isinstance(c, Q.CCmp):
        def operand(v):
            """(column|None, multi?, layer name|None); None column =
            a string literal, resolved after the other side's layer
            is known (literals desensitize like that layer's values —
            MatchFilterEquals uses MatchSensitivity.INSENSITIVE)."""
            if isinstance(v, Q.CAnnot):
                if v.annot not in ANNOTATION_COLUMNS:
                    raise ValueError(
                        f"unknown annotation {v.annot!r} in constraint "
                        f"(supported: {sorted(ANNOTATION_COLUMNS)})")
                col = ANNOTATION_COLUMNS[v.annot]
                layers.add(col)
                token = (annot_col(v.label, col) if annot_col is not None
                         else S.capture_token(v.label, column=col))
                return (token, v.annot in MULTI_VALUE_LAYERS, v.annot)
            if isinstance(v, Q.CFunc):
                fn = CONSTRAINT_FUNCTIONS.get(v.fn)
                if fn is None:
                    raise ValueError(
                        f"unknown constraint function {v.fn!r} "
                        f"(registered: "
                        f"{sorted(CONSTRAINT_FUNCTIONS)})")

                def pos(key, _l=v.label):
                    return (pos_col(_l, key) if pos_col is not None
                            else F.col("match_info")[_l][key])
                return (fn(pos("s"), pos("e")), False, None)
            if isinstance(v, Q.CStr):
                return (None, False, None)
            raise ValueError(
                f"constraint {Q.constraint_str(v)!r} cannot be a "
                "comparison operand")
        ls, rs = operand(c.lhs), operand(c.rhs)

        def lit(strval: str, other_layer: str | None):
            # literal desensitizes like the other operand's layer —
            # the SHARED fold definition (tokenizer.fold_for_layer,
            # also the optimizer's literal folding; r3 ADVICE #1)
            from blacklab_spark.tokenizer import fold_for_layer
            return F.lit(fold_for_layer(strval, other_layer))
        lcol = ls[0] if ls[0] is not None else lit(c.lhs.value, rs[2])
        rcol = rs[0] if rs[0] is not None else lit(c.rhs.value, ls[2])
        lmulti, rmulti = ls[1], rs[1]
        if c.op in ("=", "!="):
            if lmulti and rmulti:
                # stacked-value layers: equality = any value in common
                eq = F.arrays_overlap(lcol, rcol)
            elif lmulti or rmulti:
                eq = (F.array_contains(lcol, rcol) if lmulti
                      else F.array_contains(rcol, lcol))
            else:
                eq = lcol == rcol
            return eq if c.op == "=" else ~eq
        if lmulti or rmulti:
            raise ValueError(
                f"ordering comparison {c.op!r} is not defined on a "
                "multi-value layer")
        return {">": lcol > rcol, ">=": lcol >= rcol,
                "<": lcol < rcol, "<=": lcol <= rcol}[c.op]
    raise ValueError(
        f"constraint value {Q.constraint_str(c)!r} is not a boolean — "
        "compare it (= != >= <= > <) or combine with & | -> !")


def _exec(index: InvertedIndex, p: Q.Pattern) -> DataFrame:
    if isinstance(p, Q.Term) and p.layer != "word":
        return S.annot_term(index, p.layer, p.text)
    if isinstance(p, Q.Regex) and p.layer != "word":
        return S.annot_regex(index, p.layer, p.pattern)
    if isinstance(p, Q.Fuzzy) and p.layer != "word":
        raise ValueError("fuzzy matching supports the word layer "
                         f"only, got layer {p.layer!r}")
    if isinstance(p, (Q.Term, Q.Regex, Q.Fuzzy)):
        terms = _word_leaf_terms(index, p)
        if index.cfg.store_positions:
            from blacklab_spark.operators.hits import hits_for_term_ids
            return hits_for_term_ids(index, terms)
        return S.terms_probe(index, list(terms["term"]))
    if isinstance(p, Q.NoHits):
        return S.no_hits(index)
    if isinstance(p, Q.AnyToken):
        return S.any_token(index, p.min_len, p.max_len)
    if isinstance(p, Q.Turn):
        return (index.doc_meta
                .select("doc_id", F.lit(0).cast("int").alias("start"),
                        F.col("n_tokens").cast("int").alias("end")))
    if isinstance(p, Q.Tag):
        from blacklab_spark.operators.tags import tag_hits
        return tag_hits(index, p.name, p.attr_key, p.attr_val,
                        adjust=p.adjust, attr_range=p.attr_range)
    if isinstance(p, Q.Seq):
        if any(_has_capture(c) for c in p.clauses):
            arith = _seq_captures_arithmetic(index, p.clauses)
            if arith is not None:
                return arith
            out = S.capture_noop(_exec(index, p.clauses[0]))
            for c in p.clauses[1:]:
                out = S.sequence_keep_info(out, _exec(index, c))
            return out
        chosen = _seq_strategy(index, p.clauses)
        if chosen is not None:
            return chosen
        # generic fold of adjacency joins — dedup elided per pair when
        # the guarantee lattice proves the join cannot duplicate
        # (both sides unique, either side fixed-width; SURVEY §4.2)
        acc = _guar(index, p.clauses[0])
        out = _exec(index, p.clauses[0])
        for c in p.clauses[1:]:
            gc = _guar(index, c)
            provably_unique = acc.unique and gc.unique and \
                (acc.fixed_width or gc.fixed_width)
            out = S.sequence(out, _exec(index, c),
                             dedup=not provably_unique)
            acc = SpanGuarantees(acc.len_min + gc.len_min,
                                 None if acc.len_max is None
                                 or gc.len_max is None
                                 else acc.len_max + gc.len_max,
                                 True)  # deduped or proven either way
        return out
    if isinstance(p, Q.Or):
        merged = _or_merge_term_ids(index, p.clauses)
        if merged is not None:
            from blacklab_spark.operators.hits import hits_for_term_ids
            return hits_for_term_ids(index, merged)
        am = _or_annot_merge(p.clauses)
        if am is not None:
            return S.annot_terms(index, *am)
        return S.or_(*[_exec(index, c) for c in p.clauses])
    if isinstance(p, Q.And):
        # AND(A,..,!C,..) → ANDNOT(AND(positives), C..): anti-join the
        # negatives instead of materializing the token complement
        # (reference AndNot rewrites, SpanQueryAndNot.java:34+)
        pos = [c for c in p.clauses if not isinstance(c, Q.Not)]
        neg = [c.clause for c in p.clauses if isinstance(c, Q.Not)]
        if pos and neg:
            out = S.and_(*[_exec(index, c) for c in pos],
                         inputs_unique=tuple(_guar(index, c).unique
                                             for c in pos))
            for nc in neg:
                out = S.and_not(out, _exec(index, nc))
            return out
        return S.and_(*[_exec(index, c) for c in p.clauses],
                      inputs_unique=tuple(_guar(index, c).unique
                                          for c in p.clauses))
    if isinstance(p, Q.Not):
        return S.not_(index, _exec(index, p.clause))
    if isinstance(p, Q.Rep):
        if p.min_rep == 0:
            raise ValueError(
                "possibly-empty pattern at top level is not supported "
                "(inside a sequence it is rewritten to alternatives)")
        if _has_capture(p.clause):
            # the repetition paths (chain window / self-joins /
            # closure kernel) carry (doc_id, start, end) only; a
            # capture bound once per repetition turn has no v1
            # representation — fail loudly rather than dropping
            # match_info or crashing on a schema mismatch
            raise ValueError(
                "captures inside a repetition are not supported: "
                f"{Q.pattern_str(p)}")
        return S.repetition(_exec(index, p.clause), p.min_rep, p.max_rep,
                            width=Q.static_width(p.clause),
                            clause_unique=_guar(index, p.clause).unique)
    if isinstance(p, Q.Expand):
        return S.expand(index, _exec(index, p.clause), p.direction,
                        p.min_exp, p.max_exp)
    if isinstance(p, Q.PosFilter):
        prod = _exec(index, p.producer)
        if isinstance(p.filter, Q.Tag):
            # tag-leaf filter: push the producer's doc ids into the
            # _spans scan (the push_hit_docs anchor pattern) — a
            # rare-phrase `within <s/>` reads only the anchor docs'
            # span row groups instead of the whole tag layer.
            from blacklab_spark.operators.hits import push_hit_docs
            from blacklab_spark.operators.tags import tag_hits
            pruned = push_hit_docs(prod, index.doc_spans)
            filt = tag_hits(index, p.filter.name, p.filter.attr_key,
                            p.filter.attr_val, spans=pruned,
                            adjust=p.filter.adjust,
                            attr_range=p.filter.attr_range)
        elif _probes_filter_term(index, p.filter):
            # HOT filter term (hits.is_hot_term): probe the
            # token arrays of ONLY the producer's docs instead of
            # decoding the hot term's full postings — a CCNot product
            # like ``[word!="the"] "visa"`` then reads a few thousand
            # row groups, not the corpus's hottest posting list. The
            # position join only compares within the producer's docs,
            # so the pruned filter set is sufficient.
            from blacklab_spark.operators.hits import (push_hit_docs,
                                                       term_hits)
            dm = push_hit_docs(prod,
                               index.doc_meta.select("doc_id", "tokens"),
                               n_docs=index.n_docs)
            filt = term_hits(index, p.filter.text, dm=dm)
        else:
            filt = _exec(index, p.filter)
        op = {"within": S.within, "containing": S.containing,
              "containing_at_start": S.containing_at_start,
              "containing_at_end": S.containing_at_end}.get(p.operation)
        if op is None:
            raise ValueError(
                f"unknown position-filter operation {p.operation!r}")
        return op(prod, filt, p.invert)
    if isinstance(p, Q.LenFilter):
        # pure row filter — never a join (SpanQueryFilterByHitLength)
        hits = _exec(index, p.clause)
        w = F.col("end") - F.col("start")
        cond = w >= p.min_len if p.max_len is None \
            else (w >= p.min_len) & (w <= p.max_len)
        return hits.filter(cond)
    if isinstance(p, Q.Overlap):
        return S.overlapping(_exec(index, p.a), _exec(index, p.b))
    if isinstance(p, Q.Capture):
        return S.capture(_exec(index, p.clause), p.name)
    if isinstance(p, Q.Constrained):
        anyseq = _anyseq_caps(p.clause)
        if anyseq is not None:
            scan = _constrained_scan(index, *anyseq, p.filter)
            if scan is not None:
                return scan
        hits = _exec(index, p.clause)
        if "match_info" not in hits.columns:
            raise ValueError(
                "global constraint references captures but the clause "
                f"defines none: {Q.pattern_str(p)}")
        layers: set[str] = set()
        pred = _compile_constraint(p.filter, layers)
        return S.constrained(index, hits, pred,
                             columns=tuple(sorted(layers)))
    if isinstance(p, Q.RelFunc):
        # rel(type[, target[, spanMode[, direction]]]) — relations of
        # a type, optionally requiring the target span to match a
        # clause, reported under the span mode (XFRelations.rel /
        # createRelationQuery: match at TARGET, then adjust — unique
        # relations guaranteed by the semi-join).
        from blacklab_spark.operators.hits import push_hit_docs
        from blacklab_spark.operators.relations import (rel_span_adjust,
                                                        relations)
        if p.target is not None:
            # rare-target pushdown: derive edges from the target's
            # docs only (the push_hit_docs anchor pattern)
            tgt = _exec(index, p.target).select("doc_id", "start", "end")
            rels = relations(index, p.rel_type, direction=p.direction,
                             span_mode="target",
                             dm=push_hit_docs(tgt, index.doc_meta))
            rels = rels.join(tgt, ["doc_id", "start", "end"],
                             "left_semi")
        else:
            rels = relations(index, p.rel_type, direction=p.direction,
                             span_mode=p.span_mode)
        if p.target is not None:
            if p.span_mode != "target":
                rels = rel_span_adjust(rels, p.span_mode)
        # operand spans ride along (RelationInfo analog) so
        # rspan(rel(...), mode) can re-adjust
        return rels
    if isinstance(p, Q.RootRel):
        # ^--> target: relations without a source whose target matches
        # the clause, reported AT the target (rootRelationType)
        from blacklab_spark.operators.hits import push_hit_docs
        from blacklab_spark.operators.relations import relations
        tgt = _exec(index, p.target).select("doc_id", "start", "end")
        rels = relations(index, p.rel_type, direction="root",
                         span_mode="target",
                         dm=push_hit_docs(tgt, index.doc_meta))
        out = rels.join(tgt, ["doc_id", "start", "end"], "left_semi")
        if p.label:
            # 'label: ^--> tgt' captures the root relation's span
            # (childRelation captureLabel, cql.jj:335)
            out = out.withColumn("match_info", F.create_map(
                F.lit(p.label),
                F.struct(F.col("start").alias("s"),
                         F.col("end").alias("e"))))
        return out
    if isinstance(p, Q.RCapture):
        from blacklab_spark.operators.relations import \
            capture_relations_within
        return capture_relations_within(index, _exec(index, p.clause),
                                        p.capture_as, p.rel_type,
                                        within_capture=p.within)
    if isinstance(p, Q.RField):
        # rfield(query, field): report hits in the parallel field's
        # coordinates (XFRelations.rfield — the source field itself is
        # a no-op, like the reference's early return)
        hits = _exec(index, p.clause)
        if p.field in ("a", "contents"):
            return hits
        if p.field != "b":
            raise ValueError(
                f"unknown parallel field {p.field!r} (this index has "
                "fields 'a'/'contents' and 'b')")
        from blacklab_spark.operators.parallel import other_field_hits
        return other_field_hits(index, hits)
    if isinstance(p, Q.RSpan):
        # rspan(query, mode): clause must produce relation hits (the
        # -type-> operator or rel()) whose operand spans ride along
        from blacklab_spark.operators.relations import rel_span_adjust
        hits = _exec(index, p.clause)
        if "src_start" not in hits.columns:
            raise ValueError(
                "rspan() needs a relation-producing clause "
                "(rel(...) or source -type-> target)")
        return rel_span_adjust(hits, p.span_mode).select(
            "doc_id", "start", "end")
    if isinstance(p, Q.RelMatch):
        # source -type-> target: relations of the type whose source
        # span matches a source hit and target span matches a target
        # hit (SpanQueryCaptureRelationsBetweenSpans analog). The hit
        # is the FULL relation span; both operand spans ride along.
        # Negated (!-type->): source hits WITHOUT such a relation —
        # an anti-join on the matched source spans; the hit is the
        # source span itself.
        from blacklab_spark.operators.relations import relations_between
        src = _exec(index, p.source).select("doc_id", "start", "end")
        tgt = _exec(index, p.target).select("doc_id", "start", "end")
        matched = relations_between(index, src, tgt, p.rel_type)
        if not p.negate:
            if p.label:
                # 'label: -type-> tgt' captures the matched relation's
                # full span under the label (RelationTarget.captureAs)
                matched = matched.withColumn("match_info", F.create_map(
                    F.lit(p.label),
                    F.struct(F.col("start").alias("s"),
                             F.col("end").alias("e"))))
            return matched
        bad = matched.select(
            "doc_id", F.col("src_start").alias("start"),
            F.col("src_end").alias("end"))
        return src.join(bad, ["doc_id", "start", "end"], "left_anti")
    if isinstance(p, Q.RelMulti):
        # src -t1-> a ; -t2-> b: every branch's relation shares the
        # parent span as its source; no edge satisfies two branches
        # (SpansAndMultiUniqueRelations analog — see
        # operators/relations.py:relations_match_multi)
        from blacklab_spark.operators.relations import \
            relations_match_multi
        src = _exec(index, p.source).select("doc_id", "start", "end")
        branches = [(b.rel_type,
                     _exec(index, b.target).select("doc_id", "start",
                                                   "end"),
                     b.negate, b.label) for b in p.branches]
        return relations_match_multi(index, src, branches)
    if isinstance(p, Q.RMatch):
        # rmatch(q1, q2, ...): drop any-n-gram clauses (they match
        # everywhere — XFRelations/createRelMatchQuery does the same),
        # then same-span AND with unique relations
        from blacklab_spark.operators.relations import rmatch_same_span
        kept = [c for c in p.clauses
                if not (isinstance(c, Q.AnyToken) and c.max_len is None)]
        if not kept:
            raise ValueError(
                "rmatch() of only any-n-gram clauses matches "
                "everything — give it at least one real clause")
        if len(kept) == 1:
            return _exec(index, kept[0])
        return rmatch_same_span([_exec(index, c) for c in kept])
    if isinstance(p, Q.Force):
        # _FI1/_FI2 (XFDebug): pin the sequence's physical strategy,
        # bypassing _seq_choice's cost rule — the golden-equality
        # harness the reference drives the same way
        if p.strategy == "ident":
            return _exec(index, p.clause)
        clauses = p.clause.clauses if isinstance(p.clause, Q.Seq) \
            else (p.clause,)
        if len(clauses) < 2:
            raise ValueError(
                f"{'_FI1' if p.strategy == 'fiseq' else '_FI2'}() "
                "needs a sequence of at least two leaves")
        if p.strategy == "postings":
            if not all(isinstance(c, Q.Term) and c.layer == "word"
                       for c in clauses):
                raise ValueError(
                    "_FI2() (postings intersection) needs word-layer "
                    "term leaves")
            return P.phrase_via_postings(index,
                                         [c.text for c in clauses])
        if not all(isinstance(c, (Q.Term, Q.Regex)) for c in clauses):
            raise ValueError(
                "_FI1() (forward-index verify) needs term/regex "
                "leaves")
        stats = [_leaf_info(index, c) for c in clauses]
        a = min(range(len(clauses)), key=lambda i: stats[i][0])
        if stats[a][2] is None:
            # every leaf is a non-word annotation layer: there is no
            # postings anchor to seed the verify — same clear error
            # the normal path avoids by choosing the generic strategy
            raise ValueError(
                "_FI1() needs at least one word-layer leaf to anchor "
                "the forward-index verify")
        return _fiseq(index, clauses, stats, a)
    if isinstance(p, Q.CrossField):
        # source ==> target: the target leaf runs against FIELD B's
        # token layer (SpansOverrideField analog), then the alignment
        # join pairs it with source hits (operators/parallel.py).
        import re as _re

        from blacklab_spark.operators.hits import push_hit_docs
        from blacklab_spark.operators.parallel import (ALIGN_REL_TYPE,
                                                       cross_field_matches,
                                                       term_hits_field_b)
        if p.target_version not in (None, "b"):
            raise ValueError(
                f"unknown parallel field version {p.target_version!r} "
                "(this index derives the single target version 'b')")
        src = _exec(index, p.source).select("doc_id", "start", "end")
        if p.rel_type is not None and \
                not _re.fullmatch(p.rel_type, ALIGN_REL_TYPE):
            # type regex excludes the alignment layer's relation type
            inner = S.no_hits(index).withColumns(
                {"b_start": F.lit(None).cast("int"),
                 "b_end": F.lit(None).cast("int")})
        else:
            # one pruned doc_meta scan feeds both the field-b probe
            # and the alignment-edge derivation (push_hit_docs anchor)
            dm = push_hit_docs(src, index.doc_meta)
            tgt = term_hits_field_b(index, _field_b_predicate(p.target),
                                    dm=dm)
            inner = cross_field_matches(index, src, tgt, dm=dm)
        if p.optional:
            # '?' optionalMatch: keep source hits with no aligned
            # target match, null target span (RelationOperatorInfo:50)
            unmatched = (src.join(
                inner.select("doc_id", "start", "end"),
                ["doc_id", "start", "end"], "left_anti")
                .withColumns({"b_start": F.lit(None).cast("int"),
                              "b_end": F.lit(None).cast("int")}))
            return inner.unionByName(unmatched)
        return inner
    raise ValueError(f"unsupported pattern node: {p!r}")


def _field_b_predicate(p: Q.Pattern):
    """Column predicate of a field-b token for a ``==>`` target leaf.
    Query values were folded at parse time exactly as field b's
    source tokens were (the fused token concatenates @i tokens)."""
    if isinstance(p, Q.Term) and p.layer == "word":
        return lambda t: t == p.text
    if isinstance(p, Q.Regex) and p.layer == "word":
        return lambda t: t.rlike(f"(?iu)^(?:{p.pattern})$")
    if isinstance(p, Q.AnyToken) and (p.min_len, p.max_len) == (1, 1):
        return lambda t: F.lit(True)
    raise ValueError(
        "the target of ==> must be a word-layer term, regex or [] "
        f"in v1, got: {p!r}")


def _has_capture(p: Q.Pattern) -> bool:
    """Does any node under ``p`` capture? Must see through EVERY
    nesting attribute — a CCNot product hides its neighbour (and that
    neighbour's captures) under PosFilter.producer, and missing it
    would route a capture-carrying sequence through the match_info-
    dropping plain joins."""
    return any(isinstance(n, Q.Capture) for n in _walk(p))


def find_pattern(index: InvertedIndex, ast: Q.Pattern) -> DataFrame:
    """Execute an already-built Pattern AST (rewrite + exec) — the
    entry point for other query languages (plans/contextql.py)."""
    return _exec(index, rewrite(ast))


def find(index: InvertedIndex, cql: str,
         sensitivity: str | None = None) -> DataFrame:
    """CQL-lite string → hits DataFrame (doc_id, start, end[, match_info]).

    Leading ``@key=value`` settings (TextPatternSettings.java:17) are
    honored: ``@max_hits=N`` caps the materialized hits (per-query
    SearchSettings override). ``sensitivity`` sets the session-default
    word layer (index.setDefaultMatchSensitivity analog)."""
    from blacklab_spark.plans.parser import parse_with_settings
    ast, settings = parse_with_settings(cql, sensitivity)
    hits = _exec(index, rewrite(ast))
    cap = settings.get("max_hits")
    if cap is not None:
        hits = hits.limit(int(cap))
    return hits


def explain(cql: str, index: InvertedIndex | None = None) -> str:
    """Original + rewritten pattern; with an index also the cost-based
    physical choices (≙ QueryExplanation + the reference's optimize()
    trace)."""
    original = parse(cql)
    rewritten = rewrite(original)
    g = guarantees(rewritten)
    lines = [f"original : {Q.pattern_str(original)}",
             f"rewritten: {Q.pattern_str(rewritten)}",
             f"guarantees: width=[{g.len_min},"
             f"{'inf' if g.len_max is None else g.len_max}] "
             f"unique={g.unique}"]
    if index is not None:
        _explain_physical(index, rewritten, lines)
    return "\n".join(lines)


def _explain_physical(index: InvertedIndex, node: Q.Pattern,
                      lines: list[str]) -> None:
    """Append explain()'s line for the physical choice ``_exec`` makes
    at ``node``, then the lines of the nodes under it that run on their
    own: none under a merged OR (one decode or probe), only the
    producer under a position filter whose hot filter term probes the
    producer's docs."""
    kids = _children(node)
    if isinstance(node, Q.Or):
        merged = _or_merge_term_ids(index, node.clauses)
        if merged is not None:
            lines.append(
                f"or {Q.pattern_str(node)} -> merged postings "
                f"decode ({len(merged)} terms, one block scan)"
                + _decode_note(merged))
            kids = []
        elif _or_annot_merge(node.clauses) is not None:
            layer = node.clauses[0].layer
            lines.append(
                f"or {Q.pattern_str(node)} -> single "
                f"{layer}-layer probe (one forward-index pass)")
            kids = []
    elif isinstance(node, Q.PosFilter) and \
            _probes_filter_term(index, node.filter):
        lines.append(f"leaf {Q.pattern_str(node.filter)} -> forward-index "
                     "probe of the producer's docs (hot term)")
        kids = [node.producer]
    elif isinstance(node, Q.Seq) and not any(
            _has_capture(c) for c in node.clauses):
        choice = _seq_choice(index, node.clauses)
        generic_desc = "pairwise positional joins over " \
                       "postings leaves"
        if choice[0] == "generic":
            gs = [_guar(index, c) for c in node.clauses]
            if all(g.unique for g in gs) and \
                    sum(1 for g in gs if not g.fixed_width) <= 1:
                generic_desc += " (output dedup elided — " \
                                "SpanGuarantees)"
        desc = {"fiseq": "FiSeq (anchor postings + forward-"
                         "index verify)",
                "phrase": "postings position-intersection",
                "empty": "no-hits (term absent)",
                "generic": generic_desc}[choice[0]]
        extra = ""
        if choice[0] == "phrase":
            extra = (f", offsets {list(choice[2])}" + _decode_note(
                index.lookup_terms(choice[1])))
        if choice[0] == "fiseq":
            a = choice[1]
            extra = (f" [anchor clause {a}: "
                     f"cf={choice[2][a][0]}, df={choice[2][a][1]}]")
        lines.append(f"seq {Q.pattern_str(node)} -> {desc}{extra}")
    elif isinstance(node, (Q.Term, Q.Regex, Q.Fuzzy)) and \
            node.layer == "word":
        terms = _word_leaf_terms(index, node)
        strat = (f"fuzzy dictionary expansion ({len(terms)} terms) + "
                 if isinstance(node, Q.Fuzzy) else "")
        if index.cfg.store_positions:
            strat += "postings block decode" + _decode_note(terms)
        else:
            strat += "forward-index probe (word layer)"
        lines.append(f"leaf {Q.pattern_str(node)} -> {strat}")
    elif isinstance(node, (Q.Term, Q.Regex)):
        lines.append(f"leaf {Q.pattern_str(node)} -> forward-index "
                     f"probe ({node.layer} layer)")
    for c in kids:
        _explain_physical(index, c, lines)


def _decode_note(terms: pd.DataFrame) -> str:
    """explain()'s note on a postings decode: the Σcf of its terms rows,
    the driver bound and the side the decode runs on."""
    from blacklab_spark.operators import hits as H
    n = int(terms["cf"].sum())
    side = "driver decode" if H.decodes_on_driver(n) else "Spark decode"
    return (f" [Σcf={n}, DRIVER_HITS_MAX_POSITIONS="
            f"{H.DRIVER_HITS_MAX_POSITIONS}: {side}]")


def _children(p: Q.Pattern) -> list[Q.Pattern]:
    """The sub-patterns of ``p``: its clauses, nested clause,
    position-filter producer and filter, binary nodes' named operands
    (Overlap a/b, RelMatch/CrossField source/target, RelFunc optional
    target) and RelMulti child relations' targets."""
    out = list(getattr(p, "clauses", ()))
    if hasattr(p, "clause"):
        out.append(p.clause)
    if hasattr(p, "producer"):
        out += [p.producer, p.filter]
    for attr in ("a", "b", "source", "target"):
        v = getattr(p, attr, None)
        if isinstance(v, Q.Pattern):
            out.append(v)
    return out + [br.target for br in getattr(p, "branches", ())]


def _walk(p: Q.Pattern):
    yield p
    for c in _children(p):
        yield from _walk(c)
