"""SearchEngine facade — the engine's `BlackLabIndex.find(...)` analog
(reference: engine/src/main/java/nl/inl/blacklab/search/BlackLabIndex.java:180-201).

Routes queries to physical strategies the way the reference's
optimizer does (SURVEY.md §4.4): unfiltered top-k → block-max WAND;
filtered top-k → filter-then-score WAND (allowed-bucket semi-join
prune + threshold seeded from filtered candidates); exhaustive
scoring kept as the dual verification path; phrase →
postings-intersection or forward-index probe.
``explain()`` reports the chosen plan, mirroring
BlackLabIndex.explain (BlackLabIndex.java:230).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from dataclasses import dataclass

from blacklab_spark.index import InvertedIndex, open_index


@dataclass(frozen=True)
class SearchSettings:
    """Result-set budget caps (reference:
    search/results/SearchSettings.java:21-24 — DEFAULT_MAX_PROCESS =
    10M stored hits, count unlimited). ``max_hits_to_process`` bounds
    what a query materializes (a LIMIT on the hits frame);
    ``max_hits_to_count`` bounds counting (None = unlimited)."""
    max_hits_to_process: int = 10_000_000
    max_hits_to_count: int | None = None
from blacklab_spark.cache import ResultCache
from blacklab_spark.operators import hits as H
from blacklab_spark.operators import phrase as P
from blacklab_spark.operators.scoring import (TOPK_SCHEMA, topk_exhaustive,
                                              doc_scores, finish_topk)
from blacklab_spark.operators.wand import topk_wand, topk_wand_filtered
from blacklab_spark.tokenizer import py_tokens_insensitive


class SearchEngine:
    """``topk`` runs its jobs inside the call and returns a driver-built
    frame of ≤k rows; ``find`` and the hit operators stay lazy.
    ``cache_size`` > 0 opts into the serving-path result cache
    (cache.py): repeated ``topk``/``count_hits`` calls return
    driver-materialized results without re-running Spark jobs, with
    delete-aware keys. Off by default for honest benchmarking."""

    def __init__(self, index: InvertedIndex,
                 settings: SearchSettings | None = None,
                 cache_size: int = 0, plan_cache_size: int = 64):
        self.index = index
        self.spark = index.spark
        self.settings = settings or SearchSettings()
        self.cache = ResultCache(cache_size)
        # PLAN-HANDLE memoization (always on): repeated queries return
        # the SAME DataFrame object — for top-k a local frame of its
        # ≤k rows; for find a lineage whose shuffle map outputs Spark
        # reuses, re-running only the result stage. Results are
        # deterministic in (query, immutable index artifacts), and the
        # key embeds the tombstone listing so deletes refresh it. The
        # LRU bound also bounds the shuffle files held lineages pin.
        self._plan_cache = ResultCache(plan_cache_size)

    @classmethod
    def open(cls, spark: SparkSession, path: str,
             cache_size: int = 0) -> "SearchEngine":
        return cls(open_index(spark, path), cache_size=cache_size)

    def _plan_key(self, *parts) -> tuple | None:
        """None = not cacheable (a Column filter has no stable
        identity). Keys embed the tombstone listing — see cache.py."""
        for p in parts:
            if p is not None and not isinstance(
                    p, (str, int, float, bool, tuple)):
                return None
        return parts + (self.index._tombstone_listing(),)

    def _cache_key(self, *parts) -> tuple | None:
        """Result-cache key — like _plan_key but None when the
        opt-in result cache is off."""
        if self.cache.maxsize <= 0:
            return None
        return self._plan_key(*parts)

    # -- filters (role/tool as filterable annotations, SURVEY.md §1.1) --
    @staticmethod
    def _doc_filter(role=None, tool=None, conv_id=None,
                    where: Column | str | None = None,
                    filter: str | None = None) -> Column | None:
        """``filter`` is a Lucene-classic filter-query string — the
        server's ``patt=...&filter=...`` combination (parsed by
        plans/luceneql.py); all conditions AND together."""
        conds = []
        if filter is not None:
            from blacklab_spark.plans.luceneql import parse_lucene_filter
            conds.append(F.expr(parse_lucene_filter(filter)))
        if role is not None:
            conds.append(F.col("role") == role)
        if tool is not None:
            conds.append(F.col("tool") == tool if tool is not True
                         else F.col("tool").isNotNull())
        if conv_id is not None:
            conds.append(F.col("conv_id") == conv_id)
        if where is not None:
            conds.append(F.expr(where) if isinstance(where, str) else where)
        if not conds:
            return None
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    def _terms(self, query: str | list[str]) -> list[str]:
        if isinstance(query, str):
            return py_tokens_insensitive(query)
        return [t for q in query for t in py_tokens_insensitive(q)]

    # -- top-k BM25 -----------------------------------------------------
    def topk(self, query: str | list[str], k: int = 10, mode: str = "auto",
             role=None, tool=None, conv_id=None, where=None,
             filter=None) -> DataFrame:
        terms = self._terms(query)
        # one key computation (the tombstone listing is a filesystem
        # listing — don't do it twice per call on the serving path):
        # the result-cache key equals the plan key when caching is on
        pkey = self._plan_key("topk", tuple(terms), k, mode,
                              role, tool, conv_id, where, filter)
        key = pkey if self.cache.maxsize > 0 else None

        def build() -> DataFrame:
            filt = self._doc_filter(role, tool, conv_id, where, filter)
            m = mode
            if m == "auto":
                # cost-based (≙ ClauseCombinerNfa-style statistics
                # choice): the filtered-WAND plan adds a fixed number
                # of extra jobs (seed pass, bucket upper-bound prune)
                # that pay off only when block-decode volume
                # dominates; below ~1M docs the single-pass
                # exhaustive scorer + semi-join is cheaper.
                m = ("exhaustive" if filt is not None
                     and self.index.n_docs < 1_000_000 else "wand")
            if m == "wand":
                if filt is not None:
                    # filter-then-score plan: allowed buckets pruned
                    # before decode, threshold seeded from filtered
                    # candidates (topk_wand_filtered docstring; the
                    # unfiltered metadata bound is not valid here).
                    return topk_wand_filtered(self.index, terms,
                                              filt, k)
                return topk_wand(self.index, terms, k)
            return topk_exhaustive(self.index, terms, k,
                                   doc_filter=filt)

        plan = (build() if pkey is None
                else self._plan_cache.get_or(pkey, build))
        if key is None:
            return plan
        rows = self.cache.get_or(key, plan.collect)
        return self.spark.createDataFrame(rows, TOPK_SCHEMA)

    def scores(self, query: str | list[str], role=None, tool=None,
               conv_id=None, where=None) -> DataFrame:
        return doc_scores(self.index, self._terms(query),
                          self._doc_filter(role, tool, conv_id, where))

    # -- positional -----------------------------------------------------
    def phrase_hits(self, phrase: str | list[str], path: str = "postings",
                    role=None, tool=None, conv_id=None, where=None,
                    filter=None) -> DataFrame:
        terms = self._terms(phrase)
        filt = self._doc_filter(role, tool, conv_id, where, filter)
        if path == "postings" and filt is None:
            df = P.phrase_via_postings(self.index, terms)
        else:
            df = P.phrase_via_tokens(self.index, terms, doc_filter=filt)
        return df

    def term_hits(self, term: str, sensitivity: str = "i",
                  **filters) -> DataFrame:
        return H.term_hits_auto(self.index, term,
                                self._doc_filter(**filters), sensitivity)

    def fuzzy_hits(self, term: str, max_edits: int = 1,
                   **filters) -> DataFrame:
        """Hits of every dictionary term within ``max_edits``
        Levenshtein edits (SpanFuzzyQuery analog,
        reference: search/lucene/SpanFuzzyQuery.java:35)."""
        from blacklab_spark.tokenizer import py_fold_insensitive
        info = self.index.expand_fuzzy(py_fold_insensitive(term),
                                       max_edits)
        hits = H.hits_for_term_ids(self.index,
                                   [int(t) for t in info["term_id"]])
        filt = self._doc_filter(**filters)
        if filt is not None:
            allowed = self.index.doc_meta.filter(filt).select("doc_id")
            hits = hits.join(allowed, "doc_id", "left_semi")
        return hits

    # -- relations (dependency layer) -----------------------------------
    def relations(self, rel_type: str | None = None,
                  direction: str = "both", span_mode: str = "source",
                  **filters) -> DataFrame:
        """Typed relation spans (SpanQueryRelations.java:34 analog);
        see operators/relations.py for the derived dependency layer."""
        from blacklab_spark.operators import relations as R
        return R.relations(self.index, rel_type, direction, span_mode,
                           self._doc_filter(**filters))

    def relations_within(self, container_cql: str,
                         rel_type: str | None = None) -> DataFrame:
        """Relations inside spans of a CQL container query
        (SpansCaptureRelationsWithinSpan analog)."""
        from blacklab_spark.operators import relations as R
        from blacklab_spark.operators.hits import push_hit_docs
        containers = self.find(container_cql)
        # rare-container pushdown: derive edges only for the
        # containers' docs (push_hit_docs anchor pattern)
        rels = R.relations(self.index, rel_type,
                           dm=push_hit_docs(containers,
                                            self.index.doc_meta))
        return R.relations_within_span(rels, containers)

    # -- parallel corpora (other field + alignment) ----------------------
    def other_field(self, hits: DataFrame) -> DataFrame:
        """Project source-field hits onto the parallel field b
        (SpanQueryOtherFieldHits analog — e.g. highlight the
        translation side); see operators/parallel.py."""
        from blacklab_spark.operators import parallel as P
        return P.other_field_hits(self.index, hits)

    def find_other_field(self, cql: str, **filters) -> DataFrame:
        """Run a source-field CQL query, report hits in field b."""
        return self.other_field(self.find(cql, **filters))

    def cross_field(self, cql: str, target_predicate) -> DataFrame:
        """The alignment operator ``A ==> B``: source hits of ``cql``
        whose aligned field-b span has a token matching
        ``target_predicate`` (a Column function)."""
        from blacklab_spark.operators import parallel as P
        from blacklab_spark.operators.hits import push_hit_docs
        src = self.find(cql)
        dm = push_hit_docs(src, self.index.doc_meta)
        tgt = P.term_hits_field_b(self.index, target_predicate, dm=dm)
        return P.cross_field_matches(self.index, src, tgt, dm=dm)

    # -- result ops (thin delegates) ------------------------------------
    def kwic(self, hits: DataFrame, context: int = H.DEFAULT_CONTEXT):
        return H.kwic(self.index, hits, context)

    def concordances(self, hits: DataFrame,
                     context: int = H.DEFAULT_CONTEXT):
        """Original-content concordances for ``hits``
        (Concordances.java analog; KWIC serves the token-array form)."""
        return H.concordances(self.index, hits, context)

    def collocations(self, term: str, window: int = 10, **filters):
        return H.collocations(self.index, term, window,
                              self._doc_filter(**filters))

    def term_frequencies(self, **filters):
        return H.term_frequencies(self.index, self._doc_filter(**filters))

    def group_hits_by_context_word(self, hits: DataFrame, offset: int = 1):
        return H.group_hits_by_context_word(self.index, hits, offset)

    def group_hits_by_doc_field(self, hits: DataFrame, field: str):
        return H.group_hits_by_doc_field(self.index, hits, field)

    def group_hits_subcorpus(self, hits: DataFrame, spec: str,
                             **filters):
        """Grouped hits with per-group subcorpus sizes + relative
        frequency (BLS grouped-response subcorpusSize — doc-based
        group keys only). ``filters`` restrict the subcorpus the same
        way they restricted the searched docs."""
        from blacklab_spark.operators.properties import \
            group_hits_subcorpus
        dm = self.index.doc_meta
        filt = self._doc_filter(**filters)
        if filt is not None:
            dm = dm.filter(filt)
        return group_hits_subcorpus(self.index, hits, spec, docs=dm)

    def docs_from_hits(self, hits: DataFrame, **kw):
        return H.docs_from_hits(self.index, hits, **kw)

    # -- CQL-lite (parse → rewrite → span algebra) ----------------------
    def find(self, cql: str, role=None, tool=None, conv_id=None,
             where=None, filter=None,
             sensitivity: str | None = None) -> DataFrame:
        """CQL-lite query → hits frame (BlackLabIndex.find analog,
        reference: search/BlackLabIndex.java:180-201). ``filter`` is
        the server's Lucene-classic metadata filter (patt + filter);
        ``sensitivity`` the default word layer for bare values
        (setDefaultMatchSensitivity analog)."""
        from blacklab_spark.plans.executor import find as _find

        def build() -> DataFrame:
            hits = _find(self.index, cql, sensitivity)
            filt = self._doc_filter(role, tool, conv_id, where, filter)
            if filt is not None:
                from blacklab_spark.operators.spans import filter_by_docs
                hits = filter_by_docs(hits,
                                      self.index.doc_meta.filter(filt))
            if self.settings.max_hits_to_process is not None:
                hits = hits.limit(self.settings.max_hits_to_process)
            return hits

        pkey = self._plan_key("find", cql, sensitivity, role, tool,
                              conv_id, where, filter,
                              self.settings.max_hits_to_process)
        return (build() if pkey is None
                else self._plan_cache.get_or(pkey, build))

    def docs(self, filter: str | None = None, where=None,
             role=None, tool=None, conv_id=None) -> DataFrame:
        """Documents from a metadata query — the server's
        ``/docs?filter=...`` analog. ``filter`` is a Lucene-classic
        filter-query string (reference filterlang=luceneql,
        plans/luceneql.py); ``where`` is a raw Spark SQL predicate;
        kwargs are the structured filters. All AND together."""
        cond = self._doc_filter(role, tool, conv_id, where, filter)
        docs = self.index.doc_meta
        if cond is not None:
            docs = docs.filter(cond)
        return docs.select("doc_id", "conv_id", "turn_idx")

    def find_contextql(self, q: str, role=None, tool=None, conv_id=None,
                       where=None, filter=None) -> DataFrame:
        """SRU Contextual Query Language query — the reference's
        SECOND query language (query-parser contextql.jj +
        ContextualQueryLanguageParser.java). The contents side runs
        through the same executor as corpusql; the metadata side
        becomes a doc_meta predicate ANDed with any kwarg filters. A
        pure-metadata query returns the matching docs frame instead
        of hits."""
        from blacklab_spark.plans.contextql import parse_contextql
        from blacklab_spark.plans.executor import find_pattern
        cq = parse_contextql(q)
        filt = self._doc_filter(role, tool, conv_id, where, filter)
        if cq.filter is not None:
            f2 = F.expr(cq.filter)
            filt = f2 if filt is None else (filt & f2)
        if cq.pattern is None:
            docs = self.index.doc_meta
            if filt is not None:
                docs = docs.filter(filt)
            return docs.select("doc_id", "conv_id", "turn_idx")
        hits = find_pattern(self.index, cq.pattern)
        if filt is not None:
            from blacklab_spark.operators.spans import filter_by_docs
            hits = filter_by_docs(hits, self.index.doc_meta.filter(filt))
        if self.settings.max_hits_to_process is not None:
            hits = hits.limit(self.settings.max_hits_to_process)
        return hits

    def count_hits(self, cql: str, **filters) -> int:
        """Count hits for a query, honoring max_hits_to_count
        (ResultCount analog; None = exact unlimited count)."""
        cap = self.settings.max_hits_to_count
        key = self._cache_key("count_hits", cql, cap,
                              *(x for kv in sorted(filters.items())
                                for x in kv))
        def compute() -> int:
            hits = self.find(cql, **filters)
            if cap is not None:
                return hits.limit(cap).count()
            return hits.count()
        if key is None:
            return compute()
        return self.cache.get_or(key, compute)

    def explain_cql(self, cql: str, physical: bool = True) -> str:
        from blacklab_spark.plans.executor import explain as _explain
        return _explain(cql, self.index if physical else None)

    # -- introspection --------------------------------------------------
    def explain(self, query: str | list[str], k: int = 10, **filters) -> str:
        terms = self._terms(query)
        filt = self._doc_filter(**filters)
        info = self.index.lookup_terms(terms)
        # mirror topk()'s auto cost rule exactly
        if filt is not None and self.index.n_docs < 1_000_000:
            strat = ("exhaustive-then-filter (cost-based: below ~1M docs "
                     "the single-pass scorer beats the pruning plan's "
                     "fixed job overhead)")
        elif filt is not None:
            strat = ("filtered block-max WAND (bucket semi-join prune + "
                     "seeded threshold)")
        else:
            strat = "block-max WAND"
        lines = [f"query terms: {terms}",
                 f"resolved: {info.to_dict('records')}",
                 f"strategy: {strat}"]
        return "\n".join(lines)
