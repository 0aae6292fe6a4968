"""BLS-style HTTP serving facade — the reference's primary entry point
(SURVEY §3.1: ``GET /blacklab-server/<corpus>/hits?patt=...&filter=...
&sort=...&group=...``) re-expressed over :class:`SearchEngine`.

Reference surface mirrored (server/src/main/java/nl/inl/blacklab/
server/requesthandlers/*, response shapes wslib/.../results/
ResponseStreamer.java; operation enum common/.../webservice/
WebserviceOperation.java:13-52):

* ``GET /blacklab-server``                      — server info
* ``GET /blacklab-server/<corpus>``             — corpus info
* ``GET /blacklab-server/<corpus>/status``      — index status
* ``GET /blacklab-server/<corpus>/cache-info``  — serving-cache stats
  + per-operation request metrics (cache-info handler /
  instrumentation analog)
* ``GET /blacklab-server/<corpus>/hits``        — params ``patt``
  (+ ``pattlang=corpusql|contextql``), ``filter`` (Lucene-classic),
  ``sort`` / ``group`` (hit-property DSL; grouped results sort by
  ``size``/``identity``), ``viewgroup`` (one group's hits),
  ``hitfiltercrit``/``hitfilterval`` (property filter),
  ``sample``/``sampleseed`` (percentage sampling), ``first`` /
  ``number`` paging, ``wordsaroundhit`` KWIC width —
  RequestHandlerHits
* ``GET /blacklab-server/<corpus>/docs``        — metadata query
  (``filter``) or per-doc results of ``patt``; ``facets=`` doc
  counts per metadata field — RequestHandlerDocs
* ``GET /blacklab-server/<corpus>/docs/<pid>``  — doc info
* ``GET /blacklab-server/<corpus>/docs/<pid>/contents`` — content
  store read-back (RequestHandlerDocContents)
* ``GET /blacklab-server/<corpus>/docs/<pid>/snippet`` — KWIC snippet
  around an explicit hit (``hitstart``/``hitend``/``wordsaroundhit``
  — RequestHandlerDocSnippet)
* ``GET /blacklab-server/<corpus>/termfreq``    — corpus-wide term
  frequencies (RequestHandlerTermFreq)
* ``GET /blacklab-server/<corpus>/autocomplete/<annotation>?term=…``
  — prefix completion over the terms dictionary
  (RequestHandlerAutocomplete)

Index management (write path; enabled by ``data_dir=``, mirroring
the reference's private-index rules — the configured primary corpus
is read-only like a public index):

* ``GET /blacklab-server/input-formats`` — registered source formats
  (RequestHandlerListInputFormats)
* ``POST /blacklab-server/?name=…&format=…`` — create an empty index
  (RequestHandlerCreateIndex; built immediately, status ``empty``)
* ``POST /blacklab-server/<corpus>/docs`` + document body in the
  corpus's input format — add data (RequestHandlerAddToIndex): the
  batch is indexed as a delta and synchronously compacted into the
  next index version (≙ Lucene addDocument + merge)
* ``DELETE /blacklab-server/<corpus>`` — delete an API-created index
  (RequestHandlerDeleteIndex)
* ``GET|POST /blacklab-server/<corpus>/sharing`` — get / replace the
  ``users[]`` share list, persisted beside the index
  (RequestHandlerSharing)
* any other POST with a form-encoded body is handled as GET (the
  reference's large-query escape hatch)

``/docs`` accepts ``sort=`` (``field:<name>``, ``numhits``,
``identity``, '-' prefix descending — the DocProperty sort analog)
and ``outputformat=csv``.

``outputformat=csv`` on ``/hits`` streams the window as CSV
(ResponseStreamer's CSV analog, flat columns); ``outputformat=xml``
on any JSON operation renders the same response tree as BLS-style
XML (<blacklabResponse> root, lists as repeated singular elements,
word arrays as <w> elements, non-name map keys as
<entry key="...">); default is JSON.

Response bodies follow the BLS JSON shape (``summary`` with
``searchParam`` / window stats / ``numberOfHits``, ``hits`` with
``docPid`` + ``left/match/right`` word arrays, ``docInfos``,
``hitGroups``); errors use BLS's ``{"error": {code, message}}``
envelope. JSON only (the reference also streams XML/CSV).

Scale note: the HTTP layer holds NO state and collects only the
requested window (sort → limit(first+number) → slice) plus tiny
driver-side aggregates (counts, group sizes ≤ number); everything
heavy stays in Spark jobs, so the same handler fronts a cluster-sized
engine unchanged. A default ``/hits`` page runs two Spark actions,
the window and the hit and doc counts; its KWIC and docInfos come
from a driver-side Arrow read of the page's doc_meta rows. It is a
serving facade for functional parity — a production deployment would
put the engine behind a real app server.

Stdlib-only (http.server), daemon-threaded; ``port=0`` picks a free
port (tests use this).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import functions as F

from blacklab_spark import __version__
from blacklab_spark.engine import SearchEngine

_PREFIX = "/blacklab-server"
DEFAULT_PAGE_SIZE = 50          # BLS defaultPageSize
DEFAULT_CONTEXT = 5             # BlackLabIndex.DEFAULT_CONTEXT_SIZE


class BlsError(Exception):
    """Maps to the BLS error envelope (HttpStatus + code + message)."""

    def __init__(self, status: int, code: str, message: str):
        super().__init__(message)
        self.status, self.code, self.message = status, code, message


def _pid(conv_id: str, turn_idx) -> str:
    return f"{conv_id}:{turn_idx}"


class BlsApp:
    """Request → JSON-dict dispatcher (transport-free, directly
    testable; the HTTP handler is a thin shell around ``handle``)."""

    def __init__(self, engine: SearchEngine, corpus: str = "corpus",
                 data_dir: str | None = None):
        self.engine = engine
        self.corpus = corpus
        #: writable root for API-created indexes (RequestHandler
        #: CreateIndex/AddToIndex/DeleteIndex need it; None = the
        #: server is read-only, write ops answer 403 — the reference's
        #: "only your own private indices" rule, with the configured
        #: primary corpus playing the public-index role). Must be a
        #: LOCAL path: index-version management uses os/shutil, like
        #: the reference's user-index directory (the primary corpus
        #: itself may live on any Hadoop-compatible filesystem).
        self.data_dir = data_dir
        #: corpus name → open SearchEngine (IndexManager registry)
        self._corpora: dict[str, SearchEngine] = {corpus: engine}
        #: corpus name → IndexStatus analog (empty|available|indexing)
        self._status: dict[str, str] = {
            corpus: "empty" if engine.index.n_docs == 0
            else "available"}
        #: API-created corpora only (the mutable set)
        self._own: set[str] = set()
        #: API-created corpus → its registered input format
        self._formats: dict[str, str] = {}
        self._token_count: dict[str, int] = {}
        #: user-uploaded input-format configs (the reference's private
        #: formats, RequestHandlerAddFormat; persisted per-server
        #: under data_dir/_formats/<name>.json)
        self._user_formats: dict = {}
        if data_dir:
            from blacklab_spark.sources.formats import FormatConfig
            fdir = os.path.join(data_dir, "_formats")
            for fn in sorted(os.listdir(fdir)) if os.path.isdir(fdir) else []:
                if fn.endswith(".json"):
                    with open(os.path.join(fdir, fn)) as f:
                        cfg = FormatConfig.from_json(f.read())
                    self._user_formats[cfg.name] = cfg
        #: one request at a time: write ops swap engines in the
        #: registry and `self.engine` is the per-request binding, so
        #: the facade serializes dispatch (the heavy work is Spark
        #: jobs either way; the reference's IndexManager likewise
        #: locks index lifecycle transitions)
        self._lock = threading.RLock()
        #: op name → [request count, total wall ms] (the reference's
        #: Prometheus instrumentation analog, exposed via cache-info)
        self._metrics: dict[str, list] = {}

    # ---- helpers ----------------------------------------------------
    def _tokens_total(self) -> int:
        if self.corpus not in self._token_count:
            self._token_count[self.corpus] = int(
                self.engine.index.doc_meta.agg(
                    F.sum("n_tokens")).collect()[0][0] or 0)
        return self._token_count[self.corpus]

    @staticmethod
    def _int(params: dict, key: str, default: int) -> int:
        try:
            return int(params.get(key, [default])[0])
        except ValueError:
            raise BlsError(400, "ILLEGAL_ARGUMENT",
                           f"parameter {key} must be an integer") from None

    @staticmethod
    def _str(params: dict, key: str, default: str | None = None):
        v = params.get(key)
        return v[0] if v else default

    def _context_size(self, params: dict) -> int:
        """``context`` is the current parameter name,
        ``wordsaroundhit`` the deprecated alias
        (WebserviceParameter.java:47-48)."""
        if "context" in params:
            return self._int(params, "context", DEFAULT_CONTEXT)
        return self._int(params, "wordsaroundhit", DEFAULT_CONTEXT)

    def _bool(self, params: dict, key: str) -> bool:
        return self._str(params, key, "no").lower() in (
            "yes", "true", "1", "on")

    def _effective_patt(self, params: dict) -> str:
        """The pattern actually searched: ``patt``, with ``@@`` gaps
        filled from ``pattgapdata`` TSV rows and the row-queries OR'd
        (GapFiller.java)."""
        patt = self._str(params, "patt")
        if not patt:
            raise BlsError(400, "NO_PATTERN_GIVEN",
                           "Text search pattern required (patt)")
        gapdata = self._str(params, "pattgapdata")
        if gapdata is not None and "@@" in patt:
            if self._str(params, "pattlang", "corpusql") != "corpusql":
                raise BlsError(400, "ILLEGAL_ARGUMENT",
                               "pattgapdata requires pattlang=corpusql")
            filled = _fill_gaps(patt, gapdata)
            if not filled:
                raise BlsError(400, "NO_DATA_GIVEN",
                               "pattgapdata contained no value rows")
            patt = " | ".join(f"({q})" for q in filled)
        return patt

    def _find(self, params: dict):
        """patt/pattlang/filter → hits frame (RequestHandlerHits
        parse step; WebserviceParamsUtils.parsePattern analog).
        With ``pattgapdata``, ``@@`` gaps in the pattern are filled
        from the TSV rows and the row-queries OR'd (GapFiller.java)."""
        patt = self._effective_patt(params)
        lang = self._str(params, "pattlang", "corpusql")
        filt = self._str(params, "filter")
        # fimatch: per-request forward-index-matching threshold
        # (search.fiMatchFactor analog; 0 disables the FiSeq strategy,
        # -1 keeps the engine default — blacklab-internals.md:40.
        # NOTE: our value is the required anchor-rarity ratio, so
        # smaller = more eager; see executor.fi_match)
        fimatch = self._int(params, "fimatch", -1)
        try:
            if lang == "corpusql":
                if fimatch >= 0:
                    from blacklab_spark.plans.executor import fi_match
                    with fi_match(fimatch):
                        return self.engine.find(patt, filter=filt)
                return self.engine.find(patt, filter=filt)
            if lang == "contextql":
                return self.engine.find_contextql(patt, filter=filt)
        except ValueError as e:
            raise BlsError(400, "PATT_SYNTAX_ERROR", str(e)) from None
        raise BlsError(400, "UNKNOWN_PATT_LANG",
                       f"unknown pattern language {lang!r}")

    def _page_docs(self, doc_ids, columns: list[str]) -> dict:
        """doc_id → {column: value} for ≤ one page of docs, in doc-id
        order, read on the driver (InvertedIndex.doc_rows: footer-
        pruned Arrow read, no Spark job). The ids come from results,
        which hold no tombstoned doc."""
        ids = sorted(set(doc_ids))
        if not ids:
            return {}
        rows = self.engine.index.doc_rows(ids, ["doc_id", *columns])
        return {r["doc_id"]: r for r in sorted(rows.to_pylist(),
                                               key=lambda r: r["doc_id"])}

    def _doc_infos(self, doc_ids: list[int]) -> tuple[dict, dict]:
        """(pid → docInfo, doc_id → pid) for a bounded id list (≤ one
        page of docs), in doc-id order."""
        meta = self._page_docs(doc_ids, ["conv_id", "turn_idx", "role",
                                         "n_tokens"])
        pid_of = {d: _pid(r["conv_id"], r["turn_idx"])
                  for d, r in meta.items()}
        infos = {pid_of[d]: {
            "conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
            "role": r["role"], "lengthInTokens": r["n_tokens"],
        } for d, r in meta.items()}
        return infos, pid_of

    # ---- operations -------------------------------------------------
    def server_info(self) -> dict:
        return {"apiVersion": "5.0",
                "implementation": f"blacklab_spark/{__version__}",
                "corpora": {c: {"status": self._status[c]}
                            for c in sorted(self._corpora)}}

    def corpus_info(self) -> dict:
        idx = self.engine.index
        layers = [c[len("tokens_"):] for c in idx.doc_meta.columns
                  if c.startswith("tokens_")]
        return {
            "indexName": self.corpus,
            "status": self._status[self.corpus],
            "documentCount": idx.n_docs,
            "tokenCount": self._tokens_total(),
            "fieldInfo": {"mainAnnotatedField": "contents"},
            "annotatedFields": {"contents": {
                "mainAnnotation": "word",
                "annotations": ["word"] + layers}},
            "metadataFields": ["conv_id", "turn_idx", "role", "tool",
                               "ts"],
        }

    def status(self) -> dict:
        return {"indexName": self.corpus,
                "status": self._status[self.corpus],
                "tokenCount": self._tokens_total()}

    def relations_info(self, params: dict | None = None) -> dict:
        """Relation-type inventory with counts (RequestHandlerRelations
        / WebserviceRequestHandler.opRelations): dependency relations
        under ``relations`` (our derived layer has the single class
        ``dep``), inline-tag spans reported separately under ``spans``
        (the reference's CLASS_INLINE_TAG split, separatespans
        default). Params: ``classes`` filters classes, ``onlyspans``
        restricts to the tag class, ``limitvalues`` truncates type
        lists (default 200)."""
        params = params or {}
        limit = self._int(params, "limitvalues", 200)
        classes = [c for c in self._str(params, "classes",
                                        "").split(",") if c]
        only_spans = self._bool(params, "onlyspans")
        idx = self.engine.index
        out: dict = {}
        if not only_spans and (not classes or "dep" in classes):
            from blacklab_spark.operators.relations import doc_relations
            try:
                rows = (doc_relations(idx).groupBy("rel_type").count()
                        .orderBy("rel_type").limit(limit).collect())
                out["relations"] = {r["rel_type"]: r["count"]
                                    for r in rows}
            except ValueError as e:
                if classes:   # class explicitly asked for but absent
                    raise BlsError(400, "NO_RELATIONS",
                                   str(e)) from None
        if getattr(idx.cfg, "tags", False) and (
                only_spans or not classes or "__tag" in classes):
            rows = (idx.doc_spans.groupBy("tag").count()
                    .orderBy("tag").limit(limit).collect())
            out["spans"] = {r["tag"]: r["count"] for r in rows}
        if not out:
            raise BlsError(400, "NO_RELATIONS",
                           "no relation or span layer matches the "
                           "requested classes")
        return out

    def field_info(self, name: str, params: dict) -> dict:
        """Metadata-field info + top values (RequestHandlerFieldInfo:
        fieldValues with valueListComplete)."""
        meta_fields = ["conv_id", "turn_idx", "role", "tool", "ts"]
        if name not in meta_fields:
            raise BlsError(404, "UNKNOWN_FIELD",
                           f"unknown metadata field {name!r}")
        number = self._int(params, "number", 20)
        dm = self.engine.index.doc_meta
        vals = (dm.groupBy(F.col(name).cast("string").alias("value"))
                .count().orderBy(F.desc("count"), "value")
                .limit(number + 1).collect())
        return {"fieldName": name,
                "type": dict(dm.dtypes)[name],
                "fieldValues": {r["value"]: r["count"]
                                for r in vals[:number]},
                "valueListComplete": len(vals) <= number}

    def parse_pattern(self, params: dict) -> dict:
        """patt → normalized AST string without executing (the
        parse-pattern debug operation)."""
        patt = self._str(params, "patt")
        if not patt:
            raise BlsError(400, "NO_PATTERN_GIVEN",
                           "Text search pattern required (patt)")
        from blacklab_spark.plans.parser import parse
        from blacklab_spark.plans.query import pattern_str
        from blacklab_spark.plans.rewrite import rewrite
        try:
            ast = parse(patt)
        except ValueError as e:
            raise BlsError(400, "PATT_SYNTAX_ERROR", str(e)) from None
        return {"patt": patt, "parsed": pattern_str(ast),
                "rewritten": pattern_str(rewrite(ast))}

    def cache_info(self) -> dict:
        """Serving-cache stats + per-operation request metrics
        (reference cache-info handler / BlsCache status +
        instrumentation module)."""
        c = self.engine.cache
        return {
            "cacheStatus": {"maxSize": c.maxsize,
                            "size": len(c._entries),
                            "hits": c.hits, "misses": c.misses},
            "requests": {op: {"count": m[0],
                              "totalMs": round(m[1], 1)}
                         for op, m in sorted(self._metrics.items())},
        }

    @staticmethod
    def _match_infos(row, omit_empty: bool):
        """Captured groups / relations of one hit → the BLS
        ``matchInfos`` entry (ResponseStreamer optMatchInfos;
        ``omitemptycaptures`` drops zero-length spans)."""
        if "match_info" not in row.__fields__:
            return None
        mi = row["match_info"]
        if not mi:
            return None
        out = {k: {"start": v["s"], "end": v["e"]}
               for k, v in sorted(mi.items())
               if not (omit_empty and v["s"] == v["e"])}
        return out or None

    def _orig_concordances(self, window: list, context: int,
                           omit_empty: bool = False) -> list:
        """Original-content concordances for one page of hits
        (Concordances.java / ``usecontent=orig``): the token context
        window mapped to character ranges of the stored content via
        the frozen tokenizer's run spans, one content read per unique
        doc in the page (driver-side, no Spark job)."""
        import re as _re

        from blacklab_spark.operators.tags import TAG_RE
        from blacklab_spark.tokenizer import py_token_spans
        tagged = "text_raw" in self.engine.index.doc_meta_stored
        col = "text_raw" if tagged else "text"
        docs = {}
        for r in self._page_docs([h["doc_id"] for h in window],
                                 ["conv_id", "turn_idx", col]).values():
            raw = r[col]
            basis = _re.sub(TAG_RE, lambda m: " " * len(m.group(0)),
                            raw) if tagged else raw
            docs[r["doc_id"]] = (raw, py_token_spans(basis),
                                 _pid(r["conv_id"], r["turn_idx"]))
        out = []
        for h in window:
            raw, spans, pid = docs[h["doc_id"]]
            n = len(spans)
            s, e = h["start"], h["end"]
            if not (0 <= s < e <= n):
                continue
            a, b = spans[s][0], spans[e - 1][1]
            lo = spans[max(0, s - context)][0]
            hi = spans[min(n, e + context) - 1][1]
            entry = {"docPid": pid, "start": s, "end": e,
                     "left": raw[lo:a], "match": raw[a:b],
                     "right": raw[b:hi]}
            mi = self._match_infos(h, omit_empty)
            if mi:
                entry["matchInfos"] = mi
            out.append(entry)
        return out

    def _kwic(self, window: list, context: int,
              omit_empty: bool = False) -> list:
        """Forward-index KWIC for one page of hits (Kwics.java): the
        left/match/right windows sliced from the page docs' stored @i
        token arrays, read on the driver (no Spark job). An index that
        stores no token array (format-v5 "none") tokenizes the docs'
        text as its derived ``tokens`` column does."""
        from blacklab_spark.tokenizer import py_tokens_insensitive
        stored = "tokens" in self.engine.index.doc_meta_stored
        docs = self._page_docs([h["doc_id"] for h in window],
                               ["conv_id", "turn_idx",
                                "tokens" if stored else "text"])
        for r in docs.values():
            r["tokens"] = (r["tokens"] if stored
                           else py_tokens_insensitive(r["text"])) or []
        out = []
        for h in window:
            d = docs.get(h["doc_id"])
            if d is None:
                continue
            toks, s, e = d["tokens"], h["start"], h["end"]
            entry = {
                "docPid": _pid(d["conv_id"], d["turn_idx"]),
                "start": s, "end": e,
                "left": {"word": toks[max(0, s - context):s]},
                "match": {"word": toks[s:e]},
                "right": {"word": toks[e:e + context]},
            }
            mi = self._match_infos(h, omit_empty)
            if mi:
                entry["matchInfos"] = mi
            out.append(entry)
        return out

    def _spark_kwic(self, window: list, context: int, field_b: bool,
                    annots: tuple, omit_empty: bool = False) -> list:
        """KWIC through ``operators.hits.kwic`` for what only its JVM
        expressions give: derived annotation layers (``listvalues=``)
        and the parallel field b."""
        from blacklab_spark.operators.hits import kwic
        spark = self.engine.index.spark
        wdf = spark.createDataFrame(
            [(r["doc_id"], r["start"], r["end"]) for r in window],
            "doc_id long, start int, end int")
        try:
            krows = kwic(self.engine.index, wdf, context,
                         field="b" if field_b else "a",
                         annotations=annots).collect()
        except ValueError as e:
            raise BlsError(400, "UNKNOWN_ANNOTATION",
                           str(e)) from None
        by_key = {(r["doc_id"], r["start"], r["end"]): r
                  for r in krows}
        out_hits = []
        for r in window:         # preserve the window's order
            k = by_key.get((r["doc_id"], r["start"], r["end"]))
            if k is None:
                continue
            entry = {
                "docPid": _pid(k["conv_id"], k["turn_idx"]),
                "start": k["start"], "end": k["end"],
                "left": {"word": list(k["left"])},
                "match": {"word": list(k["match"])},
                "right": {"word": list(k["right"])},
            }
            for a in annots:
                safe = "_" + a.replace("/", "_")
                for part in ("left", "match", "right"):
                    entry[part][a] = list(k[part + safe])
            mi = self._match_infos(r, omit_empty)
            if mi:
                entry["matchInfos"] = mi
            out_hits.append(entry)
        return out_hits

    def colloc(self, params: dict) -> dict:
        """``/hits?patt=...&calc=colloc`` (RequestHandlerHits calc
        branch): token frequencies around the pattern's hits, hit
        spans excluded — the reference's collocation response shape
        (test/data/saved-responses-integrated/colloc/*.json)."""
        hits = self._find(params)
        window = self._context_size(params)
        from blacklab_spark.operators.hits import collocations_from_hits
        rows = (collocations_from_hits(self.engine.index, hits, window)
                .orderBy("term").collect())
        return {"tokenFrequencies":
                {r["term"]: r["count"] for r in rows}}

    def hits(self, params: dict) -> dict:
        if self._str(params, "calc") == "colloc":
            return self.colloc(params)
        hits = self._find(params)
        # field/searchfield (parallel corpora): report hits in the
        # parallel field b by projecting the source-field hits over
        # the alignment relations (SpanQueryOtherFieldHits). The
        # pattern itself always runs on the source field — searching
        # field b directly goes through rfield()/==> in the pattern.
        field = self._str(params, "field", "contents")
        searchfield = self._str(params, "searchfield", "contents")
        if searchfield != "contents":
            raise BlsError(400, "ILLEGAL_ARGUMENT",
                           "the pattern is searched on the source "
                           "field; use rfield()/'==>'/relation syntax "
                           "in the pattern to search another field")
        if field not in ("contents", "contents__b"):
            raise BlsError(400, "ILLEGAL_ARGUMENT",
                           f"unknown field {field!r} "
                           "(have: contents, contents__b)")
        field_b = field == "contents__b"
        if field_b:
            # property keys (sort/group/hitfilter) compile against the
            # SOURCE field's token arrays — field-b coordinates would
            # silently read the wrong tokens, so reject the combo
            for p in ("group", "viewgroup", "sort", "hitfiltercrit"):
                if self._str(params, p) is not None:
                    raise BlsError(400, "ILLEGAL_ARGUMENT",
                                   f"{p}= is not supported with "
                                   "field=contents__b (property keys "
                                   "read the source field)")
            hits = self.engine.other_field(hits)
        first = self._int(params, "first", 0)
        number = self._int(params, "number", DEFAULT_PAGE_SIZE)
        context = self._context_size(params)
        group = self._str(params, "group")
        sort = self._str(params, "sort")
        search_param = {k: v[0] for k, v in params.items()}

        # sample before anything downstream (BLS samplenum/sampleseed:
        # HitsAbstract.sample; fraction-of-hits form)
        sample = self._str(params, "sample")
        if sample is not None:
            try:
                frac = float(sample) / 100.0
            except ValueError:
                raise BlsError(400, "ILLEGAL_ARGUMENT",
                               "sample must be a percentage") from None
            seed = self._int(params, "sampleseed", 42)
            hits = hits.sample(fraction=min(max(frac, 0.0), 1.0),
                               seed=seed)

        # samplenum: fixed-size sample (SampleParameters fixed-number
        # form); content-deterministic — hash-ordered top-n, so the
        # same subset at any partitioning or cluster size
        samplenum = self._int(params, "samplenum", 0)
        if samplenum > 0:
            seed = self._int(params, "sampleseed", 42)
            h = F.md5(F.concat_ws(
                "|", F.lit(str(seed)), F.col("doc_id").cast("string"),
                F.col("start").cast("string"),
                F.col("end").cast("string")))
            hits = (hits.withColumn("_smp", h).orderBy("_smp")
                    .limit(samplenum).drop("_smp"))

        # maxretrieve (SearchSettings.maxHitsToProcess analog): cap
        # how many hits are retrieved/processed at all; everything
        # downstream (sort, group, count) sees only these
        maxretrieve = self._int(params, "maxretrieve", 0)
        if maxretrieve > 0:
            hits = hits.limit(maxretrieve)

        # hitfiltercrit/hitfilterval (BLS HitsFiltered analog): keep
        # hits whose compiled property equals the value
        fcrit = self._str(params, "hitfiltercrit")
        fval = self._str(params, "hitfilterval")
        if fcrit is not None and fval is not None:
            from blacklab_spark.operators.properties import (
                _with_meta, compile_property)
            try:
                prop = compile_property(fcrit).cast("string")
            except ValueError as e:
                raise BlsError(400, "UNKNOWN_FILTER_PROPERTY",
                               str(e)) from None
            hits = (_with_meta(self.engine.index, hits)
                    .filter(prop == fval)
                    .select("doc_id", "start", "end"))

        viewgroup = self._str(params, "viewgroup")
        if group and viewgroup is not None:
            # view ONE group's hits (BLS viewgroup=): filter by the
            # same compiled property the grouping used, then fall
            # through to the ordinary windowed-hits response
            from blacklab_spark.operators.properties import (
                _parse_keys, _with_meta, compile_property)
            try:
                keys = _parse_keys(group)
                ident = F.concat_ws(":", *[
                    compile_property(k).cast("string")
                    for k, _ in keys])
            except ValueError as e:
                raise BlsError(400, "UNKNOWN_GROUP_PROPERTY",
                               str(e)) from None
            hits = (_with_meta(self.engine.index, hits)
                    .filter(ident == viewgroup)
                    .select("doc_id", "start", "end"))
            group = None

        if group:
            from blacklab_spark.operators.properties import (
                _DOC_BASED_HEADS, _parse_keys as _pk, group_hits,
                group_hits_subcorpus)
            # doc-based group keys get per-group subcorpus sizes +
            # relative frequency in the response (the BLS grouped
            # response's subcorpusSize {documents, tokens})
            try:
                doc_based = all(k.split(":")[0] in _DOC_BASED_HEADS
                                for k, _ in _pk(group))
                if doc_based:
                    # the subcorpus honors the request's doc filter,
                    # the same restriction the searched docs had
                    dm = self.engine.index.doc_meta
                    filt_col = self.engine._doc_filter(
                        filter=self._str(params, "filter"))
                    if filt_col is not None:
                        dm = dm.filter(filt_col)
                    g = group_hits_subcorpus(self.engine.index, hits,
                                             group, docs=dm)
                else:
                    g = group_hits(self.engine.index, hits, group)
            except ValueError as e:
                raise BlsError(400, "UNKNOWN_GROUP_PROPERTY",
                               str(e)) from None
            keys = [c for c in g.columns if c.startswith("key_")]
            # grouped results accept sort=size|identity (±) — the
            # HitGroupProperty{Size,Identity} pair; default: size desc
            ident_col = F.concat_ws(":", *[F.col(k).cast("string")
                                           for k in keys])
            gsort = sort or "-size"
            desc = gsort.startswith("-")
            gkey = gsort.lstrip("-")
            if gkey == "size":
                oc = F.col("count")
            elif gkey == "identity":
                oc = ident_col
            else:
                raise BlsError(400, "UNKNOWN_SORT_PROPERTY",
                               "grouped results sort by 'size' or "
                               "'identity' (optionally '-'-prefixed)")
            rows = (g.orderBy(oc.desc() if desc else oc.asc(), *keys)
                    .limit(first + number).collect()[first:])
            total = g.agg(F.sum("count"), F.count("*")).collect()[0]
            def _grp(r):
                d = {"identity": ":".join(str(r[k]) for k in keys),
                     "size": r["count"]}
                if doc_based:
                    d["subcorpusSize"] = {
                        "documents": r["subcorpus_docs"],
                        "tokens": int(r["subcorpus_tokens"])}
                    d["relativeFrequency"] = round(r["rel_freq"], 9)
                return d
            return {
                "summary": {"searchParam": search_param,
                            "numberOfHits": int(total[0] or 0),
                            "numberOfGroups": int(total[1])},
                "hitGroups": [_grp(r) for r in rows],
            }

        counted = hits
        # a local frame (a postings leaf or phrase decoded on the
        # driver) collects without a job: count and window its rows
        # here, one collect for both
        from blacklab_spark.operators.scoring import local_rows
        local = None if sort else local_rows(hits)
        if sort:
            from blacklab_spark.operators.properties import sort_hits
            try:
                hits = sort_hits(self.engine.index, hits, sort)
                window = hits.limit(first + number).collect()[first:]
            except ValueError as e:
                raise BlsError(400, "UNKNOWN_SORT_PROPERTY",
                               str(e)) from None
        elif local is not None:
            from blacklab_spark.operators.hits import window_rows
            window = window_rows(local, hits.columns, first, number)
        else:
            from blacklab_spark.operators.hits import window_hits
            window = window_hits(hits, first, number).collect()

        usecontent = self._str(params, "usecontent", "fi")
        if usecontent not in ("fi", "orig"):
            raise BlsError(400, "ILLEGAL_ARGUMENT",
                           "usecontent must be 'fi' (forward index) "
                           "or 'orig' (content store)")
        if field_b and usecontent == "orig":
            raise BlsError(400, "ILLEGAL_ARGUMENT",
                           "field contents__b has no content store; "
                           "usecontent=orig applies to the source "
                           "field only")
        omit_empty = self._bool(params, "omitemptycaptures")
        if usecontent == "orig":
            # concordances from the original content store instead of
            # forward-index KWIC (ConcordanceType.CONTENT_STORE;
            # left/match/right are original-text fragments, markup
            # included on tag-indexed builds)
            out_hits = self._orig_concordances(window, context,
                                               omit_empty)
        else:
            # listvalues (WebserviceParameter LIST_VALUES): further
            # annotation layers in the KWIC contexts, e.g.
            # listvalues=pos,lemma → match.pos / match.lemma arrays
            # (the reference returns all annotations by default and
            # narrows with listvalues; we default to word — the only
            # stored layer — and derive others on request)
            lv = self._str(params, "listvalues", "")
            annots = tuple(a for a in lv.split(",")
                           if a and a != "word")
            if annots or field_b:
                out_hits = self._spark_kwic(window, context, field_b,
                                            annots, omit_empty)
            else:
                out_hits = self._kwic(window, context, omit_empty)
        # numberOfHits and numberOfDocs come from one action; a count
        # cap is min(total, cap), what a limit-then-count returns
        def counts() -> tuple[int, int]:
            if local is not None:
                return len(local), len({r["doc_id"] for r in local})
            n, d = (counted.groupBy("doc_id").count()
                    .agg(F.sum("count"), F.count("*")).collect()[0])
            return int(n or 0), int(d)
        # the cached counts only match when the hit set wasn't
        # narrowed by sampling, property filtering, caps or viewgroup
        plain = (sample is None and samplenum == 0 and maxretrieve == 0
                 and viewgroup is None and fcrit is None
                 and not field_b and self._str(
                     params, "pattlang", "corpusql") == "corpusql")
        key = self.engine._cache_key(
            "hit_doc_counts", self._effective_patt(params),
            "filter", self._str(params, "filter")) if plain else None
        if key is None:
            n_hits, n_docs = counts()
        else:
            # usecache=no (USE_CACHE): bypass the result cache for
            # this request — compute fresh, store nothing
            import contextlib
            ctx = contextlib.nullcontext() \
                if self._str(params, "usecache", "yes").lower() \
                not in ("no", "false", "0", "off") \
                else self.engine.cache.bypass()
            with ctx:
                n_hits, n_docs = self.engine.cache.get_or(key, counts)
        maxcount = self._int(params, "maxcount", 0)
        cap = self.engine.settings.max_hits_to_count
        if maxcount > 0:
            # SearchSettings.maxHitsToCount, per request
            n_hits = min(n_hits, maxcount)
        elif plain and cap is not None:
            n_hits = min(n_hits, cap)
        summary = {
            "searchParam": search_param,
            "windowFirstResult": first,
            "requestedWindowSize": number,
            "actualWindowSize": len(out_hits),
            "numberOfHits": n_hits,
            "numberOfDocs": n_docs,
            "stillCounting": False,
            "stoppedRetrievingHits": bool(
                maxretrieve and n_hits >= maxretrieve),
            "stoppedCountingHits": bool(
                maxcount and n_hits >= maxcount),
        }
        if self._bool(params, "explain"):
            # QueryExplanation (BlackLabIndex.explain →
            # summary.explanation: original + rewritten pattern)
            if self._str(params, "pattlang",
                         "corpusql") != "corpusql":
                raise BlsError(400, "ILLEGAL_ARGUMENT",
                               "explain requires pattlang=corpusql")
            lines = self.engine.explain_cql(
                self._effective_patt(params)).splitlines()
            summary["explanation"] = {
                "originalQuery": lines[0].split(":", 1)[1].strip(),
                "rewrittenQuery": lines[1].split(":", 1)[1].strip(),
                "physical": lines[2:],
            }
        if self._bool(params, "includetokencount"):
            # tokensInMatchingDocuments (INCLUDE_TOKEN_COUNT)
            dm = self.engine.index.doc_meta.select("doc_id", "n_tokens")
            summary["tokensInMatchingDocuments"] = int(
                hits.select("doc_id").distinct().join(dm, "doc_id")
                .agg(F.sum("n_tokens")).collect()[0][0] or 0)
        return {
            "summary": summary,
            "hits": out_hits,
            "docInfos": self._doc_infos(
                sorted({r["doc_id"] for r in window}))[0],
        }

    def _doc_set(self, params: dict):
        """doc_id frame of the /docs result set (patt or filter)."""
        if self._str(params, "patt"):
            from blacklab_spark.operators.hits import docs_from_hits
            return docs_from_hits(self.engine.index,
                                  self._find(params)).select("doc_id")
        try:
            return self.engine.docs(
                filter=self._str(params, "filter")).select("doc_id")
        except ValueError as e:
            raise BlsError(400, "FILTER_SYNTAX_ERROR", str(e)) from None

    def doc_groups(self, params: dict) -> dict:
        """``/docs?group=field:...`` — DocGroups (DocProperty-keyed
        grouping, sizes only; DocResults.java:359)."""
        first = self._int(params, "first", 0)
        number = self._int(params, "number", DEFAULT_PAGE_SIZE)
        group = self._str(params, "group")
        fields = [g[len("field:"):] if g.startswith("field:") else g
                  for g in group.split(",")]
        dm = self.engine.index.doc_meta
        bad = [f for f in fields if f not in dm.columns]
        if bad:
            raise BlsError(400, "UNKNOWN_GROUP_PROPERTY",
                           f"unknown doc field(s) {bad}")
        dmf = dm.join(self._doc_set(params), "doc_id", "left_semi")
        key = F.concat_ws(":", *[F.col(f).cast("string")
                                 for f in fields])
        g = dmf.groupBy(key.alias("identity")).count()
        total = g.agg(F.sum("count"), F.count("*")).collect()[0]
        rows = (g.orderBy(F.desc("count"), "identity")
                .limit(first + number).collect()[first:])
        return {"summary": {"numberOfDocs": int(total[0] or 0),
                            "numberOfGroups": int(total[1])},
                "docGroups": [{"identity": r["identity"],
                               "size": r["count"]} for r in rows]}

    def _doc_sorted(self, d, sortp: str | None, has_hits: bool):
        """Apply the /docs ``sort=`` key (DocProperty analog:
        ``field:<name>``, ``numhits``, ``identity``; '-' prefix for
        descending — RequestHandlerDocs sort). Default: doc id."""
        if not sortp or sortp.lstrip("-") == "identity":
            return d.orderBy(F.col("doc_id").desc()
                             if (sortp or "").startswith("-")
                             else F.col("doc_id").asc())
        desc = sortp.startswith("-")
        key = sortp.lstrip("-")
        if key == "numhits":
            if not has_hits:
                raise BlsError(400, "UNKNOWN_SORT_PROPERTY",
                               "numhits sort needs a patt= query")
            col = F.col("n_hits")
        elif key.startswith("field:"):
            fld = key[len("field:"):]
            dm = self.engine.index.doc_meta
            if fld not in dm.columns:
                raise BlsError(400, "UNKNOWN_SORT_PROPERTY",
                               f"unknown doc field {fld!r}")
            if fld in d.columns:        # filter path: meta already there
                col = F.col(fld)
            else:                       # patt path: (doc_id, n_hits)
                d = d.join(dm.select("doc_id",
                                     F.col(fld).alias("_sk")),
                           "doc_id")
                col = F.col("_sk")
        else:
            raise BlsError(400, "UNKNOWN_SORT_PROPERTY",
                           f"unknown doc sort key {sortp!r}")
        return d.orderBy(col.desc() if desc else col.asc(), "doc_id")

    def _viewgroup_ids(self, group: str, viewgroup: str):
        """doc_id frame of ONE doc group (BLS viewgroup= on grouped
        /docs): the same concatenated field key doc_groups used."""
        fields = [g[len("field:"):] if g.startswith("field:") else g
                  for g in group.split(",")]
        dm = self.engine.index.doc_meta
        bad = [f for f in fields if f not in dm.columns]
        if bad:
            raise BlsError(400, "UNKNOWN_GROUP_PROPERTY",
                           f"unknown doc field(s) {bad}")
        key = F.concat_ws(":", *[F.col(f).cast("string")
                                 for f in fields])
        return dm.filter(key == viewgroup).select("doc_id")

    def docs(self, params: dict) -> dict:
        group = self._str(params, "group")
        viewgroup = self._str(params, "viewgroup")
        vg = None
        if group and viewgroup is not None:
            # narrow the doc set to one group BEFORE sort/window —
            # paging stays correct and the filter stays a semi-join
            vg = self._viewgroup_ids(group, viewgroup)
        elif group:
            return self.doc_groups(params)
        first = self._int(params, "first", 0)
        number = self._int(params, "number", DEFAULT_PAGE_SIZE)
        sortp = self._str(params, "sort")
        if self._str(params, "patt"):
            hits = self._find(params)
            from blacklab_spark.operators.hits import docs_from_hits
            d = docs_from_hits(self.engine.index, hits)
            if vg is not None:
                d = d.join(vg, "doc_id", "left_semi")
            rows = (self._doc_sorted(d, sortp, True)
                    .limit(first + number).collect()[first:])
            n = d.count()
            infos, pid_of = self._doc_infos([r["doc_id"] for r in rows])
            docs_out = [{"docPid": pid_of[r["doc_id"]],
                         "numberOfHits": r["n_hits"]} for r in rows]
        else:
            try:
                d = self.engine.docs(filter=self._str(params, "filter"))
            except ValueError as e:
                raise BlsError(400, "FILTER_SYNTAX_ERROR",
                               str(e)) from None
            if vg is not None:
                d = d.join(vg, "doc_id", "left_semi")
            rows = (self._doc_sorted(d, sortp, False)
                    .limit(first + number).collect()[first:])
            n = d.count()
            docs_out = [{"docPid": _pid(r["conv_id"], r["turn_idx"])}
                        for r in rows]
            infos, _ = self._doc_infos([r["doc_id"] for r in rows])
        out = {"summary": {"windowFirstResult": first,
                           "requestedWindowSize": number,
                           "numberOfDocs": n},
               "docs": docs_out, "docInfos": infos}
        fac = self._str(params, "facets")
        if fac:
            # BLS facets= multi-criteria counts over the SAME doc
            # result set (Facets.java:9-31; sizes only)
            from blacklab_spark.operators.properties import facets
            fields = [f[len("field:"):] if f.startswith("field:")
                      else f for f in fac.split(",")]
            dm = self.engine.index.doc_meta
            bad = [f for f in fields if f not in dm.columns]
            if bad:
                raise BlsError(400, "UNKNOWN_FACET_FIELD",
                               f"unknown facet field(s) {bad}")
            dmf = dm.join(d.select("doc_id"), "doc_id", "left_semi")
            out["facets"] = {
                f: [{"value": str(r["value"]), "size": r["count"]}
                    for r in fr.orderBy(F.desc("count"), "value")
                    .limit(50).collect()]
                for f, fr in facets(self.engine.index, dmf,
                                    fields).items()}
        return out

    def _doc_row(self, pid: str, cols: list[str]):
        conv_id, _, turn = pid.rpartition(":")
        try:
            turn_i = int(turn)
        except ValueError:
            raise BlsError(404, "DOC_NOT_FOUND",
                           f"malformed document pid {pid!r}") from None
        rows = self.engine.index.doc_meta.filter(
            (F.col("conv_id") == conv_id)
            & (F.col("turn_idx") == turn_i)).select(*cols).collect()
        if not rows:
            raise BlsError(404, "DOC_NOT_FOUND",
                           f"document {pid!r} not found")
        return rows[0]

    def doc_info(self, pid: str) -> dict:
        r = self._doc_row(pid, ["conv_id", "turn_idx", "role",
                                "n_tokens"])
        return {"docPid": pid, "docInfo": {
            "conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
            "role": r["role"], "lengthInTokens": r["n_tokens"]}}

    def doc_contents(self, pid: str, params: dict | None = None) -> str:
        """Content-store read-back (RequestHandlerDocContents serves
        the ORIGINAL stored content — for a tags=True build that is
        the pre-strip markup in ``text_raw``). With ``patt=``, this
        document's hits are wrapped in ``<hl>...</hl>`` at their
        character ranges (ResultDocContents → DocUtil.highlight*);
        ``wordstart``/``wordend`` cut the content to a token range,
        with the reference's boundary validation."""
        params = params or {}
        tagged = "text_raw" in self.engine.index.doc_meta.columns
        col = "text_raw" if tagged else "text"
        row = self._doc_row(pid, [col, "doc_id"])
        raw = row[col]

        ws = self._int(params, "wordstart", -1)
        we = self._int(params, "wordend", -1)
        patt = self._str(params, "patt")
        if ws == -1 and we == -1 and not patt:
            return raw
        if ws < -1 or we < -1 or (we >= 0 and we <= ws):
            raise BlsError(400, "ILLEGAL_BOUNDARIES",
                           "Illegal word boundaries specified. "
                           "Please check parameters.")

        # token → character-span map over the stored content; on a
        # tags build the indexed positions count tokens of the
        # STRIPPED text, so blank tags length-preservingly first
        # (a token can never start at '<' — operators/tags.py)
        import re as _re

        from blacklab_spark.operators.tags import TAG_RE
        from blacklab_spark.tokenizer import py_token_spans
        basis = _re.sub(TAG_RE, lambda m: " " * len(m.group(0)),
                        raw) if tagged else raw
        spans = py_token_spans(basis)
        n = len(spans)

        cutting = ws != -1 or we != -1
        ws_eff = max(ws, 0)
        we_eff = min(we if we != -1 else n, n)

        marks: list[tuple[int, str]] = []
        if patt:
            hits = (self._find(params)
                    .filter(F.col("doc_id") == row["doc_id"])
                    .select("start", "end").collect())
            for h in hits:
                if not (0 <= h["start"] < h["end"] <= n):
                    continue
                if cutting and not (ws_eff <= h["start"]
                                    and h["end"] <= we_eff):
                    continue  # only hits fully inside the cut window
                marks.append((spans[h["start"]][0], "<hl>"))
                marks.append((spans[h["end"] - 1][1], "</hl>"))
        # insert back-to-front so earlier offsets stay valid; at equal
        # offsets the closing tag ends up before the opening one
        for off, tag in sorted(marks,
                               key=lambda m: (m[0], m[1] != "</hl>"),
                               reverse=True):
            raw = raw[:off] + tag + raw[off:]

        if cutting:
            if ws_eff >= n or we_eff <= ws_eff:
                return ""
            lo = spans[ws_eff][0]
            hi = spans[we_eff - 1][1]
            # shift by tags inserted before each cut point: at the cut
            # start keep an opening tag inside the slice (skip only
            # closers), at the cut end keep a closer inside
            lo += sum(len(t) for o, t in marks
                      if o < lo or (o == lo and t == "</hl>"))
            hi += sum(len(t) for o, t in marks
                      if o < hi or (o == hi and t == "</hl>"))
            return raw[lo:hi]
        return raw

    def doc_snippet(self, pid: str, params: dict) -> dict:
        """KWIC snippet around an explicit hit span
        (RequestHandlerDocSnippet: hitstart/hitend/wordsaroundhit)."""
        hitstart = self._int(params, "hitstart", 0)
        hitend = self._int(params, "hitend", hitstart + 1)
        ctx = self._context_size(params)
        toks = list(self._doc_row(pid, ["tokens"])["tokens"])
        if not (0 <= hitstart <= hitend <= len(toks)):
            raise BlsError(400, "ILLEGAL_ARGUMENT",
                           f"hit [{hitstart},{hitend}) outside "
                           f"document ({len(toks)} tokens)")
        return {"docPid": pid,
                "left": {"word": toks[max(0, hitstart - ctx):hitstart]},
                "match": {"word": toks[hitstart:hitend]},
                "right": {"word": toks[hitend:hitend + ctx]}}

    def autocomplete(self, annotation: str, params: dict) -> list:
        """Prefix completion (RequestHandlerAutocomplete) over the
        terms dictionary (``word`` — @i, so the prefix folds the same
        way), a METADATA field's distinct values (the reference
        completes metadata fields too), or a derived annotation
        layer's values."""
        meta_fields = ("conv_id", "role", "tool")
        if annotation in meta_fields:
            prefix = self._str(params, "term")
            if not prefix:
                raise BlsError(400, "NO_TERM_GIVEN",
                               "autocomplete needs a term prefix (term)")
            number = self._int(params, "number", 30)
            rows = (self.engine.index.doc_meta
                    .select(F.col(annotation).cast("string")
                            .alias("v")).where(
                        F.col("v").startswith(prefix))
                    .distinct().orderBy("v").limit(number).collect())
            return [r["v"] for r in rows]
        from blacklab_spark.annotations import (ANNOTATION_COLUMNS,
                                                MULTI_VALUE_LAYERS,
                                                with_token_layers)
        if annotation in ANNOTATION_COLUMNS and annotation != "word":
            prefix = self._str(params, "term")
            if not prefix:
                raise BlsError(400, "NO_TERM_GIVEN",
                               "autocomplete needs a term prefix (term)")
            number = self._int(params, "number", 30)
            dm = with_token_layers(
                self.engine.index.doc_meta,
                ("pos",) if annotation.startswith("pos") else ())
            col = F.col(ANNOTATION_COLUMNS[annotation])
            if annotation in MULTI_VALUE_LAYERS:
                col = F.flatten(col)
            rows = (dm.select(F.explode(col).alias("v"))
                    .where(F.col("v").startswith(prefix))
                    .distinct().orderBy("v").limit(number).collect())
            return [r["v"] for r in rows]
        if annotation != "word":
            raise BlsError(400, "UNKNOWN_ANNOTATION",
                           f"unknown annotation or metadata field "
                           f"{annotation!r}")
        prefix = self._str(params, "term")
        if not prefix:
            raise BlsError(400, "NO_TERM_GIVEN",
                           "autocomplete needs a term prefix (term)")
        number = self._int(params, "number", 30)
        from blacklab_spark.tokenizer import py_fold_insensitive
        rows = (self.engine.index.terms
                .filter(F.col("term").startswith(
                    py_fold_insensitive(prefix)))
                .orderBy("term").limit(number).collect())
        return [r["term"] for r in rows]

    def termfreq(self, params: dict) -> dict:
        """Corpus-wide term frequencies (opTermFreq /
        WebserviceOperations.getTermFrequencies): ``annotation``
        selects the layer (+``sensitive`` → the @s word variant),
        ``filter`` restricts the doc set, ``terms`` restricts to an
        explicit comma-separated set (unpaginated, like the
        reference), ``first``/``number`` page the full list."""
        number = self._int(params, "number", DEFAULT_PAGE_SIZE)
        first = self._int(params, "first", 0)
        annot = self._str(params, "annotation", "word")
        if self._bool(params, "sensitive") and annot == "word":
            annot = "word_s"
        filt = self._str(params, "filter")
        terms_p = self._str(params, "terms")
        want = [t for t in terms_p.split(",") if t] if terms_p else None

        from blacklab_spark.annotations import (ANNOTATION_COLUMNS,
                                                MULTI_VALUE_LAYERS,
                                                with_token_layers)
        if annot not in ANNOTATION_COLUMNS:
            raise BlsError(400, "UNKNOWN_ANNOTATION",
                           f"unknown annotation {annot!r} "
                           f"(have: {sorted(ANNOTATION_COLUMNS)})")
        if annot == "word" and want is None and filt is None:
            # default layer, full list: the engine fast path
            tf = (self.engine.term_frequencies()
                  .orderBy(F.desc("count"), "term")
                  .limit(first + number).collect()[first:])
            return {"termFreq": {r["term"]: r["count"] for r in tf}}
        dm = self.engine.index.doc_meta
        if filt is not None:
            try:
                dm = dm.filter(self.engine._doc_filter(filter=filt))
            except ValueError as e:
                raise BlsError(400, "FILTER_SYNTAX_ERROR",
                               str(e)) from None
        dm = with_token_layers(
            dm, ("pos",) if annot.startswith("pos") else ())
        col = F.col(ANNOTATION_COLUMNS[annot])
        if annot in MULTI_VALUE_LAYERS:
            col = F.flatten(col)
        tfdf = (dm.select(F.explode(col).alias("term"))
                .groupBy("term").agg(F.count("*").alias("count")))
        if want is not None:
            # explicit term set: unpaginated (reference behavior)
            rows = (tfdf.filter(F.col("term").isin(want))
                    .orderBy(F.desc("count"), "term").collect())
        else:
            rows = (tfdf.orderBy(F.desc("count"), "term")
                    .limit(first + number).collect()[first:])
        return {"termFreq": {r["term"]: r["count"] for r in rows}}

    # ---- index management (write path) ------------------------------
    #: reference Index.isValidIndexName analog (no path tricks)
    _INDEX_NAME = re.compile(r"^[A-Za-z][A-Za-z0-9_-]{0,63}$")
    #: upload formats the add-data op accepts (text bodies only —
    #: parquet/iceberg arrive as tables, not uploads)
    UPLOAD_FORMATS = ("jsonl", "csv", "tsv", "xml", "conllu", "txt")

    def _require_writable(self) -> None:
        if not self.data_dir:
            raise BlsError(
                403, "NOT_AUTHORIZED",
                "server started without a writable data directory; "
                "index management is disabled")

    def _corpus_dir(self, name: str, version: int) -> str:
        return os.path.join(self.data_dir, name, f"v{version:05d}")

    def input_formats(self) -> dict:
        """RequestHandlerListInputFormats analog: the registered
        source formats (sources/files.py READERS ≙ the reference's 16
        *.blf.yaml DocIndexer formats) plus user-uploaded configs."""
        from blacklab_spark.sources.files import READERS
        out = {f: {"uploadable": f in self.UPLOAD_FORMATS,
                   "configurationBased": False}
               for f in sorted(READERS)}
        for name, cfg in sorted(self._user_formats.items()):
            out[name] = {"uploadable": True, "configurationBased": True,
                         "displayName": cfg.display_name,
                         "description": cfg.description}
        return {"supportedInputFormats": out}

    def _format_path(self, name: str) -> str:
        return os.path.join(self.data_dir, "_formats", f"{name}.json")

    def write_input_format(self, params: dict,
                           body: bytes | None) -> dict:
        """POST /input-formats with the JSON config as the ``data``
        form field or the raw request body — add or update a
        user-defined input format (RequestHandlerAddFormat; the
        reference's uploaded .blf.yaml ≙ our FormatConfig JSON)."""
        self._require_writable()
        from blacklab_spark.sources.formats import FormatConfig
        text = self._str(params, "data") or (
            body.decode("utf-8", "replace") if body else "")
        if not text:
            raise BlsError(
                400, "CANNOT_CREATE_INDEX",
                "Adding a format requires the config in the 'data' "
                "field or request body.")
        try:
            cfg = FormatConfig.from_json(text)
        except ValueError as e:
            raise BlsError(400, "ILLEGAL_ARGUMENT", str(e)) from None
        from blacklab_spark.sources.files import READERS
        if cfg.name in READERS:
            raise BlsError(400, "ILLEGAL_ARGUMENT",
                           f"format name {cfg.name!r} is a builtin "
                           "format and cannot be overridden")
        os.makedirs(os.path.join(self.data_dir, "_formats"),
                    exist_ok=True)
        with open(self._format_path(cfg.name), "w") as f:
            f.write(cfg.to_json())
        self._user_formats[cfg.name] = cfg
        return {"status": {"code": "SUCCESS",
                           "message": "Format added."}}

    def input_format_info(self, name: str) -> dict:
        """GET /input-formats/<name> (RequestHandlerListInputFormats
        per-format branch → formatInfoResponse): name, config file
        type and the stored config contents. Builtin formats are
        code-based, not configuration-based — NOT_FOUND, exactly the
        reference's rule for non-config formats
        (ResultInputFormat.java:20-22)."""
        cfg = self._user_formats.get(name)
        if cfg is None:
            from blacklab_spark.sources.files import READERS
            if name in READERS:
                raise BlsError(404, "NOT_FOUND",
                               f"Format '{name}' is not "
                               "configuration-based, and therefore "
                               "cannot be displayed.")
            raise BlsError(404, "NOT_FOUND",
                           f"Format '{name}' does not exist.")
        return {"formatName": cfg.name, "configFileType": "json",
                "configFile": cfg.to_json(),
                "displayName": cfg.display_name,
                "description": cfg.description}

    def input_format_xslt(self, name: str) -> str:
        """GET /input-formats/<name>/xslt — the generated display
        stylesheet for XML-based configs (WebserviceRequestHandler
        .opInputFormatXslt → XslGenerator)."""
        cfg = self._user_formats.get(name)
        if cfg is None:
            raise BlsError(404, "NOT_FOUND",
                           f"Format '{name}' does not exist.")
        try:
            return cfg.xslt()
        except ValueError as e:
            raise BlsError(404, "NOT_FOUND", str(e)) from None

    def delete_input_format(self, name: str) -> dict:
        """DELETE /input-formats/<name> (RequestHandlerDeleteFormat):
        only user-uploaded formats may be deleted."""
        self._require_writable()
        if name not in self._user_formats:
            from blacklab_spark.sources.files import READERS
            if name in READERS:
                # the reference answers BadRequest for non-user formats
                # (WebserviceOperations.deleteUserFormat)
                raise BlsError(400, "CANNOT_DELETE_INDEX",
                               f"Can only delete user formats, not "
                               f"builtin format '{name}'.")
            raise BlsError(404, "FORMAT_NOT_FOUND",
                           "Specified format was not found")
        in_use = [c for c, f in self._formats.items() if f == name]
        if in_use:
            raise BlsError(400, "CANNOT_DELETE_INDEX",
                           f"Format '{name}' is in use by corpora: "
                           f"{in_use}")
        os.unlink(self._format_path(name))
        del self._user_formats[name]
        return {"status": {"code": "SUCCESS",
                           "message": "Format deleted."}}

    def create_index(self, params: dict) -> dict:
        """POST / with ``name=`` + optional ``format=`` — an empty
        index is built immediately (IndexStatus.EMPTY), docs arrive
        via POST /<name>/docs (RequestHandlerCreateIndex)."""
        self._require_writable()
        name = self._str(params, "name")
        if not name or not self._INDEX_NAME.match(name):
            raise BlsError(400, "ILLEGAL_INDEX_NAME",
                           f"illegal index name {name!r}")
        if name in self._corpora:
            raise BlsError(400, "INDEX_ALREADY_EXISTS",
                           f"index {name!r} already exists")
        fmt = self._str(params, "format", "jsonl")
        if (fmt not in self.UPLOAD_FORMATS
                and fmt not in self._user_formats):
            raise BlsError(400, "UNKNOWN_INPUT_FORMAT",
                           f"unknown/non-uploadable format {fmt!r} "
                           f"(have: {list(self.UPLOAD_FORMATS)} + "
                           f"user formats {sorted(self._user_formats)})")
        from blacklab_spark.build import build_index
        from blacklab_spark.config import BuildConfig
        from blacklab_spark.sources.transcripts import TRANSCRIPT_SCHEMA
        spark = self.engine.index.spark
        out = self._corpus_dir(name, 0)
        build_index(spark, spark.createDataFrame([], TRANSCRIPT_SCHEMA),
                    out, BuildConfig())
        self._corpora[name] = SearchEngine.open(spark, out)
        self._status[name] = "empty"
        self._own.add(name)
        self._formats[name] = fmt
        return {"status": {"indexName": name, "status": "empty",
                           "format": fmt}}

    def add_to_index(self, body: bytes | None) -> dict:
        """POST /<corpus>/docs with a document body in the corpus's
        input format (RequestHandlerAddToIndex): the batch is indexed
        as a delta (append_delta — doc ids continue after the global
        max) and synchronously compacted into the next index version
        (≙ Lucene addDocument + merge), then the registry swaps to
        the merged index. Crash-safe: a failed compact leaves the old
        version + its deltas intact for retry."""
        self._require_writable()
        if self.corpus not in self._own:
            raise BlsError(403, "NOT_AUTHORIZED",
                           "can only add documents to indices created "
                           "through the API")
        if not body:
            raise BlsError(400, "NO_DATA_GIVEN", "request body required")
        import tempfile

        from blacklab_spark.delete import compact
        from blacklab_spark.streaming.ingest import append_delta
        from blacklab_spark.sources.files import read_transcripts
        spark = self.engine.index.spark
        fmt = self._formats.get(self.corpus, "jsonl")
        ucfg = self._user_formats.get(fmt)
        base = ucfg.base_format if ucfg is not None else fmt
        suffix = {"jsonl": ".jsonl", "csv": ".csv", "tsv": ".tsv",
                  "xml": ".xml", "conllu": ".conllu", "txt": ".txt"}[base]
        cur_dir = self.engine.index.path
        ver = int(os.path.basename(cur_dir)[1:])
        self._status[self.corpus] = "indexing"
        try:
            with tempfile.NamedTemporaryFile(
                    "wb", suffix=suffix, delete=False) as f:
                f.write(body)
                tmp = f.name
            try:
                batch = (ucfg.read(spark, tmp) if ucfg is not None
                         else read_transcripts(spark, tmp, fmt))
                n_new = batch.count()
                if n_new == 0:
                    raise BlsError(400, "NO_DATA_GIVEN",
                                   "body parsed to zero documents")
                append_delta(spark, cur_dir, batch)
                new_dir = self._corpus_dir(self.corpus, ver + 1)
                shutil.rmtree(new_dir, ignore_errors=True)
                compact(spark, cur_dir, new_dir)
            finally:
                os.unlink(tmp)
            self._corpora[self.corpus] = SearchEngine.open(spark, new_dir)
            self.engine = self._corpora[self.corpus]
            self._token_count.pop(self.corpus, None)
            shutil.rmtree(cur_dir, ignore_errors=True)
        except BlsError:
            self._status[self.corpus] = \
                "empty" if self.engine.index.n_docs == 0 else "available"
            raise
        except Exception as e:
            self._status[self.corpus] = \
                "empty" if self.engine.index.n_docs == 0 else "available"
            raise BlsError(500, "INTERNAL_ERROR",
                           f"error while indexing: {e}") from e
        self._status[self.corpus] = "available"
        return {"status": {"indexName": self.corpus,
                           "status": "available",
                           "documentsAdded": n_new,
                           "documentCount": self.engine.index.n_docs}}

    def delete_index(self) -> dict:
        """DELETE /<corpus> (RequestHandlerDeleteIndex; like the
        reference, only API-created indices may be deleted)."""
        self._require_writable()
        if self.corpus not in self._own:
            raise BlsError(403, "NOT_AUTHORIZED",
                           "can only delete indices created through "
                           "the API")
        shutil.rmtree(os.path.join(self.data_dir, self.corpus),
                      ignore_errors=True)
        name = self.corpus
        del self._corpora[name]
        del self._status[name]
        self._own.discard(name)
        self._formats.pop(name, None)
        self._token_count.pop(name, None)
        return {"status": {"indexName": name, "status": "deleted"}}

    def _shares_path(self, name: str) -> str:
        return os.path.join(self.data_dir, name, "shares.json")

    def sharing(self, params: dict, method: str) -> dict:
        """GET = list of users the corpus is shared with; POST with
        ``users[]`` = replace the list (RequestHandlerSharing; the
        list is persisted beside the index like the reference's
        IndexManager does — enforcement needs an auth layer this
        facade doesn't have, matching the reference's behavior when
        run without authentication)."""
        self._require_writable()
        if self.corpus not in self._own:
            raise BlsError(403, "NOT_AUTHORIZED",
                           "sharing applies to API-created indices")
        p = self._shares_path(self.corpus)
        if method == "POST":
            users = params.get("users[]", [])
            with open(p, "w") as f:
                json.dump(users, f)
            return {"status": {"code": "SUCCESS", "message":
                               "Index shared with specified user(s)."}}
        users = []
        if os.path.exists(p):
            with open(p) as f:
                users = json.load(f)
        return {"users[]": users}

    # ---- dispatch ----------------------------------------------------
    def handle(self, path: str, params: dict, method: str = "GET",
               body: bytes | None = None,
               content_type: str = "") -> tuple[int, str, str]:
        """→ (http status, content type, body)."""
        import time
        t0 = time.time()
        with self._lock:
            out = self._dispatch(path, params, method, body,
                                 content_type)
        parts = [p for p in path.split("/") if p]
        op = parts[2] if len(parts) > 2 else \
            ("corpus-info" if len(parts) == 2 else "server-info")
        if method != "GET":
            op = f"{method.lower()}:{op}"
        m = self._metrics.setdefault(op, [0, 0.0])
        m[0] += 1
        m[1] += (time.time() - t0) * 1000.0
        return out

    def _bind(self, name: str) -> bool:
        """Bind the request's corpus: ``self.engine``/``self.corpus``
        become the addressed registry entry for the rest of this
        (lock-serialized) dispatch. Always True — used as the first
        conjunct of the corpus-route conditions so every corpus path
        binds exactly once."""
        self.corpus = name
        self.engine = self._corpora[name]
        return True

    def _dispatch(self, path: str, params: dict, method: str = "GET",
                  reqbody: bytes | None = None,
                  content_type: str = "") -> tuple[int, str, str]:
        try:
            parts = [p for p in path.split("/") if p]
            if not parts or parts[0] != _PREFIX.strip("/"):
                raise BlsError(404, "UNKNOWN_OPERATION",
                               f"unknown path {path!r}")
            parts = parts[1:]
            is_docs_add = (method == "POST" and len(parts) == 2
                           and parts[1] == "docs")
            if (method == "POST" and reqbody and not is_docs_add
                    and "x-www-form-urlencoded" in content_type):
                # POST-as-GET with form params (the reference's
                # large-CQL-query escape hatch); the docs-add route
                # always takes the body as document data
                params = dict(params)
                params.update(parse_qs(reqbody.decode("utf-8")))
                reqbody = None
            if not parts:
                if method == "POST":
                    body = self.create_index(params)
                elif method != "GET":
                    raise BlsError(405, "METHOD_NOT_ALLOWED",
                                   f"{method} not allowed here")
                else:
                    body = self.server_info()
            elif parts[0] == "input-formats":
                if len(parts) == 1 and method == "POST":
                    body = self.write_input_format(params, reqbody)
                elif len(parts) == 1 and method == "GET":
                    body = self.input_formats()
                elif len(parts) == 2 and method == "DELETE":
                    body = self.delete_input_format(unquote(parts[1]))
                elif len(parts) == 2 and method == "GET":
                    body = self.input_format_info(unquote(parts[1]))
                elif (len(parts) == 3 and parts[2] == "xslt"
                      and method == "GET"):
                    return (200, "application/xml; charset=utf-8",
                            self.input_format_xslt(unquote(parts[1])))
                else:
                    raise BlsError(404, "UNKNOWN_OPERATION",
                                   f"unknown path {path!r}")
            elif parts[0] not in self._corpora:
                raise BlsError(404, "CANNOT_OPEN_INDEX",
                               f"unknown corpus {parts[0]!r}")
            elif (self._bind(parts[0]) and method == "DELETE"
                  and len(parts) == 1):
                body = self.delete_index()
            elif is_docs_add:
                body = self.add_to_index(reqbody)
            elif method not in ("GET", "POST"):
                raise BlsError(405, "METHOD_NOT_ALLOWED",
                               f"{method} not allowed on {path!r}")
            elif len(parts) == 1:
                body = self.corpus_info()
            elif parts[1] == "sharing" and len(parts) == 2:
                body = self.sharing(params, method)
            elif parts[1] == "status":
                body = self.status()
            elif parts[1] == "cache-info":
                body = self.cache_info()
            elif parts[1] == "cache-clear":
                self.engine.cache.clear()
                body = {"status": "cache cleared"}
            elif parts[1] == "relations":
                body = self.relations_info(params)
            elif parts[1] == "parse-pattern":
                body = self.parse_pattern(params)
            elif parts[1] == "fields" and len(parts) == 3:
                body = self.field_info(unquote(parts[2]), params)
            elif parts[1] == "hits":
                body = self.hits(params)
                if (self._str(params, "outputformat") == "csv"
                        and "tokenFrequencies" not in body):
                    return (200, "text/csv; charset=utf-8",
                            _hits_csv(body,
                                      self._bool(params, "csvsepline"),
                                      self._bool(params, "csvsummary")))
            elif parts[1] == "termfreq":
                body = self.termfreq(params)
            elif parts[1] == "autocomplete" and len(parts) == 3:
                body = self.autocomplete(unquote(parts[2]), params)
            elif parts[1] == "docs":
                if len(parts) == 2:
                    body = self.docs(params)
                    if self._str(params, "outputformat") == "csv":
                        return (200, "text/csv; charset=utf-8",
                                _docs_csv(body))
                elif len(parts) == 3:
                    body = self.doc_info(unquote(parts[2]))
                elif len(parts) == 4 and parts[3] == "contents":
                    return (200, "text/plain; charset=utf-8",
                            self.doc_contents(unquote(parts[2]),
                                              params))
                elif len(parts) == 4 and parts[3] == "snippet":
                    body = self.doc_snippet(unquote(parts[2]), params)
                else:
                    raise BlsError(404, "UNKNOWN_OPERATION",
                                   f"unknown path {path!r}")
            else:
                raise BlsError(404, "UNKNOWN_OPERATION",
                               f"unknown operation {parts[1]!r}")
        except BlsError as e:
            err = {"error": {"code": e.code, "message": e.message}}
            if self._str(params, "outputformat") == "xml":
                return (e.status, "application/xml; charset=utf-8",
                        _to_xml(err))
            return (e.status, "application/json", json.dumps(err))
        if self._str(params, "outputformat") == "xml":
            return (200, "application/xml; charset=utf-8",
                    _to_xml(body))
        return (200, "application/json", json.dumps(body))


_XML_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_.-]*$")
#: plural container → singular child element (BLS XML convention:
#: <hits><hit>…, <docs><doc>…, left/match/right word lists as <w>)
_XML_SINGULAR = {"hits": "hit", "docs": "doc", "hitGroups": "hitGroup",
                 "word": "w", "annotations": "annotation",
                 "metadataFields": "metadataField", "corpora": "corpus",
                 # autocomplete's body is a bare term list
                 "blacklabResponse": "term"}


def _xml_esc(s: str) -> str:
    return (str(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def _xml(tag: str, obj) -> str:
    """Recursive BLS-style XML rendering of a response tree."""
    if isinstance(obj, dict):
        if tag in ("left", "match", "right") and "word" in obj \
                and all(isinstance(v, list) for v in obj.values()):
            if set(obj) == {"word"}:
                # BLS KWIC convention: <match><w>tok</w>…</match> (the
                # annotation name lives on the w element, not a wrapper)
                return (f"<{tag}>"
                        + "".join(_xml("w", t) for t in obj["word"])
                        + f"</{tag}>")
            # multi-annotation KWIC (listvalues=): one <w> per token
            # carrying each annotation as a child element
            toks = ("<w>" + "".join(_xml(k, obj[k][i]) for k in obj)
                    + "</w>" for i in range(len(obj["word"])))
            return f"<{tag}>{''.join(toks)}</{tag}>"
        inner = []
        for k, v in obj.items():
            if _XML_NAME.match(str(k)):
                inner.append(_xml(str(k), v))
            else:   # e.g. docInfos keyed by pid, termFreq by term
                inner.append(f'<entry key="{_xml_esc(k)}">'
                             f'{_xml_body(v)}</entry>')
        return f"<{tag}>{''.join(inner)}</{tag}>"
    if isinstance(obj, list):
        child = _XML_SINGULAR.get(tag, tag)
        return (f"<{tag}>"
                + "".join(_xml(child, x) for x in obj) + f"</{tag}>")
    if obj is None:
        return f"<{tag}/>"
    if isinstance(obj, bool):
        return f"<{tag}>{'true' if obj else 'false'}</{tag}>"
    return f"<{tag}>{_xml_esc(obj)}</{tag}>"


def _xml_body(v) -> str:
    """Render a value without a wrapping element (entry contents)."""
    if isinstance(v, (dict, list)):
        return _xml("value", v)
    return _xml_esc(v) if v is not None else ""


def _to_xml(body) -> str:
    return ('<?xml version="1.0" encoding="utf-8" ?>'
            + _xml("blacklabResponse", body))


def _fill_gaps(template: str, tsv: str) -> list[str]:
    """GapFiller.parseGapQuery analog: split the CQL template on the
    ``@@`` gap marker, fill one query per TSV row (missing columns →
    empty, double quotes escaped), skip empty rows. The caller ORs the
    row-queries — the TextPatternOr the reference builds."""
    parts = template.split("@@")
    out = []
    for line in tsv.split("\n"):
        if not line.strip():
            continue
        vals = line.split("\t")
        q = parts[0]
        for i, tail in enumerate(parts[1:]):
            v = vals[i] if i < len(vals) else ""
            q += v.replace('"', '\\"') + tail
        out.append(q)
    return out


def _hits_csv(body: dict, sepline: bool = False,
              summary: bool = False) -> str:
    """Flat CSV of a hits (or grouped-hits) response window — the
    ResponseStreamer CSV analog (flat columns, word lists
    space-joined). ``sepline`` prepends the Excel separator
    declaration (WriteCsv.createHeader); ``summary`` appends
    summary.searchParam rows (addSummaryCsvCommon)."""
    import csv
    import io
    out = io.StringIO()
    if sepline:
        out.write("sep=,\n")
    w = csv.writer(out, lineterminator="\n")
    if "hitGroups" in body:
        w.writerow(["identity", "size"])
        for g in body["hitGroups"]:
            w.writerow([g["identity"], g["size"]])
    else:
        w.writerow(["docPid", "start", "end", "left_context",
                    "match", "right_context"])
        for h in body["hits"]:
            # context cells: token lists (usecontent=fi) joined, or
            # original-text fragments (usecontent=orig) as-is
            cells = [" ".join(h[k]["word"]) if isinstance(h[k], dict)
                     else h[k] for k in ("left", "match", "right")]
            w.writerow([h["docPid"], h["start"], h["end"], *cells])
    if summary:
        for k, v in body.get("summary", {}).get("searchParam",
                                                {}).items():
            w.writerow([f"summary.searchParam.{k}", v])
    return out.getvalue()


def _docs_csv(body: dict) -> str:
    """Flat CSV of a docs response window (RequestHandlerDocsCsv
    analog)."""
    import csv
    import io
    out = io.StringIO()
    w = csv.writer(out, lineterminator="\n")
    if "docGroups" in body:
        w.writerow(["identity", "size"])
        for g in body["docGroups"]:
            w.writerow([g["identity"], g["size"]])
        return out.getvalue()
    w.writerow(["docPid", "numberOfHits", "role", "lengthInTokens"])
    infos = body.get("docInfos", {})
    for d in body["docs"]:
        info = infos.get(d["docPid"], {})
        w.writerow([d["docPid"], d.get("numberOfHits", ""),
                    info.get("role", ""),
                    info.get("lengthInTokens", "")])
    return out.getvalue()


class BlsServer:
    """Threaded HTTP shell around :class:`BlsApp`."""

    def __init__(self, engine: SearchEngine, corpus: str = "corpus",
                 port: int = 0, data_dir: str | None = None):
        self.app = BlsApp(engine, corpus, data_dir=data_dir)
        app = self.app

        class Handler(BaseHTTPRequestHandler):
            def _serve(self, method: str):
                u = urlparse(self.path)
                n = int(self.headers.get("Content-Length") or 0)
                reqbody = self.rfile.read(n) if n else None
                status, ctype, body = app.handle(
                    u.path, parse_qs(u.query), method, reqbody,
                    self.headers.get("Content-Type") or "")
                data = body.encode("utf-8")
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_GET(self):          # noqa: N802 (http.server API)
                self._serve("GET")

            def do_POST(self):         # noqa: N802
                self._serve("POST")

            def do_DELETE(self):       # noqa: N802
                self._serve("DELETE")

            def log_message(self, *a):  # silence per-request stderr
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> int:
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
