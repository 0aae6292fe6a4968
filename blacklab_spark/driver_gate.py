"""Driver correctness-gate: paired (Spark query, DuckDB oracle SQL).

Each entry exercises a real engine operator (SURVEY.md §2) on the
driver's parquet tables at ``sf_dir`` — or on the deterministic
``micro`` transcript fixture embedded into the oracle SQL as a VALUES
CTE (the driver's DuckDB sees only the pre-registered testdata views,
so transcript-shaped checks carry their own data).

Float discipline (scores/similarities): both sides ORDER BY the
*exact* double score (ties → doc_id asc) for the top-k cut and for
rank assignment, then ROUND(score, 4) for the emitted value — the
same formula over the same integers yields bit-identical doubles in
both engines, and rounding absorbs any last-ulp libm drift.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.engine import SearchEngine
from blacklab_spark.shipping import ship as ensure_shipped
from blacklab_spark.sources.documents import documents_as_transcripts
from blacklab_spark.sources.transcripts import (TRANSCRIPT_SCHEMA,
                                                gen_multilingual_pandas,
                                                gen_transcripts_pandas)

K1, B = 1.2, 0.75

# --------------------------------------------------------------------
# cached engines (index built once per sf_dir / fixture, resumable)
# --------------------------------------------------------------------
_ENGINES: dict[str, SearchEngine] = {}


def _idx_root() -> str:
    """Cache root fingerprinted by engine version + format + tokenizer
    so stale indexes are never reused across code changes."""
    import hashlib
    import blacklab_spark
    from blacklab_spark.config import INDEX_FORMAT_VERSION, TOKENIZER_VERSION
    tag = hashlib.md5(f"{blacklab_spark.__version__}|{INDEX_FORMAT_VERSION}|"
                      f"{TOKENIZER_VERSION}".encode()).hexdigest()[:10]
    return f"/tmp/blacklab_idx_{tag}"
def _write_fixture_files(subdir: str, files: dict[str, str]) -> str:
    """Materialize a deterministic file fixture under the version-
    fingerprinted cache root; returns the directory."""
    src_dir = os.path.join(_idx_root(), subdir)
    os.makedirs(src_dir, exist_ok=True)
    for name, content in files.items():
        p = os.path.join(src_dir, name)
        if not os.path.exists(p):
            with open(p, "w", encoding="utf-8") as fh:
                fh.write(content)
    return src_dir


def docs_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    ensure_shipped(spark)
    key = os.path.abspath(sf_dir)
    if key not in _ENGINES:
        slug = re.sub(r"[^A-Za-z0-9.]+", "_", key)
        out = os.path.join(_idx_root(), f"docs{slug}")
        cfg = BuildConfig(block_size=128, bucket_size=1024)
        build_index(spark, documents_as_transcripts(spark, sf_dir), out,
                    cfg, resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def micro_engine(spark: SparkSession) -> SearchEngine:
    ensure_shipped(spark)
    key = "__micro__"
    if key not in _ENGINES:
        out = os.path.join(_idx_root(), "micro")
        pdf = gen_transcripts_pandas("micro", seed=42)
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
        build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                    out, cfg, resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def micro_delete_engine(spark: SparkSession) -> SearchEngine:
    """Micro fixture with one conversation tombstoned — the delete-
    visibility gate corpus (idempotent: re-deleting adds nothing).
    Tombstone semantics: results exclude the deleted docs but BM25
    stats stay the FULL corpus's until compaction (Lucene model) —
    the paired oracle filters only the final candidate set."""
    ensure_shipped(spark)
    key = "__micro_del__"
    if key not in _ENGINES:
        out = os.path.join(_idx_root(), "micro_del")
        pdf = gen_transcripts_pandas("micro", seed=42)
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
        build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                    out, cfg, resume=True)
        eng = SearchEngine.open(spark, out)
        from blacklab_spark.delete import delete_docs
        delete_docs(eng.index, "conv_id = 'conv00000'")
        _ENGINES[key] = eng
    return _ENGINES[key]


def synonym_engine(spark: SparkSession) -> SearchEngine:
    """Micro fixture indexed with word-layer synonym injection
    (BuildConfig.synonyms — the reference's posIncr-0 stacking on the
    word annotation, AnnotationWriter.java:233-311): every 'visa'
    position also indexes 'permit'."""
    ensure_shipped(spark)
    key = "__synonyms__"
    if key not in _ENGINES:
        out = os.path.join(_idx_root(), "synonyms")
        pdf = gen_transcripts_pandas("micro", seed=42)
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2,
                          synonyms={"visa": ["permit"]})
        build_index(spark, spark.createDataFrame(pdf,
                                                 schema=TRANSCRIPT_SCHEMA),
                    out, cfg, resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def preprocess_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Documents corpus built through a registered convert-and-tag
    preprocessor (BuildConfig.preprocess=('length_tagger',) —
    reference ConvertPlugin/TagPlugin/DocIndexerConvertAndTag): the
    toy tagger populates tokens_s/tokens_pos before stage 1, so the
    pre-annotated input mode stores its pos layer for [pos=...]."""
    ensure_shipped(spark)
    key = "__preprocess__" + os.path.abspath(sf_dir)
    if key not in _ENGINES:
        slug = re.sub(r"[^A-Za-z0-9.]+", "_", os.path.abspath(sf_dir))
        out = os.path.join(_idx_root(), f"prep{slug}")
        cfg = BuildConfig(block_size=128, bucket_size=1024,
                          preprocess=("length_tagger",))
        build_index(spark, documents_as_transcripts(spark, sf_dir),
                    out, cfg, resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def multi_engine(spark: SparkSession) -> SearchEngine:
    """Multilingual fixture engine — the tokenizer-v2 gate corpus."""
    ensure_shipped(spark)
    key = "__multi__"
    if key not in _ENGINES:
        out = os.path.join(_idx_root(), "multi")
        pdf = gen_multilingual_pandas(seed=42)
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
        build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                    out, cfg, resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def tagged_engine(spark: SparkSession) -> SearchEngine:
    """Micro fixture with deterministic inline markup — the tags-layer
    gate corpus (BuildConfig.tags=True: tag-stripped tokenization +
    the _spans artifact)."""
    from blacklab_spark.sources.transcripts import gen_tagged_pandas
    ensure_shipped(spark)
    key = "__tagged__"
    if key not in _ENGINES:
        out = os.path.join(_idx_root(), "tagged")
        pdf = gen_tagged_pandas(seed=42)
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2,
                          tags=True)
        build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                    out, cfg, resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def conllu_gate_engine(spark: SparkSession) -> SearchEngine:
    """Pre-annotated engine over the deterministic CoNLL-U fixture:
    read_conllu's JVM parse defines the token stream and the given
    UPOS/lemma layers (the reference's pre-tagged indexing mode,
    formats/conll-u.blf.yaml); the paired oracle re-parses the same
    file contents in pure Python."""
    from blacklab_spark.sources.files import read_conllu
    from blacklab_spark.sources.transcripts import gen_conllu_texts
    ensure_shipped(spark)
    key = "__conllu__"
    if key not in _ENGINES:
        src_dir = os.path.join(_idx_root(), "conllu_src")
        os.makedirs(src_dir, exist_ok=True)
        for name, content in gen_conllu_texts(seed=42).items():
            p = os.path.join(src_dir, name)
            if not os.path.exists(p):
                with open(p, "w", encoding="utf-8") as fh:
                    fh.write(content)
        out = os.path.join(_idx_root(), "conllu")
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
        build_index(spark, read_conllu(spark, src_dir), out, cfg,
                    resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def aligned_gate_engine(spark: SparkSession) -> SearchEngine:
    """Engine over the explicit-alignment parallel fixture
    (gen_aligned_rows): pre-tokenized field a, a GIVEN field-b token
    layer and an align_pairs edge list — the build stores the
    `_alignments` artifact and operators/parallel rides it instead of
    the derived 2:1 fusion."""
    from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                                   StructField, StructType)
    from blacklab_spark.sources.transcripts import gen_aligned_rows
    ensure_shipped(spark)
    key = "__aligned__"
    if key not in _ENGINES:
        out = os.path.join(_idx_root(), "aligned")
        rows = gen_aligned_rows(seed=42)
        pair = StructType([StructField("src", IntegerType()),
                           StructField("tgt", IntegerType())])
        schema = StructType([
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts_off", IntegerType()),
            StructField("tokens_s", ArrayType(StringType())),
            StructField("tokens_b", ArrayType(StringType())),
            StructField("align_pairs", ArrayType(pair)),
        ])
        df = spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"], r["role"], r["text"],
              r["tool"], r["ts_off"], r["tokens_s"], r["tokens_b"],
              r["align_pairs"]) for r in rows], schema) \
            .withColumn("ts", F.timestamp_seconds(
                F.lit(946684800) + F.col("ts_off"))).drop("ts_off")
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
        build_index(spark, df, out, cfg, resume=True)
        _ENGINES[key] = SearchEngine.open(spark, out)
    return _ENGINES[key]


def delta_engine(spark: SparkSession):
    """Micro corpus split across main (conv00000) + two deltas — the
    streaming query-time-merge gate corpus. Conversations are appended
    in conv_id order, so global doc ids (local id + recorded offset)
    equal the one-shot build's dense (conv_id, turn_idx) ids and the
    oracle can score the full corpus directly."""
    from blacklab_spark.streaming.ingest import (DeltaSearchEngine,
                                                 append_delta)
    ensure_shipped(spark)
    key = "__delta__"
    if key not in _ENGINES:
        out = os.path.join(_idx_root(), "delta_main")
        pdf = gen_transcripts_pandas("micro", seed=42)
        cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
        if not os.path.exists(os.path.join(out, "_index_meta.json")):
            build_index(spark, spark.createDataFrame(
                pdf[pdf.conv_id == "conv00000"], schema=TRANSCRIPT_SCHEMA),
                out, cfg, resume=True)
        for i, conv in enumerate(("conv00001", "conv00002")):
            append_delta(spark, out, spark.createDataFrame(
                pdf[pdf.conv_id == conv], schema=TRANSCRIPT_SCHEMA),
                cfg, f"d{i}")
        _ENGINES[key] = DeltaSearchEngine(spark, out)
    return _ENGINES[key]


# --------------------------------------------------------------------
# Spark-side output shaping
# --------------------------------------------------------------------
def _orig_doc_id(col: str = "conv_id") -> F.Column:
    # documents_as_transcripts encodes the original doc_id as doc%08d
    return F.substring(col, 4, 8).cast("long").alias("doc_id")


def fmt_topk_docs(df: DataFrame) -> DataFrame:
    return df.select("rank", _orig_doc_id(),
                     F.round("score", 4).alias("score"), "text")


def _rounded_rank_cut(df: DataFrame, k: int) -> DataFrame:
    """Re-rank and cut by (round(score,4) DESC, doc_id) — the same
    total order the oracle SQL uses. Exact-score ordering is not
    portable across engines: mathematically tied sums differ in the
    last ulp depending on aggregation order, and DuckDB's SUM order is
    unspecified. Rounded-order ties resolve by doc_id identically on
    both sides. The caller over-fetches (margin ≫ k) so the rounded
    cut can never pull in a doc the exact cut missed."""
    from pyspark.sql import Window
    w = Window.orderBy(F.desc(F.round("score", 4)), F.asc("doc_id"))
    return (df.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k))


def gate_topk_docs(eng: SearchEngine, terms: list[str], k: int,
                   mode: str = "wand", **filt) -> DataFrame:
    fetched = eng.topk(terms, k=max(200, 4 * k), mode=mode, **filt)         .drop("rank")
    return _rounded_rank_cut(fetched, k).select(
        "rank", _orig_doc_id(), F.round("score", 4).alias("score"), "text")


def gate_topk_micro(eng: SearchEngine, terms: list[str], k: int,
                    mode: str = "exhaustive", **filt) -> DataFrame:
    fetched = eng.topk(terms, k=max(200, 4 * k), mode=mode,
                       **filt).drop("rank")
    return _rounded_rank_cut(fetched, k).select(
        "rank", "conv_id", "turn_idx",
        F.round("score", 4).alias("score"), "text")


def with_conv(engine: SearchEngine, hits: DataFrame) -> DataFrame:
    meta = engine.index.doc_meta.select("doc_id", "conv_id", "turn_idx")
    return hits.join(meta, "doc_id")


# --------------------------------------------------------------------
# DuckDB oracle SQL builders
# --------------------------------------------------------------------
from blacklab_spark.tokenizer import duckdb_tokens_ci, duckdb_tokens_i

_DOC_TOKS = (f"toks AS (SELECT doc_id, {duckdb_tokens_i('text')} AS ts "
             "FROM documents)")
_DOC_POS = (_DOC_TOKS + ",\npos AS (SELECT doc_id, unnest(ts) AS tok, "
            "generate_subscripts(ts, 1) - 1 AS p FROM toks)")


def _score_expr(tf="tf.tf", dl="dl.dl") -> str:
    return (f"ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)) "
            f"* {tf} * {K1 + 1} / ({tf} + {K1} * (1 - {B} + {B} * {dl} / stats.avgdl))")


def bm25_docs_sql(terms: list[str], k: int = 10, lang: str | None = None) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    filt = f"AND d.lang = '{lang}'" if lang else ""
    return f"""
WITH {_DOC_TOKS},
dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok AS term, count(*) AS tf
       FROM (SELECT doc_id, unnest(ts) AS tok FROM toks)
       WHERE tok IN ({tl}) GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (SELECT tf.doc_id, sum({_score_expr()}) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id),
topk AS (SELECT s.doc_id, s.score
         FROM scored s JOIN documents d USING (doc_id)
         WHERE true {filt}
         ORDER BY round(s.score, 4) DESC, s.doc_id LIMIT {k})
SELECT CAST(row_number() OVER (ORDER BY round(t.score, 4) DESC, t.doc_id) AS INT) AS rank,
       t.doc_id, round(t.score, 4) AS score, d.text
FROM topk t JOIN documents d USING (doc_id)
"""


#: (conv_id, turn_idx, role, text) rows uploaded by the
#: server_index_lifecycle gate — the oracle tokenizes the same
#: literals in SQL.
_LIFECYCLE_ROWS = [
    ("lc00", 0, "user", "the visa application is very good"),
    ("lc00", 1, "assistant", "please search the visa table"),
    ("lc01", 0, "user", "a good browser search"),
    ("lc01", 1, "assistant", "visa visa and the table"),
    ("lc02", 0, "user", "python please and the visa"),
]


def lifecycle_cte() -> str:
    """The lifecycle upload rows as a VALUES CTE (token positions of
    the same literal texts the gate POSTs as JSONL)."""
    vals = ",\n  ".join(f"('{c}', {i}, '{t}')"
                        for c, i, _, t in _LIFECYCLE_ROWS)
    return (
        "lrows(conv_id, turn_idx, text) AS (VALUES\n  " + vals + "),\n"
        f"ltoks AS (SELECT conv_id, turn_idx, "
        f"{duckdb_tokens_i('text')} AS ts FROM lrows),\n"
        "lpos AS (SELECT conv_id, turn_idx, unnest(ts) AS tok, "
        "generate_subscripts(ts, 1) - 1 AS p FROM ltoks)"
    )


def micro_cte() -> str:
    """The micro transcript fixture as a VALUES CTE + dense doc ids
    (row_number over (conv_id, turn_idx) — the engine's id contract)."""
    return _transcript_cte(
        gen_transcripts_pandas("micro", seed=42))


def multi_cte() -> str:
    """The multilingual fixture as a VALUES CTE — non-ASCII text rides
    in plain UTF-8 string literals."""
    return _transcript_cte(gen_multilingual_pandas(seed=42))


def tagged_cte() -> str:
    """The tagged micro fixture (inline markup) as a VALUES CTE.
    ``tdocs.text`` carries the markup (= the engine's text_raw /
    content store); token CTEs tokenize the TAG-STRIPPED text, exactly
    like the build does."""
    from blacklab_spark.sources.transcripts import gen_tagged_pandas
    return _transcript_cte(gen_tagged_pandas(seed=42), strip_tags=True)


def _transcript_cte(pdf, strip_tags: bool = False) -> str:
    pdf = pdf.sort_values(["conv_id", "turn_idx"])
    vals = []
    for r in pdf.to_dict("records"):
        tool = f"'{r['tool']}'" if r["tool"] else "NULL"
        vals.append(f"('{r['conv_id']}', {r['turn_idx']}, '{r['role']}', "
                    f"'{r['text']}', {tool})")
    tok_src = "text"
    if strip_tags:
        from blacklab_spark.operators.tags import TAG_RE
        tok_src = f"regexp_replace(text, '{TAG_RE}', ' ', 'g')"
    return (
        "transcripts(conv_id, turn_idx, role, text, tool) AS (VALUES\n  "
        + ",\n  ".join(vals) + "),\n"
        "tdocs AS (SELECT CAST(row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT) AS doc_id, "
        "conv_id, CAST(turn_idx AS INT) AS turn_idx, role, text, tool FROM transcripts),\n"
        f"ttoks AS (SELECT doc_id, {duckdb_tokens_i(tok_src)} AS ts FROM tdocs),\n"
        "tpos AS (SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) - 1 AS p FROM ttoks)"
    )


def conllu_cte() -> str:
    """The CoNLL-U fixture as a token-position VALUES CTE, produced by
    an INDEPENDENT pure-Python parse of the same file contents the
    engine's JVM higher-order functions parse (parse_conllu_texts).
    ``word`` carries the engine's @i contract for pre-annotated input:
    fold(lower(FORM))."""
    from blacklab_spark.sources.transcripts import (gen_conllu_texts,
                                                    parse_conllu_texts)
    from blacklab_spark.tokenizer import py_fold_insensitive
    toks = parse_conllu_texts(gen_conllu_texts(seed=42))
    vals = ",\n  ".join(
        f"('{t['conv_id']}', {t['turn_idx']}, {t['p']}, "
        f"'{py_fold_insensitive(t['form'])}', '{t['lemma']}', "
        f"'{t['upos']}')" for t in toks)
    return ("cpos(conv_id, turn_idx, p, word, lemma, upos) AS (VALUES\n  "
            + vals + ")")


def _conllu_layer_sql(layer: str, value: str) -> str:
    return f"""
WITH {conllu_cte()}
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, CAST(p AS INT) AS start,
       CAST(p + 1 AS INT) AS "end"
FROM cpos WHERE {layer} = '{value}'
"""


def _conllu_deprel_sql(deprel: str, span: str = "full") -> str:
    """Oracle for the REAL-dependency-edge gates: the independent
    pure-Python parse of the CoNLL-U fixture's HEAD/DEPREL columns;
    one row per ``deprel`` edge reported as the full source+target
    span (the engine's RelMatch '_ -type-> _' span semantics, pinned
    by the synthetic-corpus relation gates), or at the source (head)
    token for ``span="source"`` (the span-mode adjust)."""
    from blacklab_spark.sources.transcripts import (gen_conllu_texts,
                                                    parse_conllu_texts)
    toks = parse_conllu_texts(gen_conllu_texts(seed=42))
    if span == "source":
        rows = [(t["conv_id"], t["turn_idx"], t["head"] - 1, t["head"])
                for t in toks
                if t["deprel"] == deprel and t["head"] and t["head"] > 0]
    else:
        rows = [(t["conv_id"], t["turn_idx"],
                 min(t["head"] - 1, t["p"]), max(t["head"], t["p"] + 1))
                for t in toks
                if t["deprel"] == deprel and t["head"] and t["head"] > 0]
    vals = ",\n  ".join(f"('{c}', {ti}, {s}, {e})"
                        for c, ti, s, e in sorted(rows))
    return f"""
WITH credges(conv_id, turn_idx, start, "end") AS (VALUES
  {vals})
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(start AS INT) AS start, CAST("end" AS INT) AS "end"
FROM credges
"""


def _aligned_stored_sql(w1: str, w2: str) -> str:
    """Oracle for the stored-alignment gate: independent pure-Python
    projection of phrase hits onto field b through the fixture's
    EXPLICIT reversal edges (j ↔ n-1-j). A 2-token hit [s, s+2)
    covers edges s and s+1 → target span [n-2-s, n-s); the derived
    2:1-fusion fallback would give [s//2, (s+3)//2) instead, so a
    hash match proves the stored artifact drove the engine."""
    from blacklab_spark.sources.transcripts import gen_aligned_rows
    out = []
    for r in gen_aligned_rows(seed=42):
        toks, n = r["tokens_s"], len(r["tokens_s"])
        for s in range(n - 1):
            if toks[s] == w1 and toks[s + 1] == w2:
                bs, be = n - 2 - s, n - s
                bt = " ".join(r["tokens_b"][bs:be])
                out.append((r["conv_id"], r["turn_idx"], bs, be, bt,
                            s, s + 2))
    vals = ",\n  ".join(
        f"('{c}', {ti}, {bs}, {be}, '{bt}', {a0}, {a1})"
        for c, ti, bs, be, bt, a0, a1 in sorted(out))
    return f"""
WITH aedges(conv_id, turn_idx, start, "end", b_text, a_start, a_end)
  AS (VALUES
  {vals})
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(start AS INT) AS start, CAST("end" AS INT) AS "end",
       b_text, CAST(a_start AS INT) AS a_start,
       CAST(a_end AS INT) AS a_end
FROM aedges
"""


def _synonym_injection_sql() -> str:
    """Oracle for word-layer synonym injection: '[word="permit"]'
    over the synonym engine must match every position whose PRIMARY
    token is 'visa' (the injected source) or natively 'permit'."""
    return f"""
WITH {micro_cte()}
SELECT d.conv_id, CAST(d.turn_idx AS INT) AS turn_idx,
       CAST(t.p AS INT) AS start, CAST(t.p + 1 AS INT) AS "end"
FROM tpos t JOIN tdocs d USING (doc_id)
WHERE t.tok = 'visa' OR t.tok = 'permit'
"""


def _lemma_multivalue_sql() -> str:
    """Oracle for the multi-value lemma gate: a position matches iff
    the literal token OR its deterministic stem equals the query value
    (mirrors annotations.lemma_values stacking)."""
    from blacklab_spark.annotations import duckdb_lemma_stem
    return f"""
WITH {multi_cte()}
SELECT d.conv_id, d.turn_idx, CAST(t.p AS INT) AS start,
       CAST(t.p + 1 AS INT) AS "end"
FROM tpos t JOIN tdocs d USING (doc_id)
WHERE t.tok = 'tre' OR {duckdb_lemma_stem('t.tok')} = 'tre'
"""


def _chat_turns_sql() -> str:
    """Oracle for read_chat: the independent pure-Python parse of the
    same .cha fixture, embedded as a VALUES CTE."""
    from blacklab_spark.sources.transcripts import (gen_chat_texts,
                                                    parse_chat_texts)
    rows = parse_chat_texts(gen_chat_texts(seed=42))
    vals = ",\n  ".join(
        f"('{t['conv_id']}', {t['turn_idx']}, '{t['role']}', "
        f"'{t['text']}', "
        f"{t['ts_ms'] if t['ts_ms'] is not None else t['turn_idx'] * 1000})"
        for t in rows)
    return f"""
WITH cturns(conv_id, turn_idx, role, text, ts_off) AS (VALUES
  {vals})
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, role, text,
       CAST(ts_off AS BIGINT) AS ts_off
FROM cturns
"""


def _token_layers_sql(gen, parse) -> str:
    """Oracle for a pre-annotated reader-parity gate: the independent
    parse of the same fixture as a VALUES CTE (per-position
    form/pos/lemma + turn text)."""
    rows = parse(gen(seed=42))
    vals = ",\n  ".join(
        f"('{t['conv_id']}', {t['turn_idx']}, {t['p']}, '{t['form']}', "
        f"'{t['pos']}', '{t['lemma']}', '{t['text']}')" for t in rows)
    return f"""
WITH ftoks(conv_id, turn_idx, p, form, pos, lemma, text) AS (VALUES
  {vals})
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx, CAST(p AS INT) AS p,
       form, pos, lemma, text
FROM ftoks
"""


def _folia_tokens_sql() -> str:
    from blacklab_spark.sources.transcripts import (gen_folia_texts,
                                                    parse_folia_texts)
    return _token_layers_sql(gen_folia_texts, parse_folia_texts)


def _reader_fixtures():
    from blacklab_spark.sources import transcripts as _st
    return [("wpl", _st.gen_wpl_texts, _st.parse_wpl_texts),
            ("frog", _st.gen_frog_texts, _st.parse_frog_texts),
            ("eaf", _st.gen_eaf_texts, _st.parse_eaf_texts),
            ("tcf", _st.gen_tcf_texts, _st.parse_tcf_texts),
            ("naf", _st.gen_naf_texts, _st.parse_naf_texts)]


def _tags_spans_all_sql() -> str:
    """Oracle for the tag-span layer: an independent relational
    formulation (depth-matching windows, operators/tags.py
    duckdb_tag_spans_cte) of the build's stack machine."""
    from blacklab_spark.operators.tags import duckdb_tag_spans_cte
    return f"""
WITH {tagged_cte()},{duckdb_tag_spans_cte()}
SELECT d.conv_id, d.turn_idx, t.tag, CAST(t.start AS INT) AS start,
       CAST(t."end" AS INT) AS "end", t.attrs
FROM tagspans t JOIN tdocs d USING (doc_id)
"""


def _tag_attr_sql(tag: str, key: str, val: str) -> str:
    from blacklab_spark.operators.tags import duckdb_tag_spans_cte
    return f"""
WITH {tagged_cte()},{duckdb_tag_spans_cte()}
SELECT d.conv_id, d.turn_idx, CAST(t.start AS INT) AS start,
       CAST(t."end" AS INT) AS "end"
FROM tagspans t JOIN tdocs d USING (doc_id)
WHERE t.tag = '{tag}'
  AND regexp_extract(t.attrs, '{key}\\s*=\\s*"([^"]*)"', 1) = '{val}'
"""


def _tag_edge_sql(word: str, tag: str) -> str:
    """Oracle for '<tag> "word"': the word's position must equal a
    stored tag span's start."""
    from blacklab_spark.operators.tags import duckdb_tag_spans_cte
    return f"""
WITH {tagged_cte()},{duckdb_tag_spans_cte()}
SELECT d.conv_id, d.turn_idx, CAST(a.p AS INT) AS start,
       CAST(a.p + 1 AS INT) AS "end"
FROM tpos a JOIN tdocs d ON d.doc_id = a.doc_id
WHERE a.tok = '{word}'
  AND EXISTS (SELECT 1 FROM tagspans t
              WHERE t.doc_id = a.doc_id AND t.tag = '{tag}'
                AND t.start = a.p)
"""


def _tag_within_sql(w1: str, w2: str, tag: str) -> str:
    from blacklab_spark.operators.tags import duckdb_tag_spans_cte
    return f"""
WITH {tagged_cte()},{duckdb_tag_spans_cte()}
SELECT d.conv_id, d.turn_idx, CAST(a.p AS INT) AS start,
       CAST(a.p + 2 AS INT) AS "end"
FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
JOIN tdocs d ON d.doc_id = a.doc_id
WHERE a.tok = '{w1}' AND b.tok = '{w2}'
  AND EXISTS (SELECT 1 FROM tagspans t
              WHERE t.doc_id = a.doc_id AND t.tag = '{tag}'
                AND t.start <= a.p AND t."end" >= a.p + 2)
"""


def bm25_micro_sql(terms: list[str], k: int = 10, role: str | None = None,
                   cte: str | None = None,
                   extra_where: str = "") -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    filt = f"AND d.role = '{role}'" if role else ""
    filt += f" {extra_where}" if extra_where else ""
    return f"""
WITH {cte or micro_cte()},
dl AS (SELECT doc_id, len(ts) AS dl FROM ttoks),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok AS term, count(*) AS tf
       FROM (SELECT doc_id, unnest(ts) AS tok FROM ttoks)
       WHERE tok IN ({tl}) GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (SELECT tf.doc_id, sum({_score_expr()}) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id),
topk AS (SELECT s.doc_id, s.score
         FROM scored s JOIN tdocs d USING (doc_id)
         WHERE true {filt}
         ORDER BY round(s.score, 4) DESC, s.doc_id LIMIT {k})
SELECT CAST(row_number() OVER (ORDER BY round(t.score, 4) DESC, t.doc_id) AS INT) AS rank,
       d.conv_id, d.turn_idx, round(t.score, 4) AS score, d.text
FROM topk t JOIN tdocs d USING (doc_id)
"""


def phrase_docs_sql(w1: str, w2: str) -> str:
    return f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tok = '{w1}' AND b.tok = '{w2}'
"""


def phrase_micro_within_sql(w1: str, w2: str, conv: str) -> str:
    return f"""
WITH {micro_cte()}
SELECT d.conv_id, d.turn_idx, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
JOIN tdocs d ON d.doc_id = a.doc_id
WHERE a.tok = '{w1}' AND b.tok = '{w2}' AND d.conv_id = '{conv}'
"""


def termfreq_sql(limit: int = 100) -> str:
    return f"""
WITH {_DOC_POS}
SELECT tok AS term, count(*) AS "count" FROM pos
GROUP BY 1 ORDER BY count(*) DESC, tok LIMIT {limit}
"""


def group_next_word_sql(term: str) -> str:
    return f"""
WITH {_DOC_POS}
SELECT b.tok AS group_key, count(*) AS "count"
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tok = '{term}' GROUP BY 1
"""


def collocations_sql(term: str, window: int) -> str:
    return f"""
WITH {_DOC_POS}
SELECT b.tok AS term, count(*) AS "count"
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
     AND b.p BETWEEN a.p - {window} AND a.p + {window} AND b.p != a.p
WHERE a.tok = '{term}' GROUP BY 1
"""


def collocations_hits_sql(w1: str, w2: str, window: int) -> str:
    """Oracle for hits-based collocations (/hits?calc=colloc): context
    token frequencies around the phrase's width-2 spans, the whole hit
    span excluded (Contexts.java:247-292 over a pattern's hits)."""
    return f"""
WITH {_DOC_POS},
anchor AS (SELECT a.doc_id, a.p AS s, a.p + 2 AS e
           FROM pos a JOIN pos b ON a.doc_id = b.doc_id
                AND b.p = a.p + 1
           WHERE a.tok = '{w1}' AND b.tok = '{w2}')
SELECT c.tok AS term, count(*) AS "count"
FROM anchor h JOIN pos c ON c.doc_id = h.doc_id
     AND c.p BETWEEN h.s - {window} AND h.e - 1 + {window}
     AND (c.p < h.s OR c.p >= h.e)
GROUP BY 1
"""


def spans_containing_sql(term: str, n: int) -> str:
    return f"""
WITH {_DOC_POS},
dl AS (SELECT doc_id, len(ts) AS n FROM toks)
SELECT DISTINCT d.doc_id, CAST(g.s AS INT) AS start, CAST(g.s + {n} AS INT) AS "end"
FROM dl d
CROSS JOIN (SELECT unnest(generate_series(0, 100000)) AS s) g
JOIN pos p ON p.doc_id = d.doc_id AND p.tok = '{term}'
          AND p.p >= g.s AND p.p < g.s + {n}
WHERE g.s + {n} <= d.n
"""


def cql_gap_sql(w1: str, w2: str) -> str:
    return f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 3 AS INT) AS "end"
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 2
WHERE a.tok = '{w1}' AND b.tok = '{w2}'
"""


def kwic_sql(term: str, ctx: int) -> str:
    return f"""
WITH {_DOC_POS},
t2 AS (SELECT doc_id, ts FROM toks)
SELECT p.doc_id, CAST(p.p AS INT) AS start, CAST(p.p + 1 AS INT) AS "end",
       coalesce(array_to_string(ts[greatest(1, p.p - {ctx} + 1):p.p], ' '),
                '') AS left_ctx,
       ts[p.p + 1] AS match,
       coalesce(array_to_string(
                ts[p.p + 2:least(len(ts), p.p + 1 + {ctx})], ' '), '')
         AS right_ctx
FROM pos p JOIN t2 USING (doc_id)
WHERE p.tok = '{term}'
"""


def window_sql(term: str, first: int, size: int) -> str:
    return f"""
WITH {_DOC_POS},
h AS (SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end",
             row_number() OVER (ORDER BY doc_id, p) AS rn
      FROM pos WHERE tok = '{term}')
SELECT doc_id, start, "end" FROM h
WHERE rn > {first} AND rn <= {first + size}
"""


def pos_layer_sql(tag: str) -> str:
    from blacklab_spark.annotations import duckdb_pos_tags
    return f"""
WITH {_DOC_TOKS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
ppos AS (SELECT doc_id, unnest(ps) AS tag,
                generate_subscripts(ps, 1) - 1 AS p FROM posl)
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM ppos WHERE tag = '{tag}'
"""


def _subannotation_sql(coarse: str) -> str:
    from blacklab_spark.annotations import (duckdb_pos_coarse,
                                            duckdb_pos_tags)
    return f"""
WITH {_DOC_TOKS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
coarsel AS (SELECT doc_id, {duckdb_pos_coarse('ps')} AS cs FROM posl),
cpos AS (SELECT doc_id, unnest(cs) AS tag,
                generate_subscripts(cs, 1) - 1 AS p FROM coarsel)
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM cpos WHERE tag = '{coarse}'
"""


def rel_adjacent_sql(tag_a: str, tag_b: str, start_off: int,
                     end_off: int, target_word: str | None = None) -> str:
    """Oracle for the adjacency-rule relation grammar
    (operators/relations.py): edges where pos[p]=tag_a and
    pos[p+1]=tag_b, reported as [p+start_off, p+end_off). With
    ``target_word`` the edge's target token (at p+1) must equal it —
    the ``[] -type-> "word"`` operand join."""
    from blacklab_spark.annotations import duckdb_pos_tags
    word_join = word_cond = ""
    if target_word is not None:
        word_join = ("JOIN pos w ON w.doc_id = a.doc_id "
                     "AND w.p = a.p + 1")
        word_cond = f"AND w.tok = '{target_word}'"
    return f"""
WITH {_DOC_POS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
ppos AS (SELECT doc_id, unnest(ps) AS tag,
                generate_subscripts(ps, 1) - 1 AS p FROM posl)
SELECT a.doc_id, CAST(a.p + {start_off} AS INT) AS start,
       CAST(a.p + {end_off} AS INT) AS "end"
FROM ppos a JOIN ppos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
{word_join}
WHERE a.tag = '{tag_a}' AND b.tag = '{tag_b}' {word_cond}
"""


def _rcapture_sql() -> str:
    """Oracle for rcapture([]{5,5}, 'rels', 'det'): one row per
    (5-gram, det relation fully inside it)."""
    from blacklab_spark.annotations import duckdb_pos_tags
    return f"""
WITH {_DOC_POS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
ppos AS (SELECT doc_id, unnest(ps) AS tag,
                generate_subscripts(ps, 1) - 1 AS p FROM posl),
det AS (SELECT a.doc_id, a.p AS s, a.p + 2 AS e
        FROM ppos a JOIN ppos b
          ON a.doc_id = b.doc_id AND b.p = a.p + 1
        WHERE a.tag = 'func' AND b.tag = 'noun'),
lens AS (SELECT doc_id, len(ts) AS n FROM toks),
grams AS (SELECT doc_id, unnest(range(0, n - 4)) AS gs
          FROM lens WHERE n >= 5)
SELECT g.doc_id, CAST(g.gs AS INT) AS start,
       CAST(g.gs + 5 AS INT) AS "end",
       CAST(d.s AS INT) AS rel_start, CAST(d.e AS INT) AS rel_end
FROM grams g JOIN det d
  ON d.doc_id = g.doc_id AND d.s >= g.gs AND d.e <= g.gs + 5
"""


def _root_relation_sql() -> str:
    """Oracle for '^--> [pos="noun"]': every non-empty doc has one
    root relation at [0,1); it matches iff the first token is a
    noun."""
    from blacklab_spark.annotations import duckdb_pos_tags
    return f"""
WITH {_DOC_TOKS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks)
SELECT doc_id, CAST(0 AS INT) AS start, CAST(1 AS INT) AS "end"
FROM posl WHERE len(ps) >= 1 AND ps[1] = 'noun'
"""


def _neg_relation_sql() -> str:
    """Oracle for '[pos="func"] !-det-> [pos="noun"]': func positions
    with NO det edge to a noun — in the adjacency grammar, func
    tokens whose following tag isn't noun (or that are doc-final)."""
    from blacklab_spark.annotations import duckdb_pos_tags
    return f"""
WITH {_DOC_TOKS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
ppos AS (SELECT doc_id, unnest(ps) AS tag,
                generate_subscripts(ps, 1) - 1 AS p,
                len(ps) AS n FROM posl)
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 1 AS INT) AS "end"
FROM ppos a LEFT JOIN ppos b
  ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tag = 'func' AND (b.p IS NULL OR b.tag <> 'noun')
"""


def _rcapture2_sql() -> str:
    """Oracle for rcapture2(A:[]{2,2} [], "A", "rels", "det"): 3-gram
    windows [s, s+3) whose FIRST TWO tokens hold a det edge —
    pos[s]=func, pos[s+1]=noun — reported with the captured relation
    span [s, s+2)."""
    from blacklab_spark.annotations import duckdb_pos_tags
    return f"""
WITH {_DOC_TOKS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
ppos AS (SELECT doc_id, unnest(ps) AS tag,
                generate_subscripts(ps, 1) - 1 AS p,
                len(ps) AS n FROM posl)
SELECT a.doc_id, CAST(a.p AS INT) AS start,
       CAST(a.p + 3 AS INT) AS "end",
       CAST(a.p AS INT) AS rel_start, CAST(a.p + 2 AS INT) AS rel_end
FROM ppos a JOIN ppos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
WHERE a.tag = 'func' AND b.tag = 'noun' AND a.p + 3 <= a.n
"""


def _noun3_sql(start_off: int, end_off: int) -> str:
    """Oracle for the multi-branch relation operators: positions j
    with nouns at j-1, j and j+1 are exactly the spans sourcing BOTH
    an nmod and an nn edge (operators/relations.py grammar), reported
    as [j+start_off, j+end_off)."""
    from blacklab_spark.annotations import duckdb_pos_tags
    return f"""
WITH {_DOC_TOKS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
ppos AS (SELECT doc_id, unnest(ps) AS tag,
                generate_subscripts(ps, 1) - 1 AS p FROM posl)
SELECT a.doc_id, CAST(a.p + {start_off} AS INT) AS start,
       CAST(a.p + {end_off} AS INT) AS "end"
FROM ppos a
JOIN ppos l ON l.doc_id = a.doc_id AND l.p = a.p - 1
JOIN ppos r ON r.doc_id = a.doc_id AND r.p = a.p + 1
WHERE a.tag = 'noun' AND l.tag = 'noun' AND r.tag = 'noun'
"""


_FIELD_B_CTE = (
    "tb AS (SELECT doc_id, list_transform("
    "generate_series(0, CAST(ceil(len(ts) / 2.0) AS INT) - 1), "
    "j -> CASE WHEN 2*j + 2 <= len(ts) "
    "THEN ts[2*j + 1] || '_' || ts[2*j + 2] "
    "ELSE ts[2*j + 1] END) AS tsb FROM toks)")


def parallel_other_field_sql(w1: str, w2: str) -> str:
    """Oracle for other-field projection (operators/parallel.py):
    with total 2:1 alignment, source span [s,e) projects to
    [s//2, (e+1)//2); b_text slices the derived field-b tokens."""
    return f"""
WITH {_DOC_POS},
{_FIELD_B_CTE},
h AS (SELECT a.doc_id, a.p AS s, a.p + 2 AS e
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      WHERE a.tok = '{w1}' AND b.tok = '{w2}')
SELECT h.doc_id, CAST(h.s // 2 AS INT) AS start,
       CAST((h.e + 1) // 2 AS INT) AS "end",
       array_to_string(tb.tsb[h.s // 2 + 1:(h.e + 1) // 2], ' ') AS b_text,
       CAST(h.s AS INT) AS a_start, CAST(h.e AS INT) AS a_end
FROM h JOIN tb USING (doc_id)
"""


def parallel_cross_field_sql(word: str, target_substr: str) -> str:
    """Oracle for the cross-field alignment operator: a single-token
    source hit at p is covered by exactly one alignment edge
    (p//2 → [p//2, p//2+1)), so it survives iff that target token
    matches the target pattern."""
    return f"""
WITH {_DOC_POS},
{_FIELD_B_CTE}
SELECT p.doc_id, CAST(p.p AS INT) AS start, CAST(p.p + 1 AS INT) AS "end",
       CAST(p.p // 2 AS INT) AS b_start, CAST(p.p // 2 + 1 AS INT) AS b_end
FROM pos p JOIN tb USING (doc_id)
WHERE p.tok = '{word}' AND tb.tsb[p.p // 2 + 1] LIKE '%{target_substr}%'
"""


def pos_word_seq_sql(tag: str, word: str) -> str:
    from blacklab_spark.annotations import duckdb_pos_tags
    return f"""
WITH {_DOC_POS},
posl AS (SELECT doc_id, {duckdb_pos_tags('ts')} AS ps FROM toks),
ppos AS (SELECT doc_id, unnest(ps) AS tag,
                generate_subscripts(ps, 1) - 1 AS p FROM posl)
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM ppos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tag = '{tag}' AND b.tok = '{word}'
"""


def term_positions_sql(term: str) -> str:
    return f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE tok = '{term}'
"""


def regex_positions_sql(pattern: str) -> str:
    return f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE regexp_full_match(tok, '{pattern}')
"""


def group_subcorpus_sql(term: str) -> str:
    """Oracle for grouped hits with subcorpus sizes: hits of ``term``
    grouped by the language field; each group carries the docs/tokens
    of ALL docs with that language (hits or not) + the relative
    frequency (BLS grouped-response subcorpusSize semantics).

    ``rel_freq_e9`` is the frequency scaled by 1e9 and computed with
    EXACT integer division on both engine and oracle sides — a
    ``round(count/tokens, 9)`` double is build-dependent at last-ulp
    boundaries (it cost a green row in round 3 despite identical
    logic on both sides)."""
    return f"""
WITH {_DOC_POS},
sub AS (SELECT d.lang, count(*) AS subcorpus_docs,
               CAST(sum(len(t.ts)) AS BIGINT) AS subcorpus_tokens
        FROM documents d JOIN toks t USING (doc_id) GROUP BY 1),
grp AS (SELECT d.lang, count(*) AS "count"
        FROM pos h JOIN documents d USING (doc_id)
        WHERE h.tok = '{term}' GROUP BY 1)
SELECT g.lang, g."count", s.subcorpus_docs, s.subcorpus_tokens,
       CAST((g."count" * 1000000000) // s.subcorpus_tokens AS BIGINT)
           AS rel_freq_e9
FROM grp g JOIN sub s USING (lang)
"""


def docs_grouped_sql(term: str) -> str:
    return f"""
WITH {_DOC_TOKS}
SELECT d.source AS group_key, count(*) AS "count"
FROM documents d JOIN toks USING (doc_id)
WHERE list_contains(toks.ts, '{term}')
GROUP BY 1
"""


# --------------------------------------------------------------------
# the paired query set
# --------------------------------------------------------------------
#: Registry order = driver execution order, and the driver runs a
#: PREFIX of the registry (r03 executed the first 50 of 120 gates).
#: This list front-loads one strongest witness per SURVEY §2.A/§2.B
#: component (r3 VERDICT #7) — §2.A rows 1-29 first, then §2.B's 18
#: result ops, then one representative each for §2.C build / §2.D
#: streaming and the LLM-pipeline families; everything not named
#: keeps its original relative order after these.
_GATE_PRIORITY = [
    # ~40 fixed §2 witnesses (one per SURVEY §2.A/§2.B row), then 10
    # rotation slots for the LLM-pipeline/§2.D family (r4 VERDICT #4:
    # the r4 prefix held 50 §2 rows and pushed every pipeline gate out
    # of driver verification; r5 rotates the prescribed 10 back in).
    # Demoted-but-still-registered §2 second witnesses (sweep-covered)
    # follow right after the prefix.
    # §2.A span/query operators (one witness per row)
    "cql_term_postings",          # 1 term lookup
    "cql_regex_postings",         # 2 regex (fuzzy: demoted 2nd witness)
    "cql_gap_phrase",             # 3 any-token gaps + 11 expansion
    "spans_fixed_span",           # 5 fixed span
    "cql_or_terms",               # 6 OR
    "cql_and_same_span",          # 7 AND
    "cql_and_not_span",           # 8 AND-NOT
    "cql_not_token",              # 9 NOT
    "phrase_hits",                # 10 sequence
    "cql_repetition_unbounded",   # 12 repetition
    "spans_containing_trigram",   # 13 position filters
    "cql_overlap_keyword",        # 14 overlapping
    "spans_filter_ngrams",        # 15 filter-n-grams
    "spans_edge_trailing",        # 16 edge
    "cql_capture_group",          # 17 capture
    "cql_constraint_samewords",   # 18 global constraint
    "cql_constraint_function",    # 18 constraint function registry
    "bm25_topk_filtered_lang",    # 21 filter by doc set
    "hits_filter_by_length",      # 22 length filter
    "cql_force_fiseq",            # 23 forward-index strategy
    "tags_spans_all",             # 24 tags
    "conllu_deprel_relations",    # 25 relations (REAL stored edges)
    "parallel_stored_alignment",  # 26 parallel (REAL stored edges)
    "cql_sensitivity_flags",      # 27 default value / settings
    "bm25_topk_multi",            # 28/29 bucketed WAND, two-phase
    # §2.B result-set operators
    "hits_window_page2",
    "hits_sample_deterministic",
    "sort_hits_property_dsl",
    "group_hits_by_next_word",
    "group_hits_subcorpus_lang",  # r3/r4 red row; oracle HUGEINT cast
    "term_frequencies_top100",
    "hit_group_stats",
    "hits_to_docs",
    "docs_grouped_by_source",
    "facets_by_lang",
    "collocations_window5",
    "kwic_spark_ctx3",
    "content_store_roundtrip",
    "luceneql_docs_filter",
    "contextql_contents_and_meta",
    # r5 rotation slots: LLM-pipeline + §2.D driver witnesses
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "embedding_near_pairs_lsh",
    "embedding_cosine_topk_ivf",
    "curation_decontaminate",
    "curation_mixture_sample",
    "sequence_pack_greedy",
    "streaming_delta_topk",
    "events_sessionize",
    # --- end of the ~50-row driver prefix ---
    # round-5 convert-and-tag plugin witness (r4 VERDICT #7) — first
    # past the prefix so a time-budgeted driver run picks it up next
    "preprocess_length_tagger",
    # demoted §2 second witnesses (each row above keeps one)
    "cql_fuzzy_term",             # 2 fuzzy
    "cql_force_postings",         # 23 strategy-pinned pair
    "relations_det_target",       # 25 synthetic-grammar fallback
    "parallel_other_field_hits",  # 26 fallback edges
    "bm25_topk_single",           # 28 single-term WAND
    "bm25_topk_single_exhaustive",  # 29 dual-path pair
    "docs_group_of_groups",
    "collocations_phrase_hits",
    # §2.C build representatives (every gate builds the index; these
    # add input-mode/synonym specifics)
    "conllu_word_folded",
    "cql_synonym_injection",
    "unicode_term_frequencies",
    "cql_lemma_multivalue",
    "delete_tombstone_visibility",
    "server_hits_lifecycle",
    # remaining pipeline family
    "dedup_simhash_pairs",
    "dedup_streaming_lsh",
    "embedding_cosine_topk",
    "text_token_stats",
    "curation_redact_pii",
    "sequence_chunk_documents",
    "sequence_shard_corpus",
    "multimodal_byte_features",
    "multimodal_decode_image",
    "multimodal_decode_audio",
    "multimodal_audio_frames",
]


def _prioritize(d: dict) -> dict:
    """Reorder a gate dict: _GATE_PRIORITY names first (in that
    order), everything else after in its original order."""
    out = {k: d[k] for k in _GATE_PRIORITY if k in d}
    out.update({k: v for k, v in d.items() if k not in out})
    return out


def gate_queries() -> dict:
    """name → callable(spark, sf_dir) -> DataFrame (engine side)."""
    def bm25_single(spark, sf_dir):
        return gate_topk_docs(docs_engine(spark, sf_dir), ["spark"], 10,
                              mode="wand")

    def bm25_single_exhaustive(spark, sf_dir):
        # dual path through the driver: same oracle as bm25_single
        return gate_topk_docs(docs_engine(spark, sf_dir), ["spark"], 10,
                              mode="exhaustive")

    def bm25_multi(spark, sf_dir):
        return gate_topk_docs(docs_engine(spark, sf_dir),
                              ["spark", "vector", "query"], 10, mode="wand")

    def bm25_filtered_lang(spark, sf_dir):
        # lang rides in the 'role' annotation slot (sources/documents.py)
        return gate_topk_docs(docs_engine(spark, sf_dir), ["spark"], 10,
                              mode="exhaustive", role="en")

    def phrase_hits_docs(spark, sf_dir):
        eng = docs_engine(spark, sf_dir)
        hits = eng.phrase_hits(["the", "table"], path="postings")
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def term_frequencies(spark, sf_dir):
        return (docs_engine(spark, sf_dir).term_frequencies()
                .orderBy(F.desc("count"), F.asc("term")).limit(100))

    def group_next_word(spark, sf_dir):
        eng = docs_engine(spark, sf_dir)
        return eng.group_hits_by_context_word(eng.term_hits("the"), offset=1)

    def group_subcorpus_lang(spark, sf_dir):
        """Grouped hits with per-group subcorpus sizes + relative
        frequency (the BLS grouped-hits response's subcorpusSize —
        operators/properties.group_hits_subcorpus): 'the' hits
        grouped by the language field ('role' slot)."""
        eng = docs_engine(spark, sf_dir)
        g = eng.group_hits_subcorpus(eng.term_hits("the"), "field:role")
        # exact integer arithmetic, never a double ratio (see
        # group_subcorpus_sql): count*1e9 DIV tokens is bit-identical
        # across DuckDB/JVM builds.
        return g.select(
            F.col("key_0").alias("lang"), F.col("count"),
            F.col("subcorpus_docs"), F.col("subcorpus_tokens"),
            F.expr("CAST((count * 1000000000L) DIV subcorpus_tokens "
                   "AS BIGINT)").alias("rel_freq_e9"))

    def hit_group_stats(spark, sf_dir):
        """Group statistics (HitGroups.java:140-190: largestGroupSize,
        totalResults, group count) over the next-word grouping of
        'the' — the count-distinct/stats result op as one row."""
        eng = docs_engine(spark, sf_dir)
        g = eng.group_hits_by_context_word(eng.term_hits("the"),
                                           offset=1)
        return g.agg(
            F.max("count").cast("long").alias("largest_group"),
            F.sum("count").cast("long").alias("total_hits"),
            F.count("*").cast("long").alias("n_groups"))

    def collocations(spark, sf_dir):
        return docs_engine(spark, sf_dir).collocations("spark", window=5)

    def collocations_phrase_hits(spark, sf_dir):
        """Hits-based collocations (/hits?calc=colloc analog): context
        frequencies around '"the" "table"' phrase hits, whole span
        excluded."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.operators.hits import collocations_from_hits
        hits = eng.phrase_hits(["the", "table"], path="postings")
        return collocations_from_hits(eng.index, hits, window=4)

    def docs_grouped_source(spark, sf_dir):
        eng = docs_engine(spark, sf_dir)
        # source rides in the 'tool' annotation slot
        return (eng.index.doc_meta
                .filter(F.array_contains("tokens", "spark"))
                .groupBy(F.col("tool").alias("group_key"))
                .agg(F.count("*").alias("count")))

    def spans_containing(spark, sf_dir):
        """3-grams containing 'spark' (SpanQueryPositionFilter analog
        via the span algebra + CQL executor)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, "([]{3,3}) containing \"spark\"")
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_gap_phrase(spark, sf_dir):
        """CQL '"the" [] "table"' → rewriter turns the any-token into
        an expansion; result checked against a plain SQL self-join."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"the" [] "table"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_term_postings(spark, sf_dir):
        """Term leaf through the CQL executor — now decoded from
        posting blocks, never a corpus scan (VERDICT r01 #1)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"vector"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_regex_postings(spark, sf_dir):
        """Regex leaf: dictionary expansion → postings semi-join."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[word="tabl.*"]')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_bracket_bool(spark, sf_dir):
        """Boolean bracket expression [word="s.*" & word!="spark"] —
        same-span AND with a negated test (cql.jj attValuePair)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[word="s.*" & word!="spark"]')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_pos_layer(spark, sf_dir):
        """Non-word annotation layer: [pos="func"] positions via the
        derived pos token layer (Annotation.java:9 analog)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[pos="func"]')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_subannotation_coarse(spark, sf_dir):
        """Subannotation [pos/coarse="cw"] (grammar annotName with
        '/' subAnnot, cql.jj:643-654): the coarse content-word view
        derived from the pos layer."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[pos/coarse="cw"]')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_pos_word_sequence(spark, sf_dir):
        """Mixed-layer sequence [pos="func"] "table" — pos leaf
        joined with a word-layer postings leaf."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[pos="func"] "table"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def relations_det_target(spark, sf_dir):
        """Typed relation spans (SpanQueryRelations.java:34 analog):
        det edges of the derived dependency layer, reported at the
        TARGET span (RelationInfo.SpanMode)."""
        eng = docs_engine(spark, sf_dir)
        rels = eng.relations("det", span_mode="target")
        return with_conv(eng, rels.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def cql_root_relation(spark, sf_dir):
        """Root-relation operator '^--> [pos="noun"]' (ROOT_DEP_OP,
        cql.jj:102): sourceless relations whose target matches,
        reported at the target [0,1)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '^--> [pos="noun"]')
        return with_conv(eng, hits.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def cql_neg_relation(spark, sf_dir):
        """Negated relation operator '[pos="func"] !-det-> [pos=
        "noun"]' (DEP_OP '!' prefix): func tokens WITHOUT a det
        relation to a noun — in the synthetic grammar, exactly the
        func tokens not followed by a noun."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[pos="func"] !-det-> [pos="noun"]')
        return with_conv(eng, hits.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def server_hits_lifecycle(spark, sf_dir):
        """FULL serving lifecycle (SURVEY §3.1): HTTP GET
        /blacklab-server/<corpus>/hits?patt=... against a live
        BlsServer → parse the BLS JSON response → hit rows. Proves
        request parsing, CQL execution, KWIC assembly and JSON
        serialization end-to-end against the same SQL oracle as the
        raw executor gate."""
        import json as _json
        import urllib.request
        from blacklab_spark.server import BlsServer
        eng = docs_engine(spark, sf_dir)
        srv = BlsServer(eng, corpus="corpus")
        port = srv.start()
        try:
            url = (f"http://127.0.0.1:{port}/blacklab-server/corpus/"
                   f"hits?patt=%22vector%22&number=1000000")
            with urllib.request.urlopen(url) as resp:
                body = _json.loads(resp.read().decode())
        finally:
            srv.stop()
        rows = [(int(h["docPid"].split(":")[0][3:11]),
                 h["start"], h["end"]) for h in body["hits"]]
        return spark.createDataFrame(
            rows, "doc_id long, start int, end int")

    def server_index_lifecycle(spark, sf_dir):
        """Index-management WRITE lifecycle over live HTTP
        (RequestHandlerCreateIndex/AddToIndex analogs): POST / creates
        an empty index, two POST /<corpus>/docs uploads index JSONL
        batches as deltas + synchronous compactions (doc ids continue
        across batches, global BM25 stats recomputed), then GET /hits
        returns every 'visa' position. The oracle tokenizes the same
        literal rows in SQL — proving upload parsing, delta build,
        compaction and query end-to-end."""
        import json as _json
        import tempfile
        import urllib.request
        from blacklab_spark.server import BlsServer
        eng = micro_engine(spark)
        srv = BlsServer(eng, corpus="corpus",
                        data_dir=tempfile.mkdtemp(prefix="bls_gate_"))
        port = srv.start()
        base = f"http://127.0.0.1:{port}/blacklab-server"

        def post(path, body=None):
            req = urllib.request.Request(base + path, data=body,
                                         method="POST")
            with urllib.request.urlopen(req) as resp:
                return resp.read()

        def jsonl(rows):
            return "\n".join(_json.dumps({
                "conv_id": c, "turn_idx": i, "role": r, "text": t,
                "tool": None, "ts": "2026-01-01T00:00:00.000Z"})
                for c, i, r, t in rows).encode()

        try:
            post("/?name=live&format=jsonl")
            post("/live/docs", jsonl(_LIFECYCLE_ROWS[:3]))
            post("/live/docs", jsonl(_LIFECYCLE_ROWS[3:]))
            url = f"{base}/live/hits?patt=%22visa%22&number=1000000"
            with urllib.request.urlopen(url) as resp:
                body = _json.loads(resp.read().decode())
        finally:
            srv.stop()
        rows = [(h["docPid"].rsplit(":", 1)[0],
                 int(h["docPid"].rsplit(":", 1)[1]),
                 h["start"], h["end"]) for h in body["hits"]]
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, start int, end int")

    def cql_relmulti_branches(spark, sf_dir):
        """Multi-branch relation query '[pos="noun"] -nmod-> [] ;
        -nn-> []' (cql.jj:282 ';'-separated childRelations →
        SpanQueryAnd with requireUniqueRelations): nouns sourcing
        both an nmod and an nn edge = middle nouns of noun^3
        trigrams; hit = envelope [j-1, j+2)."""
        eng = docs_engine(spark, sf_dir)
        hits = eng.find('[pos="noun"] -nmod-> [] ; -nn-> []')
        return with_conv(eng, hits.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def cql_rmatch_function(spark, sf_dir):
        """rmatch(rel("nmod", _, "source"), rel("nn", _, "source"))
        (XFRelations.java:152 → createRelMatchQuery): same-span AND
        of the two relation sets with unique relations — the shared
        source span [j, j+1) of noun^3 centres."""
        eng = docs_engine(spark, sf_dir)
        hits = eng.find(
            'rmatch(rel("nmod", _, "source"), rel("nn", _, "source"))')
        return with_conv(eng, hits.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def cql_relation_capture_label(spark, sf_dir):
        """Relation capture label '[] d:-det-> "table"' (cql.jj:308
        childRelation captureLabel): the matched relation's span is
        recorded in match_info under 'd' — here identical to the hit's
        full span, emitted as extra columns for the oracle."""
        eng = docs_engine(spark, sf_dir)
        hits = eng.find('[] d:-det-> "table"')
        caps = hits.select(
            "doc_id", "start", "end",
            F.col("match_info")["d"]["s"].alias("rel_start"),
            F.col("match_info")["d"]["e"].alias("rel_end"))
        return with_conv(eng, caps).select(
            _orig_doc_id(), F.col("start"), F.col("end"),
            F.col("rel_start"), F.col("rel_end"))

    def cql_rcapture_function(spark, sf_dir):
        """rcapture(q, name, type) through the parser
        (SpanQueryCaptureRelationsWithinSpan / XFRelations.rcapture):
        det relations captured inside every 5-gram, emitted one row
        per (hit, captured relation)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, 'rcapture([]{5,5}, "rels", "det")')
        caps = hits.select(
            "doc_id", "start", "end",
            F.explode("match_info").alias("_k", "_v")).select(
            "doc_id", "start", "end",
            F.col("_v.s").alias("rel_start"),
            F.col("_v.e").alias("rel_end"))
        return with_conv(eng, caps).select(
            _orig_doc_id(), F.col("start"), F.col("end"),
            F.col("rel_start"), F.col("rel_end"))

    def cql_rcapture2_function(spark, sf_dir):
        """rcapture2(A:[]{2,2} [], "A", "rels", "det") —
        XFRelations.rcaptureWithinCapture: relations captured inside
        the NAMED capture group A (the 3-gram's first two tokens),
        not the whole hit. A det edge fits iff it starts at the
        window start; rows = hits whose A-span holds one."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index,
                    'rcapture2(A:[]{2,2} [], "A", "rels", "det")')
        cap = F.col("match_info")["rels_0"]
        caps = hits.select(
            "doc_id", "start", "end",
            cap["s"].alias("rel_start"),
            cap["e"].alias("rel_end")).filter(cap.isNotNull())
        return with_conv(eng, caps).select(
            _orig_doc_id(), F.col("start"), F.col("end"),
            F.col("rel_start"), F.col("rel_end"))

    def spans_fixed_span(spark, sf_dir):
        """Fixed span (SpanQueryFixedSpan.java:32): constant [2,5)
        per doc, clamped to docs long enough."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.operators.spans import fixed_span
        return with_conv(eng, fixed_span(eng.index, 2, 5)).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def content_store_roundtrip(spark, sf_dir):
        """Content-store read-back (ContentStoreIntegrated analog;
        the north rule's per-row invariant: per-turn TEXT EQUALITY
        end-to-end). The engine's stored text must equal the source
        table's text byte-for-byte, every row."""
        eng = docs_engine(spark, sf_dir)
        return (eng.index.doc_meta
                .select("conv_id", "text")
                .select(_orig_doc_id(), F.col("text")))

    def spans_filter_ngrams(spark, sf_dir):
        """Filter-n-grams (SpanQueryFilterNGrams.java:18): 1..2-token
        right extensions of 'table' anchors, deduplicated."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.operators.spans import filter_ngrams
        from blacklab_spark.plans.executor import find
        hits = filter_ngrams(eng.index, find(eng.index, '"table"'),
                             "right", 1, 2)
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_and_spans(spark, sf_dir):
        """Span-level same-span AND (SpanQueryAnd / SpansAndSimple):
        '("the" []) & ([] "table")' — bigrams that start with 'the'
        AND end with 'table' ≡ the phrase, via intersection."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '("the" []) & ([] "table")')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_andnot_spans(spark, sf_dir):
        """Span-level AND-NOT (SpanQueryAndNot): '("the" []) &
        !([] "table")' — the-initial bigrams NOT ending in 'table'."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '("the" []) & !([] "table")')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def spans_filter_by_length(spark, sf_dir):
        """Filter-by-hit-length (SpanQueryFilterByHitLength.java:21):
        gap-phrase hits narrowed to exactly 3 tokens — 'the' _
        'table' with exactly one gap token."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.operators.spans import filter_by_length
        from blacklab_spark.plans.executor import find
        hits = filter_by_length(
            find(eng.index, '"the" []{0,2} "table"'), 3, 3)
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_force_fiseq(spark, sf_dir):
        """_FI1("the" "table") — the forward-index strategy FORCED
        (XFDebug._FI1): same oracle as the cost-based phrase, so the
        gate proves the pinned path agrees with SQL."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '_FI1("the" "table")')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_force_postings(spark, sf_dir):
        """_FI2("the" "table") — the postings-intersection strategy
        FORCED (XFDebug._FI2), same oracle."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '_FI2("the" "table")')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_overlap_keyword(spark, sf_dir):
        """The 'overlap' operator through the parser (cql.jj:261,
        TextPatternOverlapping): '"the" [] overlap [] "the"' — overlap
        regions of the-initial and the-final bigrams."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"the" [] overlap [] "the"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_rel_function(spark, sf_dir):
        """Query extension function rel(type, target, spanMode)
        through the parser (XFRelations.rel, cql.jj:515
        queryFunctionCall): det relations whose TARGET matches 'table',
        reported as the full relation span."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, 'rel("det", "table", "full")')
        return with_conv(eng, hits.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def relations_backward_source(spark, sf_dir):
        """Direction filter: BACKWARD relations (nn compound edges
        point from the head noun back to its modifier), reported at
        the SOURCE span (SpanQueryRelations.Direction.BACKWARD)."""
        eng = docs_engine(spark, sf_dir)
        rels = eng.relations(direction="backward", span_mode="source")
        return with_conv(eng, rels.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def cql_relation_between(spark, sf_dir):
        """CQL relation operator ``[] -det-> "table"`` — relations
        whose source/target match the operand patterns, full relation
        span (SpanQueryCaptureRelationsBetweenSpans analog)."""
        eng = docs_engine(spark, sf_dir)
        hits = eng.find('[] -det-> "table"')
        return with_conv(eng, hits.select("doc_id", "start", "end")) \
            .select(_orig_doc_id(), F.col("start"), F.col("end"))

    def parallel_other_field(spark, sf_dir):
        """Other-field hits (SpanQueryOtherFieldHits analog): phrase
        hits in the source field projected onto the parallel field b
        via alignment relations — target span + target-side text
        (operators/parallel.py)."""
        eng = docs_engine(spark, sf_dir)
        hits = eng.phrase_hits(["the", "table"], path="postings")
        proj = eng.other_field(hits)
        return with_conv(eng, proj).select(
            _orig_doc_id(), F.col("start"), F.col("end"),
            F.col("b_text"), F.col("a_start"), F.col("a_end"))

    def parallel_cross_field(spark, sf_dir):
        """Cross-field alignment operator ``"spark" ==> B`` — source
        hits whose aligned field-b token fuses with 'query'
        (SpanQueryCaptureRelationsBetweenSpans with cross-field
        relations)."""
        eng = docs_engine(spark, sf_dir)
        out = eng.cross_field('"spark"', lambda t: t.contains("query"))
        return with_conv(eng, out).select(
            _orig_doc_id(), F.col("start"), F.col("end"),
            F.col("b_start"), F.col("b_end"))

    def cql_constraint_function(spark, sf_dir):
        """Registered function call inside a global constraint
        (MatchFilterFunctionCall / the constraint-function registry,
        r3 What's-missing #3): ``A:[]{1,2} B:"spark" ::
        length(A) = length(B)`` keeps only width-1 A spans — every
        'spark' at p ≥ 1 as [p-1, p+1)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index,
                    'A:[]{1,2} B:"spark" :: length(A) = length(B)')
        return with_conv(eng, hits.drop("match_info")).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_constraint_samewords(spark, sf_dir):
        """Global constraint ``A:[] B:[] :: A.word = B.word`` —
        adjacent duplicate words (SpanQueryConstrained analog)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, "A:[] B:[] :: A.word = B.word")
        return with_conv(eng, hits.drop("match_info")).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_constraint_folded(spark, sf_dir):
        """``A:"the" B:[] :: A.word = B.word`` — the constraint
        constant-folds into the B leaf (plans/rewrite._fold_constrained:
        A.word is pinned by the TERM capture), executing as the
        postings phrase ``"the" "the"`` with no forward-index join;
        the oracle is the runtime-constraint semantics."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, 'A:"the" B:[] :: A.word = B.word')
        return with_conv(eng, hits.drop("match_info")).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_constraint_full_grammar(spark, sf_dir):
        """Full MatchFilter grammar (cql.jj:171-243): literal, boolean
        combinators, functions — ``A.word = B.word & A != "the" &
        start(B) = end(A)`` (adjacent duplicates other than 'the')."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, 'A:[] B:[] :: A.word = B.word '
                               '& A != "the" & start(B) = end(A)')
        return with_conv(eng, hits.drop("match_info")).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_or_terms(spark, sf_dir):
        """OR of two term leaves (BLSpanOrQuery union)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"spark" | "table"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_not_token(spark, sf_dir):
        """Token complement !"the" (SpanQueryNot) — every single-token
        position not covered by a 'the' hit."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '!"the"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_repetition_unbounded(spark, sf_dir):
        """"the"+ — unbounded repetition via the fixpoint join,
        checked against a recursive-CTE oracle (VERDICT r01 #5)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"the"+')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_group_repetition(spark, sf_dir):
        """("the" "table"){1,2} — bounded repetition of a Seq GROUP
        (cql.jj: repetition applies to any repetitionQuery, not just
        leaves)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '("the" "table"){1,2}')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_capture_group(spark, sf_dir):
        """Named capture x:("the") "table" — match_info surfaces the
        captured span as columns."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, 'x:("the") "table"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"),
            F.col("match_info")["x"]["s"].alias("x_start"),
            F.col("match_info")["x"]["e"].alias("x_end"))

    def spans_edge_trailing(spark, sf_dir):
        """Trailing edge of term hits (SpanQueryEdge)."""
        from blacklab_spark.operators import spans as SP
        from blacklab_spark.operators.hits import hits_for_term_ids
        eng = docs_engine(spark, sf_dir)
        idx = eng.index
        hits = SP.edge(hits_for_term_ids(idx, idx.lookup_terms(["spark"])),
                       trailing=True)
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def spans_overlapping_grams(spark, sf_dir):
        """Overlap regions of 'the'-anchored and 'table'-anchored
        2-gram spans (SpanQueryOverlapping)."""
        from blacklab_spark.operators import spans as SP
        from blacklab_spark.operators.hits import hits_for_term_ids
        eng = docs_engine(spark, sf_dir)
        idx = eng.index
        a = SP.expand(idx, hits_for_term_ids(idx, idx.lookup_terms(["the"])),
                      "right", 1, 1)
        b = SP.expand(idx, hits_for_term_ids(idx, idx.lookup_terms(["table"])),
                      "right", 1, 1)
        return with_conv(eng, SP.overlapping(a, b)).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def facets_by_lang(spark, sf_dir):
        """Facet doc counts over docs containing a term
        (Facets.java:9-31) — lang rides in the role slot."""
        from blacklab_spark.operators.properties import facets
        eng = docs_engine(spark, sf_dir)
        docs = eng.index.doc_meta.filter(
            F.array_contains("tokens", "spark"))
        return facets(eng.index, docs, ["role"])["role"] \
            .select(F.col("value").alias("lang"), "count")

    def sort_hits_property_dsl(spark, sf_dir):
        """Property-DSL sort: hits of 'table' by
        (after:word:i:1, doc, hitposition) with explicit ranks —
        order is part of the checked value."""
        from blacklab_spark.operators.properties import (_with_meta,
                                                         compile_property)
        from pyspark.sql import Window
        eng = docs_engine(spark, sf_dir)
        frame = _with_meta(eng.index, eng.term_hits("table"))
        keys = [compile_property("after:word:i:1"),
                F.col("doc_id"), F.col("start")]
        w = Window.orderBy(*keys)
        return (frame.withColumn("rank", F.row_number().over(w).cast("int"))
                .select("rank", _orig_doc_id(), F.col("start"),
                        F.col("end")))

    def hits_to_docs(spark, sf_dir):
        """hits→docs with per-doc counts (DocResults.fromHits)."""
        eng = docs_engine(spark, sf_dir)
        out = eng.docs_from_hits(eng.term_hits("spark"))
        return with_conv(eng, out).select(
            _orig_doc_id(), F.col("n_hits"))

    def kwic_spark(spark, sf_dir):
        eng = docs_engine(spark, sf_dir)
        k = eng.kwic(eng.term_hits("spark"), context=3)
        return (with_conv(eng, k.drop("conv_id", "turn_idx"))
                .select(_orig_doc_id(), "start", "end",
                        F.concat_ws(" ", "left").alias("left_ctx"),
                        F.concat_ws(" ", "match").alias("match"),
                        F.concat_ws(" ", "right").alias("right_ctx")))

    def hits_page2(spark, sf_dir):
        """Deterministic paging window: hits 11-20 of 'vector' by
        (doc_id, start) — HitsAbstract window analog."""
        from blacklab_spark.operators.hits import window_hits
        eng = docs_engine(spark, sf_dir)
        hits = window_hits(eng.term_hits("vector"), first=10, size=10)
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def transcript_topk_role(spark, sf_dir):
        return gate_topk_micro(micro_engine(spark), ["visa"], 5,
                               role="assistant")

    def bm25_filtered_role_wand(spark, sf_dir):
        """Filtered WAND dual path: same oracle as the exhaustive
        role-filtered gate, through the filter-then-score pruning plan
        (VERDICT r01 #3)."""
        return gate_topk_micro(micro_engine(spark), ["visa"], 5,
                               mode="wand", role="assistant")

    def bm25_filtered_lang_wand(spark, sf_dir):
        return gate_topk_docs(docs_engine(spark, sf_dir), ["spark"], 10,
                              mode="wand", role="en")

    def delete_tombstone_visibility(spark, sf_dir):
        """BM25 top-k over an index with a tombstoned conversation —
        deleted docs invisible, stats stale (Lucene delete model)."""
        return gate_topk_micro(micro_delete_engine(spark), ["visa"], 5,
                               mode="wand")

    def unicode_term_frequencies(spark, sf_dir):
        """Tokenizer v2 gate: corpus-wide term frequencies over the
        multilingual fixture — Café/café/CAFE must fold into one term,
        Cyrillic/Greek lowercase, CJK runs survive."""
        eng = multi_engine(spark)
        return (eng.term_frequencies()
                .orderBy(F.desc("count"), F.asc("term")))

    def unicode_bm25_topk(spark, sf_dir):
        """BM25 over folded multilingual tokens: query 'Café' must
        match cafe/café/Café occurrences identically cross-engine."""
        return gate_topk_micro(multi_engine(spark), ["Café"], 5,
                               mode="wand")

    def transcript_phrase_within(spark, sf_dir):
        eng = micro_engine(spark)
        hits = eng.phrase_hits(["very", "good"], path="tokens",
                               conv_id="conv00001")
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    # ---------------- round-3 gates ---------------------------------
    def cql_fuzzy_term(spark, sf_dir):
        """Edit-distance term expansion "spark"~1 (SpanFuzzyQuery
        analog) — Levenshtein over the dictionary → postings decode."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"spark"~1')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_and_same_span(spark, sf_dir):
        """Same-span AND of two regex leaves (SpansAndSimple)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"t.*" & ".*e"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_and_not_span(spark, sf_dir):
        """AND-NOT [t.* & !the] — anti-join, token complement never
        materialized (SpanQueryAndNot rewrite)."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"t.*" & !"the"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_ccnot_sequence(spark, sf_dir):
        """[word!="the"] "table" — the CCNot rewrite product
        (NOTCONTAINING_AT_START over a by-1 expansion; query
        rewriting.md ``!A B``): the token complement never
        materializes — the neighbour's postings expand left one token
        and anti-join 'the''s positions."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[word!="the"] "table"')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def cql_and_lenfilter(spark, sf_dir):
        """"the"{1,3} & []{2,3} — NGramsToLengthFilter: the all-token
        AND clause becomes a pure width row-filter, never an n-gram
        materialization (query rewriting.md AND(A,[]{m,n}))."""
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '"the"{1,3} & []{2,3}')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def hits_filter_by_length(spark, sf_dir):
        """Variable-width hits filtered to length 3
        (SpanQueryFilterByHitLength)."""
        from blacklab_spark.operators import spans as SP
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = SP.filter_by_length(
            find(eng.index, '"the" []{0,2} "table"'), 3, 3)
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def docs_group_of_groups(spark, sf_dir):
        """Group-of-groups (DocGroups of DocGroups): docs-with-hits
        grouped by source, then group-size histogram."""
        eng = docs_engine(spark, sf_dir)
        groups = (eng.index.doc_meta
                  .filter(F.array_contains("tokens", "spark"))
                  .groupBy(F.col("tool").alias("group_key"))
                  .agg(F.count("*").alias("count")))
        return (groups.groupBy(F.col("count").alias("group_size"))
                .agg(F.count("*").alias("n_groups")))

    def unicode_ci_sensitivity(spark, sf_dir):
        """ci sensitivity: [word_ci="café"] matches café/Café but not
        cafe (case-insensitive, accent-SENSITIVE —
        MatchSensitivity.java:12-17)."""
        eng = multi_engine(spark)
        hits = eng.find('[word_ci="café"]')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def cql_sensitivity_flags(spark, sf_dir):
        """%c/%d sensitivity flags (cql.jj:108 FLAGS token — lexed
        and DISCARDED by the reference parser; honored here):
        '"café"%d' selects the diacritics-sensitive, case-insensitive
        layer ≡ [word_ci="café"]."""
        eng = multi_engine(spark)
        hits = eng.find('"café"%d')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def cql_lemma_multivalue(spark, sf_dir):
        """Multi-value annotation layer (position-increment-0 model,
        AnnotationWriter.java:233-311): [lemma="tre"] matches every
        position whose stacked values contain 'tre' — i.e. the literal
        token 'tre' OR any token stemming to it ('tres' ← très)."""
        eng = multi_engine(spark)
        hits = eng.find('[lemma="tre"]')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def hits_sample_deterministic(spark, sf_dir):
        """Content-deterministic seeded sample of term hits — md5 of
        (seed|doc_id|start|end) under fraction 0.25; same formula in
        the oracle, so the exact subset matches."""
        from blacklab_spark.operators.hits import sample_hits_deterministic
        eng = docs_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = with_conv(eng, find(eng.index, '"the"')).select(
            _orig_doc_id(), F.col("start"), F.col("end"))
        return sample_hits_deterministic(hits, 0.25, seed=7)

    def streaming_delta_topk(spark, sf_dir):
        """BM25 over main + two deltas through the pruned delta path —
        union stats make scores equal a one-shot build's, which is
        exactly what the full-corpus oracle computes."""
        dse = delta_engine(spark)
        fetched = dse.topk(["visa"], k=200, mode="wand")
        return _rounded_rank_cut(fetched, 5).select(
            "rank", "doc_id", F.round("score", 4).alias("score"))

    def streaming_delta_cql(spark, sf_dir):
        """CQL across main + two deltas (per-part plan execution,
        offset-shifted ids — Lucene unmerged-segment search analog):
        the phrase hits equal a one-shot build's."""
        dse = delta_engine(spark)
        return dse.find('"visa" "application"').select(
            "doc_id", "start", "end")

    def tags_spans_all(spark, sf_dir):
        """The stored inline-tag span layer itself: every (tag, span,
        attrs) row the build's map-side stack machine derived —
        nesting, self-closing tags and attributes all visible."""
        eng = tagged_engine(spark)
        return with_conv(eng, eng.index.doc_spans).select(
            "conv_id", "turn_idx", "tag", "start", "end", "attrs")

    def cql_tag_attr(spark, sf_dir):
        """Tag leaf with attribute filter through the parser:
        <ne type="doc"/> (SpanQueryTags attribute filtering)."""
        eng = tagged_engine(spark)
        hits = eng.find('<ne type="doc"/>')
        return with_conv(eng, hits).select(
            "conv_id", "turn_idx", "start", "end")

    def cql_tag_within_sentence(spark, sf_dir):
        """Phrase within a stored tag span: '"visa" "application"
        within <s/>' — drops pairs straddling a sentence boundary
        (the 5-word sentence chunking splits some)."""
        eng = tagged_engine(spark)
        hits = eng.find('"visa" "application" within <s/>')
        return with_conv(eng, hits).select(
            "conv_id", "turn_idx", "start", "end")

    def cql_tag_sentence_initial(spark, sf_dir):
        """Zero-width tag edge '<s> "the"' (cql.jj:359-371 tag()
        Adjust.LEADING_EDGE): sentence-initial 'the' — the leading
        edge is a [start,start) span sequenced with the term."""
        eng = tagged_engine(spark)
        hits = eng.find('<s> "the"')
        return with_conv(eng, hits).select(
            "conv_id", "turn_idx", "start", "end")

    def luceneql_docs_filter(spark, sf_dir):
        """The server's metadata filter language (filterlang=luceneql,
        Lucene classic QueryParser): docs from
        'role:user AND turn_idx:[0 TO 3]' — term + inclusive range +
        boolean."""
        eng = micro_engine(spark)
        return eng.docs(
            filter="role:user AND turn_idx:[0 TO 3]").select(
            "conv_id", "turn_idx")

    def contextql_contents_and_meta(spark, sf_dir):
        """The reference's SECOND query language (SRU ContextQL,
        contextql.jj): 'word = "vis*" and role = "user"' — wildcard
        contents clause + metadata filter clause combined with and."""
        eng = micro_engine(spark)
        hits = eng.find_contextql('word = "vis*" and role = "user"')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def conllu_pos_given(spark, sf_dir):
        """Pre-annotated pos layer: [pos="NOUN"] probes the UPOS values
        the CoNLL-U input supplied (never the derived heuristic —
        reference pre-tagged mode, formats/conll-u.blf.yaml)."""
        eng = conllu_gate_engine(spark)
        hits = eng.find('[pos="NOUN"]')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def conllu_lemma_given(spark, sf_dir):
        """Pre-annotated lemma layer: [lemma="be"] matches surface
        forms is/was only through the GIVEN lemma column (no derivable
        stem relates them)."""
        eng = conllu_gate_engine(spark)
        hits = eng.find('[lemma="be"]')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def cql_synonym_injection(spark, sf_dir):
        """Word-layer multi-value (synonym injection) — r3
        What's-missing #4: '[word="permit"]' matches every stacked
        'visa' position through the postings; the forward index keeps
        the primary value (oracle checks against the primary token
        stream)."""
        eng = synonym_engine(spark)
        hits = eng.find('"permit"')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def parallel_stored_alignment(spark, sf_dir):
        """REAL alignment edges end-to-end (r3 What's-missing #2):
        the fixture's explicit align_pairs land in the `_alignments`
        build artifact and other_field_hits projects through the
        STORED edges (reversal alignment — a shape the derived 2:1
        fallback cannot produce, so the hash proves the stored
        path)."""
        eng = aligned_gate_engine(spark)
        hits = eng.phrase_hits(["visa", "application"], path="tokens")
        proj = eng.other_field(hits)
        return with_conv(eng, proj).select(
            "conv_id", "turn_idx", "start", "end", "b_text",
            "a_start", "a_end")

    def conllu_deprel_relations(spark, sf_dir):
        """REAL dependency edges end-to-end (r3 What's-missing #1):
        the .conllu fixture's HEAD/DEPREL columns are ingested by
        read_conllu, stored as the `_relations` build artifact
        (build stage 1c), and CQL '_ -nsubj-> _' rides
        doc_relations' stored-artifact path; the oracle re-derives
        the same edges from an independent pure-Python parse."""
        eng = conllu_gate_engine(spark)
        hits = eng.find('_ -nsubj-> _')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def conllu_rel_source_mode(spark, sf_dir):
        """Typed relations over STORED real edges with a span-mode
        adjust: obj edges of the CoNLL-U dependency layer reported at
        the SOURCE (head) span — SpanQueryRelations +
        SpansRelationSpanAdjust over the `_relations` artifact."""
        eng = conllu_gate_engine(spark)
        rels = eng.relations("obj", span_mode="source")
        return with_conv(eng, rels.select("doc_id", "start", "end")) \
            .select("conv_id", "turn_idx", "start", "end")

    def conllu_word_folded(spark, sf_dir):
        """Pre-tokenized word layer rides the normal postings path
        with the @i fold applied to the GIVEN forms: "café" matches
        fold(lower) of the input tokens (stored as 'cafe')."""
        eng = conllu_gate_engine(spark)
        hits = eng.find('"café"')
        return with_conv(eng, hits).select("conv_id", "turn_idx",
                                           "start", "end")

    def preprocess_length_tagger(spark, sf_dir):
        """Convert-and-tag plugin hook: a registered toy tagger
        (preprocess.length_tagger — pos = 'long' iff the @i folding
        exceeds 4 chars) runs over the input at build time and its
        layer answers [pos="long"] through the normal annotation
        path."""
        eng = preprocess_engine(spark, sf_dir)
        from blacklab_spark.plans.executor import find
        hits = find(eng.index, '[pos="long"]')
        return with_conv(eng, hits).select(
            _orig_doc_id(), F.col("start"), F.col("end"))

    def chat_turns_parse(spark, sf_dir):
        """read_chat's JVM regexp parse vs an independent pure-Python
        parse of the same .cha fixture (continuation joins, bullet
        stripping, %-tier skipping, PID/filename conv ids). ts_off =
        millis since the synthetic epoch: the bullet start ms when
        present, else turn_idx seconds — the full timestamp rule."""
        from blacklab_spark.sources.files import read_chat
        from blacklab_spark.sources.transcripts import gen_chat_texts
        src = _write_fixture_files("chat_src", gen_chat_texts(seed=42))
        df = read_chat(spark, os.path.join(src, "*.cha"))
        return df.select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
            "role", "text",
            (F.unix_millis("ts") - 946684800000).alias("ts_off"))

    def _token_layers(df):
        """Pre-annotated reader output → one row per token position
        (conv_id, turn_idx, p, form, pos, lemma, text) — the common
        comparable shape for every reader-parity gate."""
        z = F.arrays_zip("tokens_s", "tokens_pos", "tokens_lemma")
        return (df.select("conv_id",
                          F.col("turn_idx").cast("int").alias("turn_idx"),
                          "text", F.posexplode(z).alias("p", "_t"))
                .select("conv_id", "turn_idx", "p",
                        F.col("_t.tokens_s").alias("form"),
                        F.col("_t.tokens_pos").alias("pos"),
                        F.element_at("_t.tokens_lemma", 1).alias("lemma"),
                        "text"))

    def folia_tokens_parse(spark, sf_dir):
        """read_folia's JVM regexp/array parse vs an xml.etree parse
        of the same FoLiA fixture: per-position form/pos/lemma and the
        space="no"-honoring text reconstruction."""
        from blacklab_spark.sources.files import read_folia
        from blacklab_spark.sources.transcripts import gen_folia_texts
        src = _write_fixture_files("folia_src", gen_folia_texts(seed=42))
        return _token_layers(read_folia(spark, os.path.join(src, "*.xml")))

    def _reader_gate(subdir, gen, reader, glob):
        """Reader-parity gate body: fixture files → reader →
        token-layer frame (oracle: the independent parse as VALUES)."""
        def run(spark, sf_dir):
            src = _write_fixture_files(subdir, gen(seed=42))
            return _token_layers(reader(spark, os.path.join(src, glob)))
        return run

    from blacklab_spark.sources import files as _sf
    from blacklab_spark.sources import transcripts as _st
    wpl_tokens_parse = _reader_gate("wpl_src", _st.gen_wpl_texts,
                                    _sf.read_wpl, "*.wpl")
    frog_tokens_parse = _reader_gate("frog_src", _st.gen_frog_texts,
                                     _sf.read_frog, "*.tsv")
    eaf_tokens_parse = _reader_gate("eaf_src", _st.gen_eaf_texts,
                                    _sf.read_eaf, "*.eaf")
    tcf_tokens_parse = _reader_gate("tcf_src", _st.gen_tcf_texts,
                                    _sf.read_tcf, "*.tcf")
    naf_tokens_parse = _reader_gate("naf_src", _st.gen_naf_texts,
                                    _sf.read_naf, "*.naf")

    from blacklab_spark.driver_gate_pipeline import pipeline_queries
    return _prioritize({
        **pipeline_queries(),
        "bm25_topk_single": bm25_single,
        "bm25_topk_single_exhaustive": bm25_single_exhaustive,
        "bm25_topk_multi": bm25_multi,
        "bm25_topk_filtered_lang": bm25_filtered_lang,
        "phrase_hits": phrase_hits_docs,
        "term_frequencies_top100": term_frequencies,
        "group_hits_by_next_word": group_next_word,
        "group_hits_subcorpus_lang": group_subcorpus_lang,
        "hit_group_stats": hit_group_stats,
        "collocations_window5": collocations,
        "collocations_phrase_hits": collocations_phrase_hits,
        "docs_grouped_by_source": docs_grouped_source,
        "spans_containing_trigram": spans_containing,
        "cql_gap_phrase": cql_gap_phrase,
        "cql_term_postings": cql_term_postings,
        "cql_regex_postings": cql_regex_postings,
        "cql_bracket_bool": cql_bracket_bool,
        "cql_constraint_function": cql_constraint_function,
        "cql_constraint_samewords": cql_constraint_samewords,
        "cql_constraint_folded": cql_constraint_folded,
        "cql_constraint_full_grammar": cql_constraint_full_grammar,
        "cql_pos_layer": cql_pos_layer,
        "cql_subannotation_coarse": cql_subannotation_coarse,
        "relations_det_target": relations_det_target,
        "cql_rel_function": cql_rel_function,
        "cql_overlap_keyword": cql_overlap_keyword,
        "cql_rcapture_function": cql_rcapture_function,
        "cql_root_relation": cql_root_relation,
        "cql_neg_relation": cql_neg_relation,
        "cql_relmulti_branches": cql_relmulti_branches,
        "cql_rmatch_function": cql_rmatch_function,
        "cql_relation_capture_label": cql_relation_capture_label,
        "cql_rcapture2_function": cql_rcapture2_function,
        "cql_force_fiseq": cql_force_fiseq,
        "cql_force_postings": cql_force_postings,
        "cql_and_spans": cql_and_spans,
        "cql_andnot_spans": cql_andnot_spans,
        "spans_filter_by_length": spans_filter_by_length,
        "content_store_roundtrip": content_store_roundtrip,
        "spans_filter_ngrams": spans_filter_ngrams,
        "spans_fixed_span": spans_fixed_span,
        "server_hits_lifecycle": server_hits_lifecycle,
        "server_index_lifecycle": server_index_lifecycle,
        "relations_backward_source": relations_backward_source,
        "cql_relation_between": cql_relation_between,
        "parallel_other_field_hits": parallel_other_field,
        "parallel_cross_field_align": parallel_cross_field,
        "cql_pos_word_sequence": cql_pos_word_sequence,
        "cql_or_terms": cql_or_terms,
        "cql_not_token": cql_not_token,
        "cql_repetition_unbounded": cql_repetition_unbounded,
        "cql_group_repetition": cql_group_repetition,
        "cql_capture_group": cql_capture_group,
        "spans_edge_trailing": spans_edge_trailing,
        "spans_overlapping_grams": spans_overlapping_grams,
        "facets_by_lang": facets_by_lang,
        "sort_hits_property_dsl": sort_hits_property_dsl,
        "hits_to_docs": hits_to_docs,
        "kwic_spark_ctx3": kwic_spark,
        "hits_window_page2": hits_page2,
        "transcript_topk_role_filtered": transcript_topk_role,
        "bm25_topk_filtered_role_wand": bm25_filtered_role_wand,
        "bm25_topk_filtered_lang_wand": bm25_filtered_lang_wand,
        "transcript_phrase_within_conv": transcript_phrase_within,
        "delete_tombstone_visibility": delete_tombstone_visibility,
        "unicode_term_frequencies": unicode_term_frequencies,
        "unicode_bm25_topk": unicode_bm25_topk,
        "cql_fuzzy_term": cql_fuzzy_term,
        "cql_and_same_span": cql_and_same_span,
        "cql_and_not_span": cql_and_not_span,
        "cql_ccnot_sequence": cql_ccnot_sequence,
        "cql_and_lenfilter": cql_and_lenfilter,
        "hits_filter_by_length": hits_filter_by_length,
        "docs_group_of_groups": docs_group_of_groups,
        "unicode_ci_sensitivity": unicode_ci_sensitivity,
        "cql_sensitivity_flags": cql_sensitivity_flags,
        "cql_lemma_multivalue": cql_lemma_multivalue,
        "hits_sample_deterministic": hits_sample_deterministic,
        "streaming_delta_topk": streaming_delta_topk,
        "streaming_delta_cql": streaming_delta_cql,
        "tags_spans_all": tags_spans_all,
        "cql_tag_attr": cql_tag_attr,
        "cql_tag_within_sentence": cql_tag_within_sentence,
        "cql_tag_sentence_initial": cql_tag_sentence_initial,
        "luceneql_docs_filter": luceneql_docs_filter,
        "contextql_contents_and_meta": contextql_contents_and_meta,
        "cql_synonym_injection": cql_synonym_injection,
        "parallel_stored_alignment": parallel_stored_alignment,
        "conllu_deprel_relations": conllu_deprel_relations,
        "conllu_rel_source_mode": conllu_rel_source_mode,
        "conllu_pos_given": conllu_pos_given,
        "conllu_lemma_given": conllu_lemma_given,
        "conllu_word_folded": conllu_word_folded,
        "preprocess_length_tagger": preprocess_length_tagger,
        "chat_turns_parse": chat_turns_parse,
        "folia_tokens_parse": folia_tokens_parse,
        "wpl_tokens_parse": wpl_tokens_parse,
        "frog_tokens_parse": frog_tokens_parse,
        "eaf_tokens_parse": eaf_tokens_parse,
        "tcf_tokens_parse": tcf_tokens_parse,
        "naf_tokens_parse": naf_tokens_parse,
    })


def gate_oracles() -> dict[str, str]:
    from blacklab_spark.driver_gate_pipeline import pipeline_oracles
    return _prioritize({
        **pipeline_oracles(),
        "bm25_topk_single": bm25_docs_sql(["spark"], 10),
        "bm25_topk_single_exhaustive": bm25_docs_sql(["spark"], 10),
        "bm25_topk_multi": bm25_docs_sql(["spark", "vector", "query"], 10),
        "bm25_topk_filtered_lang": bm25_docs_sql(["spark"], 10, lang="en"),
        "phrase_hits": phrase_docs_sql("the", "table"),
        "term_frequencies_top100": termfreq_sql(100),
        "group_hits_by_next_word": group_next_word_sql("the"),
        "group_hits_subcorpus_lang": group_subcorpus_sql("the"),
        "hit_group_stats": f"""
WITH g AS ({group_next_word_sql("the")})
SELECT CAST(max("count") AS BIGINT) AS largest_group,
       CAST(sum("count") AS BIGINT) AS total_hits,
       CAST(count(*) AS BIGINT) AS n_groups
FROM g
""",
        "collocations_window5": collocations_sql("spark", 5),
        "collocations_phrase_hits": collocations_hits_sql(
            "the", "table", 4),
        "docs_grouped_by_source": docs_grouped_sql("spark"),
        "spans_containing_trigram": spans_containing_sql("spark", 3),
        "cql_gap_phrase": cql_gap_sql("the", "table"),
        "cql_term_postings": term_positions_sql("vector"),
        "cql_regex_postings": regex_positions_sql("tabl.*"),
        "cql_bracket_bool": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE regexp_full_match(tok, 's.*') AND tok != 'spark'
""",
        "cql_constraint_samewords": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id AND b.p = a.p + 1 AND a.tok = b.tok
""",
        # length(A)=length(B) keeps only the width-1 A expansion:
        # every 'spark' at p>=1 reported as [p-1, p+1)
        "cql_constraint_function": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p - 1 AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE tok = 'spark' AND p >= 1
""",
        "cql_constraint_folded": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id AND b.p = a.p + 1 AND a.tok = b.tok
WHERE a.tok = 'the'
""",
        "cql_constraint_full_grammar": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id AND b.p = a.p + 1 AND a.tok = b.tok
WHERE a.tok <> 'the'
""",
        "cql_pos_layer": pos_layer_sql("func"),
        "cql_subannotation_coarse": _subannotation_sql("cw"),
        # relation gates: det target span [p+1,p+2); nsubj source span
        # (the verb) [p+1,p+2); det full span [p,p+2) with target word
        "relations_det_target": rel_adjacent_sql("func", "noun", 1, 2),
        "cql_rel_function": rel_adjacent_sql("func", "noun", 0, 2,
                                             target_word="table"),
        "cql_rcapture_function": _rcapture_sql(),
        "cql_root_relation": _root_relation_sql(),
        "cql_neg_relation": _neg_relation_sql(),
        "cql_relmulti_branches": _noun3_sql(-1, 2),
        "cql_rmatch_function": _noun3_sql(0, 1),
        "cql_relation_capture_label": f"""
SELECT doc_id, start, "end", start AS rel_start, "end" AS rel_end
FROM ({rel_adjacent_sql("func", "noun", 0, 2, target_word="table")})
""",
        "cql_rcapture2_function": _rcapture2_sql(),
        "cql_force_fiseq": phrase_docs_sql("the", "table"),
        "cql_force_postings": phrase_docs_sql("the", "table"),
        "content_store_roundtrip":
            "SELECT doc_id, text FROM documents",
        "spans_fixed_span": f"""
WITH {_DOC_TOKS}
SELECT doc_id, CAST(2 AS INT) AS start, CAST(5 AS INT) AS "end"
FROM toks WHERE len(ts) >= 5
""",
        "spans_filter_ngrams": f"""
WITH {_DOC_TOKS},
posn AS (SELECT doc_id, unnest(ts) AS tok,
                generate_subscripts(ts, 1) - 1 AS p,
                len(ts) AS n FROM toks)
SELECT DISTINCT a.doc_id, CAST(a.p AS INT) AS start,
       CAST(a.p + 1 + k.k AS INT) AS "end"
FROM posn a CROSS JOIN (VALUES (1), (2)) k(k)
WHERE a.tok = 'table' AND a.p + 1 + k.k <= a.n
""",
        "cql_and_spans": phrase_docs_sql("the", "table"),
        "cql_andnot_spans": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tok = 'the' AND b.tok <> 'table'
""",
        "spans_filter_by_length": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 3 AS INT) AS "end"
FROM pos a JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
WHERE a.tok = 'the' AND c.tok = 'table'
""",
        "server_hits_lifecycle": term_positions_sql("vector"),
        "server_index_lifecycle": f"""
WITH {lifecycle_cte()}
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
       CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM lpos WHERE tok = 'visa'
""",
        "cql_overlap_keyword": f"""
WITH {_DOC_POS},
A AS (SELECT a.doc_id, a.p AS s, a.p + 2 AS e
      FROM pos a JOIN pos nx ON nx.doc_id = a.doc_id AND nx.p = a.p + 1
      WHERE a.tok = 'the'),
B AS (SELECT b.doc_id, b.p - 1 AS s, b.p + 1 AS e
      FROM pos b WHERE b.tok = 'the' AND b.p >= 1)
SELECT DISTINCT a.doc_id, CAST(greatest(a.s, b.s) AS INT) AS start,
       CAST(least(a.e, b.e) AS INT) AS "end"
FROM A a JOIN B b ON a.doc_id = b.doc_id AND a.s < b.e AND b.s < a.e
""",
        "relations_backward_source": rel_adjacent_sql("noun", "noun", 1, 2),
        "cql_relation_between": rel_adjacent_sql("func", "noun", 0, 2,
                                                 target_word="table"),
        "parallel_other_field_hits": parallel_other_field_sql("the", "table"),
        "parallel_cross_field_align": parallel_cross_field_sql("spark",
                                                               "query"),
        "cql_pos_word_sequence": pos_word_seq_sql("func", "table"),
        "cql_or_terms": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE tok IN ('spark', 'table')
""",
        "cql_not_token": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE tok != 'the'
""",
        "cql_repetition_unbounded": f"""
WITH RECURSIVE {_DOC_POS},
runs AS (
  SELECT doc_id, p AS s, p + 1 AS e FROM pos WHERE tok = 'the'
  UNION ALL
  SELECT r.doc_id, r.s, r.e + 1
  FROM runs r JOIN pos q ON q.doc_id = r.doc_id AND q.p = r.e
  WHERE q.tok = 'the')
SELECT doc_id, CAST(s AS INT) AS start, CAST(e AS INT) AS "end" FROM runs
""",
        "cql_group_repetition": f"""
WITH {_DOC_POS},
bi AS (
  SELECT a.doc_id, a.p AS s, a.p + 2 AS e
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.tok = 'the' AND b.tok = 'table')
SELECT doc_id, CAST(s AS INT) AS start, CAST(e AS INT) AS "end" FROM bi
UNION
SELECT x.doc_id, CAST(x.s AS INT) AS start, CAST(y.e AS INT) AS "end"
FROM bi x JOIN bi y ON x.doc_id = y.doc_id AND y.s = x.e
""",
        "cql_capture_group": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end",
       CAST(a.p AS INT) AS x_start, CAST(a.p + 1 AS INT) AS x_end
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tok = 'the' AND b.tok = 'table'
""",
        "spans_edge_trailing": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p + 1 AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE tok = 'spark'
""",
        "spans_overlapping_grams": f"""
WITH {_DOC_POS},
dl AS (SELECT doc_id, len(ts) AS n FROM toks),
a AS (SELECT pos.doc_id, p AS s, p + 2 AS e FROM pos JOIN dl USING (doc_id)
      WHERE tok = 'the' AND p + 2 <= dl.n),
b AS (SELECT pos.doc_id, p AS s, p + 2 AS e FROM pos JOIN dl USING (doc_id)
      WHERE tok = 'table' AND p + 2 <= dl.n)
SELECT DISTINCT a.doc_id,
       CAST(greatest(a.s, b.s) AS INT) AS start,
       CAST(least(a.e, b.e) AS INT) AS "end"
FROM a JOIN b ON a.doc_id = b.doc_id AND a.s < b.e AND b.s < a.e
""",
        "facets_by_lang": f"""
WITH {_DOC_TOKS}
SELECT d.lang, count(*) AS "count"
FROM documents d JOIN toks USING (doc_id)
WHERE list_contains(toks.ts, 'spark')
GROUP BY 1
""",
        "sort_hits_property_dsl": f"""
WITH {_DOC_POS},
t2 AS (SELECT doc_id, ts FROM toks),
h AS (SELECT p.doc_id, CAST(p.p AS INT) AS start,
             CAST(p.p + 1 AS INT) AS "end",
             coalesce(ts[p.p + 2], '') AS nxt
      FROM pos p JOIN t2 USING (doc_id) WHERE p.tok = 'table')
SELECT CAST(row_number() OVER (ORDER BY nxt, doc_id, start) AS INT) AS rank,
       doc_id, start, "end"
FROM h
""",
        "hits_to_docs": f"""
WITH {_DOC_POS}
SELECT doc_id, count(*) AS n_hits FROM pos
WHERE tok = 'spark' GROUP BY 1
""",
        "kwic_spark_ctx3": kwic_sql("spark", 3),
        "hits_window_page2": window_sql("vector", 10, 10),
        "transcript_topk_role_filtered": bm25_micro_sql(["visa"], 5,
                                                        role="assistant"),
        "bm25_topk_filtered_role_wand": bm25_micro_sql(["visa"], 5,
                                                       role="assistant"),
        "bm25_topk_filtered_lang_wand": bm25_docs_sql(["spark"], 10,
                                                      lang="en"),
        "transcript_phrase_within_conv": phrase_micro_within_sql(
            "very", "good", "conv00001"),
        "unicode_term_frequencies": f"""
WITH {multi_cte()}
SELECT tok AS term, count(*) AS "count" FROM tpos
GROUP BY 1 ORDER BY count(*) DESC, tok
""",
        "unicode_bm25_topk": bm25_micro_sql(["cafe"], 5, cte=multi_cte()),
        "delete_tombstone_visibility": bm25_micro_sql(
            ["visa"], 5, extra_where="AND d.conv_id != 'conv00000'"),
        "cql_fuzzy_term": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE levenshtein(tok, 'spark') <= 1
""",
        "cql_and_same_span": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE regexp_full_match(tok, 't.*')
          AND regexp_full_match(tok, '.*e')
""",
        "cql_and_not_span": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE regexp_full_match(tok, 't.*') AND tok != 'the'
""",
        "cql_ccnot_sequence": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tok != 'the' AND b.tok = 'table'
""",
        "cql_and_lenfilter": f"""
WITH {_DOC_POS},
the2 AS (
  SELECT a.doc_id, a.p AS s, a.p + 2 AS e
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
  WHERE a.tok = 'the' AND b.tok = 'the'),
the3 AS (
  SELECT t.doc_id, t.s, t.e + 1 AS e
  FROM the2 t JOIN pos c ON c.doc_id = t.doc_id AND c.p = t.e
  WHERE c.tok = 'the')
SELECT doc_id, CAST(s AS INT) AS start, CAST(e AS INT) AS "end" FROM the2
UNION
SELECT doc_id, CAST(s AS INT) AS start, CAST(e AS INT) AS "end" FROM the3
""",
        "hits_filter_by_length": f"""
WITH {_DOC_POS}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 3 AS INT) AS "end"
FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 2
WHERE a.tok = 'the' AND b.tok = 'table'
""",
        "docs_group_of_groups": f"""
WITH {_DOC_TOKS},
g AS (SELECT d.source, count(*) AS c
      FROM documents d JOIN toks USING (doc_id)
      WHERE list_contains(toks.ts, 'spark') GROUP BY 1)
SELECT c AS group_size, count(*) AS n_groups FROM g GROUP BY 1
""",
        "unicode_ci_sensitivity": f"""
WITH {multi_cte()},
tci AS (SELECT doc_id, {duckdb_tokens_ci('text')} AS ts FROM tdocs),
cpos AS (SELECT doc_id, unnest(ts) AS tok,
                generate_subscripts(ts, 1) - 1 AS p FROM tci)
SELECT d.conv_id, d.turn_idx, CAST(c.p AS INT) AS start,
       CAST(c.p + 1 AS INT) AS "end"
FROM cpos c JOIN tdocs d USING (doc_id)
WHERE c.tok = 'café'
""",
        "cql_sensitivity_flags": f"""
WITH {multi_cte()},
tci AS (SELECT doc_id, {duckdb_tokens_ci('text')} AS ts FROM tdocs),
cpos AS (SELECT doc_id, unnest(ts) AS tok,
                generate_subscripts(ts, 1) - 1 AS p FROM tci)
SELECT d.conv_id, d.turn_idx, CAST(c.p AS INT) AS start,
       CAST(c.p + 1 AS INT) AS "end"
FROM cpos c JOIN tdocs d USING (doc_id)
WHERE c.tok = 'café'
""",
        "cql_lemma_multivalue": _lemma_multivalue_sql(),
        "hits_sample_deterministic": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos
WHERE tok = 'the'
  AND substr(md5(concat_ws('|', '7', doc_id, p, p + 1)), 1, 8)
      < '40000000'
""",
        "streaming_delta_cql": f"""
WITH {micro_cte()}
SELECT a.doc_id, CAST(a.p AS INT) AS start, CAST(a.p + 2 AS INT) AS "end"
FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
WHERE a.tok = 'visa' AND b.tok = 'application'
""",
        "streaming_delta_topk": f"""
WITH {micro_cte()},
dl AS (SELECT doc_id, len(ts) AS dl FROM ttoks),
stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok AS term, count(*) AS tf
       FROM (SELECT doc_id, unnest(ts) AS tok FROM ttoks)
       WHERE tok IN ('visa') GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (SELECT tf.doc_id, sum({_score_expr()}) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id),
topk AS (SELECT doc_id, score FROM scored
         ORDER BY round(score, 4) DESC, doc_id LIMIT 5)
SELECT CAST(row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS INT)
         AS rank,
       doc_id, round(score, 4) AS score
FROM topk
""",
        "tags_spans_all": _tags_spans_all_sql(),
        "cql_tag_attr": _tag_attr_sql("ne", "type", "doc"),
        "cql_tag_within_sentence": _tag_within_sql("visa", "application",
                                                   "s"),
        "cql_tag_sentence_initial": _tag_edge_sql("the", "s"),
        "luceneql_docs_filter": f"""
WITH {micro_cte()}
SELECT conv_id, turn_idx FROM tdocs
WHERE lower(role) = 'user' AND turn_idx >= 0 AND turn_idx <= 3
""",
        "contextql_contents_and_meta": f"""
WITH {micro_cte()}
SELECT d.conv_id, d.turn_idx, CAST(t.p AS INT) AS start,
       CAST(t.p + 1 AS INT) AS "end"
FROM tpos t JOIN tdocs d USING (doc_id)
WHERE t.tok LIKE 'vis%' AND lower(d.role) = 'user'
""",
        "cql_synonym_injection": _synonym_injection_sql(),
        "parallel_stored_alignment": _aligned_stored_sql(
            "visa", "application"),
        "conllu_deprel_relations": _conllu_deprel_sql("nsubj"),
        "conllu_rel_source_mode": _conllu_deprel_sql("obj", "source"),
        "conllu_pos_given": _conllu_layer_sql("upos", "NOUN"),
        "conllu_lemma_given": _conllu_layer_sql("lemma", "be"),
        "conllu_word_folded": _conllu_layer_sql("word", "cafe"),
        "preprocess_length_tagger": f"""
WITH {_DOC_POS}
SELECT doc_id, CAST(p AS INT) AS start, CAST(p + 1 AS INT) AS "end"
FROM pos WHERE len(tok) > 4
""",
        "chat_turns_parse": _chat_turns_sql(),
        "folia_tokens_parse": _folia_tokens_sql(),
        **{f"{k}_tokens_parse": _token_layers_sql(g, p)
           for k, g, p in _reader_fixtures()},
    })
