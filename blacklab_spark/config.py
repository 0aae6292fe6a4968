"""Frozen engine constants + build configuration.

BM25 parameters mirror Lucene's defaults (BM25Similarity k1=1.2,
b=0.75), which is what the reference effectively uses through its
IndexSearcher (see SURVEY.md preamble;
/root/reference/engine/src/main/java/nl/inl/blacklab/search/BlackLabIndexAbstract.java:521).
They are frozen at *build* time because per-block max-score metadata
bakes them in; ``index_meta.json`` records them.
"""

from __future__ import annotations

from dataclasses import dataclass, asdict

# Okapi BM25 parameters (Lucene defaults) — frozen.
K1: float = 1.2
B: float = 0.75

# Frozen tokenizer v2 (Unicode): a token is a maximal run of Unicode
# letter/mark/number characters (general categories L*, M*, N*); the
# insensitive (@i) layer additionally lowercases and accent-folds —
# exactly BlackLab's BLStandardAnalyzer @i treatment (reference:
# engine/src/main/java/nl/inl/blacklab/analysis/BLStandardAnalyzer.java:30-33,
# DesensitizeFilter.java). Chosen so the IDENTICAL tokenization is
# expressible in Spark SQL (Java regex \p{L}), DuckDB (RE2 \p{L}) and
# pure Python (unicodedata category runs) — the rank-identity gate
# depends on all three agreeing. For pure-ASCII text v2 tokenizes
# identically to round-1's v1 ([a-z0-9]+ on lowered text).
TOKEN_RE_INSENSITIVE: str = "[\\p{L}\\p{M}\\p{N}]+"
TOKEN_RE_SENSITIVE: str = "[\\p{L}\\p{M}\\p{N}]+"
TOKENIZER_VERSION: str = "v2-unicode-fold"


def _build_fold_table() -> tuple[str, str]:
    """Accent-fold as a fixed translate table: single accented Latin
    letters → their NFD base letter; combining marks (U+0300-U+036F)
    deleted (translate with a shorter replacement string deletes — the
    same semantics in Spark, DuckDB and Python str.translate). The
    table is generated from unicodedata at import, so it is one
    deterministic artifact shared by all three engines. Multi-char
    folds (ß→ss, œ→oe) are NOT applied — they cannot be expressed as
    a 1:1 translate and are left as-is, documented."""
    import unicodedata
    src, dst = [], []
    for cp in range(0x00C0, 0x0250):          # Latin-1 Sup + Ext-A/B head
        ch = chr(cp)
        if not unicodedata.category(ch).startswith("L"):
            continue
        d = unicodedata.normalize("NFD", ch)
        base = d[0]
        if base != ch and len(base) == 1 and base.isascii() \
                and base.isalpha():
            src.append(ch)
            dst.append(base)
    for s, t in {"ø": "o", "Ø": "O", "đ": "d", "Đ": "D",
                 "ħ": "h", "Ħ": "H", "ł": "l", "Ł": "L"}.items():
        src.append(s)
        dst.append(t)
    marks = "".join(chr(c) for c in range(0x0300, 0x0370))
    return "".join(src) + marks, "".join(dst)


FOLD_SRC, FOLD_DST = _build_fold_table()

# Storage schema version for the index artifacts.
INDEX_FORMAT_VERSION: int = 6


@dataclass(frozen=True)
class BuildConfig:
    """Configuration for one index build.

    doc-range bucketing: postings are grouped into buckets of
    ``bucket_size`` consecutive doc ids. A block never spans buckets.
    At query time all query terms' blocks for one bucket land in the
    same task (groupBy bucket), enabling document-at-a-time scoring
    without a per-doc shuffle — the bucket IS the salting unit, so a
    hot term ("the") spreads evenly over buckets instead of hitting
    one reducer (SURVEY.md §7 P3 skew handling).
    """

    # Max docs per posting block (per term within a bucket).
    block_size: int = 128
    # Docs per range bucket. 8192 ⇒ ~122M buckets at 10^12 turns;
    # each task reads a handful of buckets. Tunable per corpus.
    bucket_size: int = 8192
    # Store token positions in blocks (needed for phrase queries).
    store_positions: bool = True
    # Derived annotation layers materialized at build time (pos costs
    # ~9% build throughput; disable for pure-BM25 corpora at scale).
    annotations: tuple = ("pos",)
    # Inline-tag span layer (reference SpanQueryTags / <s/> elements):
    # when True, document text may contain well-nested inline markup;
    # the build tokenizes the TAG-STRIPPED text, keeps the original
    # markup as `text_raw` (content store), and writes a `_spans`
    # artifact (doc_id, tag, start, end, attrs) derived map-side
    # (operators/tags.py). Off by default — plain corpora pay zero.
    tags: bool = False
    # Word-layer multi-value injection (the reference's position-
    # increment-0 stacking on the word annotation itself,
    # AnnotationWriter.java:233-311 — synonym-injection indexing):
    # map token → extra searchable values stacked at every position
    # the token occupies. The POSTINGS carry the stacked values (so
    # `[word="X"]` matches an injected alternative, and df/tf count
    # stacked occurrences — same as the reference's inverted index);
    # the forward index keeps the PRIMARY value only (display,
    # probes, constraint comparisons — the reference's primary-value
    # payload flag). Query planning pins postings for word leaves
    # when set. None/empty → zero cost.
    synonyms: dict | None = None
    # Convert-and-tag preprocessing plugins (reference ConvertPlugin/
    # TagPlugin/DocIndexerConvertAndTag): names of registered
    # DataFrame→DataFrame transforms (blacklab_spark.preprocess) run
    # over the transcripts input before stage 1 — typically to
    # populate tokens_s/tokens_pos/tokens_lemma so the pre-annotated
    # input mode stores a tagger's layers. () → zero cost.
    preprocess: tuple = ()
    # Number of partitions for doc-id assignment / posting shuffle.
    # None → spark.sql.shuffle.partitions.
    num_partitions: int | None = None

    def to_dict(self) -> dict:
        """The manifest's ``config``: the settable fields plus the
        frozen constants, so a reader can detect a mismatch."""
        return {"k1": K1, "b": B, **asdict(self),
                "tokenizer_version": TOKENIZER_VERSION,
                "format_version": INDEX_FORMAT_VERSION}
