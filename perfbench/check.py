"""Reference answers from the program's pure-Python oracle.

Checks are untimed; a mismatch counts as a failed operation. Top-k is
scored with ``oracle.bm25_idf`` and one precomputed ``avgdl`` instead of
``oracle.brute_topk``, which recomputes ``avgdl`` for every candidate.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow.parquet as pq

from blacklab_spark.config import B, K1
from blacklab_spark.oracle import bm25_idf, build_oracle_index, phrase_hits
from blacklab_spark.tokenizer import py_tokens_insensitive

TOL = 1e-6


class Reference:
    """Oracle index over every turn indexed in the run, doc ids in
    (conv_id, turn_idx) order, plus the set of tombstoned docs. Corpus
    statistics keep deleted docs, as the engine's do until compaction."""

    def __init__(self, rows: list[dict]):
        self.idx = build_oracle_index(rows)
        self.total_tokens = sum(self.idx.dl.values())
        self.deleted: set[int] = set()

    @property
    def n_docs(self) -> int:
        return self.idx.n_docs

    def alive(self, doc: int) -> bool:
        return doc not in self.deleted

    def append(self, rows: list[dict]) -> None:
        """Add turns whose (conv_id, turn_idx) sort after every indexed one."""
        idx = self.idx
        for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
            d = len(idx.doc_ids)
            toks = py_tokens_insensitive(r["text"])
            idx.doc_ids.append(d)
            idx.tokens[d] = toks
            idx.dl[d] = len(toks)
            idx.meta[d] = r
            self.total_tokens += len(toks)
            for pos, t in enumerate(toks):
                idx.postings.setdefault(t, {}).setdefault(d, []).append(pos)

    def rollback(self, n_docs: int) -> None:
        """Back to the base corpus of ``n_docs`` turns: drop appended
        turns and every tombstone."""
        idx = self.idx
        for d in idx.doc_ids[n_docs:]:
            toks = idx.tokens.pop(d)
            self.total_tokens -= idx.dl.pop(d)
            del idx.meta[d]
            for t in set(toks):
                plist = idx.postings[t]
                del plist[d]
                if not plist:
                    del idx.postings[t]
        del idx.doc_ids[n_docs:]
        self.deleted.clear()

    def delete_conv(self, conv_id: str) -> int:
        docs = {d for d, r in self.idx.meta.items()
                if r["conv_id"] == conv_id} - self.deleted
        self.deleted |= docs
        return len(docs)

    def scores(self, terms: list[str], role: str | None = None) -> dict:
        """BM25 of every live candidate doc, summed in sorted-term order."""
        idx, n = self.idx, self.idx.n_docs
        avgdl = self.total_tokens / max(1, n)
        out: dict[int, float] = {}
        for t in sorted(set(terms)):
            plist = idx.postings.get(t, {})
            idf = bm25_idf(n, len(plist))
            for d, pos in plist.items():
                if d in self.deleted or (role and idx.meta[d]["role"] != role):
                    continue
                tf, dl = len(pos), idx.dl[d]
                out[d] = out.get(d, 0.0) + idf * (tf * (K1 + 1.0)) / (
                    tf + K1 * (1.0 - B + B * dl / avgdl))
        return out

    def topk_ok(self, got: list[tuple[int, float]], terms: list[str],
                k: int, role: str | None = None) -> bool:
        """Ranks and scores equal the oracle's within TOL; a doc at a
        tied score may stand in for another."""
        scores = self.scores(terms, role)
        want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        if len(got) != len(want) or len({d for d, _ in got}) != len(got):
            return False
        for (gd, gs), (wd, ws) in zip(got, want):
            if abs(gs - ws) > TOL:
                return False
            if gd != wd and abs(scores.get(gd, math.inf) - gs) > TOL:
                return False
        return True

    def count(self, shape: str, terms: list[str]) -> int:
        """Hits of a term, phrase or one-gap sequence in live docs."""
        if shape != "gapped":
            return sum(1 for d, _, _ in phrase_hits(self.idx, terms)
                       if d not in self.deleted)
        first, last = terms
        n = 0
        for d, starts in self.idx.postings.get(first, {}).items():
            if d in self.deleted:
                continue
            toks = self.idx.tokens[d]
            n += sum(1 for s in starts if s + 2 < len(toks)
                     and toks[s + 2] == last)
        return n

    def docs(self, shape: str, terms: list[str]) -> int:
        """Live docs holding at least one hit of a term or phrase."""
        return len({d for d, _, _ in phrase_hits(self.idx, terms)
                    if d not in self.deleted})

    def build_ok(self, manifest: dict, index_dir: str,
                 rng: np.random.Generator, sample: int = 32) -> bool:
        """Turn and token counts, dictionary size, and a seeded sample
        of df/cf values match the oracle."""
        stats = manifest["stats"]
        if (stats["n_docs"] != self.n_docs
                or stats["total_tokens"] != self.total_tokens):
            return False
        t = pq.read_table(f"{index_dir}/terms", columns=["term", "df", "cf"])
        built = dict(zip(t.column("term").to_pylist(),
                         zip(t.column("df").to_pylist(),
                             t.column("cf").to_pylist())))
        if len(built) != len(self.idx.postings):
            return False
        vocab = sorted(self.idx.postings)
        for i in rng.choice(len(vocab), size=min(sample, len(vocab)),
                            replace=False):
            term = vocab[int(i)]
            if built.get(term) != (self.idx.df(term), self.idx.cf(term)):
                return False
        return True
