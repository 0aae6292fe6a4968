"""Seeded inputs: the transcript corpus and the request streams.

The corpus is the program's ``bench`` transcript fixture: the rows of
conversations ``first .. first+count-1`` are exactly the rows that
``gen_transcripts_spark(spark, "bench", seed, n_convs)`` yields for those
indices, generated here on the driver because the oracle needs them too.

Request streams are drawn from the *built* dictionary and the corpus
text, so every query names terms that exist, and are written verbatim
into the run artifact.
"""

from __future__ import annotations

import functools
import itertools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = "bench"
ROLES = ["user", "assistant"]

# Document-frequency bands as a share of turns. At 214k turns these are
# the df<200 / 200-5,000 / >=20,000 bands of the full-size corpus.
BANDS = {"rare": (0.0, 0.00093), "mid": (0.00093, 0.0233),
         "hot": (0.093, 1.01)}
# The band of each term drawn, and the terms per top-k query, in turn: a
# 40/40/20 rare/mid/hot mix in a fixed order, so that the streams of all
# seeds have the same shape and differ only in which terms they name.
BAND_CYCLE = ("rare", "mid", "hot", "mid", "rare")
TOPK_TERMS_CYCLE = (1, 2, 3)


@functools.lru_cache(maxsize=1)
def _fixture():
    from blacklab_spark.sources.transcripts import (FIXTURES, _zipf_probs,
                                                    make_vocab)
    _, turns, vocab_size = FIXTURES[CORPUS]
    return make_vocab(vocab_size), _zipf_probs(vocab_size), turns


def conversations(seed: int, first: int, count: int) -> pd.DataFrame:
    """Transcript rows of conversations ``first .. first+count-1``. Conv
    ids sort in index order, so a later block appends after every
    earlier one."""
    from blacklab_spark.sources.transcripts import gen_conv
    vocab, probs, turns = _fixture()
    df = pd.DataFrame([r for c in range(first, first + count)
                       for r in gen_conv(c, seed, vocab, probs, turns)])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_parquet(df: pd.DataFrame, path: str, parts: int) -> None:
    """Write the rows as ``parts`` files of contiguous rows, the layout
    Spark gives a local DataFrame, with timestamps in microseconds as
    Spark reads them."""
    os.makedirs(path)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def band_terms(df_by_term: dict[str, int], n_docs: int) -> dict[str, list]:
    """Dictionary terms per df band, sorted for a seed-stable draw."""
    out = {}
    for band, (lo, hi) in BANDS.items():
        out[band] = sorted(t for t, d in df_by_term.items()
                           if lo * n_docs <= d < hi * n_docs)
        if not out[band]:
            raise ValueError(f"df band {band!r} is empty at {n_docs} docs")
    return out


class QueryMaker:
    """Draws distinct queries: terms by df band, sequences from text.
    ``alive(doc)`` restricts the docs that sequences are cut from."""

    def __init__(self, rng: np.random.Generator, bands: dict[str, list],
                 tokens: dict[int, list[str]], alive=None):
        self.rng, self.bands, self.tokens = rng, bands, tokens
        self.alive = alive
        self.seen: set = set()
        self._bands = itertools.cycle(BAND_CYCLE)
        self._n_terms = itertools.cycle(TOPK_TERMS_CYCLE)

    def _term(self, band: str) -> str:
        pool = self.bands[band]
        return pool[int(self.rng.integers(len(pool)))]

    def _band(self) -> str:
        return next(self._bands)

    def _fresh(self, make) -> dict:
        for _ in range(1000):
            q = make()
            key = repr(sorted(q.items()))
            if key not in self.seen:
                self.seen.add(key)
                return q
        raise RuntimeError("could not draw a distinct query")

    def topk(self, role: str | None = None) -> dict:
        def make():
            n = next(self._n_terms)
            terms = sorted({self._term(self._band()) for _ in range(n)})
            return {"kind": "topk", "terms": terms, "role": role}
        return self._fresh(make)

    def _window(self, width: int) -> list[str]:
        while True:
            d = int(self.rng.integers(len(self.tokens)))
            toks = self.tokens[d]
            if (self.alive is None or self.alive(d)) and len(toks) >= width:
                p = int(self.rng.integers(len(toks) - width + 1))
                return toks[p:p + width]

    def find(self, shape: str, band: str | None = None) -> dict:
        """A CQL count; a ``term`` is drawn from ``band`` if given, else
        from the next band in BAND_CYCLE."""
        def make():
            if shape == "term":
                terms = [self._term(band or self._band())]
            elif shape == "phrase":
                terms = self._window(2)
            else:
                w = self._window(3)
                terms = [w[0], w[2]]
            return {"kind": "find", "shape": shape, "terms": terms}
        return self._fresh(make)

    def hits(self) -> dict:
        return dict(self.find("phrase"), kind="hits")


def cql(q: dict) -> str:
    """The CQL pattern of a find or hits request."""
    if q["shape"] == "gapped":
        return f'"{q["terms"][0]}" [] "{q["terms"][1]}"'
    return " ".join(f'"{t}"' for t in q["terms"])


# One block of the search stream: half top-k (two of them filtered by
# role), a third CQL counts, a tenth BLS hits pages, and one repeat.
SEARCH_BLOCK = ["topk", "find:term", "topk", "find:phrase", "topk:role",
                "hits", "topk", "find:gapped", "topk", "repeat",
                "topk:role", "find:phrase", "topk", "hits", "topk",
                "find:gapped", "topk", "find:term", "find:term", "topk"]


def search_stream(qm: QueryMaker, n: int) -> list[dict]:
    """``n`` requests following SEARCH_BLOCK; a repeat re-sends one of
    the top-k requests among the last 32, whose plan the engine caches."""
    out: list[dict] = []
    for i in range(n):
        slot = SEARCH_BLOCK[i % len(SEARCH_BLOCK)]
        if slot == "repeat":
            prior = [q for q in out[-32:] if q["kind"] == "topk"]
            out.append({"kind": "repeat",
                        "of": prior[int(qm.rng.integers(len(prior)))]})
        elif slot.startswith("topk"):
            role = str(qm.rng.choice(ROLES)) if slot == "topk:role" else None
            out.append(qm.topk(role))
        elif slot == "hits":
            out.append(qm.hits())
        else:
            out.append(qm.find(slot.split(":")[1]))
    return out
