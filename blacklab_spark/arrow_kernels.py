"""Arrow-native build kernels (mapInArrow) — the zero-object hot path.

The pandas variants of these kernels were correct but paid ~10µs/row
of boundary tax: Arrow→pandas materializes a Python ``bytes`` object
per binary cell and an object ndarray per list cell, and the return
trip pays it again — measured ~600 CPU-s for a 63M-row merge whose
actual numpy compute is ~38 CPU-s. These kernels consume and produce
Arrow RecordBatches directly:

* list<string> tokens → ``flatten()`` + C++ ``dictionary_encode``
  (no Python strings until the final dictionary ``take``);
* binary columns → (offsets, data) numpy views, sliced per block by
  offset arithmetic — per-block output costs *zero* Python
  allocations (``Array.from_buffers`` over one contiguous stream).

Semantics are bit-identical to the previous kernels (same varint
streams, same group/block boundaries) — the oracle round-trip tests
in tests/test_build.py are the contract.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from blacklab_spark import codec
from blacklab_spark.config import BuildConfig

_ZCF = dict(zero_copy_only=False)


def binary_views(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """BinaryArray → (offsets int32[n+1] normalized to start at 0,
    data uint8 view of exactly this array's bytes)."""
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset:arr.offset + len(arr) + 1]
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[
        off[0]:off[-1]]
    return (off - off[0]).astype(np.int64), data


def _binary_col(offsets: np.ndarray, data: bytes | np.ndarray,
                n: int) -> pa.Array:
    off32 = np.ascontiguousarray(offsets, dtype=np.int32)
    buf = data.tobytes() if isinstance(data, np.ndarray) else bytes(data)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(off32.tobytes()),
                         pa.py_buffer(buf)])


# --------------------------------------------------------------------
# SPIMI: (doc_id, tokens) batches → pre-encoded posting mini-blocks.
#
# Because doc ids are range-partitioned, every (term, bucket) group
# lives in at most two adjacent SPIMI partitions — so per-partition
# block encoding here IS most of the merge: the downstream shuffle
# carries ~5× fewer, already-encoded rows (measured: the 63M-row
# posting shuffle's JVM↔Arrow row pivot alone cost ~480 CPU-s).
# --------------------------------------------------------------------
def spimi_arrow_rows(batches):
    """2-column batches (doc_id, tokens): positions = array index,
    dl = array length. 4-column batches (doc_id, tokens, positions,
    dl): EXPLICIT per-entry positions + per-doc dl — the multi-value
    (posIncr-0) input shape, where one position carries several
    stacked entries (BuildConfig.synonyms; dl stays the PRIMARY
    token count so BM25 length normalization ignores stacking).
    Explicit positions must ascend within each doc (stacked values
    adjacent), which the JVM-side flatten construction guarantees."""
    for batch in batches:
        doc_ids = batch.column(0).to_numpy(**_ZCF).astype(np.int64)
        tokens = batch.column(1)
        lens = pc.list_value_length(tokens).to_numpy(**_ZCF).astype(np.int64)
        total = int(lens.sum())
        if total == 0:
            continue
        flat = tokens.flatten()
        de = pc.dictionary_encode(flat)
        # keep Arrow's native int32 dictionary indices: the stable
        # sort + gathers below are the kernel's memory-bandwidth hot
        # loop, and int64 upcasts double their traffic for nothing
        # (a batch's vocabulary is < 2^31 by Arrow's array limit)
        codes = de.indices.to_numpy(**_ZCF)
        vocab = de.dictionary

        # doc sort/group keys in int32 when the batch's doc-id RANGE
        # allows (always true for the build's dense ascending ids);
        # absolute int64 ids are recovered at group starts only
        doc_base = int(doc_ids.min()) if doc_ids.size else 0
        if doc_ids.size and int(doc_ids.max()) - doc_base < 2**31:
            docs_flat = np.repeat(
                (doc_ids - doc_base).astype(np.int32), lens)
        else:
            doc_base = 0
            docs_flat = np.repeat(doc_ids, lens)
        if batch.num_columns >= 4:
            pos_vals = batch.column(2).flatten().to_numpy(**_ZCF)
            dl_vals = batch.column(3).to_numpy(**_ZCF)
            # the posting format stores positions and dl as int32
            for name, v in (("position", pos_vals), ("dl", dl_vals)):
                if v.size and int(v.max()) >= 2**31:
                    raise ValueError(
                        f"explicit {name} {int(v.max())} does not fit "
                        "the int32 posting format (max 2^31-1)")
            pos_flat = pos_vals.astype(np.int32)
            dls_flat = np.repeat(dl_vals, lens).astype(np.int32)
        else:
            starts = np.repeat((np.cumsum(lens) - lens), lens)
            pos_flat = (np.arange(total) - starts).astype(np.int32)
            dls_flat = np.repeat(lens, lens).astype(np.int32)

        # build batches arrive doc_id-ascending (assign_doc_ids sorts
        # above its join — plan-asserted in test_build) and positions
        # ascend within a doc by flatten construction, so a single
        # stable sort on the term code yields exactly the
        # (code, doc, pos) lexsort order at ~60% of its cost; the
        # monotonicity check keeps unsorted callers correct.
        sorted_in = doc_ids.size < 2 or (doc_ids[1:] >= doc_ids[:-1]).all()
        if sorted_in and batch.num_columns >= 4 and total > 1:
            # explicit-positions callers (synonym flatten) must also
            # ascend within each doc run, or the stable argsort below
            # would emit negative deltas that wrap via the uint64
            # cast into corrupt varints (r4 ADVICE #2)
            sorted_in = bool(((pos_flat[1:] >= pos_flat[:-1])
                              | (docs_flat[1:] != docs_flat[:-1])).all())
        if sorted_in:
            order = np.argsort(codes, kind="stable")
        else:
            order = np.lexsort((pos_flat, docs_flat, codes))
        f, dcs = codes[order], docs_flat[order]
        ps, dls = pos_flat[order], dls_flat[order]
        change = np.empty(total, dtype=bool)
        change[0] = True
        change[1:] = (f[1:] != f[:-1]) | (dcs[1:] != dcs[:-1])
        g_starts = np.nonzero(change)[0]
        n_groups = g_starts.size
        g_ends = np.append(g_starts[1:], total)
        tfs = (g_ends - g_starts).astype(np.int32)

        # positions stream: per group [tf, first_abs, gaps...]
        cnt_idx = g_starts + np.arange(n_groups)
        stream = np.empty(total + n_groups, dtype=np.uint64)
        stream[cnt_idx] = tfs.astype(np.uint64)
        mask = np.ones(total + n_groups, dtype=bool)
        mask[cnt_idx] = False
        pdelta = ps.copy()
        pdelta[1:] = ps[1:] - ps[:-1]
        pdelta[g_starts] = ps[g_starts]
        stream[mask] = pdelta.astype(np.uint64)
        enc = codec.encode_varints(stream)
        boff = np.concatenate(([0], np.cumsum(codec.varint_lengths(stream))))
        v_bounds = np.append(cnt_idx, stream.size)
        pos_col = _binary_col(boff[v_bounds], enc, n_groups)

        # term stays DICTIONARY-encoded: the sole consumer
        # (spimi_miniblocks) groups by code and re-encoding the
        # materialized strings there was a second full pass over the
        # batch's term bytes
        term_col = pa.DictionaryArray.from_arrays(
            pa.array(f[g_starts], type=pa.int32()), vocab)
        doc_out = dcs[g_starts].astype(np.int64) + doc_base
        yield pa.RecordBatch.from_arrays(
            [term_col,
             pa.array(doc_out, type=pa.int64()),
             pa.array(tfs, type=pa.int32()),
             pos_col,
             pa.array(dls[g_starts], type=pa.int32())],
            names=["term", "doc_id", "tf", "positions", "dl"])


def spimi_miniblocks(cfg: BuildConfig):
    """(doc_id, tokens) batches → mini-block rows:
    (term, bucket, first_doc, n_docs, sum_tf, max_tf,
     doc_ids, tfs, dls, positions).

    Segmentation matches the final block layout (split at bucket
    boundaries and cfg.block_size), so stage 4 only re-keys by term_id
    and adds max_score — no re-encoding."""
    bs, bucket_size = cfg.block_size, cfg.bucket_size

    def gen(batches):
        for batch in spimi_arrow_rows(batches):
            term = batch.column(0)          # dictionary<string>
            doc = batch.column(1).to_numpy(**_ZCF).astype(np.int64)
            tf = batch.column(2).to_numpy(**_ZCF)
            pos_off, pos_data = binary_views(batch.column(3))
            dl = batch.column(4).to_numpy(**_ZCF)
            n = doc.size
            # rows arrive grouped by term (sorted by code) and doc
            # asc, already dictionary-encoded by spimi_arrow_rows —
            # use its codes directly (re-encoding the strings here
            # was a second full pass over the term bytes)
            if pa.types.is_dictionary(term.type):
                codes = term.indices.to_numpy(**_ZCF)
                vocab = term.dictionary
            else:
                de = pc.dictionary_encode(term)
                codes = de.indices.to_numpy(**_ZCF)
                vocab = de.dictionary
            bkt = doc // bucket_size
            group_change = np.empty(n, dtype=bool)
            group_change[0] = True
            group_change[1:] = (codes[1:] != codes[:-1]) | (bkt[1:] != bkt[:-1])
            gidx = np.cumsum(group_change) - 1
            g_start_row = np.nonzero(group_change)[0]
            idx_in_group = np.arange(n) - g_start_row[gidx]
            block_start = group_change | (idx_in_group % bs == 0)
            b_starts = np.nonzero(block_start)[0]
            nb = b_starts.size
            b_bounds = np.append(b_starts, n)

            deltas = doc.astype(np.uint64).copy()
            deltas[1:] = doc[1:].astype(np.uint64) - doc[:-1].astype(np.uint64)
            deltas[b_starts] = doc[b_starts].astype(np.uint64)
            doc_stream = codec.encode_varints(deltas)
            doc_off = np.concatenate(
                ([0], np.cumsum(codec.varint_lengths(deltas))))
            tf_stream = codec.encode_varints(tf)
            tf_off = np.concatenate(([0], np.cumsum(codec.varint_lengths(tf))))
            dl_stream = codec.encode_varints(dl)
            dl_off = np.concatenate(([0], np.cumsum(codec.varint_lengths(dl))))
            sum_tf = np.add.reduceat(tf, b_starts,
                                     dtype=np.int64).astype(np.int64)
            max_tf = np.maximum.reduceat(tf, b_starts).astype(np.int32)

            yield pa.RecordBatch.from_arrays([
                pc.take(vocab, pa.array(codes[b_starts])).cast(pa.string()),
                pa.array(bkt[b_starts], type=pa.int64()),
                pa.array(doc[b_starts], type=pa.int64()),
                pa.array(np.diff(b_bounds).astype(np.int32), type=pa.int32()),
                pa.array(sum_tf, type=pa.int64()),
                pa.array(max_tf, type=pa.int32()),
                _binary_col(doc_off[b_bounds], doc_stream, nb),
                _binary_col(tf_off[b_bounds], tf_stream, nb),
                _binary_col(dl_off[b_bounds], dl_stream, nb),
                (_binary_col(pos_off[b_bounds], pos_data, nb)
                 if cfg.store_positions else pa.nulls(nb, pa.binary())),
            ], names=["term", "bucket", "first_doc", "n_docs", "sum_tf",
                      "max_tf", "doc_ids", "tfs", "dls", "positions"])

    return gen


# --------------------------------------------------------------------
# Stage-4 finalize: mini-blocks (already encoded, shuffled to
# (term_id, bucket) partitions, sorted by (term_id, bucket, first_doc))
# → final BLOCK_SCHEMA rows. Adds term_id-keyed block_id numbering and
# the per-block max BM25 score (decodes the concatenated tf/dl varint
# streams once per batch — vectorized, no per-block work). Only
# counters are carried across Arrow batches: blocks never merge, so a
# group split across batches just continues its block_id numbering.
# --------------------------------------------------------------------
def finalize_blocks_arrow(cfg: BuildConfig, n_docs: int, avgdl: float):
    k1, b = cfg.k1, cfg.b

    def gen(batches):
        prev_tid = prev_bkt = None
        prev_next_id = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            names = batch.schema.names
            col = {n: batch.column(i) for i, n in enumerate(names)}
            tid = col["term_id"].to_numpy(**_ZCF).astype(np.int64)
            bkt = col["bucket"].to_numpy(**_ZCF).astype(np.int64)
            nd = col["n_docs"].to_numpy(**_ZCF).astype(np.int64)
            dfv = col["df"].to_numpy(**_ZCF).astype(np.int64)
            mtf = col["max_tf"].to_numpy(**_ZCF).astype(np.int32)
            n = tid.size

            # block_id: cumcount within (term_id, bucket), continued
            # from the previous batch when the group spans batches
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (tid[1:] != tid[:-1]) | (bkt[1:] != bkt[:-1])
            gidx = np.cumsum(change) - 1
            g_start = np.nonzero(change)[0]
            block_id = (np.arange(n) - g_start[gidx]).astype(np.int32)
            if prev_tid is not None and tid[0] == prev_tid                     and bkt[0] == prev_bkt:
                first_len = g_start[1] if g_start.size > 1 else n
                block_id[:first_len] += prev_next_id
            prev_tid, prev_bkt = int(tid[-1]), int(bkt[-1])
            prev_next_id = int(block_id[-1]) + 1

            # max_score: decode the batch's concatenated tf/dl streams
            _, tf_data = binary_views(col["tfs"])
            _, dl_data = binary_views(col["dls"])
            tf_vals = codec.decode_varints(tf_data).astype(np.float64)
            dl_vals = codec.decode_varints(dl_data).astype(np.float64)
            v_starts = np.concatenate(([0], np.cumsum(nd)))[:-1]
            idf = np.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))
            # exact same expression shape as score_bucket_kernel so the
            # block max is bit-identically *achieved* by some doc —
            # the WAND threshold bound depends on that
            idf_per_val = np.repeat(idf, nd)
            contrib = idf_per_val * (tf_vals * (k1 + 1.0)) / (
                tf_vals + k1 * (1.0 - b + b * dl_vals / avgdl))
            max_score = np.maximum.reduceat(contrib, v_starts)

            yield pa.RecordBatch.from_arrays([
                col["term_id"], col["bucket"],
                pa.array(block_id, type=pa.int32()),
                col["n_docs"].cast(pa.int32()),
                col["doc_ids"], col["tfs"], col["dls"], col["positions"],
                pa.array(mtf, type=pa.int32()),
                pa.array(max_score.astype(np.float64), type=pa.float64()),
            ], names=["term_id", "bucket", "block_id", "n_docs", "doc_ids",
                      "tfs", "dls", "positions", "max_tf", "max_score"])

    return gen
