"""Unit tests for training-data pipeline ops (beyond the DuckDB gate
replica in test_entry.py): LSH recall, simhash vs pure-python
reference, multimodal plumbing contracts."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from blacklab_spark.functions import dedup as D
from blacklab_spark.functions import multimodal as M
from blacklab_spark.functions import similarity as S
from blacklab_spark.functions.hashing import md5_long, py_md5_long

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_md5_long_cross_impl(spark):
    vals = ["", "a", "hello world", "Zebra42"]
    rows = (spark.createDataFrame([(v,) for v in vals], "s string")
            .select("s", md5_long(F.col("s")).alias("h")).collect())
    for r in rows:
        assert r["h"] == py_md5_long(r["s"])


def test_lsh_recall_equals_bruteforce(spark, docs):
    """The gate claims LSH+verify ≡ brute force on this corpus —
    the claim the dedup_minhash_lsh oracle rests on."""
    brute = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             D.jaccard_pairs_bruteforce(docs, 0.5).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert lsh == brute
    assert len(brute) > 0


def test_jaccard_pairs_are_planted_near_dups(spark, docs):
    pairs = D.jaccard_pairs_bruteforce(docs, 0.5).collect()
    assert 10 <= len(pairs) <= 100
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_simhash_matches_python_reference(spark, docs):
    """Engine simhash (Arrow kernel) vs direct python recompute."""
    sample = docs.orderBy("doc_id").limit(20)
    got = {r["id"]: r["simhash"] for r in D.simhash(sample).collect()}
    from blacklab_spark.tokenizer import py_tokens_insensitive
    for row in sample.collect():
        toks = py_tokens_insensitive(row["text"])
        sums = [0] * D.SIMHASH_BITS
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(D.SIMHASH_BITS):
                sums[b] += 1 if (h >> b) & 1 else -1
        expect = sum(1 << b for b in range(D.SIMHASH_BITS) if sums[b] > 0)
        assert got[row["doc_id"]] == expect


def test_exact_dedup_detects_injected_dups(spark):
    rows = [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["keep_id"]: r["dup_count"] for r in D.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_cosine_topk_self_consistency(spark, emb):
    """IVF candidates ⊆ exact ranking; both deterministic."""
    exact = [(r["vec_id"], r["cosine"]) for r in
             S.cosine_topk(emb, 7, k=10).collect()]
    ivf = [(r["vec_id"], r["cosine"]) for r in
           S.ivf_topk(emb, 7, k=10, k_centroids=16, nprobe=2).collect()]
    assert len(exact) == 10 and len(ivf) == 10
    exact_scores = dict(exact)
    # ivf results carry the same cosine values where ids overlap
    for vid, cos in ivf:
        if vid in exact_scores:
            assert cos == exact_scores[vid]


def test_multimodal_features_roundtrip(spark, docs):
    media = M.media_from_documents(docs.limit(10))
    feats = {r["media_id"]: r for r in M.byte_features(media).collect()}
    for row in docs.limit(10).collect():
        f = feats[row["doc_id"]]
        assert f["n_bytes"] == len(row["text"].encode())
        assert f["digest"] == hashlib.md5(row["text"].encode()).hexdigest()


def test_multimodal_compressed_decode_raises(spark, docs):
    """Compressed codecs stay an HONEST boundary: a payload that is
    neither PPM/PGM nor BMP needs PIL, absent here."""
    media = M.media_from_documents(docs.limit(2))   # utf-8 text bytes
    with pytest.raises(Exception) as ei:
        M.decode_images(media).collect()
    assert "NotImplementedError" in str(ei.value) or "Pillow" in str(ei.value)


def _encode_ppm(arr):
    h, w = arr.shape[:2]
    return b"P6\n# c\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _encode_pgm(arr):
    h, w = arr.shape
    return b"P5\n%d %d\n255\n" % (w, h) + arr.tobytes()


@pytest.mark.parametrize("buf", [b"P6", b"P6\n", b"P6 4", b"P5 4 3",
                                 b"P6 4 3 \n", b"P6 4 # comment to the end"])
def test_decode_ppm_truncated_header_raises(buf):
    with pytest.raises(ValueError, match="truncated PPM header"):
        M.decode_ppm_bytes(buf)


def _encode_bmp24(arr, flipped=True):
    """Reference 24-bit BI_RGB encoder (bottom-up rows, 4-byte
    padding, BGR pixel order) — written independently of the decoder."""
    import struct
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    rows = range(h - 1, -1, -1) if flipped else range(h)
    for y in rows:
        row = arr[y, :, ::-1].tobytes()      # RGB → BGR
        raster += row + b"\x00" * (stride - len(row))
    data_off = 14 + 40
    hdr = (b"BM" + struct.pack("<IHHI", data_off + len(raster), 0, 0,
                               data_off)
           + struct.pack("<IiiHHIIiiII", 40, w, h if flipped else -h,
                         1, 24, 0, len(raster), 2835, 2835, 0, 0))
    return bytes(hdr) + bytes(raster)


@pytest.mark.parametrize("seed", range(5))
def test_multimodal_numpy_decoders_roundtrip(seed):
    rng = np.random.default_rng(900 + seed)
    h, w = int(rng.integers(1, 9)), int(rng.integers(1, 9))
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
    a, mode = M.decode_ppm_bytes(_encode_ppm(rgb))
    assert mode == "RGB" and np.array_equal(a, rgb)
    a, mode = M.decode_ppm_bytes(_encode_pgm(gray))
    assert mode == "L" and np.array_equal(a, gray)
    for flipped in (True, False):
        a, mode = M.decode_bmp_bytes(_encode_bmp24(rgb, flipped))
        assert mode == "RGB" and np.array_equal(a, rgb), \
            f"bmp flipped={flipped}"
    # WAV: random int16 samples round-trip with rate
    n = int(rng.integers(1, 500))
    samples = rng.integers(-32768, 32768, n, dtype=np.int16)
    buf = M.synth_wav_bytes(0, 0)          # header template sanity
    assert M.decode_wav_bytes(buf)[1] == 8000
    import struct
    rate = int(rng.integers(4000, 48000))
    wav = (b"RIFF" + struct.pack("<I", 36 + 2 * n) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                   rate * 2, 2, 16)
           + b"data" + struct.pack("<I", 2 * n) + samples.tobytes())
    s, r = M.decode_wav_bytes(wav)
    assert r == rate and np.array_equal(s, samples.astype(np.int32))


def test_multimodal_resize_nearest():
    rng = np.random.default_rng(17)
    arr = rng.integers(0, 256, (8, 6, 3), dtype=np.uint8)
    out = M.resize_image_nearest(arr, 3, 4)
    assert out.shape == (4, 3, 3)
    # spot-check the index mapping
    assert np.array_equal(out[0, 0], arr[0, 0])
    assert np.array_equal(out[3, 2], arr[3 * 8 // 4, 2 * 6 // 3])


def test_multimodal_audio_frames_random_samples(spark):
    """Frame features over NON-constant samples (the gate's synth is
    constant-amp): random int16 clips vs a pure-python reference."""
    import struct
    rng = np.random.default_rng(31)
    rows, expect = [], {}
    for mid in range(6):
        rate = int(rng.choice([8000, 16000]))
        n = int(rng.integers(1, 700))
        samples = rng.integers(-32768, 32768, n, dtype=np.int16)
        wav = (b"RIFF" + struct.pack("<I", 36 + 2 * n) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate,
                                       rate * 2, 2, 16)
               + b"data" + struct.pack("<I", 2 * n)
               + samples.tobytes())
        rows.append((mid, bytes(wav), "audio"))
        flen = rate * 20 // 1000
        expect[mid] = [
            (i, min(flen, n - i * flen),
             int(max(abs(int(s)) for s in
                     samples[i * flen:(i + 1) * flen])))
            for i in range((n + flen - 1) // flen)]
    media = spark.createDataFrame(
        rows, "media_id long, payload binary, kind string")
    got: dict = {}
    for r in M.audio_frame_features(media, frame_ms=20).collect():
        got.setdefault(r["media_id"], []).append(
            (r["frame_idx"], r["n_in_frame"], r["peak"]))
    assert {k: sorted(v) for k, v in got.items()} == expect


def test_multimodal_decode_gates_match_formulas(spark, docs):
    sub = docs.limit(12)
    img = {r["media_id"]: r for r in M.decode_images(
        M.synth_media_from_documents(sub, "image")).collect()}
    aud = {r["media_id"]: r for r in M.decode_audio(
        M.synth_media_from_documents(sub, "audio")).collect()}
    for row in sub.collect():
        did, tl = row["doc_id"], len(row["text"])
        i = img[did]
        assert (i["width"], i["height"], i["mode"], i["mean_byte"]) \
            == ((tl % 13) + 2, (did % 5) + 2, "RGB", did % 251)
        a = aud[did]
        rate = 8000 + (did % 3) * 4000
        n = 160 + (tl % 40) * 4
        assert (a["sample_rate"], a["n_samples"], a["duration_ms"],
                a["peak"]) == (rate, n, n * 1000 // rate,
                               (did % 1000) + 1)


def test_frame_sample_plan(spark):
    rows = [(1, "video", None, (None, None, None, 3500))]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = sorted(r["frame_ts_ms"] for r in
                 M.frame_sample_plan(df, every_ms=1000).collect())
    assert out == [0, 1000, 2000, 3000]


def test_simhash_blocked_equals_bruteforce(spark, docs):
    """Pigeonhole-banded SimHash pairs must equal the all-pairs join
    exactly (the blocking is a proof, not a heuristic)."""
    for t in (2, 4, 8):
        brute = sorted(map(tuple,
                           D.simhash_near_pairs_bruteforce(docs, t).collect()))
        blocked = sorted(map(tuple, D.simhash_near_pairs(docs, t).collect()))
        assert blocked == brute
    assert len(D.simhash_near_pairs(docs, 4).collect()) > 0


def test_simhash_blocked_rejects_bad_chunking(spark, docs):
    with pytest.raises(ValueError):
        D.simhash_near_pairs(docs, max_hamming=6, n_chunks=5)


def test_embedding_lsh_pairs_subset_and_precision(spark, emb):
    """LSH-bucketed pairs ⊆ brute-force pairs (exact verify ⇒ 100%
    precision); on the fixture at the gate threshold the candidate
    join must surface a non-trivial share of the true pairs."""
    brute = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in D.embedding_near_pairs(emb, 0.45).collect()}
    lsh = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in D.embedding_near_pairs_lsh(emb, 0.45, dim=64).collect()}
    assert set(lsh) <= set(brute)
    for pair, cos in lsh.items():
        assert cos == brute[pair]
    assert len(lsh) > 0


def test_embedding_lsh_full_recall_on_high_threshold(spark):
    """Planted near-identical vectors (cos ≥ 0.99 — the actual
    near-dup regime) must ALL be found by the banded path."""
    import pandas as pd
    rng = np.random.RandomState(7)
    base = rng.randn(40, 64)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant 5 near-dups of vectors 0-4 with tiny perturbation
    for j in range(5):
        v = base[j] + rng.randn(64) * 0.01
        rows.append((100 + j, [float(x) for x in v]))
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["vec_id", "embedding"]))
    got = {(r["id_a"], r["id_b"])
           for r in D.embedding_near_pairs_lsh(df, 0.99, dim=64).collect()}
    assert {(j, 100 + j) for j in range(5)} <= got


def test_ivf_centroids_fixed_k(spark, emb):
    """Centroid count is k regardless of corpus size (bounded
    broadcast — VERDICT r01 IVF fix)."""
    assert S.centroids(emb, 16).count() == 16
    assert S.centroids(emb.limit(100), 16).count() == 16


def test_ivf_kmeans_refine_deterministic_and_no_worse(spark, emb):
    """Lloyd refinement: deterministic (two runs identical), keeps the
    fixed centroid count, and recall@10 vs exact is >= the unrefined
    seed's recall for the same (k_centroids, nprobe)."""
    seed = S.centroids(emb, 16)
    r1 = S.kmeans_refine(emb, seed, iters=2).orderBy("cid").collect()
    r2 = S.kmeans_refine(emb, seed, iters=2).orderBy("cid").collect()
    assert [(r["cid"], r["cv"]) for r in r1] == \
           [(r["cid"], r["cv"]) for r in r2]
    assert len(r1) == 16

    exact = {r["vec_id"] for r in S.cosine_topk(emb, 7, k=10).collect()}

    def recall(refine_iters):
        got = {r["vec_id"] for r in
               S.ivf_topk(emb, 7, k=10, k_centroids=16, nprobe=2,
                          refine_iters=refine_iters).collect()}
        return len(got & exact)

    assert recall(2) >= recall(0)


def test_cosine_zero_vector_guard(spark):
    """An all-zero embedding scores 0.0 against everything instead of
    raising ANSI DIVIDE_BY_ZERO (Spark 4 ansi=true default) — on the
    brute path, the IVF assign path, and both near-pair paths."""
    import blacklab_spark.functions.dedup as D
    rows = [(0, [0.0] * 8),
            (1, [1.0] + [0.0] * 7),
            (2, [1.0] + [0.0] * 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["cosine"]
           for r in S.cosine_topk(df, 1, k=2).collect()}
    assert got[2] == 1.0 and got[0] == 0.0
    assert S.ivf_topk(df, 1, k=2, k_centroids=2, nprobe=2,
                      refine_iters=1).count() == 2
    pairs = {(r["id_a"], r["id_b"])
             for r in D.embedding_near_pairs(
                 df.withColumnRenamed("vec_id", "doc_id"), 0.9,
                 id_col="doc_id").collect()}
    assert pairs == {(1, 2)}


# ---------------------------------------------------------------- curation


def test_decontaminate_flags_ngram_overlap(spark):
    from blacklab_spark.functions import curation as C
    bench = spark.createDataFrame(
        [(0, "one two three four five six seven eight tail")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "prefix one two three four five six seven eight suffix"),
         (2, "completely different words with no overlap at all here"),
         (3, "short doc")],   # < n tokens -> zero shingles
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_contaminated_ngrams"], r["contaminated"])
           for r in C.decontaminate(docs, bench, n=8).collect()}
    assert out[1][1] == 1 and out[1][0] >= 1
    assert out[2] == (0, 0)
    assert out[3] == (0, 0)


def test_redact_pii_matches_python_re(spark):
    import re
    from blacklab_spark.functions import curation as C
    rows = [(1, "mail me at a.b+c@example.co.uk or 10.0.0.1 now"),
            (2, "card 4111111111111111 expires"),
            (3, "no pii here, just text with 42 and 1.5 numbers"),
            (4, "two mails x@y.io z@w.dev and ip 192.168.255.254")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in C.redact_pii(df).collect()}
    import hashlib
    for doc_id, text in rows:
        counts = {name: len(re.findall(pat, text))
                  for name, pat, _ in C.PII_PATTERNS}
        red = text
        for _, pat, repl in C.PII_PATTERNS:
            red = re.sub(pat, repl, red)
        g = got[doc_id]
        assert (g["n_email"], g["n_ipv4"], g["n_card"]) == (
            counts["email"], counts["ipv4"], counts["card"]), doc_id
        assert g["redacted_digest"] == hashlib.md5(red.encode()).hexdigest()
    assert got[4]["n_email"] == 2


def test_stratified_sample_partition_invariant(spark, docs):
    """The hash predicate must select the SAME doc set at any
    partitioning (the property rand()-sampling lacks)."""
    from blacklab_spark.functions import curation as C
    rates = {"en": 300, "de": 500}
    a = {r["doc_id"] for r in
         C.stratified_sample(docs.repartition(1), rates).collect()}
    b = {r["doc_id"] for r in
         C.stratified_sample(docs.repartition(16), rates).collect()}
    assert a == b and len(a) > 0
    for r in C.stratified_sample(docs, rates).collect():
        assert r["bucket"] < rates[r["stratum"]]


def test_repetition_ratio_hand_example(spark):
    from blacklab_spark.functions import curation as C
    df = spark.createDataFrame(
        [(1, "a b a b a"),        # 3-grams: aba bab aba -> 3 total 2 distinct
         (2, "x y"),              # < n tokens
         (3, "w w w w w w")],     # 4 identical 3-grams
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in C.repetition_ratio(df, n=3).collect()}
    assert (out[1]["n_ngrams"], out[1]["n_distinct"]) == (3, 2)
    assert out[1]["dup_ratio"] == 0.3333
    assert (out[2]["n_ngrams"], out[2]["dup_ratio"]) == (0, 0.0)
    assert (out[3]["n_ngrams"], out[3]["n_distinct"]) == (4, 1)
    assert out[3]["dup_ratio"] == 0.75


def test_curation_plan_shapes(spark, docs):
    """Scale assertions for the curation ops: the benchmark/rate
    sides broadcast (never a corpus shuffle join), and the per-row
    ops have zero exchanges."""
    from pyspark.sql import functions as F
    from blacklab_spark.functions import curation as C
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    p = C.decontaminate(docs, bench)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    p = C.stratified_sample(docs, {"en": 300})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    for op in (C.redact_pii(docs), C.repetition_ratio(docs)):
        p = op._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, p


def test_redact_pii_randomized_vs_python():
    """Property: on random ASCII texts with planted PII the JVM
    regexes and Python's re agree on counts and the redacted text
    (the patterns live in the common Java/RE2/Python syntax
    subset)."""
    import hashlib
    import random
    import re
    from pyspark.sql import SparkSession
    from blacklab_spark.functions import curation as C
    spark = SparkSession.getActiveSession()
    rng = random.Random(42)
    words = ["alpha", "beta", "42", "x.y", "a@b", "@", "10.0", "1234",
             "mail", "192.168.0.1", "u.ser+tag@ex-1.example.org",
             "4111111111111111", "123456789012", "end."]
    rows = [(i, " ".join(rng.choice(words)
                         for _ in range(rng.randint(0, 12))))
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in C.redact_pii(df).collect()}
    for doc_id, text in rows:
        red = text
        counts = {}
        for name, pat, repl in C.PII_PATTERNS:
            counts[name] = len(re.findall(pat, text))
            red = re.sub(pat, repl, red)
        g = got[doc_id]
        assert (g["n_email"], g["n_ipv4"], g["n_card"]) == (
            counts["email"], counts["ipv4"], counts["card"]), (doc_id, text)
        assert g["redacted_digest"] == \
            hashlib.md5(red.encode()).hexdigest(), (doc_id, text, red)


def _py_mixture(rows, weights, budget):
    """rows: [(doc_id, lang, text)] → (rates, kept {doc_id: row})."""
    from blacklab_spark.functions.curation import MIX_SALT
    from blacklab_spark.tokenizer import py_tokens_insensitive

    w_sum = sum(weights.values())
    toks = {}
    n_tok = {}
    for doc_id, lang, text in rows:
        n = len(py_tokens_insensitive(text or ""))
        n_tok[doc_id] = n
        if lang in weights:
            toks[lang] = toks.get(lang, 0) + n
    toks = {d: t for d, t in toks.items() if t > 0}
    cap = min(t * w_sum // weights[d] for d, t in toks.items())
    if budget is not None:
        cap = min(cap, budget)
    rates = {d: min(1000, 1000 * (weights[d] * cap // w_sum) // t)
             for d, t in toks.items()}
    kept = {}
    for doc_id, lang, _ in rows:
        if lang not in rates:
            continue
        bucket = py_md5_long(str(doc_id), salt=MIX_SALT) % 1000
        if bucket < rates[lang]:
            kept[doc_id] = (lang, n_tok[doc_id], bucket, rates[lang])
    return rates, kept


def _mixture_rows(seed, n):
    import random
    rng = random.Random(seed)
    langs = ["en", "en", "en", "de", "es", "fr"]
    vocab = ["data", "model", "train", "töken", "ñata", "loss"]
    return [(i, rng.choice(langs),
             " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
            for i in range(n)]


def test_mixture_sample_matches_python_oracle(spark):
    from blacklab_spark.functions import curation as C

    rows = _mixture_rows(31, 400) + [(999, "en", None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    weights = {"en": 500, "de": 200, "es": 300}   # fr absent -> dropped
    for budget in (None, 2000):
        _, want = _py_mixture(rows, weights, budget)
        got = {r.doc_id: (r.domain, r.n_tok, r.bucket, r.rate)
               for r in C.mixture_sample(df, weights,
                                         budget_tokens=budget).collect()}
        assert got == want
        assert all(lang != "fr" for lang, *_ in got.values())


def test_mixture_sample_hits_target_composition(spark):
    """Expected kept-token share per domain ≈ the target weights:
    rate_d * tok_d / 1000 ∝ W_d by construction (floor slack < 2‰)."""
    from blacklab_spark.functions import curation as C

    rows = _mixture_rows(37, 600)
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    weights = {"en": 600, "de": 200, "es": 200}
    rates, _ = _py_mixture(rows, weights, None)
    toks = {}
    from blacklab_spark.tokenizer import py_tokens_insensitive
    for _, lang, text in rows:
        if lang in weights:
            toks[lang] = toks.get(lang, 0) + len(py_tokens_insensitive(text))
    expected = {d: rates[d] * toks[d] / 1000 for d in rates}
    total = sum(expected.values())
    for d, w in weights.items():
        assert abs(expected[d] / total - w / 1000) < 0.01
    # and the Spark side agrees with the oracle-derived rate table
    got_rates = {r.domain: r.rate
                 for r in C.mixture_sample(df, weights)
                 .select("domain", "rate").distinct().collect()}
    assert got_rates == rates


def test_mixture_sample_rejects_bad_weights(spark):
    from blacklab_spark.functions import curation as C

    df = spark.createDataFrame([(1, "en", "x")],
                               "doc_id long, lang string, text string")
    with pytest.raises(ValueError, match="weights"):
        C.mixture_sample(df, {"en": 0})
    with pytest.raises(ValueError, match="weights"):
        C.mixture_sample(df, {})


def test_minhash_signature_matches_python_oracle(spark):
    """Pin the affine MinHash family exactly: one md5 base hash per
    shingle (mod 2^31-1), then min over (a_i*h + b_i) mod p — the
    same integers a pure-Python replay produces."""
    from blacklab_spark.functions.dedup import (
        MH_COEFFS, MH_PRIME, MH_SALT, minhash_banded)

    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "völlig anderes dokument mit eigenen wörtern"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {}
    for r in minhash_banded(df, num_hashes=16, bands=8).collect():
        got.setdefault(r.id, {})[r.band] = r.key

    from blacklab_spark.tokenizer import py_tokens_insensitive
    for doc_id, text in enumerate(texts):
        toks = py_tokens_insensitive(text)
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        hs = [py_md5_long(MH_SALT + s) % MH_PRIME for s in sh]
        sig = [min((a * h + b) % MH_PRIME for h in hs)
               for a, b in MH_COEFFS[:16]]
        want = {b: ",".join(str(sig[b * 2 + r]) for r in range(2))
                for b in range(8)}
        assert got[doc_id] == want, f"doc {doc_id}"
