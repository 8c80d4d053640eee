"""Semantic checks for the approximate operators: planted near-dups must be
found, and determinism must hold across runs (pinned seeds)."""

from __future__ import annotations

import importlib

import pytest
from pyspark.sql import functions as F

from dmshadoop_spark.dedup import minhash_lsh_pairs, simhash_candidate_pairs
from dmshadoop_spark.similarity import brute_force_knn, lsh_knn

BASE = (
    "the quick brown fox jumps over the lazy dog while spark shuffles "
    "partitions across the cluster and catalyst prunes columns"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("lazy", "sleepy")),  # near-dup of 0
        (3, "completely different text about embeddings and lsh buckets"),
        (4, "another unrelated document mentioning joins aggregates windows"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_dups(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(corpus, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # exact dup: jaccard exactly 1
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup caught
    assert all(3 not in p and 4 not in p for p in pairs)


def test_minhash_deterministic(corpus):
    a = sorted(map(tuple, minhash_lsh_pairs(corpus, threshold=0.3).collect()))
    b = sorted(map(tuple, minhash_lsh_pairs(corpus, threshold=0.3).collect()))
    assert a == b


def test_simhash_identical_docs_zero_hamming(corpus):
    rows = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidate_pairs(corpus).collect()
    }
    assert rows[(0, 1)] == 0
    near = rows.get((0, 2))
    assert near is not None and near <= 16


def test_hamming_banding_negative_fingerprints(spark):
    """Round-4 ADVICE regression: chunk values must be sign-oblivious.
    fps 1 and 1|bit16|bit32|bit63 (hamming 3, chunks=4) share chunk 0
    exactly, but bit 63 makes the second fp negative — the old Java-%
    bucketing sent them to different buckets and emitted zero pairs."""
    from dmshadoop_spark.dedup.hamming import hamming_candidate_pairs

    fp_a = 1
    fp_b = 1 | (1 << 16) | (1 << 32) | (1 << 62) | -(1 << 63)  # bit63 set
    df = spark.createDataFrame(
        [(0, fp_a), (1, fp_b)], "doc_id long, fp long"
    )
    got = hamming_candidate_pairs(df, "doc_id", "fp", chunks=4).collect()
    # hamming here is 4 (bits 16, 32, 62, 63) — drop bit 62 for exactly 3
    fp_b3 = 1 | (1 << 16) | (1 << 32) | -(1 << 63)
    df3 = spark.createDataFrame(
        [(0, fp_a), (1, fp_b3)], "doc_id long, fp long"
    )
    got3 = hamming_candidate_pairs(df3, "doc_id", "fp", chunks=4).collect()
    assert len(got3) == 1 and got3[0]["hamming"] == 3
    # the guarantee is ≤ chunks−1; the hamming-4 pair still shares chunk 0
    # (bits 0-15 identical) so it appears too
    assert len(got) == 1 and got[0]["hamming"] == 4

    # two negative fps sharing only the TOP chunk pair correctly as well
    fp_c = -(1 << 63) | (7 << 40)
    fp_d = -(1 << 63) | (7 << 40) | 0xFFFF | (0xFFFF << 16)
    dfd = spark.createDataFrame(
        [(0, fp_c), (1, fp_d)], "doc_id long, fp long"
    )
    gotd = hamming_candidate_pairs(dfd, "doc_id", "fp", chunks=4).collect()
    assert len(gotd) == 1


def test_hamming_banding_never_pairs_a_row_with_itself(spark):
    """A fingerprint row given twice must not pair the document with
    itself: each bucket's pairs are oriented ``a < b``, which an element
    and its equal copy never satisfy."""
    from dmshadoop_spark.dedup.hamming import hamming_candidate_pairs

    df = spark.createDataFrame(
        [(1, 7), (1, 7), (2, 7), (3, 1 << 40)], "doc_id long, fp long"
    )
    got = {
        tuple(r)
        for r in hamming_candidate_pairs(df, "doc_id", "fp", chunks=4).collect()
    }
    assert not [r for r in got if r[0] == r[1]], got
    assert got == {(1, 2, 0), (1, 3, 4), (2, 3, 4)}


def test_hamming_banding_pairs_ids_once_across_fingerprints(spark):
    """An id with two fingerprints (7 and 15, one bit apart) is never
    paired with itself, and its pair with id 2 comes once, with the
    least hamming of its two fingerprint pairs (|7 ^ 2^40| = 4 bits, not
    |15 ^ 2^40| = 5)."""
    from dmshadoop_spark.dedup.hamming import hamming_candidate_pairs

    df = spark.createDataFrame(
        [(1, 7), (1, 15), (2, 1 << 40)], "doc_id long, fp long"
    )
    got = [
        tuple(r)
        for r in hamming_candidate_pairs(df, "doc_id", "fp", chunks=4).collect()
    ]
    assert got == [(1, 2, 4)]


def test_knn_exact_duplicate_vector_is_top1(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # identical to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.7, 0.7, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    bf = brute_force_knn(emb.filter("vec_id != 0"), q, k=3).collect()
    assert bf[0]["neighbor_id"] == 1 and abs(bf[0]["cosine"] - 1.0) < 1e-12

    approx = lsh_knn(emb.filter("vec_id != 0"), q, dim=4, k=3, planes=2).collect()
    # identical vector always lands in the query's bucket → still top-1
    assert approx[0]["neighbor_id"] == 1


def test_ivf_knn_recall_vs_exact(spark, sf_dir):
    from dmshadoop_spark.similarity import brute_force_knn, ivf_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = brute_force_knn(emb, queries, k=5)
    approx = ivf_knn(emb, queries, k=5, n_centroids=8, nprobe=4)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # Deterministic pipeline: re-running yields the identical set.
    ap2 = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert ap == ap2
    assert len(ap) == 25  # k rows per query
    # probing half the cells must recover a reasonable share of true top-k
    assert len(ex & ap) / len(ex) >= 0.3, (len(ex & ap), len(ex))


def test_pq_knn_recall_and_determinism(spark, sf_dir):
    """PQ-ADC + exact rerank (similarity/pq.py): deterministic neighbor
    sets, partition-layout invariance, and a recall floor vs brute force
    (measured 0.56 at m=8/nbits=4/rerank=3 on the fixture — assert a
    safe margin below)."""
    from dmshadoop_spark.similarity import brute_force_knn, pq_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = brute_force_knn(emb, queries, k=5)
    approx = pq_knn(emb, queries, k=5, m=8, nbits=4, rerank=3, train_iters=2)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(ap) == 25  # k rows per query
    assert len(ex & ap) / len(ex) >= 0.35, (len(ex & ap), len(ex))
    # physical layout must not change training, encoding, or ranking
    ap2 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_knn(
            emb.repartition(7), queries, k=5, m=8, nbits=4, rerank=3,
            train_iters=2,
        ).collect()
    }
    assert ap == ap2


def test_ivfpq_knn_recall_and_determinism(spark, sf_dir):
    """IVF-PQ (coarse cells + residual PQ): k rows per query, recall
    floor vs brute force while scanning only nprobe/n_centroids of the
    corpus, and partition-layout invariance (coarse training, residual
    codebooks, encode, probe ranking, tie-breaks all deterministic)."""
    from dmshadoop_spark.similarity import brute_force_knn, ivfpq_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ex = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    kw = dict(k=5, n_centroids=8, nprobe=4, m=8, nbits=4, rerank=3)
    ap = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_knn(emb, queries, **kw).collect()
    }
    assert len(ap) == 25
    # probing half the cells with 4-bit residual codes (measured 0.52)
    assert len(ex & ap) / len(ex) >= 0.3, (len(ex & ap), len(ex))
    ap2 = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_knn(emb.repartition(5), queries, **kw).collect()
    }
    assert ap == ap2


def test_pq_adc_exact_on_codebook_points(spark):
    """When every corpus subvector IS a codebook centroid, quantization
    is lossless: ADC dot == exact dot, so rerank=0 (pure ADC ranking)
    must MATCH brute force exactly — pins the LUT indexing (j·ksub +
    code), the encode argmin, and the stored-norm denominator."""
    import numpy as np

    from dmshadoop_spark.similarity import brute_force_knn, pq_knn
    from dmshadoop_spark.similarity.pq import pq_encode, train_pq_codebooks

    rng = np.random.RandomState(3)
    m, ksub, dsub = 4, 4, 3  # dim 12, nbits=2
    books = rng.randn(m, ksub, dsub).round(3)
    rows = []
    for i in range(40):
        codes = [(i + 7 * j) % ksub for j in range(m)]
        vec = np.concatenate([books[j][c] for j, c in enumerate(codes)])
        rows.append((i, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    enc = pq_encode(emb, books).collect()
    by_id = {r["vec_id"]: list(r["pq_code"]) for r in enc}
    assert by_id[0] == [0, 3, 2, 1]  # (i + 7j) % 4 at i=0
    exact = brute_force_knn(emb, queries, k=5)
    adc_only = pq_knn(
        emb, queries, k=5, rerank=0, codebooks=books
    )
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in adc_only.collect()}
    assert ex == ap
    # scores agree numerically, not just rank order
    ex_sc = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in exact.collect()
    }
    for r in adc_only.collect():
        assert abs(r["cosine"] - ex_sc[(r["query_id"], r["neighbor_id"])]) < 1e-9


def test_pq_codebook_shape_and_dim_guard(spark):
    """train_pq_codebooks returns (m, 2^nbits, dim/m) and rejects a dim
    that m doesn't divide."""
    import numpy as np
    import pytest

    from dmshadoop_spark.similarity.pq import train_pq_codebooks

    rows = [(i, [float((i * 13 + p) % 7) for p in range(12)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = train_pq_codebooks(emb, m=4, nbits=2, n_iter=1, id_col="vec_id")
    assert books.shape == (4, 4, 3) and books.dtype == np.float64
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, m=5, nbits=2, id_col="vec_id")


def test_jaccard_df_cap_guards_hot_shingles(spark, sf_dir, monkeypatch):
    """Pin the x2_ngram_jaccard skew guard: postings hotter than
    JACCARD_DF_CAP emit no pairs, and the production cap is far enough above
    any test-SF df that capped and uncapped results are identical."""
    from dmshadoop_spark.queries import llm

    q = llm.x2_ngram_jaccard

    default = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert default  # the synthetic corpus has planted near-dups

    # Production cap must not change results at test SF (df max ≈ 25).
    monkeypatch.setattr(llm, "JACCARD_DF_CAP", 10**9)
    uncapped = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert default == uncapped

    # A cap of 1 excludes every df>=2 posting → no pair survives.
    monkeypatch.setattr(llm, "JACCARD_DF_CAP", 1)
    assert q(spark, sf_dir).count() == 0


def test_embedding_neardup_shard_invariant(spark, sf_dir, monkeypatch):
    """Pin the triangle-sharding exactness claim: x2_embedding_neardup
    must return the identical pair set for any NEARDUP_SHARDS value —
    sharding bounds memory, never results."""
    from dmshadoop_spark.queries import llm

    q = llm.x2_embedding_neardup

    def rows(df):
        return sorted(
            (r["vec_a"], r["vec_b"], round(r["cosine"], 12))
            for r in df.collect()
        )

    base = rows(q(spark, sf_dir))
    assert base  # planted near-dups exist
    for s in (1, 7):
        monkeypatch.setattr(llm, "NEARDUP_SHARDS", s)
        assert rows(q(spark, sf_dir)) == base, f"shards={s}"


def _png_with_filter(img, ftype):
    """Independent filter-side encoder: apply PNG filter `ftype` to every
    scanline with numpy int arithmetic, then frame spec-valid chunks. Lets
    the tests drive decode_png's unfilter paths with bytes our own
    encoder (filter 0 only) never produces."""
    import struct
    import zlib

    import numpy as np

    from dmshadoop_spark.multimodal.binary import _png_chunk

    h, w, _ = img.shape
    stride = w * 3
    flat = img.reshape(h, stride).astype(np.int32)
    z = np.zeros(3, dtype=np.int32)
    raw = b""
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        line = flat[y]
        left = np.concatenate([z, line[:-3]])
        upleft = np.concatenate([z, prev[:-3]])
        if ftype == 0:
            f = line
        elif ftype == 1:
            f = line - left
        elif ftype == 2:
            f = line - prev
        elif ftype == 3:
            f = line - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            f = line - pred
        raw += bytes([ftype]) + (f % 256).astype(np.uint8).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_png_codec_all_filter_types():
    """decode_png must invert every PNG filter type bit-exactly, and
    encode_png→decode_png must be lossless."""
    import numpy as np

    from dmshadoop_spark.multimodal import decode_png, encode_png

    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (21, 17, 3), dtype=np.uint8)
    for ftype in range(5):
        assert (decode_png(_png_with_filter(img, ftype)) == img).all(), ftype
    assert (decode_png(encode_png(img)) == img).all()
    assert encode_png(img) == encode_png(img)  # deterministic


def test_resize_images_real_png_path(spark):
    """PNG payloads go through the real decode→resample→encode branch:
    the emitted thumbnail decodes to exactly resize_nearest(original)."""
    import numpy as np
    from pyspark.sql import Row

    from dmshadoop_spark.multimodal import (
        decode_png,
        encode_png,
        resize_images,
        resize_nearest,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (40, 30, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [Row(path="a.png", content=bytearray(encode_png(img)))]
    )
    out = resize_images(df, width=8, height=6).collect()[0]
    got = decode_png(bytes(out["thumbnail"]))
    assert (got == resize_nearest(img, 8, 6)).all()


def test_png_roundtrip_query_pinned(spark, sf_dir):
    """x6_png_roundtrip is deterministic and its fingerprints match an
    independent recomputation of the synth→resize pipeline."""
    import hashlib

    import numpy as np

    from dmshadoop_spark.multimodal import resize_nearest
    from dmshadoop_spark.queries.llm import x6_png_roundtrip

    rows = {r["path"]: r for r in x6_png_roundtrip(spark, sf_dir).collect()}
    assert rows and all(
        (r["thumb_w"], r["thumb_h"]) == (12, 10) for r in rows.values()
    )

    def expected(d):
        h, w = 24 + d % 8, 32 + d % 16
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(xx * 7 + d) % 256, (yy * 11 + d * 3) % 256, (xx + yy + d * 5) % 256],
            axis=2,
        ).astype(np.uint8)
        return hashlib.sha256(resize_nearest(img, 12, 10).tobytes()).hexdigest()

    for d in (0, 7, 123):
        assert rows[f"png://{d}"]["pixel_sha256"] == expected(d), d


def test_resize_and_frame_sample_plumbing(spark, sf_dir):
    from dmshadoop_spark.multimodal import resize_images, sample_frames

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    binary_shaped = docs.select(
        F.col("doc_id").cast("string").alias("path"),
        F.col("text").cast("binary").alias("content"),
    )
    thumbs = resize_images(binary_shaped, width=8, height=8).collect()
    assert len(thumbs) == 20
    assert all(len(r["thumbnail"]) == 8 * 8 * 3 for r in thumbs)

    frames = sample_frames(binary_shaped, every_s=1.0, bytes_per_s=100)
    rows = frames.collect()
    # one input row fans out to floor(len/100)+1 frames, deterministically
    lengths = {r["path"]: r for r in binary_shaped.collect()}
    import collections

    per_path = collections.Counter(r["path"] for r in rows)
    for path, row in lengths.items():
        assert per_path[path] == len(bytes(row["content"])) // 100 + 1
    again = frames.collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def _union_find_components(edges):
    """Reference implementation: python union-find, min-id labels."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (10, 11)],                      # two components
        [(i, i + 1) for i in range(1, 40)],              # long path: needs jumping
        [(1, 2), (3, 4), (5, 6), (2, 3), (4, 5)],        # chain built out of order
        [(7, 7)],                                        # self-loop
        [(100, 1), (100, 2), (100, 3), (2, 50)],         # star + tail
    ],
)
def test_connected_components_matches_union_find(spark, edges):
    from dmshadoop_spark.dedup import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["comp"]
        for r in connected_components(df, max_iter=8).collect()
    }
    assert got == _union_find_components(edges)


def test_dedup_survivors_keeps_min_and_singletons(spark):
    from dmshadoop_spark.dedup import connected_components, dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 8)], "doc_id long, text string"
    )
    edges = spark.createDataFrame([(2, 3), (3, 4), (6, 5)], "src long, dst long")
    comps = connected_components(edges)
    kept = sorted(
        r["doc_id"] for r in dedup_survivors(docs, comps).collect()
    )
    # cluster {2,3,4} -> 2; cluster {5,6} -> 5; singletons 1,7 survive
    assert kept == [1, 2, 5, 7]


def test_kmeans_recovers_separated_blobs(spark):
    """Three well-separated blobs: Lloyd training must place one centroid
    per blob (assignment purity 1.0) and be deterministic for a seed."""
    import numpy as np

    from dmshadoop_spark.similarity import kmeans_centroids

    rng = np.random.RandomState(7)
    blobs = []
    for bi, center in enumerate([(0.0, 0.0), (50.0, 0.0), (0.0, 50.0)]):
        for i in range(40):
            v = [center[0] + rng.uniform(-1, 1), center[1] + rng.uniform(-1, 1)]
            blobs.append((bi * 40 + i, bi, v))
    df = spark.createDataFrame(
        blobs, "vec_id long, blob int, embedding array<double>"
    )
    cents = kmeans_centroids(
        df, vec_col="embedding", k=3, n_iter=10, id_col="vec_id"
    )
    # each trained centroid sits inside exactly one blob's bounding box
    owners = set()
    for c in cents:
        d = [np.hypot(c[0] - bx, c[1] - by) for bx, by in [(0, 0), (50, 0), (0, 50)]]
        assert min(d) < 2.0, c
        owners.add(int(np.argmin(d)))
    assert owners == {0, 1, 2}
    again = kmeans_centroids(
        df, vec_col="embedding", k=3, n_iter=10, id_col="vec_id"
    )
    assert np.array_equal(cents, again)


def test_ivf_trained_returns_topk_and_recall(spark, sf_dir):
    """Trained IVF must still produce k results per query and hold the
    recall floor the untrained variant is pinned to."""
    from dmshadoop_spark.similarity import brute_force_knn, ivf_knn

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = brute_force_knn(corpus, queries, k=5)
    approx = ivf_knn(corpus, queries, k=5, nprobe=4, train_iters=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    per_q = approx.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)
    assert len(a & e) / len(e) >= 0.5


def test_wav_codec_roundtrip():
    """encode_wav→parse_wav must recover PCM samples bit-exactly, and
    wav_features must equal hand-computed integer statistics."""
    import math

    import numpy as np

    from dmshadoop_spark.multimodal import encode_wav, parse_wav, wav_features

    rng = np.random.default_rng(7)
    pcm = rng.integers(-32768, 32768, 1234, dtype=np.int16)
    blob = encode_wav(pcm, sample_rate=16000)
    w = parse_wav(blob)
    assert (w["samples"] == pcm) .all()
    assert (w["sample_rate"], w["channels"], w["bits"]) == (16000, 1, 16)
    f = wav_features(blob)
    s = pcm.astype(np.int64)
    assert f["peak"] == int(np.abs(s).max())
    assert f["n_samples"] == 1234
    assert f["rms"] == math.sqrt(int((s * s).sum()) / 1234)
    assert encode_wav(pcm, 16000) == blob  # deterministic
    # odd-length PCM pads the data chunk to even without corrupting samples
    odd = encode_wav(pcm[:7], sample_rate=8000)
    assert len(parse_wav(odd)["samples"]) == 7
    # stereo: per-channel sample count halves
    stereo = encode_wav(pcm[:100], sample_rate=8000, channels=2)
    assert wav_features(stereo)["n_samples"] == 50


def test_avi_mux_demux_roundtrip():
    """encode_avi→parse_avi must recover every frame payload byte-exactly
    (including odd-length frames, which pad in the container)."""
    from dmshadoop_spark.multimodal import encode_avi, parse_avi

    frames = [b"frame-zero", b"odd-length!", b"", b"\x00\xff" * 33]
    blob = encode_avi(frames, fps=4, width=20, height=16)
    uspf, got = parse_avi(blob)
    assert uspf == 250_000
    assert got == frames
    assert encode_avi(frames, fps=4) == encode_avi(frames, fps=4)


def test_sample_frames_real_avi_path(spark):
    """RIFF/AVI payloads demux for real: sampled indices follow the avih
    timing (every_s=0.5 at 4 fps → stride 2) and payloads match the muxed
    frames exactly; non-AVI payloads still take the stub path."""
    from pyspark.sql import Row

    from dmshadoop_spark.multimodal import encode_avi, sample_frames

    frames = [f"f{i}".encode() * (i + 1) for i in range(5)]
    df = spark.createDataFrame(
        [
            Row(path="v.avi", content=bytearray(encode_avi(frames, fps=4))),
            Row(path="x.bin", content=bytearray(b"not a container")),
        ]
    )
    rows = sample_frames(df, every_s=0.5).collect()
    avi = sorted(
        ((r["frame_idx"], r["ts_sec"], bytes(r["frame"])) for r in rows
         if r["path"] == "v.avi")
    )
    assert avi == [(0, 0.0, frames[0]), (2, 0.5, frames[2]), (4, 1.0, frames[4])]
    assert any(r["path"] == "x.bin" for r in rows)  # stub path still works


def test_extract_metadata_wav_avi():
    """The UD1 metadata map surfaces real container fields for WAV/AVI."""
    import numpy as np

    from dmshadoop_spark.dms.extract import extract_metadata
    from dmshadoop_spark.multimodal import encode_avi, encode_wav

    pcm = np.arange(4000, dtype=np.int16)
    m = extract_metadata(encode_wav(pcm, sample_rate=8000))
    assert m["content_type"] == "audio/x-wav"
    assert (m["sample_rate"], m["channels"], m["duration_ms"]) == ("8000", "1", "500")
    m2 = extract_metadata(encode_avi([b"a", b"bb", b"ccc"], fps=10))
    assert m2["content_type"] == "video/x-msvideo"
    assert (m2["frame_count"], m2["duration_ms"]) == ("3", "300")


def test_jpeg_zigzag_is_standard():
    """The generated zigzag order must match T.81 Figure 5 — the round-2
    session shipped a transposed generator that self-consistent round-trip
    tests could never catch (encoder+decoder shared the error); only the
    cross-decoder check against Java ImageIO exposed it."""
    from dmshadoop_spark.multimodal.jpeg import ZIGZAG

    assert ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert ZIGZAG[-6:].tolist() == [61, 54, 47, 55, 62, 63]
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_jpeg_codec_roundtrip():
    """encode_jpeg→decode_jpeg: exact on uniform blocks (all energy in DC),
    high-PSNR on gradients, correct dims on non-multiple-of-8 images."""
    import numpy as np

    from dmshadoop_spark.multimodal import decode_jpeg, encode_jpeg

    img = np.full((16, 24, 3), [120, 64, 200], dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(img, quality=90)), img)

    h, w = 41, 57
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 4) % 256, (yy * 3) % 256, (xx + yy) % 256], axis=2
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(img, quality=90))
    assert out.shape == (h, w, 3)
    mse = float(((out.astype(float) - img.astype(float)) ** 2).mean())
    assert 10 * np.log10(255**2 / mse) > 40  # measured ~51 dB

    # deterministic byte-for-byte
    assert encode_jpeg(img) == encode_jpeg(img)


def test_jpeg_progressive_reference_fixture():
    """decode_jpeg handles the reference repo's own demo fixture — a
    PROGRESSIVE (SOF2) 438x431 4:4:4 stream (demo/example_picture.jpg,
    exercised at demo/demo.py:14). Values pinned from a run cross-checked
    against Java ImageIO (max channel deviation 11, mean 0.4)."""
    import hashlib
    import os

    import numpy as np
    import pytest

    from dmshadoop_spark.multimodal import decode_jpeg

    path = "/root/reference/demo/example_picture.jpg"
    if not os.path.exists(path):
        pytest.skip("reference fixture not present")
    arr = decode_jpeg(open(path, "rb").read())
    assert arr.shape == (431, 438, 3)
    assert abs(float(arr.mean()) - 167.52) < 0.5
    assert np.abs(arr[0, 0].astype(int) - [195, 157, 106]).max() <= 2
    assert np.abs(arr[-1, -1].astype(int) - [131, 112, 99]).max() <= 2
    assert (
        hashlib.sha256(arr.tobytes()).hexdigest()
        == "68278385999133c48562ab360bd87a38af880d28fa16d4004180335c5ce2594b"
    )


def test_resize_images_real_jpeg_path(spark):
    """resize_images routes JPEG payloads through the real decode→resample
    →re-encode branch: thumbnails are valid JPEGs that decode to the
    nearest-resampled source within lossy-codec tolerance."""
    import numpy as np

    from dmshadoop_spark.multimodal import (
        decode_jpeg,
        encode_jpeg,
        resize_images,
        resize_nearest,
    )

    h, w = 24, 40
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 5) % 256, (yy * 7) % 256, ((xx + yy) * 2) % 256], axis=2
    ).astype(np.uint8)
    src = spark.createDataFrame(
        [("jpeg://t", bytearray(encode_jpeg(img, quality=95)))],
        "path string, content binary",
    )
    row = resize_images(src, width=16, height=12).collect()[0]
    thumb = decode_jpeg(bytes(row["thumbnail"]))
    assert thumb.shape == (12, 16, 3)
    want = resize_nearest(img, 16, 12).astype(float)
    assert float(np.abs(thumb.astype(float) - want).mean()) < 8.0


def test_jpeg_roundtrip_query_deterministic(spark, sf_dir):
    """x6_jpeg_roundtrip emits stable fingerprints (same rows on re-run)
    with the contracted thumbnail dims."""
    from dmshadoop_spark.queries.llm import x6_jpeg_roundtrip

    rows1 = {r["path"]: r["pixel_sha256"] for r in x6_jpeg_roundtrip(spark, sf_dir).collect()}
    rows2 = {r["path"]: r["pixel_sha256"] for r in x6_jpeg_roundtrip(spark, sf_dir).collect()}
    assert rows1 and rows1 == rows2


def test_rows_only_digests_pinned(spark, sf_dir):
    """Every rows-only ANN entry carries a constant content digest column
    (functions.digest) so its driver check pins output identity, not just
    row count. Values pinned at sf0.001 (the default local gate)."""
    from dmshadoop_spark.queries import llm

    from dmshadoop_spark.queries import aggregates, sinks

    pinned = {
        "x2_minhash_lsh": -4451866062942984362,
        # re-pinned after the round-4 ADVICE hamming chunk-0 sign fix
        # (negative fingerprints now land in the correct bucket, so the
        # candidate set gained the sign-bit-differing pairs)
        "x2_simhash": 5634871952523701006,
        "x5_knn_lsh": 6684966133240233994,
        "x5_knn_ivf": -6069897989754825905,
        "x5_knn_ivf_trained": 4010603010530432115,
        # PQ ADC + exact rerank: codebook training, encode argmin, and
        # the top-k tie-breaks are all deterministic (similarity/pq.py)
        "x5_knn_pq": 6015075922258279888,
        # IVF-PQ: coarse cells + residual codebooks, q·c + ADC scoring
        "x5_knn_ivfpq": 6424891436024041737,
        # PQ-family recall measurement: pins exact + flat/IVF-PQ sets at
        # BOTH codebook widths (measured at this pin, m=8: nbits=4 →
        # recall@5 0.675 flat / 0.55 IVF-PQ at nprobe 4; nbits=8 → 1.0
        # flat / 0.900 IVF-PQ at nprobe 8 + coarse_iters 4 — the
        # round-7 production point; sweep in the x5_pq_recall docstring)
        "x5_pq_recall": 1009858562074280074,
        # ALL values below re-pinned once when with_sorted_digest moved
        # to the O(n) count+hash-sum form (round-7 sf1 probe finding:
        # the sorted-concat digest projection was O(n^2) per row) —
        # same row CONTENT everywhere, new combine formula.
        # codec round-trips: pixel pipelines are code-deterministic
        "x6_png_roundtrip": 2378057155935711388,
        # Root cause of the round-5/round-7 pin flip-flopping
        # (3267694135184578302 vs -662191405487011748, each measured
        # "stably" in different sessions): the JPEG DCT/IDCT einsums ran
        # with optimize=True, which routes through BLAS GEMM — float
        # summation order there varies with the runtime thread
        # environment, and the last-bit IDCT drift flipped
        # round-boundary pixels. The digest was genuinely BISTABLE, not
        # stale. Fixed by optimize=False (numpy's own fixed-order loop,
        # jpeg.py); the value below is the post-fix constant, verified
        # invariant under OMP_NUM_THREADS=1/16 and
        # OPENBLAS_NUM_THREADS=2 and across local[8]/local[32] +
        # PYTHONHASHSEED 0/1/42.
        "x6_jpeg_roundtrip": -3082455253893048038,
        "x21_dedup_incremental": 26021813196804841,
        # image near-dup over sha256-pattern synth images (doc_id-pure):
        # exactly the 180 within-group variant pairs, hamming ≤ 3
        "x28_image_neardup": -8031994509467616824,
    }
    at_default_sf = sf_dir.rstrip("/").endswith("sf0.001")
    for name, want in pinned.items():
        rows = getattr(llm, name)(spark, sf_dir).collect()
        digests = {r["digest"] for r in rows}
        assert len(digests) == 1 and None not in digests, name
        if at_default_sf:
            assert digests == {want}, name

    # data-dependent digests (events/lineitem/parquet-bytes change when the
    # harness regenerates testdata): assert presence + constancy only
    for mod, name in (
        (aggregates, "a7_approx_count_distinct"),
        (aggregates, "a7b_hll_sketch_union"),
        (aggregates, "a10b_approx_percentile"),
        (sinks, "s4_binary_ingest"),
        (llm, "x27_bpe_tokenize"),  # merges trained on corpus text
        (llm, "x6_frame_sample"),  # fallback frames hash corpus text
    ):
        rows = getattr(mod, name)(spark, sf_dir).collect()
        digests = {r["digest"] for r in rows}
        assert len(digests) == 1 and None not in digests, name


def test_mp3_parse_roundtrip_and_junk():
    """parse_mp3 recovers exactly what encode_mp3 wrote (frame count,
    samples, rates), skips ID3v2, and raises cleanly on junk."""
    import pytest

    from dmshadoop_spark.multimodal import encode_mp3, parse_mp3

    m = parse_mp3(encode_mp3(50, 128, 44100))
    assert (m["n_frames"], m["total_samples"], m["sample_rate"], m["bitrate"]) == (
        50, 50 * 1152, 44100, 128000
    )
    with_id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 20]) + b"\x00" * 20 + encode_mp3(
        10, 192, 48000
    )
    m = parse_mp3(with_id3)
    assert m["n_frames"] == 10 and m["sample_rate"] == 48000

    for junk in (b"", b"\x00" * 64, b"ID3", b"\xff\x00" * 10):
        with pytest.raises(ValueError):
            parse_mp3(junk)


def test_mp4_mux_demux_bit_exact():
    """encode_mp4 -> parse_mp4 recovers every sample payload bit-exactly
    with container timestamps; malformed input raises."""
    import pytest

    from dmshadoop_spark.multimodal import encode_mp4, mp4_sample_payloads, parse_mp4

    frames = [bytes([i]) * ((i % 5) + 3) for i in range(12)]
    mp4 = encode_mp4(frames, fps=10, width=64, height=48)
    p = parse_mp4(mp4)
    assert p["timescale"] == 1000 and abs(p["duration"] - 1.2) < 1e-9
    (track,) = p["tracks"]
    assert (track["handler"], track["width"], track["height"]) == ("vide", 64, 48)
    assert mp4_sample_payloads(mp4, track) == frames
    assert [round(ts, 3) for _, _, ts in track["samples"]][:4] == [0.0, 0.1, 0.2, 0.3]

    for junk in (b"", b"\x00" * 100, mp4[:40]):
        with pytest.raises(ValueError):
            parse_mp4(junk)


def test_sample_frames_real_mp4_path(spark):
    """sample_frames routes ISO BMFF payloads through the real demux: the
    emitted frames are the muxed payloads with stts-derived timestamps."""
    from dmshadoop_spark.multimodal import encode_mp4, sample_frames

    frames = [f"payload-{i}".encode() for i in range(8)]
    src = spark.createDataFrame(
        [("mp4://t", bytearray(encode_mp4(frames, fps=4)))],
        "path string, content binary",
    )
    rows = sample_frames(src, every_s=0.01).orderBy("frame_idx").collect()
    assert [bytes(r["frame"]) for r in rows] == frames
    assert [round(r["ts_sec"], 3) for r in rows] == [i * 0.25 for i in range(8)]


def test_extract_metadata_mp3_mp4():
    """The UD1 metadata map covers audio/mpeg and video/mp4 for real."""
    from dmshadoop_spark.dms.extract import extract_metadata
    from dmshadoop_spark.multimodal import encode_mp3, encode_mp4

    m = extract_metadata(encode_mp3(25, 128, 44100))
    assert m["content_type"] == "audio/mpeg"
    assert m["frame_count"] == "25" and m["sample_rate"] == "44100"
    assert m["bitrate"] == "128000"

    v = extract_metadata(encode_mp4([b"x" * 10] * 6, fps=3, width=32, height=16))
    assert v["content_type"] == "video/mp4"
    assert (v["width"], v["height"], v["frame_count"]) == ("32", "16", "6")
    assert v["duration_ms"] == "1998"  # 6 frames at timescale-1000 delta 333


def test_minhash_incremental_equals_full_rebuild(spark, sf_dir):
    """Dedup-at-ingest invariant: index(old) + incremental(new) must
    reproduce EXACTLY the pairs a full rebuild finds — old∪old pairs from
    the old batch, plus every pair touching a new doc from the
    incremental call. Signatures are deterministic, and the bucket cap
    is evaluated on merged buckets, so equality is exact."""
    from dmshadoop_spark.dedup.minhash import (
        minhash_incremental_pairs,
        minhash_index,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    def pairset(df):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 12))
            for r in df.collect()
        }

    full = pairset(minhash_lsh_pairs(docs, threshold=0.05))
    old_pairs = pairset(minhash_lsh_pairs(old, threshold=0.05))
    _, inc = minhash_incremental_pairs(
        minhash_index(old), new, threshold=0.05
    )
    inc_pairs = pairset(inc)
    assert full  # planted dups exist
    assert old_pairs | inc_pairs == full
    assert old_pairs & inc_pairs == set()  # inc = new-touching pairs only


def test_ivf_assign_literal_and_udf_paths_agree(spark, monkeypatch):
    """The two physical strategies in similarity/assign.py (plan-literal
    centroids vs broadcast-numpy pandas_udf) must produce identical cell
    assignments and probe rankings — same first-min / (distance, cell)
    tie-breaks."""
    import numpy as np

    from dmshadoop_spark.similarity import assign

    rng = np.random.RandomState(3)
    cents = rng.randn(12, 8)
    cents[5] = cents[2]  # duplicated centroid → argmin tie → first wins
    vecs = [(i, rng.randn(8).tolist()) for i in range(200)]
    vecs.append((200, cents[2].tolist()))  # exactly on the tied centroid
    df = spark.createDataFrame(vecs, "vid long, v array<double>")

    lit_cell = {
        r["vid"]: r["cell"]
        for r in assign.with_nearest_cell(df, "v", cents).collect()
    }
    lit_probe = {
        r["vid"]: r["cells"]
        for r in assign.with_probe_cells(df, "v", cents, 4).collect()
    }
    monkeypatch.setattr(assign, "LITERAL_MAX_CENTROIDS", 0)
    udf_cell = {
        r["vid"]: r["cell"]
        for r in assign.with_nearest_cell(df, "v", cents).collect()
    }
    udf_probe = {
        r["vid"]: r["cells"]
        for r in assign.with_probe_cells(df, "v", cents, 4).collect()
    }
    assert lit_cell == udf_cell
    assert lit_probe == udf_probe
    assert lit_cell[200] == 3  # 1-based first-min tie-break (cell 3 not 6)


def test_ivf_large_k_plan_size_bounded(spark):
    """At a production cell count the assignment plan must NOT embed
    O(k·dim) centroid literals (round-3 VERDICT: codegen/plan size
    explodes at k≈√n). Pin: the analyzed plan string stays O(1) as k
    grows 1024→2048, and far below what literals would produce."""
    import numpy as np

    from dmshadoop_spark.similarity import assign

    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(4)],
        "vid long, v array<double>",
    )
    rng = np.random.RandomState(0)
    plans = {}
    for k in (1024, 2048):
        out = assign.with_nearest_cell(df, "v", rng.randn(k, 4))
        plans[k] = len(out._jdf.queryExecution().analyzed().toString())
    assert plans[1024] < 20_000, plans
    assert abs(plans[2048] - plans[1024]) < 500  # plan size O(1) in k


def test_nearest_cell_broadcast_path_from_fresh_thread(spark):
    """The broadcast (pandas-UDF) path takes its session from the input
    frame, so it works from a thread with no active session — a pool
    worker, say — and agrees with the same call on the main thread."""
    import threading

    import numpy as np

    from dmshadoop_spark.similarity import assign

    rng = np.random.RandomState(5)
    cents = rng.randn(8, 4)
    df = spark.createDataFrame(
        [(i, rng.randn(4).tolist()) for i in range(32)],
        "vid long, v array<double>",
    )

    def cells() -> dict[int, int]:
        out = assign.with_nearest_cell(df, "v", cents, vectorized=True)
        return {r["vid"]: r["cell"] for r in out.collect()}

    want = cells()
    got: dict[int, int] = {}
    errors: list[Exception] = []

    def work() -> None:
        try:
            got.update(cells())
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    t = threading.Thread(target=work)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert errors == []
    assert got == want


def test_g711_wav_decode_anchors_and_roundtrip():
    """parse_wav decodes G.711 µ-law/A-law (WAV formats 7/6) through the
    ITU expansion: published anchor codes pin the tables (µ-law 0x00 →
    −32124, 0xFF → 0; A-law 0x55 → −8, 0x2A → −32256), decode-table
    values survive encode→decode bit-exactly, and arbitrary int16 audio
    round-trips within the codec's top-segment quantization step.
    Cross-validated BIT-EXACT (max deviation 0, both laws) against Java
    AudioSystem's ULAW/ALAW→PCM conversion during development."""
    import numpy as np

    from dmshadoop_spark.multimodal import encode_wav_g711, parse_wav
    from dmshadoop_spark.multimodal.binary import _ALAW_TABLE, _ULAW_TABLE

    assert _ULAW_TABLE[0x00] == -32124 and _ULAW_TABLE[0xFF] == 0
    assert _ULAW_TABLE[0x80] == 32124
    assert _ALAW_TABLE[0x55] == -8 and _ALAW_TABLE[0xD5] == 8
    assert _ALAW_TABLE[0x2A] == -32256 and _ALAW_TABLE[0xAA] == 32256
    assert np.array_equal(_ULAW_TABLE[:128], -_ULAW_TABLE[128:])

    rng = np.random.RandomState(7)
    s = rng.randint(-32000, 32000, 2000).astype(np.int16)
    for law, table in (("ulaw", _ULAW_TABLE), ("alaw", _ALAW_TABLE)):
        w = parse_wav(encode_wav_g711(s, 8000, law=law))
        assert w["sample_rate"] == 8000 and w["bits"] == 8
        err = np.abs(w["samples"].astype(np.int32) - s.astype(np.int32))
        assert err.max() <= 512, (law, err.max())  # G.711 top-segment step/2
        exact = parse_wav(encode_wav_g711(table, 8000, law=law))["samples"]
        assert np.array_equal(exact, table)


def test_g711_wav_extract_metadata_duration():
    """dms.extract surfaces telephony (G.711) WAVs with the same duration
    math as PCM — the format now rides the standard WAV branch."""
    import numpy as np

    from dmshadoop_spark.dms import extract_metadata
    from dmshadoop_spark.multimodal import encode_wav_g711

    wav = encode_wav_g711(np.zeros(16000, dtype=np.int16), 8000, law="alaw")
    meta = extract_metadata(wav)
    assert meta["content_type"] == "audio/x-wav"
    assert meta["sample_rate"] == "8000"
    assert meta["duration_ms"] == "2000"


def test_ima_adpcm_wav_roundtrip():
    """Mono IMA/DVI ADPCM (WAV format 0x11): encode→parse recovers the
    signal within adaptive-quantizer error on smooth audio, handles
    non-block-multiple lengths via the fact chunk, and is byte-
    deterministic."""
    import numpy as np

    from dmshadoop_spark.multimodal import encode_wav_ima_adpcm, parse_wav

    t = np.arange(3000)
    sig = (8000 * np.sin(t / 20.0) + 2000 * np.sin(t / 7.0)).astype(np.int16)
    w = parse_wav(encode_wav_ima_adpcm(sig, 8000))
    assert (w["sample_rate"], w["bits"], w["channels"]) == (8000, 4, 1)
    assert len(w["samples"]) == len(sig)
    err = np.abs(w["samples"].astype(np.int32) - sig.astype(np.int32))
    assert err.mean() < 100 and err.max() < 4000  # 4-bit adaptive bound
    short = parse_wav(encode_wav_ima_adpcm(sig[:777], 8000))["samples"]
    assert len(short) == 777
    assert encode_wav_ima_adpcm(sig, 8000) == encode_wav_ima_adpcm(sig, 8000)


def test_gif_codec_roundtrip_and_interlace():
    """Real GIF codec: LZW encode→decode round-trips bit-exactly for any
    ≤256-color image (validated bit-exact BOTH directions against Java
    ImageIO during development); interlaced streams reorder rows through
    the four GIF passes; palette overflow raises."""
    import numpy as np
    import pytest

    from dmshadoop_spark.multimodal import decode_gif, encode_gif
    from dmshadoop_spark.multimodal.binary import _lzw_encode

    rng = np.random.RandomState(6)
    pal = rng.randint(0, 256, (64, 3), dtype=np.uint8)
    img = pal[rng.randint(0, 64, (19, 27))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)
    g = np.repeat(
        np.arange(256, dtype=np.uint8).reshape(16, 16)[:, :, None], 3, axis=2
    )
    assert np.array_equal(decode_gif(encode_gif(g)), g)  # full 256 palette
    with pytest.raises(ValueError):
        yy, xx = np.mgrid[0:32, 0:32]  # 1024 distinct (r, g) colors
        too_many = np.stack([xx * 8, yy * 8, xx * 0], axis=2).astype(np.uint8)
        encode_gif(too_many)

    # hand-build an interlaced variant: rows stored in pass order
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    colors, idx = np.unique(flat, axis=0, return_inverse=True)
    rows = idx.reshape(h, w).astype(np.uint8)
    passes = [y for s, st in ((0, 8), (4, 8), (2, 4), (1, 2)) for y in range(s, h, st)]
    stored = rows[passes].reshape(-1)
    lzw = _lzw_encode(stored, 8)
    import struct as st

    blocks = b"".join(
        bytes([len(lzw[j : j + 255])]) + lzw[j : j + 255]
        for j in range(0, len(lzw), 255)
    )
    gif = (
        b"GIF89a" + st.pack("<HHBBB", w, h, 0x87, 0, 0)
        + colors.astype(np.uint8).tobytes() + b"\x00" * (3 * (256 - len(colors)))
        + b"\x2c" + st.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlace flag
        + bytes([8]) + blocks + b"\x00\x3b"
    )
    assert np.array_equal(decode_gif(gif), img)


def test_mkv_metadata_roundtrip():
    """EBML/Matroska metadata demux (multimodal/ebml.py): the skeleton
    mux writes EBML header + Segment/Info/Tracks, parse_mkv walks the
    varints back — doc type, millisecond duration, video dims, audio
    rate/channels all recovered; dms.extract sniffs and surfaces it."""
    from dmshadoop_spark.dms import extract_metadata
    from dmshadoop_spark.multimodal import encode_mkv_skeleton, parse_mkv

    mkv = encode_mkv_skeleton(4500.0, video=(640, 480), audio=(48000, 2))
    m = parse_mkv(mkv)
    assert m["doc_type"] == "matroska"
    assert abs(m["duration"] - 4.5) < 1e-9
    assert m["tracks"][0] == {
        "number": 1, "type": "video", "codec": "V_UNCOMPRESSED",
        "width": 640, "height": 480,
    }
    assert m["tracks"][1]["codec"] == "A_PCM/INT/LIT"
    assert m["tracks"][1]["sample_rate"] == 48000.0

    meta = extract_metadata(mkv)
    assert meta["content_type"] == "video/x-matroska"
    assert meta["duration_ms"] == "4500"
    assert (meta["width"], meta["height"]) == ("640", "480")
    assert meta["sample_rate"] == "48000"
    assert mkv == encode_mkv_skeleton(4500.0, video=(640, 480), audio=(48000, 2))


def test_mkv_cluster_pcm_roundtrip_all_lacings():
    """Round 5: the Cluster payload walk. encode_mkv_pcm → decode_mkv_pcm
    is bit-exact for mono and stereo across all four Matroska lacing
    modes (none/Xiph/fixed-size/EBML), including ragged tails that force
    a lacing downgrade, and Xiph sizes that hit the 255-run boundary."""
    import numpy as np

    from dmshadoop_spark.multimodal import decode_mkv_pcm, encode_mkv_pcm

    rng = np.random.RandomState(11)
    for channels in (1, 2):
        for lacing, fpb in (
            ("none", 1), ("xiph", 3), ("fixed", 4), ("ebml", 3)
        ):
            x = rng.randint(-32768, 32768, size=4410 * channels).astype("<i2")
            blob = encode_mkv_pcm(
                x, 44100, channels=channels, lacing=lacing,
                frames_per_block=fpb,
            )
            d = decode_mkv_pcm(blob)
            assert np.array_equal(d["samples"], x), (lacing, channels)
            assert d["sample_rate"] == 44100 and d["channels"] == channels
    # non-10ms-multiple length → ragged final frame (xiph run boundary:
    # 8000 Hz frames are 160 bytes; 2205 samples end on a 72-byte tail)
    x = np.arange(2205, dtype="<i2")
    d = decode_mkv_pcm(encode_mkv_pcm(x, 8000, lacing="xiph", frames_per_block=5))
    assert np.array_equal(d["samples"], x)
    # Cluster elements must not confuse the metadata walk (dms.extract
    # sniffs full files the same as skeletons)
    from dmshadoop_spark.dms import extract_metadata

    meta = extract_metadata(encode_mkv_pcm(np.zeros(1600, dtype="<i2"), 8000))
    assert meta["content_type"] == "video/x-matroska"
    assert meta["duration_ms"] == "200" and meta["sample_rate"] == "8000"


def test_mkv_blocks_video_frames_and_junk():
    """encode_mkv_frames → mkv_blocks recovers every V_UNCOMPRESSED frame
    payload bit-exactly with container timestamps; sample_frames takes
    the real-mkv branch; malformed EBML raises ValueError."""
    import pytest

    from dmshadoop_spark.multimodal import (
        encode_mkv_frames,
        mkv_blocks,
        parse_mkv,
    )

    frames = [bytes([i]) * (3 + i % 5) for i in range(25)]
    blob = encode_mkv_frames(frames, fps=10, width=64, height=48)
    m = parse_mkv(blob)
    assert m["tracks"][0]["codec"] == "V_UNCOMPRESSED"
    assert abs(m["duration"] - 2.5) < 1e-9
    bl = mkv_blocks(blob)
    assert [b["frame"] for b in bl] == frames
    assert all(b["keyframe"] for b in bl)
    assert abs(bl[-1]["ts_ms"] - 2400.0) < 1e-9
    # cluster-free skeleton → zero blocks, not an error
    from dmshadoop_spark.multimodal import encode_mkv_skeleton

    assert mkv_blocks(encode_mkv_skeleton(1000.0, video=(32, 32))) == []
    for junk in (b"", b"\x00" * 16, b"RIFF1234"):
        with pytest.raises(ValueError):
            mkv_blocks(junk)


def test_mkv_lacing_property():
    """Property: any int16 stream survives encode_mkv_pcm→decode_mkv_pcm
    bit-exactly for every lacing mode and frames_per_block — exercises
    Xiph 255-runs, EBML signed-vint deltas (growing AND shrinking lace
    sizes), fixed-lacing downgrade on ragged tails, and multi-cluster
    chunking, driven by hypothesis instead of hand-picked sizes."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dmshadoop_spark.multimodal import decode_mkv_pcm, encode_mkv_pcm

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=3000),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        rate=st.sampled_from([8000, 16000, 44100]),
        channels=st.sampled_from([1, 2]),
        lacing=st.sampled_from(["none", "xiph", "fixed", "ebml"]),
        fpb=st.integers(min_value=1, max_value=6),
    )
    def check(n, seed, rate, channels, lacing, fpb):
        rng = np.random.RandomState(seed)
        x = rng.randint(-32768, 32768, size=n * channels).astype("<i2")
        blob = encode_mkv_pcm(
            x, rate, channels=channels, lacing=lacing, frames_per_block=fpb
        )
        d = decode_mkv_pcm(blob)
        assert np.array_equal(d["samples"], x)
        assert d["sample_rate"] == rate and d["channels"] == channels

    check()


def test_sample_frames_real_mkv_path(spark):
    """sample_frames demuxes Matroska payloads for real: every-stride-th
    SimpleBlock payload with its cluster-derived timestamp (not the
    sha256 stub)."""
    from dmshadoop_spark.multimodal import encode_mkv_frames, sample_frames

    frames = [bytes([70 + i]) * 9 for i in range(20)]
    blob = encode_mkv_frames(frames, fps=4, width=8, height=8)
    df = spark.createDataFrame([("v.mkv", bytearray(blob))], "path string, content binary")
    rows = sample_frames(df, every_s=0.5).orderBy("frame_idx").collect()
    # 4 fps, every 0.5 s → stride 2 → frames 0, 2, 4, ... 18
    assert [r["frame_idx"] for r in rows] == list(range(0, 20, 2))
    assert bytes(rows[1]["frame"]) == frames[2]
    assert abs(rows[1]["ts_sec"] - 0.5) < 1e-9


def test_ms_adpcm_wav_roundtrip():
    """Mono Microsoft ADPCM (WAV format 2): block header (predictor,
    delta, two seed samples) + 4-bit adaptive codes with C-truncating
    prediction; smooth audio round-trips tightly, fact chunk trims
    non-block-multiple lengths, encoder deterministic."""
    import numpy as np

    from dmshadoop_spark.multimodal import encode_wav_ms_adpcm, parse_wav

    t = np.arange(2500)
    sig = (6000 * np.sin(t / 18.0) + 1500 * np.sin(t / 5.0)).astype(np.int16)
    w = parse_wav(encode_wav_ms_adpcm(sig, 8000))
    assert (w["sample_rate"], w["bits"], w["channels"]) == (8000, 4, 1)
    assert len(w["samples"]) == len(sig)
    err = np.abs(w["samples"].astype(np.int32) - sig.astype(np.int32))
    assert err.mean() < 60 and err.max() < 1500
    assert len(parse_wav(encode_wav_ms_adpcm(sig[:333], 8000))["samples"]) == 333
    assert encode_wav_ms_adpcm(sig, 8000) == encode_wav_ms_adpcm(sig, 8000)


def test_lsh_multiprobe_improves_recall(spark, sf_dir):
    """Multi-probe LSH (lowest-margin Hamming-1 bucket flips): recall
    against exact top-k must be monotonically >= the single-probe run,
    candidate pairs stay unique, and nprobe=1 reproduces the original
    path exactly."""
    from dmshadoop_spark.similarity import brute_force_knn, lsh_knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=5).collect()
    }

    def run(nprobe):
        rows = lsh_knn(emb, queries, dim=64, k=5, planes=4, nprobe=nprobe).collect()
        pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
        assert len(pairs) == len(set(pairs))  # no duplicate candidates
        return set(pairs)

    r1, r4 = run(1), run(4)
    recall1 = len(r1 & exact) / len(exact)
    recall4 = len(r4 & exact) / len(exact)
    assert recall4 >= recall1, (recall1, recall4)
    # measured on this fixture: 0.325 single-probe → 0.575 with 4 probes
    assert recall4 > 0.5, (recall1, recall4)
    assert run(1) == r1  # deterministic


def test_image_perceptual_hash_neardup(spark):
    """dHash image dedup: identical pixels → hamming 0 across DIFFERENT
    codecs (PNG vs GIF of the same image), a lightly-noised copy stays
    near, a different image is far, undecodable payloads drop with NULL,
    and the banded pair join finds the planted near-dups."""
    import numpy as np

    from dmshadoop_spark.dedup import dhash_int, image_hash_df, image_neardup_pairs
    from dmshadoop_spark.multimodal import encode_gif, encode_png

    rng = np.random.RandomState(12)
    pal = rng.randint(0, 256, (32, 3), dtype=np.uint8)
    base = pal[rng.randint(0, 32, (40, 56))]
    noised = base.copy()
    noised[rng.randint(0, 40, 30), rng.randint(0, 56, 30)] = pal[0]
    other = pal[rng.randint(0, 32, (40, 56))]

    h_base, h_noise, h_other = map(dhash_int, (base, noised, other))
    assert bin((h_base ^ h_noise) & (2**64 - 1)).count("1") <= 10
    assert bin((h_base ^ h_other) & (2**64 - 1)).count("1") > 16

    rows = [
        ("png", bytearray(encode_png(base))),
        ("gif", bytearray(encode_gif(base))),       # same pixels, other codec
        ("noised", bytearray(encode_png(noised))),
        ("other", bytearray(encode_png(other))),
        ("junk", bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    hashes = {r["path"]: r["phash"] for r in image_hash_df(df).collect()}
    assert hashes["junk"] is None
    assert hashes["png"] == hashes["gif"] == h_base  # codec-independent

    pairs = {
        tuple(sorted((r["path_a"], r["path_b"]))): r["hamming"]
        for r in image_neardup_pairs(df, max_hamming=10).collect()
    }
    assert pairs[("gif", "png")] == 0
    assert ("noised", "png") in pairs or ("gif", "noised") in pairs
    assert all("other" not in p and "junk" not in p for p in pairs)


def test_audio_features_known_tone():
    """audio_features ground truth on a synthetic 1 kHz tone: spectral
    centroid lands on the tone, zero-crossing count matches 2f·T,
    silence is all-silent frames, and the G.711-compressed copy of the
    same tone yields the same centroid within companding noise."""
    import numpy as np

    from dmshadoop_spark.multimodal import encode_wav, encode_wav_g711
    from dmshadoop_spark.multimodal.binary import audio_features

    t = np.arange(8000)
    tone = (10000 * np.sin(2 * np.pi * 1000 * t / 8000)).astype(np.int16)
    f = audio_features(encode_wav(tone, 8000))
    assert abs(f["spectral_centroid_hz"] - 1000) < 30
    assert abs(f["zero_crossings"] - 2000) <= 4
    assert f["n_silent_frames"] == 0 and f["spectral_bandwidth_hz"] < 50

    sil = audio_features(encode_wav(np.zeros(2048, dtype=np.int16), 8000))
    assert sil["n_silent_frames"] == sil["n_frames"] == 8
    assert sil["zero_crossings"] == 0 and sil["spectral_centroid_hz"] == 0.0

    g = audio_features(encode_wav_g711(tone, 8000, law="ulaw"))
    assert abs(g["spectral_centroid_hz"] - 1000) < 60


def test_tiff_codec_roundtrip_and_metadata():
    """Fourth real image path: striped baseline TIFF round-trips
    bit-exactly through both our encoders (none + PackBits), TIFF-LZW
    decode was validated against Java ImageIO's writer (early-change
    rule) during development, dims surface through extract, and
    decode_image dispatches both byte orders."""
    import numpy as np

    from dmshadoop_spark.dms import extract_metadata
    from dmshadoop_spark.multimodal import decode_image
    from dmshadoop_spark.multimodal.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (37, 29, 3), dtype=np.uint8)
    for comp in (1, 32773):
        assert np.array_equal(decode_tiff(encode_tiff(img, compression=comp)), img)
    t = encode_tiff(img)
    assert np.array_equal(decode_image(t), img)
    m = extract_metadata(t)
    assert m["content_type"] == "image/tiff"
    assert (m["width"], m["height"]) == ("29", "37")
    assert encode_tiff(img) == encode_tiff(img)


def test_webdataset_shard_ingest(spark):
    """WebDataset tar-shard pipeline: shards unpack in place, stems
    group samples across extensions, the parts map feeds the real
    codecs, corrupt shards drop silently, and the shard writer is
    byte-deterministic."""
    import numpy as np

    from dmshadoop_spark.multimodal import decode_image, encode_png
    from dmshadoop_spark.multimodal.webdataset import (
        explode_tar_members, group_samples, write_tar_shard,
    )

    rng = np.random.RandomState(13)
    imgs = {i: rng.randint(0, 256, (8, 10, 3), dtype=np.uint8) for i in range(3)}
    shard0 = write_tar_shard([
        ("000000.png", encode_png(imgs[0])),
        ("000000.txt", b"a red square"),
        ("000001.png", encode_png(imgs[1])),
        ("000001.txt", b"a blue circle"),
        ("000001.meta.json", b'{"lang": "en"}'),
    ])
    shard1 = write_tar_shard([
        ("000002.png", encode_png(imgs[2])),
        ("000002.txt", b"a green dot"),
    ])
    assert shard0 == write_tar_shard([
        ("000000.png", encode_png(imgs[0])),
        ("000000.txt", b"a red square"),
        ("000001.png", encode_png(imgs[1])),
        ("000001.txt", b"a blue circle"),
        ("000001.meta.json", b'{"lang": "en"}'),
    ])

    shards = spark.createDataFrame(
        [("s0.tar", bytearray(shard0)), ("s1.tar", bytearray(shard1)),
         ("bad.tar", bytearray(b"not a tar at all"))],
        "path string, content binary",
    )
    members = explode_tar_members(shards)
    rows = members.collect()
    assert len(rows) == 7  # corrupt shard contributes nothing
    exts = {r["ext"] for r in rows}
    assert exts == {"png", "txt", "meta.json"}

    samples = {
        (r["shard"], r["stem"]): r for r in group_samples(members).collect()
    }
    assert len(samples) == 3
    s1 = samples[("s0.tar", "000001")]
    assert set(s1["parts"].keys()) == {"png", "txt", "meta.json"}
    assert bytes(s1["parts"]["txt"]) == b"a blue circle"
    assert np.array_equal(
        decode_image(bytes(s1["parts"]["png"])), imgs[1]
    )
    assert s1["n_members"] == 3


def test_id3v2_and_flac_metadata():
    """ID3v2.3/2.4 text-frame walk (latin-1 AND UTF-16 fallback) and
    FLAC STREAMINFO extraction, wired through extract_metadata; the MP3
    frame walk still works past the prepended tag."""
    from dmshadoop_spark.dms import extract_metadata
    from dmshadoop_spark.multimodal import (
        encode_flac_skeleton, encode_id3v2, encode_mp3,
        parse_flac_streaminfo, parse_id3v2,
    )

    tagged = encode_id3v2(
        encode_mp3(8, 128, 44100),
        title="Night Drive", artist="Café Müller", album="Roads",
    )
    tags = parse_id3v2(tagged)
    assert tags["id3_title"] == "Night Drive"
    assert tags["id3_artist"] == "Café Müller"
    assert parse_id3v2(encode_id3v2(b"", title="日本語タイトル"))[
        "id3_title"
    ] == "日本語タイトル"  # UTF-16 escape hatch

    m = extract_metadata(tagged)
    assert m["content_type"] == "audio/mpeg"
    assert m["id3_title"] == "Night Drive" and m["frame_count"] == "8"

    flac = encode_flac_skeleton(44100, 2, 16, 441000)
    assert parse_flac_streaminfo(flac)["duration_ms"] == "10000"
    f = extract_metadata(flac)
    assert f["content_type"] == "audio/flac"
    assert (f["sample_rate"], f["channels"]) == ("44100", "2")


def test_ima_adpcm_stereo_roundtrip():
    """Stereo IMA ADPCM (per-channel block headers, nibble data in
    4-byte words alternating channels): both channels round-trip within
    adaptive-quantizer error and stay separated (no channel bleed); the
    mono path is unchanged."""
    import numpy as np

    from dmshadoop_spark.multimodal import encode_wav_ima_adpcm, parse_wav

    t = np.arange(2000)
    left = (7000 * np.sin(t / 17.0)).astype(np.int16)
    right = (5000 * np.sin(t / 11.0 + 1.0)).astype(np.int16)
    inter = np.empty(4000, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    w = parse_wav(encode_wav_ima_adpcm(inter, 8000, channels=2))
    assert w["channels"] == 2 and len(w["samples"]) == 4000
    gl = w["samples"][0::2].astype(np.int32)
    gr = w["samples"][1::2].astype(np.int32)
    assert np.abs(gl - left).mean() < 100
    assert np.abs(gr - right).mean() < 100
    # channel separation: decoded L correlates with L, not with R
    corr_ll = np.corrcoef(gl, left)[0, 1]
    corr_lr = np.corrcoef(gl, right)[0, 1]
    assert corr_ll > 0.99 and abs(corr_lr) < 0.5


def test_ms_adpcm_stereo_roundtrip():
    """Stereo MS-ADPCM (interleaved per-channel preamble, LEFT in the
    high nibble): both channels round-trip within quantizer error with
    no channel bleed; mono path regression-checked."""
    import numpy as np

    from dmshadoop_spark.multimodal import encode_wav_ms_adpcm, parse_wav

    t = np.arange(2000)
    left = (7000 * np.sin(t / 17.0)).astype(np.int16)
    right = (5000 * np.sin(t / 11.0 + 1.0)).astype(np.int16)
    inter = np.empty(4000, dtype=np.int16)
    inter[0::2], inter[1::2] = left, right
    w = parse_wav(encode_wav_ms_adpcm(inter, 8000, channels=2))
    assert w["channels"] == 2 and len(w["samples"]) == 4000
    gl = w["samples"][0::2].astype(np.int32)
    gr = w["samples"][1::2].astype(np.int32)
    assert np.abs(gl - left).mean() < 80 and np.abs(gr - right).mean() < 80
    assert np.corrcoef(gl, left)[0, 1] > 0.99
    assert abs(np.corrcoef(gl, right)[0, 1]) < 0.5


def test_resize_bilinear_properties():
    """Fixed-point bilinear resample: identity at same size, constants
    preserved, linear ramps stay exactly linear (the interpolation is
    exact on affine signals), checkerboard downscale averages to mid-
    gray (area behavior nearest cannot give), byte-deterministic."""
    import numpy as np

    from dmshadoop_spark.multimodal import resize_bilinear

    img = (np.arange(20 * 30 * 3, dtype=np.uint8).reshape(20, 30, 3) * 7 % 251)
    img = img.astype(np.uint8)
    assert np.array_equal(resize_bilinear(img, 30, 20), img)
    c = np.full((13, 17, 3), 77, np.uint8)
    assert (resize_bilinear(c, 40, 9) == 77).all()
    ramp = np.repeat(
        np.repeat(np.arange(0, 240, 10, dtype=np.uint8)[None, :, None], 12, 0),
        3, 2,
    )
    small = resize_bilinear(ramp, 12, 6)
    assert (np.abs(np.diff(small[0, :, 0].astype(int)) - 20) <= 1).all()
    chk = (np.indices((16, 16)).sum(0) % 2 * 255).astype(np.uint8)
    chk = np.repeat(chk[:, :, None], 3, 2)
    assert abs(float(resize_bilinear(chk, 8, 8).mean()) - 127.5) < 2
    assert np.array_equal(resize_bilinear(img, 7, 5), resize_bilinear(img, 7, 5))


def test_warc_roundtrip_and_junk():
    """WARC mux/demux (multimodal/warc.py): member-per-record gzip,
    plain, and whole-file-gzip layouts all parse back to the exact
    (url, status, content-type, payload) tuples; output is
    byte-deterministic; malformed input raises ValueError."""
    import zlib

    import pytest

    from dmshadoop_spark.multimodal import parse_warc, write_warc

    pages = [
        (f"http://example.org/doc/{i}", (f"body {i} " * (i + 1)).encode())
        for i in range(5)
    ]
    for gz in (True, False):
        blob = write_warc(pages, gzip_per_record=gz)
        assert blob == write_warc(pages, gzip_per_record=gz)
        recs = parse_warc(blob)
        assert [(r["url"], r["payload"]) for r in recs] == pages
        assert all(
            r["http_status"] == 200
            and r["content_type"] == "text/plain"
            and r["warc_type"] == "response"
            for r in recs
        )
    # whole-file gzip over the plain stream (the third common layout)
    gzobj = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    whole = gzobj.compress(write_warc(pages, gzip_per_record=False))
    whole += gzobj.flush()
    assert len(parse_warc(whole)) == 5
    for junk in (b"", b"hello world", b"\x1f\x8b\x00junk",
                 b"WARC/1.0\r\nContent-Length: 999\r\n\r\nshort"):
        with pytest.raises(ValueError):
            parse_warc(junk)


def test_warc_records_spark_and_corrupt_shard(spark):
    """warc_records parses shards in place (one row per record) and a
    corrupt shard yields zero rows instead of failing the task."""
    from dmshadoop_spark.multimodal import warc_records, write_warc

    good = write_warc([("http://a/1", b"alpha"), ("http://a/2", b"beta")])
    df = spark.createDataFrame(
        [("good.warc.gz", bytearray(good)), ("bad.warc.gz", bytearray(b"junk"))],
        "path string, content binary",
    )
    rows = warc_records(df).orderBy("url").collect()
    assert [(r["url"], bytes(r["payload"])) for r in rows] == [
        ("http://a/1", b"alpha"),
        ("http://a/2", b"beta"),
    ]
    assert {r["warc"] for r in rows} == {"good.warc.gz"}


def test_zip_shard_roundtrip_and_corrupt(spark):
    """ZIP shard twin of the tar path: explode_zip_members emits the
    same member schema (group_samples works unchanged), deterministic
    mux (fixed DOS timestamp), corrupt shards yield zero rows."""
    from dmshadoop_spark.multimodal.webdataset import (
        explode_zip_members,
        group_samples,
        write_zip_shard,
    )

    samples = [
        ("000001.txt", b"hello"),
        ("000001.json", b'{"id": 1}'),
        ("000002.txt", b"world"),
    ]
    for comp in (False, True):
        blob = write_zip_shard(samples, compress=comp)
        assert blob == write_zip_shard(samples, compress=comp)
        df = spark.createDataFrame(
            [("s.zip", bytearray(blob)), ("bad.zip", bytearray(b"PK\x03junk"))],
            "path string, content binary",
        )
        members = explode_zip_members(df)
        rows = members.orderBy("member").collect()
        assert [(r["member"], bytes(r["content"])) for r in rows] == sorted(
            samples
        )
        grouped = {
            r["stem"]: r["n_members"]
            for r in group_samples(members).collect()
        }
        assert grouped == {"000001": 2, "000002": 1}


def test_warc_property_adversarial_payloads():
    """Property: parse_warc is Content-Length-driven, so payloads that
    CONTAIN record-looking bytes (WARC/1.0 headers, CRLF-CRLF runs, gzip
    magic) must round-trip bit-exactly and never confuse the record
    walk."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dmshadoop_spark.multimodal import parse_warc, write_warc

    tricky = st.one_of(
        st.binary(min_size=0, max_size=200),
        st.sampled_from(
            [
                b"WARC/1.0\r\nWARC-Type: response\r\n\r\n",
                b"\r\n\r\n\r\n\r\n",
                b"\x1f\x8b\x08\x00fake",
                b"HTTP/1.1 500 Oops\r\n\r\nnested",
            ]
        ),
    )

    @settings(max_examples=30, deadline=None)
    @given(
        bodies=st.lists(tricky, min_size=1, max_size=6),
        gz=st.booleans(),
    )
    def check(bodies, gz):
        pages = [
            (f"http://t.local/{i}", body) for i, body in enumerate(bodies)
        ]
        recs = parse_warc(write_warc(pages, gzip_per_record=gz))
        assert [(r["url"], r["payload"]) for r in recs] == pages
        assert all(r["http_status"] == 200 for r in recs)

    check()


def test_mkv_unknown_size_elements():
    """RFC 8794 unknown-size elements (the live-muxed layout: Segment
    and Clusters written with the all-ones size marker) must walk
    correctly — an unknown-size Cluster ends at the first id that is
    not a valid Cluster child (e.g. the next Cluster)."""
    import struct

    from dmshadoop_spark.multimodal import ebml as E

    def unk(eid, payload):
        return E._vint_id(eid) + b"\xff" + payload  # 1-byte unknown size

    header = E._elem(E.EBML_HEADER, E._elem(E.DOC_TYPE, b"matroska"))
    info = E._elem(
        E.INFO,
        E._elem(E.TIMESTAMP_SCALE, E._uint_payload(1_000_000))
        + E._elem(E.DURATION, struct.pack(">d", 2000.0)),
    )
    track = E._elem(
        E.TRACKS,
        E._elem(
            E.TRACK_ENTRY,
            E._elem(E.TRACK_NUMBER, E._uint_payload(1))
            + E._elem(E.TRACK_TYPE, E._uint_payload(1))
            + E._elem(E.CODEC_ID, b"V_UNCOMPRESSED"),
        ),
    )
    frames = [bytes([i]) * 7 for i in range(4)]

    def cluster(ts, frs):
        body = E._elem(E.CLUSTER_TIMESTAMP, E._uint_payload(ts))
        for k, fr in enumerate(frs):
            body += E._simple_block(1, k * 250, [fr], "none", True)
        return unk(E.CLUSTER, body)

    mkv = header + unk(
        E.SEGMENT, info + track + cluster(0, frames[:2]) + cluster(1000, frames[2:])
    )
    assert E.parse_mkv(mkv)["tracks"][0]["codec"] == "V_UNCOMPRESSED"
    bl = E.mkv_blocks(mkv)
    assert [bytes(b["frame"]) for b in bl] == frames
    assert [b["ts_ms"] for b in bl] == [0.0, 250.0, 1000.0, 1250.0]
    # A corrupt/truncated tail (the norm for live captures) must keep the
    # parsed prefix, not discard everything (review finding: the bail-out
    # used to re-raise on the same offset)
    damaged = mkv + b"\x00"
    assert [bytes(b["frame"]) for b in E.mkv_blocks(damaged)] == frames
    assert E.parse_mkv(damaged)["tracks"][0]["codec"] == "V_UNCOMPRESSED"
    # Appended captures: two EBML-header+unknown-Segment streams in one
    # payload surface BOTH tracks (an unknown Segment ends at the next
    # EBML header, not EOF)
    both = mkv + mkv
    assert len(E.mkv_blocks(both)) == 2 * len(frames)
    assert len(E.parse_mkv(both)["tracks"]) == 2


def test_mkv_late_info_timestamp_scale():
    """Matroska permits Info AFTER Clusters (SeekHead-ordered files); the
    TimestampScale must still apply to every block's ts_ms (round-6 review
    finding: a streaming scale left earlier blocks at the 1 ms default)."""
    from dmshadoop_spark.multimodal import ebml as E

    header = E._elem(E.EBML_HEADER, E._elem(E.DOC_TYPE, b"matroska"))
    track = E._elem(
        E.TRACKS,
        E._elem(
            E.TRACK_ENTRY,
            E._elem(E.TRACK_NUMBER, E._uint_payload(1))
            + E._elem(E.TRACK_TYPE, E._uint_payload(1))
            + E._elem(E.CODEC_ID, b"V_UNCOMPRESSED"),
        ),
    )
    cluster = E._elem(
        E.CLUSTER,
        E._elem(E.CLUSTER_TIMESTAMP, E._uint_payload(100))
        + E._simple_block(1, 5, [b"frame0"], "none", True),
    )
    # 2 ms per unit, declared AFTER the cluster
    late_info = E._elem(
        E.INFO, E._elem(E.TIMESTAMP_SCALE, E._uint_payload(2_000_000))
    )
    mkv = header + E._elem(E.SEGMENT, track + cluster + late_info)
    bl = E.mkv_blocks(mkv)
    assert len(bl) == 1
    assert bl[0]["ts_units"] == 105
    assert bl[0]["ts_ms"] == 210.0


def test_pq_family_tolerates_null_embeddings(spark):
    """NULL embedding rows must be excluded, not crash the PQ encoders
    (round-6 review finding: kmeans init could sample a NULL row and
    np.array(list(None)) aborted the UDF). brute_force_knn already
    handles NULLs via NULL cosine; pq_knn/ivfpq_knn now match."""
    import numpy as np

    from dmshadoop_spark.similarity import ivfpq_knn, pq_knn

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.randn(16)] if i % 5 else None)
        for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id").isin(1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    for fn, kw in (
        (pq_knn, dict(k=3, m=4, nbits=2, rerank=2, train_iters=1)),
        (
            ivfpq_knn,
            dict(k=3, n_centroids=4, nprobe=2, m=4, nbits=2, rerank=2),
        ),
    ):
        res = fn(emb, queries, **kw).collect()
        assert len(res) == 6  # k rows per query, no crash
        null_ids = {i for i in range(50) if i % 5 == 0}
        assert not ({r["neighbor_id"] for r in res} & null_ids)


def test_multimodal_zip_exports():
    """explode_zip_members/write_zip_shard are public package surface,
    same as their tar twins (round-6 review finding)."""
    import dmshadoop_spark.multimodal as mm

    for name in ("explode_zip_members", "write_zip_shard"):
        assert hasattr(mm, name) and name in mm.__all__


def test_resize_images_real_gif_tiff_paths(spark):
    """GIF and TIFF payloads route through the real decode → resample →
    encode_png branch (round-5 verdict task 2): the emitted thumbnail is
    a PNG that decodes to exactly resize_nearest(original), real=true;
    junk bytes fall back with real=false."""
    import numpy as np
    from pyspark.sql import Row

    from dmshadoop_spark.multimodal import (
        decode_png,
        encode_gif,
        encode_tiff,
        resize_images,
        resize_nearest,
    )

    yy, xx = np.mgrid[0:20, 0:24]
    t = (xx + 2 * yy) % 60  # ≤60 distinct colors → GIF-encodable
    img = np.stack(
        [(t * 3) % 180, t * 2 + 10, (t * t) % 251], axis=2
    ).astype(np.uint8)
    df = spark.createDataFrame(
        [
            Row(path="a.gif", content=bytearray(encode_gif(img))),
            Row(path="b.tiff", content=bytearray(encode_tiff(img))),
            Row(path="c.bin", content=bytearray(b"not an image")),
        ]
    )
    rows = {r["path"]: r for r in resize_images(df, width=8, height=6).collect()}
    want = resize_nearest(img, 8, 6)
    for p in ("a.gif", "b.tiff"):
        assert rows[p]["real"] is True, p
        assert (decode_png(bytes(rows[p]["thumbnail"])) == want).all(), p
    assert rows["c.bin"]["real"] is False
    assert len(bytes(rows["c.bin"]["thumbnail"])) == 8 * 6 * 3


def test_image_features_real_path_all_formats():
    """The featurizer takes the REAL pixel path for all four decodable
    formats (round-5 verdict task 1). Lossless formats agree exactly;
    JPEG (lossy) still decodes for real and lands near the lossless
    stats — nowhere near the sha256 pseudo-vector."""
    import numpy as np

    from dmshadoop_spark.multimodal import (
        encode_gif,
        encode_jpeg,
        encode_png,
        encode_tiff,
        fake_image_features,
        image_features,
    )

    yy, xx = np.mgrid[0:24, 0:32]
    t = (xx + 3 * yy) % 48  # ≤48 distinct colors → GIF-encodable
    img = np.stack(
        [t * 3 + 40, t * 2 + 20, (t * t) % 128], axis=2
    ).astype(np.uint8)
    vecs = {}
    for name, enc in (
        ("png", encode_png),
        ("gif", encode_gif),
        ("tiff", encode_tiff),
        ("jpeg", encode_jpeg),
    ):
        blob = enc(img)
        vec, real = image_features(blob)
        assert real, name
        assert vec != fake_image_features(blob), name
        vecs[name] = vec
    assert vecs["png"] == vecs["gif"] == vecs["tiff"]
    # JPEG is lossy: means within a few levels, not bit-equal
    for a, b in zip(vecs["jpeg"][:3], vecs["png"][:3]):
        assert abs(a - b) < 8.0


def test_sample_frames_real_mp3_path(spark):
    """MPEG audio payloads take the real frame-walk branch (round-5
    verdict task 3): every emitted frame is an actual compressed frame
    payload sliced at the header-walk boundaries, with the cumulative-
    sample timestamp and real=true; text payloads stay on the fallback
    with real=false."""
    from pyspark.sql import Row

    from dmshadoop_spark.multimodal import encode_mp3, mp3_frames, sample_frames

    blob = encode_mp3(12, 128, 44100)
    walk = mp3_frames(blob)
    assert len(walk) == 12
    df = spark.createDataFrame(
        [
            Row(path="a.mp3", content=bytearray(blob)),
            Row(path="b.txt", content=bytearray(b"x" * 2500)),
        ]
    )
    rows = sample_frames(df, every_s=0.05).collect()
    mp3_rows = sorted(
        (r for r in rows if r["path"] == "a.mp3"), key=lambda r: r["frame_idx"]
    )
    assert mp3_rows and all(r["real"] for r in mp3_rows)
    # stride 2 at 26.1 ms frames vs every_s=0.05
    assert [r["frame_idx"] for r in mp3_rows] == list(range(0, 12, 2))
    for r in mp3_rows:
        fr = walk[r["frame_idx"]]
        assert bytes(r["frame"]) == blob[fr["offset"] : fr["offset"] + fr["length"]]
        assert abs(r["ts_sec"] - fr["ts_sec"]) < 1e-12
    txt_rows = [r for r in rows if r["path"] == "b.txt"]
    assert txt_rows and not any(r["real"] for r in txt_rows)
    # stub: duration = 2500/1000 s, one frame per every_s=0.05
    assert len(txt_rows) == int(2.5 / 0.05) + 1


def test_pq_nbits8_recall_floor(spark, sf_dir):
    """The production PQ operating points (m=8, nbits=8 — FAISS-default
    256-entry codebooks) must keep recall@5 ≥ 0.8 for BOTH flat PQ
    (round-5 verdict task 5; measured 1.0 on the sf0.001 fixture) and
    IVF-PQ at its documented point nprobe=8/coarse_iters=4 (round-6
    verdict task 4; measured 0.900 — the round-7 sweep showed the loss
    was coarse-cell misses: rerank 4→8 changed nothing, 2 extra coarse
    Lloyd rounds closed it)."""
    from dmshadoop_spark.queries.llm import x5_pq_recall

    rows = x5_pq_recall(spark, sf_dir).collect()
    n = sum(r["n_exact"] for r in rows)
    assert sum(r["hits_pq8"] for r in rows) / n >= 0.8
    assert sum(r["hits_ivfpq8"] for r in rows) / n >= 0.8
    # and the wide codebook must not be WORSE than the narrow one
    assert sum(r["hits_pq8"] for r in rows) >= sum(r["hits_pq"] for r in rows)


def test_audio_fingerprint_gain_invariance_and_neardup(spark):
    """Energy-contour audio fingerprints (dedup/audiohash.py): gain
    scaling never flips a bit (energy deltas keep sign under a²), byte
    hashes would catch none of these; banding finds the planted pair."""
    import numpy as np
    from pyspark.sql import Row

    from dmshadoop_spark.dedup import (
        audio_fingerprint_int,
        audio_neardup_pairs,
    )
    from dmshadoop_spark.multimodal import encode_wav

    rng = np.random.RandomState(5)
    base = (rng.randn(64 * 100) * 3000).astype(np.int64)
    fp0 = audio_fingerprint_int(base)
    for scale_num, scale_den in ((4, 5), (6, 5), (1, 2)):
        scaled = (base * scale_num) // scale_den
        assert audio_fingerprint_int(scaled) == fp0, (scale_num, scale_den)
    # different signal → far fingerprint
    other = (rng.randn(64 * 100) * 3000).astype(np.int64)
    assert bin(fp0 ^ audio_fingerprint_int(other)).count("1") > 10

    df = spark.createDataFrame(
        [
            Row(path="a", content=bytearray(encode_wav(base.astype("<i2"), 8000))),
            Row(path="b", content=bytearray(
                encode_wav(((base * 4) // 5).astype("<i2"), 8000))),
            Row(path="c", content=bytearray(encode_wav(other.astype("<i2"), 8000))),
            Row(path="junk", content=bytearray(b"not audio")),
        ]
    )
    pairs = audio_neardup_pairs(df, id_col="path").collect()
    assert {(r["path_a"], r["path_b"]) for r in pairs} == {("a", "b")}
    assert pairs[0]["hamming"] == 0


def test_x32_audio_neardup_exactly_planted_pairs(spark, sf_dir):
    """x32's fixture yields EXACTLY the 180 within-group gain-variant
    pairs, all at hamming 0 — zero cross-group false positives."""
    from dmshadoop_spark.queries.llm import x32_audio_neardup

    rows = x32_audio_neardup(spark, sf_dir).collect()
    assert len(rows) == 180
    assert all(r["hamming"] == 0 for r in rows)
    assert all(
        int(r["doc_a"][1:]) // 3 == int(r["doc_b"][1:]) // 3 for r in rows
    )


def test_x6_video_features_composition(spark, sf_dir):
    """x6_video_features samples exactly frames 0,2,…,10 per doc (the
    every_s=0.5 stride over 4 fps × 12 frames), with 250 ms container
    timestamps and means in [0, 200)."""
    from dmshadoop_spark.queries.llm import x6_video_features

    rows = x6_video_features(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc) == 20
    for d, rs in by_doc.items():
        assert sorted(r["frame_idx"] for r in rs) == [0, 2, 4, 6, 8, 10], d
        for r in rs:
            assert r["ts_ms"] == r["frame_idx"] * 250
            assert 0 <= r["mean_r"] < 200 and 0 <= r["mean_b"] < 199


def test_sample_frames_rejects_fake_mp3_sync(spark):
    """A UTF-16-LE payload (FF FE BOM — a valid-looking 2-byte MPEG
    sync) must take the fallback path with real=false, not be sliced as
    audio frames (round-6 review finding: sample_frames now dispatches
    through the sniffer's two-consecutive-frames rule)."""
    from pyspark.sql import Row

    from dmshadoop_spark.multimodal import sample_frames

    bom_text = "some perfectly normal text".encode("utf-16-le")
    df = spark.createDataFrame([Row(path="t", content=bytearray(bom_text))])
    rows = sample_frames(df, every_s=0.5).collect()
    assert rows and not any(r["real"] for r in rows)


def test_mkv_blocks_per_segment_timescale():
    """Concatenated multi-segment streams keep each segment's OWN
    TimestampScale (round-6 review follow-up: the late-Info fix must
    not leak the last segment's scale onto earlier segments)."""
    from dmshadoop_spark.multimodal import ebml as E

    def seg(scale_ns, declare_late):
        track = E._elem(
            E.TRACKS,
            E._elem(
                E.TRACK_ENTRY,
                E._elem(E.TRACK_NUMBER, E._uint_payload(1))
                + E._elem(E.TRACK_TYPE, E._uint_payload(1))
                + E._elem(E.CODEC_ID, b"V_UNCOMPRESSED"),
            ),
        )
        info = E._elem(
            E.INFO, E._elem(E.TIMESTAMP_SCALE, E._uint_payload(scale_ns))
        )
        cluster = E._elem(
            E.CLUSTER,
            E._elem(E.CLUSTER_TIMESTAMP, E._uint_payload(100))
            + E._simple_block(1, 0, [b"f"], "none", True),
        )
        body = (track + cluster + info) if declare_late else (
            info + track + cluster
        )
        return E._elem(E.EBML_HEADER, E._elem(E.DOC_TYPE, b"matroska")) + E._elem(
            E.SEGMENT, body
        )

    # segment A: 1 ms units, declared early; segment B: 2 ms, declared LATE
    bl = E.mkv_blocks(seg(1_000_000, False) + seg(2_000_000, True))
    assert [b["ts_ms"] for b in bl] == [100.0, 200.0]


def test_pq_family_tolerates_null_query_vectors(spark):
    """A NULL q_emb row must be dropped, not crash the LUT/q·c pandas
    UDFs (round-6 review follow-up to the corpus-side NULL fix)."""
    import numpy as np

    from dmshadoop_spark.similarity import ivfpq_knn, pq_knn

    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, rows[1][1]), (101, None)],
        "query_id long, q_emb array<double>",
    )
    for fn, kw in (
        (pq_knn, dict(k=3, m=4, nbits=2, rerank=2, train_iters=1)),
        (ivfpq_knn, dict(k=3, n_centroids=4, nprobe=2, m=4, nbits=2, rerank=2)),
    ):
        res = fn(emb, queries, **kw).collect()
        assert {r["query_id"] for r in res} == {100}
        assert len(res) == 3


def test_audio_fingerprint_rejects_out_of_range():
    """Samples outside int16 are rejected (the exactness domain is
    stated, not silently wrapped)."""
    import numpy as np
    import pytest

    from dmshadoop_spark.dedup import audio_fingerprint_int

    with pytest.raises(ValueError, match="int16"):
        audio_fingerprint_int(np.full(6400, 8_000_000, dtype=np.int64))


def test_x33_video_neardup_exactly_planted_pairs(spark, sf_dir):
    """x33 yields exactly the 30 brightness-variant video pairs at
    frame-hash Jaccard 1.0 — dHash's gradient bits survive the +10
    uniform luma shift, and no cross-video pair reaches the 0.5 bar."""
    from dmshadoop_spark.queries.llm import x33_video_neardup

    rows = x33_video_neardup(spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        assert r["jaccard"] == 1.0
        assert int(r["video_a"][1:]) // 2 == int(r["video_b"][1:]) // 2


def test_x34_multimodal_pipeline_accounting(spark, sf_dir):
    """The cross-modality pipeline's dedup accounting matches the
    planted structure: 40 samples per modality overall, 30 distinct
    keys (10 near-dup groups + 20 uniques), and every (shard, modality)
    cell accounts for exactly its 4 members."""
    from dmshadoop_spark.queries.llm import x34_multimodal_pipeline

    rows = x34_multimodal_pipeline(spark, sf_dir).collect()
    assert len(rows) == 30  # 10 shards × 3 modalities
    assert all(r["n_samples"] == 4 for r in rows)
    per_mod = {}
    for r in rows:
        per_mod.setdefault(r["modality"], []).append(r)
    assert set(per_mod) == {"image", "audio", "text"}
    for mod, rs in per_mod.items():
        assert sum(r["n_samples"] for r in rs) == 40, mod
        assert sum(r["n_dups_removed"] for r in rs) == 10, mod


def test_sq8_roundtrip_error_bound(spark):
    """SQ8 reconstruction error is ≤ scale/2 per dimension (the quantizer's
    contract), and a constant vector round-trips exactly (scale-0 guard)."""
    from dmshadoop_spark.similarity.sq8 import sq8_dequant, with_sq8

    rows = [
        (0, [0.1, -0.7, 0.3, 0.9]),
        (1, [5.0, 5.0, 5.0, 5.0]),  # constant → scale 0
        (2, [-1.0, 1.0, 0.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = with_sq8(df, "v").withColumn(
        "dv", sq8_dequant(F.col("codes"), F.col("mn"), F.col("scale"))
    )
    for r in out.collect():
        assert all(0 <= c <= 255 for c in r["codes"]), r
        half = r["scale"] / 2.0 if r["scale"] else 0.0
        for x, y in zip(r["v"], r["dv"]):
            assert abs(x - y) <= half + 1e-12, (r["vec_id"], x, y)
        if r["vec_id"] == 1:
            assert r["dv"] == r["v"]  # exact round-trip at scale 0


def test_sq8_knn_matches_exact_on_separated_corpus(spark, sf_dir):
    """On the real embeddings table the SQ8 top-5 neighbor SETS stay close
    to exact brute force (recall@5 ≥ 0.9 over the 8 query vectors) — the
    near-exact tier's operating point, far above PQ's."""
    from dmshadoop_spark.queries.llm import x4_cosine_topk, x5_knn_sq8

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in x5_knn_sq8(spark, sf_dir).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in x4_cosine_topk(spark, sf_dir).collect()
        if r["query_id"] < 8
    }
    assert len(exact) == 40  # 8 queries × top-5
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, recall


def test_semdedup_planted_groups(spark):
    """SemDeDup on a planted corpus: two tight semantic groups plus a
    singleton → each group collapses to one component, exactly one
    survivor per group, and the survivor is the member with the LOWEST
    cosine to its cluster centroid (the paper's rule)."""
    from dmshadoop_spark.dedup import semdedup

    rows = [
        (0, [1.0, 0.02, 0.0, 0.0]),
        (1, [1.0, 0.00, 0.0, 0.0]),
        (2, [1.0, -0.02, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.01]),
        (4, [0.0, 0.0, 1.0, -0.01]),
        (5, [0.0, 1.0, 0.0, 0.0]),  # singleton, own component
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(df, k=3, n_iter=3, seed=7, eps=0.95, shards=2).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == 6
    # groups {0,1,2} and {3,4} each share a component; 5 keeps itself
    assert len({by_id[i]["component"] for i in (0, 1, 2)}) == 1
    assert len({by_id[i]["component"] for i in (3, 4)}) == 1
    assert by_id[5]["component"] != by_id[0]["component"]
    assert by_id[5]["keep"]
    for grp in ((0, 1, 2), (3, 4)):
        kept = [i for i in grp if by_id[i]["keep"]]
        assert len(kept) == 1, grp
        min_cos = min(by_id[i]["cos_centroid"] for i in grp)
        assert by_id[kept[0]]["cos_centroid"] == min_cos


def test_x35_semdedup_accounting_and_determinism(spark, sf_dir):
    """One decision row per embedding, components never span cells,
    exactly one survivor per component, and the digest is stable across
    executions (the rows-only driver contract)."""
    from dmshadoop_spark.queries.llm import x35_semdedup

    out = x35_semdedup(spark, sf_dir)
    rows = out.collect()
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_emb
    comp_cells = {}
    comp_keeps = {}
    for r in rows:
        comp_cells.setdefault(r["component"], set()).add(r["cell"])
        comp_keeps[r["component"]] = comp_keeps.get(r["component"], 0) + bool(
            r["keep"]
        )
    assert all(len(cells) == 1 for cells in comp_cells.values())
    assert all(k == 1 for k in comp_keeps.values())
    digests = {r["digest"] for r in rows}
    assert len(digests) == 1 and None not in digests
    rerun = {r["digest"] for r in x35_semdedup(spark, sf_dir).collect()}
    assert rerun == digests


def test_x2_df_cap_engages_and_is_accounted(spark, monkeypatch):
    """Force JACCARD_DF_CAP low enough to ENGAGE (round-8 verdict task 2:
    at every shipped SF the cap is pure headroom, so its drop semantics
    were never exercised end-to-end): pairs sharing ONLY a hotter-than-cap
    boilerplate shingle disappear, every pair sharing ANY sub-cap shingle
    survives, and x2_cap_accounting reports exactly the drops."""
    from dmshadoop_spark.queries import llm

    # shingle census (3-grams, distinct per doc):
    #   "the quick brown" (tqb) in docs 1-4 and 7          → df = 5 (hot)
    #   "red green blue"  (rgb) in docs 5, 6, 7            → df = 3
    #   "quick brown red" / "brown red green" (doc 7 only) → df = 1
    rows = [
        (1, "the quick brown"),
        (2, "the quick brown"),
        (3, "the quick brown"),
        (4, "the quick brown"),
        (5, "red green blue"),
        (6, "red green blue"),
        (7, "the quick brown red green blue"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(llm, "load_table", lambda s, sf, t: docs)
    monkeypatch.setattr(llm, "JACCARD_DF_CAP", 3)

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in llm.x2_ngram_jaccard(spark, "ignored").collect()
    }
    # every pair sharing the sub-cap rgb shingle survives
    assert set(pairs) == {(5, 6), (5, 7), (6, 7)}
    assert pairs[(5, 6)] == 1.0          # identical single-shingle docs
    assert pairs[(5, 7)] == 0.25         # 1 common / (1 + 4 - 1)
    # pairs sharing ONLY the hot tqb shingle (e.g. 1-2, 1-7) are dropped —
    # the documented recall bound — and the accounting row says exactly so
    acct = llm.x2_cap_accounting(spark, "ignored").collect()[0]
    assert acct["n_shingles"] == 4
    assert acct["n_df1_dropped"] == 2    # the two doc-7-only shingles
    assert acct["n_hot_dropped"] == 1    # tqb
    assert acct["n_postings_dropped"] == 5
    assert acct["max_df"] == 5
    assert acct["df_cap"] == 3


def test_semdedup_vectorized_branch_engages_and_is_deterministic(spark):
    """The auto path flips assignment to the vectorized einsum form above
    SEMDEDUP_VECTORIZED_MIN_K cells. Cross-path equality with the
    literal form is deliberately NOT the contract — Lloyd amplifies
    last-bit arithmetic differences at midpoint ties into different (but
    equally valid) clusterings, which is exactly why pinned callers
    never flip paths. What IS pinned: a tiny target_cell_size forces the
    vectorized branch on 140 vectors, it runs end-to-end, repeats
    bit-identically, and keeps every accounting invariant."""
    from dmshadoop_spark.dedup import semdedup
    from dmshadoop_spark.dedup.semdedup import SEMDEDUP_VECTORIZED_MIN_K, auto_k

    rows = []
    for i in range(140):
        axis = i % 7
        v = [0.0] * 8
        v[axis] = 10.0
        v[(axis + 1) % 8] = 0.01 * (i // 7)  # tiny within-cluster spread
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert auto_k(140, target_cell_size=2) > SEMDEDUP_VECTORIZED_MIN_K

    def run():
        return {
            (r["vec_id"], r["cell"], r["component"],
             r["cos_centroid"], r["keep"])
            for r in semdedup(df, k="auto", target_cell_size=2,
                              n_iter=3, seed=11, eps=0.9, shards=2).collect()
        }

    first = run()
    assert len(first) == 140  # one decision row per embedding
    assert first == run()     # vectorized path is deterministic
    comp_cells: dict = {}
    comp_keeps: dict = {}
    for vid, cell, comp, _cos, keep in first:
        comp_cells.setdefault(comp, set()).add(cell)
        comp_keeps[comp] = comp_keeps.get(comp, 0) + bool(keep)
    assert all(len(c) == 1 for c in comp_cells.values())
    assert all(v == 1 for v in comp_keeps.values())


def test_kmeans_train_sample_bounded_and_deterministic(spark):
    """Opt-in bounded-sample training (the faiss max_points_per_centroid
    discipline): cap ≥ n reproduces full training EXACTLY (the sample is
    a prefix of the same seeded order), and a small cap still trains
    deterministically on any input partitioning."""
    import numpy as np

    from dmshadoop_spark.similarity.kmeans import kmeans_centroids

    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = kmeans_centroids(df, k=4, n_iter=3, seed=5, id_col="vec_id")
    capped_all = kmeans_centroids(
        df, k=4, n_iter=3, seed=5, id_col="vec_id", train_sample=200
    )
    assert np.array_equal(full, capped_all)
    s1 = kmeans_centroids(
        df, k=4, n_iter=3, seed=5, id_col="vec_id", train_sample=64
    )
    s2 = kmeans_centroids(
        df.repartition(7), k=4, n_iter=3, seed=5, id_col="vec_id",
        train_sample=64,
    )
    assert np.array_equal(s1, s2)
    assert s1.shape == (4, 4)


def test_semdedup_auto_k_bounded_cells():
    """The bounded-cell-size law (round-8 verdict task 1): auto-k grows
    WITH n so expected cell size never exceeds the target — the property
    that keeps the intra-cell pair stage linear instead of O(n²/k)."""
    from dmshadoop_spark.dedup import auto_k

    for n in (1, 499, 500, 501, 5_000, 50_000, 10_000_000):
        k = auto_k(n, target_cell_size=500)
        assert k >= 1
        assert n / k <= 500, (n, k)  # expected cell size bounded
        # and not pathologically over-split: k never exceeds what the
        # target implies by more than one cell
        assert k <= -(-n // 500)
    # monotone in n: a 10x corpus gets ~10x the cells
    assert auto_k(50_000) == 10 * auto_k(5_000)
    assert auto_k(499) == 1 and auto_k(501) == 2


def test_x35b_semdedup_autok_runs_default_policy(spark, sf_dir):
    """k="auto" (the default) must pick ceil(n/500) cells, keep the same
    per-row accounting invariants as x35 (one row per embedding, one
    survivor per component, components never span cells), and emit a
    stable digest."""
    from dmshadoop_spark.dedup import auto_k
    from dmshadoop_spark.queries.llm import x35b_semdedup_autok

    rows = x35b_semdedup_autok(spark, sf_dir).collect()
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_emb
    k = auto_k(n_emb)
    cells = {r["cell"] for r in rows}
    assert 1 <= len(cells) <= k  # k-means may leave cells empty, never adds
    comp_cells: dict = {}
    comp_keeps: dict = {}
    for r in rows:
        comp_cells.setdefault(r["component"], set()).add(r["cell"])
        comp_keeps[r["component"]] = comp_keeps.get(r["component"], 0) + bool(
            r["keep"]
        )
    assert all(len(c) == 1 for c in comp_cells.values())
    assert all(v == 1 for v in comp_keeps.values())
    digests = {r["digest"] for r in rows}
    assert len(digests) == 1 and None not in digests


def test_jl_sq8_auto_expand_law():
    """auto_expand keeps the candidate FRACTION constant (the measured
    recall law on the margin-less synthetic corpus): 25% of the corpus,
    floored at expand 16."""
    from dmshadoop_spark.similarity import auto_expand

    assert auto_expand(500, 5) == 25     # 125 cands = 25%
    assert auto_expand(2000, 5) == 100   # 500 cands = 25%
    assert auto_expand(100, 5) == 16     # floor engages on tiny corpora
    # fraction constant ⇒ expand linear in n
    assert auto_expand(20_000, 5) == 10 * auto_expand(2_000, 5)


def test_jl_sq8_knn_recall_floor_and_determinism(spark, sf_dir):
    """The composed JL(64→32)+SQ8 candidate stage with exact rerank must
    keep recall@5 ≥ 0.8 at the auto operating point (25% candidate
    fraction; measured 0.875 at sf0.001, 0.925 at sf0.01, 0.875 at
    sf0.1) and the digest-pinned decision set must be stable across
    executions."""
    from dmshadoop_spark.registry import QUERIES
    from dmshadoop_spark.similarity import auto_expand

    rows = QUERIES["x5_knn_jl_sq8"](spark, sf_dir).collect()
    assert len(rows) == 8
    recall = sum(r["hits_jl_sq8"] for r in rows) / sum(
        r["n_exact"] for r in rows
    )
    assert recall >= 0.8, recall
    want_cands = 5 * auto_expand(rows[0]["n_corpus"], 5)
    assert all(r["n_candidates"] == want_cands for r in rows)
    assert all(r["n_corpus"] > r["n_candidates"] for r in rows)
    d1 = {r["digest"] for r in rows}
    d2 = {
        r["digest"] for r in QUERIES["x5_knn_jl_sq8"](spark, sf_dir).collect()
    }
    assert len(d1) == 1 and d1 == d2


def test_jl_sq8_fixed_budget_holds_on_clustered_corpus(spark):
    """The auto_expand docstring claims real (clustered, margin-bearing)
    corpora support FIXED candidate budgets where the margin-less random
    fixture does not — make that claim measured: on 2000 vectors in 50
    tight clusters, fixed expand=16 (80 candidates = 4% of the corpus,
    the exact budget that scored 0.575 on the random corpus at this n)
    must keep recall@5 ≥ 0.9 (measured 1.0, even at expand=8)."""
    import hashlib

    from pyspark.sql import Window as W

    from dmshadoop_spark.similarity import brute_force_knn, jl_sq8_knn

    def h(s: str) -> float:
        # deterministic pseudo-noise in [-0.05, 0.05]
        return (int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                / 0xFFFFFFFF - 0.5) * 0.1

    rows = []
    for i in range(2000):
        c = i % 50
        base = [h(f"c{c}:{d}") * 20 for d in range(64)]  # cluster center
        rows.append((i, [base[d] + h(f"v{i}:{d}") for d in range(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    exact = (
        brute_force_knn(emb, queries_df, k=6)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "neighbor_id")
    )
    topk, _ = jl_sq8_knn(emb, queries_df, k=5, expand=16, d_out=32)
    hits = exact.join(
        topk.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"], "left_semi",
    ).count()
    recall = hits / exact.count()
    assert recall >= 0.9, recall


def test_jl_sq8_recall_floor_at_bench_sf(spark):
    """The round-8 gap the auto law closes: at the bench SF (sf0.1,
    n=2000) the old fixed-80 budget scored recall@5 0.575; the 25%
    fraction must hold the ≥ 0.8 floor here too (measured 0.875)."""
    import os

    import pytest

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.1 fixtures not present")
    from dmshadoop_spark.registry import QUERIES

    rows = QUERIES["x5_knn_jl_sq8"](spark, sf_dir).collect()
    recall = sum(r["hits_jl_sq8"] for r in rows) / sum(
        r["n_exact"] for r in rows
    )
    assert recall >= 0.8, recall


def test_coarse_quantize_partitions_all_fine_centroids():
    """coarse_quantize's (perm, offs) must be a partition of the fine
    ids — every fine centroid in exactly one coarse cell — with fine
    ids ASCENDING within each cell (the property the two-level argmin's
    first-min tie-break relies on)."""
    import numpy as np

    from dmshadoop_spark.similarity.assign import coarse_quantize

    cents = np.array(
        [[float((i * 13 + j * 5) % 17) for j in range(6)] for i in range(40)]
    )
    coarse, perm, offs = coarse_quantize(cents)
    assert coarse.shape[1] == 6
    assert len(coarse) == int(np.ceil(np.sqrt(40)))
    assert sorted(perm.tolist()) == list(range(40))
    assert offs[0] == 0 and offs[-1] == 40
    for c in range(len(coarse)):
        members = perm[offs[c] : offs[c + 1]].tolist()
        assert members == sorted(members)
    # deterministic — same input, same structure
    c2, p2, o2 = coarse_quantize(cents)
    assert np.array_equal(coarse, c2)
    assert np.array_equal(perm, p2)
    assert np.array_equal(offs, o2)


def test_coarse_assignment_full_probe_bit_identical(spark):
    """At nprobe >= C the two-level search considers every fine centroid
    with the SAME fixed-order einsum arithmetic and the same
    first-min-fine-id tie-break as the exact vectorized path — the
    assignment must be bit-identical, including on deliberate exact
    distance ties."""
    import numpy as np

    from dmshadoop_spark.similarity.assign import (
        coarse_quantize,
        with_nearest_cell,
        with_nearest_cell_coarse,
    )

    cents = np.array(
        [[float((i * 7 + j * 3) % 11) for j in range(4)] for i in range(40)]
    )
    # centroids 0 and 20 coincide → every row is an exact tie between
    # fine ids 1 and 21; first-min must pick 1 on both paths
    cents[20] = cents[0]
    rows = [
        (i, [float((i * 5 + j) % 9) + 0.25 for j in range(4)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n_coarse = len(coarse_quantize(cents)[0])
    exact = {
        r["vec_id"]: r["cell"]
        for r in with_nearest_cell(
            df, "embedding", cents, vectorized=True
        ).collect()
    }
    two_level = {
        r["vec_id"]: r["cell"]
        for r in with_nearest_cell_coarse(
            df, "embedding", cents, nprobe=n_coarse
        ).collect()
    }
    assert exact == two_level
    # the planted tie must resolve to the FIRST minimal fine id on the
    # two-level path, same as exact's array_position/argmin rule
    assert all(c != 21 for c in two_level.values())


def test_coarse_assignment_agrees_on_separated_clusters(spark):
    """On well-separated clusters even nprobe=1 must reproduce the exact
    assignment — the clustered-data regime where the coarse level is
    near-free; and the approximate path must be deterministic across
    executions and partitionings."""
    import numpy as np

    from dmshadoop_spark.similarity.assign import (
        with_nearest_cell,
        with_nearest_cell_coarse,
    )

    # 36 fine centroids in 6 tight groups on orthogonal axes
    cents = np.zeros((36, 8))
    for i in range(36):
        cents[i, i % 6] = 50.0
        cents[i, 6] = 0.1 * (i // 6)
    rows = []
    for i in range(240):
        v = [0.0] * 8
        v[i % 6] = 50.0
        v[6] = 0.1 * ((i // 6) % 6) + 0.03
        v[7] = 0.001 * i  # unique, keeps rows distinct
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        r["vec_id"]: r["cell"]
        for r in with_nearest_cell(
            df, "embedding", cents, vectorized=True
        ).collect()
    }
    probe1 = {
        r["vec_id"]: r["cell"]
        for r in with_nearest_cell_coarse(
            df, "embedding", cents, nprobe=1
        ).collect()
    }
    assert exact == probe1
    rerun = {
        r["vec_id"]: r["cell"]
        for r in with_nearest_cell_coarse(
            df.repartition(7), "embedding", cents, nprobe=1
        ).collect()
    }
    assert probe1 == rerun


def test_semdedup_coarse_assign_end_to_end(spark):
    """semdedup(assign="coarse") on the planted corpus: same semantic
    groups, survivor rule, and accounting invariants as the exact path
    (on well-separated planted clusters the coarse assignment IS the
    exact one), and deterministic across executions."""
    from dmshadoop_spark.dedup import semdedup

    rows = [
        (0, [1.0, 0.02, 0.0, 0.0]),
        (1, [1.0, 0.00, 0.0, 0.0]),
        (2, [1.0, -0.02, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.01]),
        (4, [0.0, 0.0, 1.0, -0.01]),
        (5, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run():
        return {
            (r["vec_id"], r["cell"], r["component"],
             r["cos_centroid"], r["keep"])
            for r in semdedup(
                df, k=3, n_iter=3, seed=7, eps=0.95, shards=2,
                assign="coarse", assign_nprobe=1,
            ).collect()
        }

    first = run()
    assert first == run()
    by_id = {t[0]: t for t in first}
    assert len(first) == 6
    assert len({by_id[i][2] for i in (0, 1, 2)}) == 1
    assert len({by_id[i][2] for i in (3, 4)}) == 1
    assert by_id[5][2] != by_id[0][2]
    keeps = [t[0] for t in first if t[4]]
    assert len(keeps) == 3  # one survivor per group + the singleton


def test_x35c_semdedup_coarse_runs_and_is_stable(spark, sf_dir):
    """The driver entry: coarse final assignment at nprobe=2 of C=3 (the
    approximate path genuinely engaged), one decision row per embedding,
    one survivor per component, components never span cells, digest
    stable across executions."""
    from dmshadoop_spark.queries.llm import x35c_semdedup_coarse

    rows = x35c_semdedup_coarse(spark, sf_dir).collect()
    n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_emb
    comp_cells: dict = {}
    comp_keeps: dict = {}
    for r in rows:
        comp_cells.setdefault(r["component"], set()).add(r["cell"])
        comp_keeps[r["component"]] = (
            comp_keeps.get(r["component"], 0) + bool(r["keep"])
        )
    assert all(len(c) == 1 for c in comp_cells.values())
    assert all(v == 1 for v in comp_keeps.values())
    rerun = {r["digest"] for r in x35c_semdedup_coarse(spark, sf_dir).collect()}
    assert {r["digest"] for r in rows} == rerun


def test_ivf_coarse_index_assign_matches_exact_on_separated_data(spark):
    """coarse_index_assign=True (the two-level index-side assignment)
    must reproduce the default path's exact top-k on well-separated
    data, both at a full coarse probe (assignment provably identical)
    and at coarse_index_nprobe=1 (the clustered regime where the coarse
    level is near-free)."""
    import numpy as np

    from dmshadoop_spark.similarity.knn import ivf_knn

    # 8 well-separated clusters of 25 on orthogonal axes
    rows = []
    for i in range(200):
        v = [0.0] * 16
        v[i % 8] = 40.0
        v[8 + (i % 8)] = 0.05 * (i // 8)  # within-cluster spread
        rows.append((i, v))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qrows = [(j, rows[j * 31][1]) for j in range(6)]
    queries = spark.createDataFrame(qrows, "query_id long, q_emb array<double>")

    def run(**kw):
        return {
            (r["query_id"], r["neighbor_id"], round(r["cosine"], 9))
            for r in ivf_knn(
                corpus, queries, k=5, n_centroids=16, nprobe=4, **kw
            ).collect()
        }

    base = run()
    full_probe = run(coarse_index_assign=True, coarse_index_nprobe=16)
    assert base == full_probe
    probe1 = run(coarse_index_assign=True, coarse_index_nprobe=1)
    assert base == probe1


def test_semdedup_ingest_planted_decisions(spark):
    """Planted ingest batch against frozen centroids + existing
    survivors: direct anchor, TRANSITIVE anchor (a doc whose only link
    to existing content is through an anchored batch-mate), unanchored
    duplicate pair (one survivor, lowest centroid cosine), and an
    unanchored singleton."""
    import numpy as np

    from dmshadoop_spark.dedup import semdedup_ingest

    cents = np.array([[1.0, 0, 0, 0], [0, 0, 1.0, 0]])
    existing = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (1, [1.0, 0.20, 0.0, 0.0]),  # cos to e100 = 0.981 → anchored
            (4, [1.0, 0.55, 0.0, 0.0]),  # 0.876 to e100, 0.954 to id1
            (5, [0.0, 0.0, 1.0, 0.10]),  # cell 2: no existing content
            (6, [0.0, 0.0, 1.0, 0.12]),  # pairs with 5 (cos 0.9998)
            (7, [0.0, 1.0, 0.0, 0.0]),   # singleton, orthogonal to all
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in semdedup_ingest(
            existing, batch, cents, eps=0.92, shards=2
        ).collect()
    }
    assert len(out) == 5
    # component structure
    assert out[1]["component"] == out[4]["component"]
    assert out[5]["component"] == out[6]["component"]
    assert out[7]["component"] not in (out[1]["component"], out[5]["component"])
    # anchored: id1 directly, id4 transitively through id1
    assert out[1]["anchored"] and out[4]["anchored"]
    assert not out[5]["anchored"] and not out[6]["anchored"]
    assert not out[7]["anchored"]
    # keeps: anchored component keeps nothing; {5,6} keeps the LOWEST
    # centroid cosine (id6: 0.99287 < id5: 0.99504); singleton keeps
    assert {i for i, r in out.items() if r["keep"]} == {6, 7}


def test_semdedup_ingest_idempotent(spark):
    """Re-ingesting content that already has survivors keeps ZERO new
    docs — every new doc anchors on the existing copy of itself."""
    import numpy as np

    from dmshadoop_spark.dedup import semdedup_ingest

    cents = np.array([[1.0, 0, 0, 0], [0, 0, 1.0, 0]])
    vecs = [
        [1.0, 0.1, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.2],
        [0.7, 0.0, 0.7, 0.0],
    ]
    existing = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = semdedup_ingest(existing, batch, cents, eps=0.9, shards=2).collect()
    assert len(out) == 3
    assert all(r["anchored"] for r in out)
    assert not any(r["keep"] for r in out)


def test_x35d_semdedup_ingest_invariants(spark, sf_dir):
    """Driver entry: one decision row per batch doc; NO kept batch doc
    is within eps of any existing survivor (the operator's core
    guarantee, re-verified by brute force); anchored components keep
    nothing, unanchored components keep exactly one; digest stable."""
    import numpy as np

    from dmshadoop_spark.queries.llm import x35d_semdedup_ingest

    rows = x35d_semdedup_ingest(spark, sf_dir).collect()
    import pyspark.sql.functions as F2

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nib = F2.substring(
        F2.md5(F2.col("vec_id").cast("string").cast("binary")), 1, 1
    )
    n_batch = emb.where(nib.isin("c", "d", "e", "f")).count()
    assert len(rows) == n_batch

    comp_keeps: dict = {}
    comp_anch: dict = {}
    for r in rows:
        comp_keeps[r["component"]] = (
            comp_keeps.get(r["component"], 0) + bool(r["keep"])
        )
        comp_anch[r["component"]] = r["anchored"]
    for comp, n_keep in comp_keeps.items():
        assert n_keep == (0 if comp_anch[comp] else 1), comp

    # brute-force re-verification of the anchor guarantee: no kept doc
    # within eps of ANY existing survivor (not just same-cell ones —
    # the cell-blocked check can only be STRICTER than this)
    from dmshadoop_spark.dedup import semdedup
    from dmshadoop_spark.similarity.kmeans import kmeans_centroids  # noqa: F401

    existing = emb.where(~nib.isin("c", "d", "e", "f"))
    decided = semdedup(
        existing, id_col="vec_id", vec_col="embedding",
        k=8, n_iter=4, seed=7, eps=0.35, shards=4,
    )
    surv_ids = {r["vec_id"] for r in decided.where("keep").collect()}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    sv = np.array([vecs[i] for i in sorted(surv_ids)])
    sv_n = sv / np.linalg.norm(sv, axis=1, keepdims=True)
    kept_ids = [r["vec_id"] for r in rows if r["keep"]]
    assert kept_ids, "ingest batch kept nothing — fixture degenerate?"
    for kid in kept_ids:
        v = vecs[kid]
        cos = sv_n @ (v / np.linalg.norm(v))
        # same-cell anchors were checked by the operator; a cross-cell
        # near-match would mean the quantizer split a semantic group —
        # allowed by the paper's semantics, so only assert the SAME
        # decision the operator claims: no anchor at ≥ eps in its cell.
        # Globally we assert the far weaker sanity bound cos < 0.9999
        # (an exact duplicate must never be kept).
        assert cos.max() < 0.9999, (kid, cos.max())

    rerun = {r["digest"] for r in x35d_semdedup_ingest(spark, sf_dir).collect()}
    assert {r["digest"] for r in rows} == rerun


def test_semdedup_production_posture_composes(spark):
    """The three scale knobs composed — k="auto" + train_sample +
    assign="coarse" — must run end-to-end, keep every accounting
    invariant, and be deterministic across executions and input
    partitionings (each knob is individually deterministic; this pins
    the composition)."""
    from dmshadoop_spark.dedup import semdedup

    rows = []
    for i in range(120):
        v = [0.0] * 8
        v[i % 6] = 30.0
        v[6] = 0.02 * (i // 6)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(frame):
        return {
            (r["vec_id"], r["cell"], r["component"],
             r["cos_centroid"], r["keep"])
            for r in semdedup(
                frame, k="auto", target_cell_size=10, n_iter=3, seed=11,
                eps=0.9, shards=2, train_sample=64, assign="coarse",
                assign_nprobe=3,
            ).collect()
        }

    first = run(df)
    assert len(first) == 120
    assert first == run(df.repartition(7))  # partitioning-invariant
    comp_cells: dict = {}
    comp_keeps: dict = {}
    for _vid, cell, comp, _cos, keep in first:
        comp_cells.setdefault(comp, set()).add(cell)
        comp_keeps[comp] = comp_keeps.get(comp, 0) + bool(keep)
    assert all(len(c) == 1 for c in comp_cells.values())
    assert all(v == 1 for v in comp_keeps.values())


def test_components_driver_and_distributed_paths_agree(spark):
    """connected_components is size-routed: small edge sets solve with a
    driver union-find, large ones with the distributed loop. Both paths
    must produce IDENTICAL (node, min-id-in-component) labels and the
    same schema, on every graph shape the suite pins."""
    from dmshadoop_spark.dedup import connected_components

    cases = [
        [(1, 2), (2, 3), (10, 11), (20, 20)],
        [(i, i + 1) for i in range(1, 60)],          # chain
        [(100, 1), (100, 2), (100, 3), (2, 50)],      # star + tail
        [(7, 7)],                                     # self-loop
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        fast = connected_components(df)
        slow = connected_components(df, driver_max_edges=0)  # force loop
        f = {(r["node"], r["comp"]) for r in fast.collect()}
        s = {(r["node"], r["comp"]) for r in slow.collect()}
        assert f == s, edges
        assert fast.dtypes == slow.dtypes


def test_blocked_cosine_pairs_vectorized_matches_fold(spark):
    """The numpy block-cosine path must emit the SAME pair set as the
    interpreted fold path (no exact-threshold ties in this fixture),
    with cosines equal to float tolerance, at two shard counts, and be
    invariant to input partitioning."""
    from dmshadoop_spark.dedup import blocked_cosine_pairs

    rows = []
    for i in range(90):
        v = [0.0] * 6
        v[i % 3] = 5.0
        v[3 + (i % 3)] = 0.02 * (i // 3)  # in-block spread, clear margins
        rows.append((i % 4, i, v))
    df = spark.createDataFrame(rows, "blk long, vid long, emb array<double>")

    for shards in (2, 4):
        fold = {
            (r["blk"], r["vec_a"], r["vec_b"]): r["cosine"]
            for r in blocked_cosine_pairs(
                df, "blk", "vid", "emb", threshold=0.95, shards=shards
            ).collect()
        }
        vec = {
            (r["blk"], r["vec_a"], r["vec_b"]): r["cosine"]
            for r in blocked_cosine_pairs(
                df.repartition(5), "blk", "vid", "emb",
                threshold=0.95, shards=shards, vectorized=True,
            ).collect()
        }
        assert fold.keys() == vec.keys(), shards
        assert fold, "fixture emitted no pairs — degenerate"
        for key, cv in vec.items():
            assert abs(cv - fold[key]) < 1e-9, (key, cv, fold[key])


def test_blocked_pairs_vectorized_rejects_non_integral_ids(spark):
    """ADVICE r9: the vectorized pair kernel orders ids with numpy
    min/max and declares an integer output schema — a non-integral id
    column must raise up front, not silently mangle (the fold path
    handles any orderable id type)."""
    import pytest

    from dmshadoop_spark.dedup.semdedup import blocked_cosine_pairs

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.01])],
        "doc string, embedding array<double>",
    ).withColumn("blk", F.lit(1))
    with pytest.raises(ValueError, match="integral id column"):
        blocked_cosine_pairs(
            df, "blk", "doc", "embedding", 0.9, 2, vectorized=True
        )
    # fold path: same call shape, string ids are fine
    got = blocked_cosine_pairs(
        df, "blk", "doc", "embedding", 0.9, 2, vectorized=False
    ).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in got} == {("a", "b")}


def test_semdedup_ingest_ignores_stray_batch_cell_and_checks_existing(spark):
    """ADVICE r9: a caller-supplied ``cell`` column is honored on the
    EXISTING frame only — a stray (wrong) cell on the batch is ignored
    (the batch is always assigned against ``cents``, so no batch row
    can fall out of the centroid join), and an out-of-range existing
    cell raises instead of silently disabling anchoring."""
    import numpy as np
    import pytest

    from dmshadoop_spark.dedup import semdedup_ingest

    cents = np.array([[1.0, 0, 0, 0], [0, 0, 1.0, 0]])
    existing = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # batch carries a bogus cell=99 column — must be ignored, not joined
    batch = spark.createDataFrame(
        [(1, [1.0, 0.05, 0.0, 0.0], 99), (5, [0.0, 0.0, 1.0, 0.1], 99)],
        "vec_id long, embedding array<double>, cell int",
    )
    out = {
        r["vec_id"]: r
        for r in semdedup_ingest(
            existing, batch, cents, eps=0.92, shards=2
        ).collect()
    }
    assert len(out) == 2  # one decision row per batch doc — none dropped
    assert out[1]["cell"] == 1 and out[5]["cell"] == 2  # re-assigned
    assert out[1]["anchored"] and not out[1]["keep"]
    assert out[5]["keep"]

    bad_existing = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0], 7)],
        "vec_id long, embedding array<double>, cell int",
    )
    clean_batch = batch.drop("cell")
    with pytest.raises(Exception, match="out of range"):
        semdedup_ingest(
            bad_existing, clean_batch, cents, eps=0.92, shards=2
        ).collect()


def test_stabilize_hint_small_restores_broadcast(spark):
    """ADVICE r9: stabilize() strips compile-time size stats, so
    auto-broadcast never fires on a checkpointed frame; hint_small=True
    re-derives the decision from the materialized row count and wraps
    qualifying frames in an explicit broadcast hint."""
    from dmshadoop_spark.functions.checkpoint import stabilize

    dim = spark.range(10).withColumnRenamed("id", "k")
    fact = spark.range(10_000).withColumn("k", F.col("id") % 10)

    plain = fact.join(stabilize(dim), "k").count()
    hinted_df = stabilize(dim, hint_small=True)
    joined = fact.join(hinted_df, "k")
    assert joined.count() == plain == 10_000
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()


def test_substring_dedup_planted_spans(spark):
    """Lee et al. 2022 ExactSubstr semantics on a planted fixture: two
    docs share one long span and keep exactly their unique tails; a
    span repeated WITHIN one doc does not mark; overlapping duplicated
    windows merge into ONE accounted span; untouched docs pass through
    byte-identical."""
    from dmshadoop_spark.dedup.substring import substring_dedup

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"epsilon {shared} zeta"),
            # 10-token span repeated twice INSIDE one doc — not cross-doc
            (3, f"one {shared.replace('fox', 'cat')} two "
                f"{shared.replace('fox', 'cat')} three"),
            (4, "totally unique text with no duplicated span at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_dedup(docs, "doc_id", "text", min_len=10).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma delta"
    assert out[2]["clean_text"] == "epsilon zeta"
    assert out[1]["removed_tokens"] == 10 and out[1]["n_spans"] == 1
    assert out[2]["removed_tokens"] == 10 and out[2]["n_spans"] == 1
    # within-doc repeat: untouched
    assert out[3]["removed_tokens"] == 0 and out[3]["n_spans"] == 0
    assert out[3]["clean_text"] == docs.where("doc_id = 3").first()["text"]
    assert out[4]["clean_text"] == docs.where("doc_id = 4").first()["text"]
    for r in out.values():
        assert r["orig_tokens"] == r["kept_tokens"] + r["removed_tokens"]


def test_substring_dedup_long_span_merges_windows(spark):
    """A duplicated span LONGER than min_len produces consecutive
    duplicated windows that must merge into one maximal span — and the
    whole span is excised, not just the first window."""
    from dmshadoop_spark.dedup.substring import substring_dedup

    span = " ".join(f"w{i}" for i in range(20))  # 20-token shared span
    docs = spark.createDataFrame(
        [(1, f"head1 {span} tail1"), (2, f"head2 {span} tail2 extra2")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_dedup(docs, "doc_id", "text", min_len=10).collect()
    }
    assert out[1]["clean_text"] == "head1 tail1"
    assert out[2]["clean_text"] == "head2 tail2 extra2"
    assert out[1]["removed_tokens"] == 20 and out[1]["n_spans"] == 1
    assert out[2]["removed_tokens"] == 20 and out[2]["n_spans"] == 1


def test_substring_dedup_two_disjoint_spans_and_full_removal(spark):
    """Two disjoint duplicated spans count as two accounted spans; a doc
    that is ENTIRELY duplicated content comes back as empty text with
    kept_tokens = 0 (the doc row itself is never dropped)."""
    from dmshadoop_spark.dedup.substring import substring_dedup

    s1 = " ".join(f"a{i}" for i in range(10))
    s2 = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{s1} middle1 middle2 {s2}"),
            (2, f"x {s1} y"),
            (3, f"p {s2} q"),
            (4, s1),  # doc 4 IS the span — fully excised
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_dedup(docs, "doc_id", "text", min_len=10).collect()
    }
    assert out[1]["clean_text"] == "middle1 middle2"
    assert out[1]["n_spans"] == 2 and out[1]["removed_tokens"] == 20
    assert out[4]["clean_text"] == "" and out[4]["kept_tokens"] == 0
    assert out[4]["n_spans"] == 1


def _clustered_corpus(spark, n=600, n_clusters=24, dim=16, jitter=0.35):
    """Clustered-with-noise fixture: tight axis clusters plus enough
    deterministic jitter that cluster boundaries are fuzzy — the regime
    where coarse assignment is ALLOWED to disagree with exact at the
    margins (unlike the orthogonal-separated fixture, where agreement
    must be exact)."""
    rows = []
    for i in range(n):
        c = i % n_clusters
        v = [0.0] * dim
        v[c % dim] = 10.0
        v[(c + 3) % dim] = 4.0 + 0.1 * (c // dim)
        # deterministic jitter on two rotating axes
        v[(i * 5 + 1) % dim] += jitter * (((i * 2654435761) % 1000) / 1000.0)
        v[(i * 7 + 2) % dim] += jitter * (((i * 40503) % 997) / 997.0)
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_coarse_posture_agreement_floor(spark):
    """Round-9 verdict task 6: pin the agreement floor the SCALE.md
    recommendation relies on — semdedup(assign='coarse') on a clustered
    corpus must (a) assign ≥95% of rows to their exact nearest cell
    (observed 0.98-1.0 across the r9 probes) and (b) make keep/drop
    decisions that agree with the exact posture on ≥95% of docs."""
    from dmshadoop_spark.dedup import semdedup

    df = _clustered_corpus(spark)
    exact = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semdedup(df, k=24, eps=0.2, assign="exact").collect()
    }
    coarse = {
        r["vec_id"]: (r["cell"], r["keep"])
        for r in semdedup(df, k=24, eps=0.2, assign="coarse").collect()
    }
    assert exact.keys() == coarse.keys()
    n = len(exact)
    cell_agree = sum(exact[i][0] == coarse[i][0] for i in exact) / n
    keep_agree = sum(exact[i][1] == coarse[i][1] for i in exact) / n
    assert cell_agree >= 0.95, cell_agree
    assert keep_agree >= 0.95, keep_agree


def test_semdedup_train_sample_survivor_stability(spark):
    """Round-9 verdict task 6's second floor: the train_sample posture
    must be (a) DETERMINISTIC — identical survivor set on any input
    partitioning — and (b) FAITHFUL on clustered data: keep/drop
    decisions agree with full-corpus training on ≥90% of docs (bounded
    training moves centroids slightly; it must not reshuffle the
    survivor structure)."""
    from dmshadoop_spark.dedup import semdedup

    df = _clustered_corpus(spark)
    kw = dict(k=24, eps=0.2, train_sample=256)
    s1 = {
        r["vec_id"]: r["keep"] for r in semdedup(df, **kw).collect()
    }
    s2 = {
        r["vec_id"]: r["keep"]
        for r in semdedup(df.repartition(7), **kw).collect()
    }
    assert s1 == s2  # determinism across partitionings
    full = {
        r["vec_id"]: r["keep"]
        for r in semdedup(df, k=24, eps=0.2).collect()
    }
    agree = sum(s1[i] == full[i] for i in full) / len(full)
    assert agree >= 0.90, agree
    # both postures keep a comparable corpus fraction (no silent
    # over-dedup from the bounded training)
    kept_s, kept_f = sum(s1.values()), sum(full.values())
    assert abs(kept_s - kept_f) / kept_f <= 0.05, (kept_s, kept_f)


def test_substring_dedup_keep_first_preserves_one_copy(spark):
    """keep='first' (the paper's all-but-one rule): the lexicographically
    smallest (doc, pos) occurrence keeps the shared span, every other
    occurrence is excised; docs untouched by duplication pass through;
    keep='all' on the same fixture removes both copies."""
    from dmshadoop_spark.dedup.substring import substring_dedup

    span = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (5, f"head5 {span} tail5"),
            (2, f"head2 {span} tail2"),   # min doc id → canonical copy
            (9, f"solo text with nothing shared here at all ok"),
        ],
        "doc_id long, text string",
    )
    first = {
        r["doc_id"]: r
        for r in substring_dedup(
            docs, "doc_id", "text", min_len=10, keep="first"
        ).collect()
    }
    assert first[2]["clean_text"] == f"head2 {span} tail2"  # kept intact
    assert first[2]["removed_tokens"] == 0
    assert first[5]["clean_text"] == "head5 tail5"
    assert first[5]["removed_tokens"] == 12 and first[5]["n_spans"] == 1
    assert first[9]["removed_tokens"] == 0

    both = {
        r["doc_id"]: r
        for r in substring_dedup(
            docs, "doc_id", "text", min_len=10, keep="all"
        ).collect()
    }
    assert both[2]["clean_text"] == "head2 tail2"
    assert both[5]["clean_text"] == "head5 tail5"

    import pytest

    with pytest.raises(ValueError, match="keep must be"):
        substring_dedup(docs, "doc_id", "text", min_len=10, keep="one")


def _ref_substring_dedup(docs, L, keep):
    """Pure-Python reference for substring_dedup's semantics."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    occ = {}
    for d, ts in sorted(toks.items()):
        for p in range(len(ts) - L + 1):
            occ.setdefault(tuple(ts[p : p + L]), []).append((d, p))
    covered = {d: set() for d in toks}
    canon_cov = {d: set() for d in toks}
    for s, os_ in occ.items():
        if len({d for d, _ in os_}) < 2:
            continue
        canon = min(os_)
        for d, p in os_:
            covered[d].update(range(p, p + L))
            if keep == "first" and (d, p) == canon:
                canon_cov[d].update(range(p, p + L))
    out = {}
    for d, ts in toks.items():
        exc = covered[d] - (canon_cov[d] if keep == "first" else set())
        kept = [t for i, t in enumerate(ts) if i not in exc]
        runs = 0
        prev = None
        for i in sorted(exc):
            if prev is None or i > prev + 1:
                runs += 1
            prev = i
        out[d] = (" ".join(kept), len(ts), len(ts) - len(exc), len(exc), runs)
    return out


def test_substring_dedup_matches_reference_on_random_corpora(spark):
    """Property: both keep variants agree with a pure-Python reference
    on randomized small-vocab corpora (small vocab forces heavy
    cross-doc duplication, overlapping and nested spans, whole-doc
    wipeouts — the shapes hand fixtures miss)."""
    import random

    from dmshadoop_spark.dedup.substring import substring_dedup

    vocab = ["aa", "bb", "cc", "dd"]
    for seed in range(6):
        rng = random.Random(seed)
        docs = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 24))
            )
            for d in range(rng.randint(2, 5))
        }
        sdf = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        for keep in ("all", "first"):
            ref = _ref_substring_dedup(docs, 4, keep)
            got = {
                r["doc_id"]: (
                    r["clean_text"],
                    r["orig_tokens"],
                    r["kept_tokens"],
                    r["removed_tokens"],
                    r["n_spans"],
                )
                for r in substring_dedup(
                    sdf, "doc_id", "text", min_len=4, keep=keep
                ).collect()
            }
            assert got == ref, (seed, keep, got, ref)


def test_substring_decontaminate_planted(spark):
    """Eval spans are excised from train docs (and only from train
    docs); within-train duplication is untouched; train docs with no
    benchmark overlap pass through byte-identical."""
    from dmshadoop_spark.dedup.substring import substring_decontaminate

    leak = " ".join(f"q{i}" for i in range(10))  # benchmark passage
    traindup = " ".join(f"d{i}" for i in range(10))
    bench = spark.createDataFrame(
        [(100, f"intro {leak} outro")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, f"pre {leak} post"),            # contaminated
            (2, f"a {traindup} b"),             # train-internal dup only
            (3, f"c {traindup} dd"),            # train-internal dup only
            (4, "completely clean document"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in substring_decontaminate(
            train, bench, "doc_id", "text", min_len=10
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # benchmark docs never emitted
    assert out[1]["clean_text"] == "pre post"
    assert out[1]["removed_tokens"] == 10 and out[1]["n_spans"] == 1
    # within-train duplication is NOT this operator's job
    assert out[2]["removed_tokens"] == 0 and out[3]["removed_tokens"] == 0
    assert out[4]["clean_text"] == "completely clean document"


def test_substring_dedup_fixpoint_catches_junctures(spark):
    """Excising doc A's middle span joins its flanks into exactly doc
    C's text — a juncture-created duplicate one pass cannot see. The
    fixpoint must remove it on pass 2, with accounting against the
    ORIGINAL input and a corpus-level pass count."""
    from dmshadoop_spark.dedup.substring import (
        substring_dedup,
        substring_dedup_fixpoint,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b m1 m2 m3 m4 c d"),  # flanks join to "a b c d"
            (2, "zz m1 m2 m3 m4 ww"),
            (3, "a b c d"),
        ],
        "doc_id long, text string",
    )
    one = {
        r["doc_id"]: r["clean_text"]
        for r in substring_dedup(docs, min_len=4).collect()
    }
    assert one[1] == "a b c d" and one[3] == "a b c d"  # juncture missed
    fx = {
        r["doc_id"]: r
        for r in substring_dedup_fixpoint(docs, min_len=4).collect()
    }
    assert fx[1]["clean_text"] == "" and fx[3]["clean_text"] == ""
    assert fx[2]["clean_text"] == "zz ww"
    assert all(r["n_passes"] == 2 for r in fx.values())
    assert (fx[1]["orig_tokens"], fx[1]["kept_tokens"],
            fx[1]["removed_tokens"]) == (8, 0, 8)
    assert (fx[3]["orig_tokens"], fx[3]["kept_tokens"],
            fx[3]["removed_tokens"]) == (4, 0, 4)
    assert (fx[2]["orig_tokens"], fx[2]["kept_tokens"],
            fx[2]["removed_tokens"]) == (6, 2, 4)
    # dup-free corpus: zero passes, untouched rows
    clean = spark.createDataFrame(
        [(1, "p q r s"), (2, "t u v w")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           substring_dedup_fixpoint(clean, min_len=4).collect()}
    assert out[1]["clean_text"] == "p q r s"
    assert all(r["n_passes"] == 0 and r["removed_tokens"] == 0
               for r in out.values())


def test_parse_bytes_two_letter_suffixes():
    """ADVICE r10: the old suffix loop tested bare 'b' before 'kb'/'mb',
    so every two-letter size string raised and the caller silently fell
    back to the 10MB default — including configs meant to RESTRICT
    broadcasting ('1KB')."""
    from dmshadoop_spark.functions.checkpoint import _parse_bytes

    assert _parse_bytes("10MB") == 10 * 1024**2
    assert _parse_bytes("1KB") == 1024
    assert _parse_bytes("100gb") == 100 * 1024**3
    assert _parse_bytes("10m") == 10 * 1024**2
    assert _parse_bytes("512b") == 512
    assert _parse_bytes("67108864") == 67108864
    assert _parse_bytes("-1") == -1
    with pytest.raises(ValueError):
        _parse_bytes("10xb")


def test_hint_small_measures_variable_length_payloads(spark):
    """ADVICE r10 (medium): Catalyst defaultSize counts array<double> as
    ONE element and strings as 20 bytes, so count()*defaultSize
    under-estimated embedding frames ~dim-fold — and the broadcast()
    wrapper hint_small emits bypasses the runtime threshold entirely.
    The estimator must measure variable-length payloads and refuse to
    hint a frame whose REAL size exceeds the threshold, while still
    hinting genuinely small frames."""
    from dmshadoop_spark.functions.checkpoint import (
        _row_bytes_expr,
        stabilize,
    )

    dim = 512
    emb = spark.range(100).select(
        "id", F.array_repeat(F.rand(seed=1), dim).alias("v")
    )
    est = emb.agg(F.sum(_row_bytes_expr(emb.schema)).alias("b")).collect()[
        0
    ]["b"]
    assert est >= 100 * dim * 8  # honest floor: the raw array bytes

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64KB")
    try:
        # 100 rows x 512 doubles ~ 410KB > 64KB: must NOT be hinted
        big = stabilize(emb, hint_small=True)
        assert "hint" not in big._jdf.queryExecution().logical().toString().lower()
        # 20 longs << 64KB: must be hinted
        small = stabilize(
            spark.range(20).withColumnRenamed("id", "k"), hint_small=True
        )
        assert "hint" in small._jdf.queryExecution().logical().toString().lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_substring_dedup_rejects_non_integral_ids(spark):
    """ADVICE r10: doc ids travel through int64 numpy blocks in the
    occurrence table; a string id used to fail deep inside a Python
    worker with an opaque cast error. Every path validates up front."""
    from dmshadoop_spark.dedup.substring import (
        substring_decontaminate,
        substring_dedup,
        substring_dedup_fixpoint,
    )

    docs = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "doc_id string, text string"
    )
    for call in (
        lambda: substring_dedup(docs, min_len=2),
        lambda: substring_decontaminate(docs, docs, min_len=2),
        lambda: substring_dedup_fixpoint(docs, min_len=2),
    ):
        with pytest.raises(ValueError, match="integral id"):
            call()


def test_centroid_frame_chunked_offsets_identical(spark):
    """ADVICE r10: pa.ListArray offsets are int32, so (k+1)*dim beyond
    2^31 wrapped negative at the advertised k=2M large-k path. The
    chunked construction must be value-identical to the single-chunk
    path (here forced with a tiny _max_list_elems)."""
    import numpy as np

    from dmshadoop_spark.dedup.semdedup import centroid_frame

    rng = np.random.default_rng(3)
    cents = rng.normal(size=(10, 8))
    a = centroid_frame(spark, cents).orderBy("cell").collect()
    b = (
        centroid_frame(spark, cents, _max_list_elems=24)  # 3 rows/chunk
        .orderBy("cell")
        .collect()
    )
    assert [r["cell"] for r in a] == [r["cell"] for r in b] == list(
        range(1, 11)
    )
    for ra, rb in zip(a, b):
        assert ra["cent"] == rb["cent"] and ra["ncent"] == rb["ncent"]


# --------------------------------------------------------------------------
# substring dedup at ingest + persisted occurrence index (round-10 tasks 2/7)
# --------------------------------------------------------------------------

_ING_SHARED = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks


def _ing_corpus(spark):
    return spark.createDataFrame(
        [
            (10, f"alpha beta {_ING_SHARED} gamma delta"),
            (11, "corpus only text nobody repeats anywhere at all here"),
        ],
        "doc_id long, text string",
    )


def _ing_batch(spark):
    catspan = _ING_SHARED.replace("fox", "cat")
    return spark.createDataFrame(
        [
            (1, f"intro {_ING_SHARED} outro"),  # hits the corpus
            (2, "fresh unique content nothing matches here ok yes sure"
                " thing maybe fine"),  # genuinely new, ≥10 tokens
            (3, f"one two {catspan} three"),  # batch-internal dup w/ 4
            (4, f"xx {catspan} yy"),
        ],
        "doc_id long, text string",
    )


def test_substring_ingest_planted_semantics(spark, tmp_path):
    """keep='all': corpus-matching spans excised from the batch,
    batch-internal cross-doc spans excised from BOTH carriers, clean
    docs pass through byte-identical; the corpus is never rewritten."""
    from dmshadoop_spark.dedup import build_occurrence_index, substring_ingest

    idx = str(tmp_path / "idx")
    build_occurrence_index(_ing_corpus(spark), idx, min_len=10)
    out = {
        r["doc_id"]: r
        for r in substring_ingest(
            _ing_batch(spark), idx, min_len=10, keep="all"
        ).collect()
    }
    assert out[1]["clean_text"] == "intro outro"
    assert out[1]["removed_tokens"] == 10 and out[1]["n_spans"] == 1
    assert out[2]["removed_tokens"] == 0
    assert out[2]["clean_text"].startswith("fresh unique content")
    assert out[3]["clean_text"] == "one two three"
    assert out[4]["clean_text"] == "xx yy"


def test_substring_ingest_keep_first_batch_canonical(spark, tmp_path):
    """keep='first': the batch-duplicated span survives in its smallest
    (doc, pos) carrier only; corpus-matched spans are always excised
    (the corpus already holds the canonical copy)."""
    from dmshadoop_spark.dedup import build_occurrence_index, substring_ingest

    idx = str(tmp_path / "idx")
    build_occurrence_index(_ing_corpus(spark), idx, min_len=10)
    out = {
        r["doc_id"]: r
        for r in substring_ingest(
            _ing_batch(spark), idx, min_len=10, keep="first"
        ).collect()
    }
    assert out[1]["clean_text"] == "intro outro"  # corpus wins
    catspan = _ING_SHARED.replace("fox", "cat")
    assert out[3]["clean_text"] == f"one two {catspan} three"  # canonical
    assert out[4]["clean_text"] == "xx yy"


def test_substring_ingest_fold_equivalence(spark, tmp_path):
    """After ingest the index must equal the occurrence table of
    corpus ∪ accepted remainders — the x21 delta-fold ≡ full-rebuild
    invariance, at window-hash granularity."""
    from dmshadoop_spark.dedup import build_occurrence_index, substring_ingest
    from dmshadoop_spark.dedup.substring import (
        _occurrence_table,
        _token_table,
        read_occurrence_index,
    )

    idx = str(tmp_path / "idx")
    corpus = _ing_corpus(spark)
    build_occurrence_index(corpus, idx, min_len=10)
    out = substring_ingest(_ing_batch(spark), idx, min_len=10, keep="all")
    clean = out.select("doc_id", F.col("clean_text").alias("text"))
    expect = sorted(
        map(
            tuple,
            _occurrence_table(
                _token_table(corpus.unionByName(clean), "doc_id", "text"), 10
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, read_occurrence_index(spark, idx).select("_id", "pos", "h1", "h2").collect())
    )
    assert expect == got


def test_substring_ingest_idempotent_and_founds_index(spark, tmp_path):
    """Re-ingesting an accepted batch appends NOTHING (every remainder
    window already indexed) and fully excises remainders of ≥ min_len
    tokens; sub-window fragments pass through (below the operator's
    granularity). A missing index is an empty corpus: the first batch
    self-dedups and founds it."""
    from dmshadoop_spark.dedup import substring_ingest
    from dmshadoop_spark.dedup.substring import read_occurrence_index

    idx = str(tmp_path / "idx")  # never created: founding ingest
    batch = _ing_batch(spark)
    out1 = {
        r["doc_id"]: r
        for r in substring_ingest(batch, idx, min_len=10, keep="all").collect()
    }
    # no corpus: only the batch-internal dup (docs 3/4) is excised
    assert out1[1]["removed_tokens"] == 0
    assert out1[3]["clean_text"] == "one two three"
    n1 = read_occurrence_index(spark, idx).select("_id", "pos", "h1", "h2").count()
    out2 = {
        r["doc_id"]: r
        for r in substring_ingest(batch, idx, min_len=10, keep="all").collect()
    }
    n2 = read_occurrence_index(spark, idx).select("_id", "pos", "h1", "h2").count()
    assert n1 == n2  # idempotent: nothing new indexed
    # doc 1 (12 tokens, now fully indexed) is excised wholesale;
    # doc 3's 3-token remainder has no window and passes through
    assert out2[1]["clean_text"] == ""
    assert out2[3]["clean_text"] == "one two three"


def test_substring_dedup_index_table_skips_hash_scan(spark, tmp_path):
    """Task 7 pin: with a committed index_table, substring_dedup's plan
    reads the parquet index and contains NO Arrow hashing stage
    (MapInPandas); without one, the hashing stage is present. Results
    are identical either way."""
    from dmshadoop_spark.dedup import substring_dedup

    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {_ING_SHARED} gamma"),
            (2, f"epsilon {_ING_SHARED} zeta"),
            (3, "totally unique text with no duplicated span at all"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "occ")
    first = substring_dedup(docs, min_len=10, index_table=idx)
    base = {r["doc_id"]: r["clean_text"] for r in first.collect()}
    # second run: index committed -> no hash scan in the plan
    again = substring_dedup(docs, min_len=10, index_table=idx)
    plan = again._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    fmt = spark._jvm.PythonSQLUtils.explainString(
        again._jdf.queryExecution(), "formatted"
    )
    assert "occ" in fmt  # detection scans the persisted index
    assert {r["doc_id"]: r["clean_text"] for r in again.collect()} == base
    # control: the default path hashes in-plan
    fresh = substring_dedup(docs, min_len=10)
    assert {r["doc_id"]: r["clean_text"] for r in fresh.collect()} == base


def test_hint_small_unsizable_type_degrades_to_no_hint(spark):
    """A column type the size estimator can't express (binary nested in
    an array — to_json rejects it) must degrade to NOT hinting (AQE
    recovers broadcasts at runtime), never raise out of stabilize."""
    from dmshadoop_spark.functions.checkpoint import stabilize

    df = spark.range(5).select(
        "id", F.array(F.col("id").cast("string").cast("binary")).alias("b")
    )
    out = stabilize(df, hint_small=True)  # must not raise
    assert out.count() == 5


def test_substring_ingest_two_batch_sequence_fold_equivalence(spark, tmp_path):
    """The plural claim: after TWO sequential batches the index equals
    the occurrence table of corpus ∪ both accepted remainders, and a
    span accepted in batch 1 is excised from batch 2."""
    from dmshadoop_spark.dedup import build_occurrence_index, substring_ingest
    from dmshadoop_spark.dedup.substring import (
        _occurrence_table,
        _token_table,
        read_occurrence_index,
    )

    idx = str(tmp_path / "idx")
    corpus = _ing_corpus(spark)
    build_occurrence_index(corpus, idx, min_len=10)
    novel = "zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    b1 = spark.createDataFrame(
        [(1, f"first {novel} tail")], "doc_id long, text string"
    )
    out1 = substring_ingest(b1, idx, min_len=10, keep="all")
    assert out1.collect()[0]["removed_tokens"] == 0  # novel: accepted
    b2 = spark.createDataFrame(
        [(2, f"second {novel} coda")], "doc_id long, text string"
    )
    out2 = substring_ingest(b2, idx, min_len=10, keep="all")
    r2 = out2.collect()[0]
    assert r2["removed_tokens"] == 12  # batch-1 acceptance now indexed
    assert r2["clean_text"] == "second coda"
    full = corpus.unionByName(
        out1.select("doc_id", F.col("clean_text").alias("text"))
    ).unionByName(out2.select("doc_id", F.col("clean_text").alias("text")))
    expect = sorted(
        map(
            tuple,
            _occurrence_table(
                _token_table(full, "doc_id", "text"), 10
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, read_occurrence_index(spark, idx).select("_id", "pos", "h1", "h2").collect())
    )
    assert expect == got


def test_index_probe_prunes_buckets(spark, tmp_path):
    """Round-11 verdict task 2: the per-batch index probe reads ONLY the
    hash-prefix buckets the batch's windows map to — plan-asserted
    static partition pruning (PartitionFilters IN-list), so probe IO is
    the batch's bucket footprint, never the whole index."""
    from dmshadoop_spark.dedup import build_occurrence_index
    from dmshadoop_spark.dedup.substring import (
        _index_probe,
        _occ_meta,
        _occurrence_table,
        _token_table,
    )

    idx = str(tmp_path / "idx")
    build_occurrence_index(_ing_corpus(spark), idx, min_len=10, buckets=16)
    meta = _occ_meta(idx)
    assert meta["buckets"] == 16 and meta["min_len"] == 10
    batch_hashes = (
        _occurrence_table(_token_table(_ing_batch(spark), "doc_id", "text"), 10)
        .select("h1", "h2")
        .distinct()
    )
    probe = _index_probe(spark, idx, batch_hashes, 16)
    fmt = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [b" in fmt and " IN " in fmt
    # the probe finds exactly the corpus-shared windows (doc 1's span)
    assert probe.count() > 0


def test_compact_index_folds_files_and_preserves_rows(spark, tmp_path):
    """compact_index rewrites the current generation as one sorted file
    per bucket without changing a single row; vacuum_index drops the
    superseded generations (hardlink-safe)."""
    import os

    from dmshadoop_spark.dedup import (
        build_occurrence_index,
        compact_index,
        read_occurrence_index,
        substring_ingest,
        vacuum_index,
    )
    from dmshadoop_spark import generations

    idx = str(tmp_path / "idx")
    build_occurrence_index(_ing_corpus(spark), idx, min_len=10, buckets=4)
    novel = "zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    for k in (1, 2):
        b = spark.createDataFrame(
            [(k, f"batch{k} {novel} tail{k} alpha{k} beta{k} gamma{k}"
                 f" delta{k} eps{k} zeta{k} eta{k} theta{k}")],
            "doc_id long, text string",
        )
        substring_ingest(b, idx, min_len=10)
    before = sorted(
        map(tuple, read_occurrence_index(spark, idx)
            .select("_id", "pos", "h1", "h2").collect())
    )
    gens_before = generations.committed(idx)
    assert len(gens_before) == 3  # build + 2 appends
    # appends accumulate files ACROSS the carried-generation chain
    # (round 13: an append's gen dir holds only the batch's new files;
    # the previous snapshot rides as a `carries` list in its meta):
    # some bucket's file count over the whole snapshot exceeds 1
    def files_per_bucket(d):
        out = {}
        for e in os.listdir(d):
            if e.startswith("b="):
                out[e] = len([
                    f for f in os.listdir(os.path.join(d, e))
                    if not f.startswith(("_", "."))
                ])
        return out

    def snapshot_files_per_bucket(idx_path, gen):
        total: dict = {}
        for g in generations.carries(idx_path, gen) + [gen]:
            for b, n in files_per_bucket(
                os.path.join(idx_path, f"gen={g}")
            ).items():
                total[b] = total.get(b, 0) + n
        return total

    cur = gens_before[-1]
    assert generations.carries(idx, cur) == gens_before[:-1]  # resolved chain
    assert max(snapshot_files_per_bucket(idx, cur).values()) > 1
    # and the append generation itself carries ONLY the batch's files
    # (the pre-r13 layout hardlinked the whole previous snapshot in —
    # O(total files) metadata per commit)
    cur_dir = os.path.join(idx, f"gen={cur}")
    prev_dir = os.path.join(idx, f"gen={gens_before[0]}")
    assert sum(files_per_bucket(cur_dir).values()) < sum(
        snapshot_files_per_bucket(idx, cur).values()
    )
    assert max(files_per_bucket(prev_dir).values()) >= 1
    g = compact_index(spark, idx)
    dropped = vacuum_index(idx, keep_last=1)
    assert dropped == gens_before
    new_dir = os.path.join(idx, f"gen={g}")
    per_bucket = files_per_bucket(new_dir)
    assert per_bucket and max(per_bucket.values()) == 1
    after = sorted(
        map(tuple, read_occurrence_index(spark, idx)
            .select("_id", "pos", "h1", "h2").collect())
    )
    assert before == after  # not a single row changed
    # re-bucketing compact: meta and layout move together
    g2 = compact_index(spark, idx, buckets=2)
    from dmshadoop_spark.dedup.substring import _occ_meta

    assert _occ_meta(idx)["buckets"] == 2
    after2 = sorted(
        map(tuple, read_occurrence_index(spark, idx)
            .select("_id", "pos", "h1", "h2").collect())
    )
    assert before == after2


def test_index_append_is_atomic_and_guarded(spark, tmp_path):
    """Round-11 advice (substring.py): the ingest append publishes the
    whole next generation with one rename — staging debris from a
    crashed append is invisible to readers and swept by the next
    mutation; a min_len mismatch raises instead of probing garbage."""
    import os

    import pytest as _pytest

    from dmshadoop_spark.dedup import (
        build_occurrence_index,
        read_occurrence_index,
        substring_ingest,
    )

    idx = str(tmp_path / "idx")
    build_occurrence_index(_ing_corpus(spark), idx, min_len=10, buckets=4)
    n0 = read_occurrence_index(spark, idx).count()
    # simulate a crash mid-append: a staged-but-unpublished commit
    debris = os.path.join(idx, ".staging-deadbeef")
    os.makedirs(os.path.join(debris, "b=0"))
    with open(os.path.join(debris, "b=0", "part-torn.parquet"), "wb") as f:
        f.write(b"\x00junk")
    assert read_occurrence_index(spark, idx).count() == n0  # invisible
    substring_ingest(_ing_batch(spark), idx, min_len=10)
    assert not os.path.exists(debris)  # swept by the next mutation
    with _pytest.raises(ValueError, match="min_len"):
        substring_ingest(_ing_batch(spark), idx, min_len=12)


def _ing_index_expected(*docs):
    """The occurrence rows the index must hold over ``docs`` frames."""
    from dmshadoop_spark.dedup.substring import (
        _occurrence_table,
        _token_table,
    )

    full = docs[0]
    for d in docs[1:]:
        full = full.unionByName(d)
    return sorted(
        map(tuple, _occurrence_table(_token_table(full, "doc_id", "text"), 10)
            .collect())
    )


def _ing_index_rows(spark, idx):
    from dmshadoop_spark.dedup import read_occurrence_index

    return sorted(
        map(tuple, read_occurrence_index(spark, idx)
            .select("_id", "pos", "h1", "h2").collect())
    )


def test_index_commits_without_spark_success_marker(spark, tmp_path):
    """An index generation is committed by the commit protocol's own
    _SUCCESS marker, not by the one Spark's output committer may drop:
    with marksuccessfuljobs=false, a build and an append still read
    back."""
    from dmshadoop_spark.dedup import build_occurrence_index, substring_ingest

    key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        idx = str(tmp_path / "idx")
        corpus = _ing_corpus(spark)
        build_occurrence_index(corpus, idx, min_len=10, buckets=4)
        assert _ing_index_rows(spark, idx) == _ing_index_expected(corpus)
        out = substring_ingest(_ing_batch(spark), idx, min_len=10)
        accepted = out.select("doc_id", F.col("clean_text").alias("text"))
        assert _ing_index_rows(spark, idx) == _ing_index_expected(
            corpus, accepted
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_corrupt_index_manifest_raises(spark, tmp_path):
    """A committed append generation whose _meta.json is unreadable must
    not be read as carrying nothing (that would drop every carried
    generation from the snapshot and let vacuum delete them): reads,
    ingests and vacuum all raise."""
    import os

    from dmshadoop_spark import generations
    from dmshadoop_spark.dedup import (
        build_occurrence_index,
        read_occurrence_index,
        substring_ingest,
        vacuum_index,
    )

    idx = str(tmp_path / "idx")
    build_occurrence_index(_ing_corpus(spark), idx, min_len=10, buckets=4)
    substring_ingest(_ing_batch(spark), idx, min_len=10)
    cur = generations.current(idx)
    assert generations.carries(idx, cur) == [0]
    with open(os.path.join(generations.gen_path(idx, cur), "_meta.json"),
              "w") as f:
        f.write("\x00junk{")
    with pytest.raises(ValueError, match="corrupt manifest"):
        read_occurrence_index(spark, idx)
    with pytest.raises(ValueError, match="corrupt manifest"):
        substring_ingest(_ing_batch(spark), idx, min_len=10)
    with pytest.raises(ValueError, match="corrupt manifest"):
        vacuum_index(idx, keep_last=1)
    assert generations.committed(idx) == [0, cur]


def test_unmarked_index_generation_debris_is_swept(spark, tmp_path):
    """A non-empty unmarked gen=N left by a crash is not a generation and
    does not wedge the index: the next append sweeps it, publishes N and
    reads back."""
    import os

    from dmshadoop_spark import generations
    from dmshadoop_spark.dedup import build_occurrence_index, substring_ingest

    idx = str(tmp_path / "idx")
    corpus = _ing_corpus(spark)
    build_occurrence_index(corpus, idx, min_len=10, buckets=4)
    debris = os.path.join(generations.gen_path(idx, 1), "b=0")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-torn.parquet"), "wb") as f:
        f.write(b"\x00junk")
    out = substring_ingest(_ing_batch(spark), idx, min_len=10)
    assert generations.committed(idx) == [0, 1]
    assert not os.path.exists(os.path.join(debris, "part-torn.parquet"))
    accepted = out.select("doc_id", F.col("clean_text").alias("text"))
    assert _ing_index_rows(spark, idx) == _ing_index_expected(corpus, accepted)


def test_decontaminate_via_index_skips_train_scan_and_prunes(spark, tmp_path):
    """x40b's physical claim: with a committed TRAIN index,
    substring_decontaminate's plan contains NO Arrow hash stage for the
    train side beyond the (tiny) benchmark hashing, reads the persisted
    index, AND prunes the index read to the benchmark's hit buckets;
    results identical to the direct path."""
    from dmshadoop_spark.dedup import build_occurrence_index, substring_decontaminate

    train = spark.createDataFrame(
        [
            (1, f"alpha beta {_ING_SHARED} gamma"),
            (2, "totally unique text with no duplicated span at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(90, f"bench prefix {_ING_SHARED} bench suffix")],
        "doc_id long, text string",
    )
    direct = {
        r["doc_id"]: r["clean_text"]
        for r in substring_decontaminate(
            train, bench, min_len=10
        ).collect()
    }
    idx = str(tmp_path / "tidx")
    build_occurrence_index(train, idx, min_len=10, buckets=16)
    via = substring_decontaminate(
        train, bench, min_len=10, index_table=idx
    )
    fmt = spark._jvm.PythonSQLUtils.explainString(
        via._jdf.queryExecution(), "formatted"
    )
    assert "tidx" in fmt  # the persisted index is scanned...
    assert "PartitionFilters: [b" in fmt and " IN " in fmt  # ...pruned
    # ZERO Arrow hash stages in the final plan: the benchmark side was
    # hashed once at its stabilize boundary (checkpoint scan), and the
    # train side never hashes at all — the index replaces it
    assert fmt.count("MapInPandas") == 0
    assert {r["doc_id"]: r["clean_text"] for r in via.collect()} == direct
    # min_len mismatch against the committed index raises
    with pytest.raises(ValueError, match="min_len"):
        substring_decontaminate(
            train, bench, min_len=12, index_table=idx
        )


# -- SemDeDup's execution rule: driver path vs Spark path ---------------------


def _planted_rows():
    return [
        (0, [1.0, 0.02, 0.0, 0.0]),
        (1, [1.0, 0.00, 0.0, 0.0]),
        (2, [1.0, -0.02, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.01]),
        (4, [0.0, 0.0, 1.0, -0.01]),
        (5, [0.0, 1.0, 0.0, 0.0]),
    ]


def _semdedup_case(spark, case):
    """(frame, semdedup kwargs) for one path-equivalence case."""
    schema = "vec_id long, embedding array<double>"
    if case == "planted":
        return spark.createDataFrame(_planted_rows(), schema), dict(
            k=3, n_iter=3, seed=7, eps=0.95, shards=2
        )
    if case == "vectorized_k_over_32":
        rows = []
        for i in range(140):
            v = [0.0] * 8
            v[i % 7] = 10.0
            v[(i % 7 + 1) % 8] = 0.01 * (i // 7)
            rows.append((i, v))
        return spark.createDataFrame(rows, schema), dict(
            k="auto", target_cell_size=2, n_iter=3, seed=11, eps=0.9, shards=2
        )
    if case == "coarse_train_sample":
        return _clustered_corpus(spark, n=240), dict(
            k="auto", target_cell_size=20, n_iter=3, eps=0.2,
            train_sample=96, assign="coarse", assign_nprobe=2,
        )
    if case.startswith("exact_duplicates"):
        rows = [(i, [1.0, 2.0, 3.0] if i % 2 else [0.5, -1.0, 0.25]) for i in range(12)]
        k = 2 if case.endswith("fold") else "auto"
        return spark.createDataFrame(rows, schema), dict(k=k, eps=1.0, shards=3)
    if case.startswith("empty"):  # k=3: no init rows for the Lloyd loop
        k = 3 if case.endswith("k3") else "auto"
        return spark.createDataFrame([], schema), dict(k=k)
    raise KeyError(case)


def _decision_set(semdedup_mod, monkeypatch, limit, frame, **kw):
    monkeypatch.setattr(semdedup_mod, "_DRIVER_SEMDEDUP_BYTES", limit)
    out = semdedup_mod.semdedup(frame, **kw)
    # NaN as a string: NaN != NaN would make equal sets compare unequal
    return out.dtypes, {
        (r["vec_id"], r["cell"], r["component"],
         "NaN" if r["cos_centroid"] != r["cos_centroid"] else r["cos_centroid"],
         r["keep"])
        for r in out.collect()
    }


@pytest.mark.parametrize(
    "case",
    [
        "planted",
        "vectorized_k_over_32",
        "coarse_train_sample",
        "exact_duplicates_fold",
        "exact_duplicates_vectorized",
        "empty",
        "empty_k3",
    ],
)
def test_semdedup_driver_and_spark_paths_agree(spark, monkeypatch, case):
    """Below ``_DRIVER_SEMDEDUP_BYTES`` semdedup runs its pair, component
    and survivor stages on the driver; the decision set and its schema
    must be the Spark path's exactly — including pairs exactly at eps
    (exact duplicates at eps=1.0) on both pair kernels."""
    import math

    sd = importlib.import_module("dmshadoop_spark.dedup.semdedup")

    frame, kw = _semdedup_case(spark, case)
    on_driver = _decision_set(sd, monkeypatch, math.inf, frame, **kw)
    in_spark = _decision_set(sd, monkeypatch, 0, frame, **kw)
    assert on_driver == in_spark
    if case.startswith("empty"):
        assert on_driver[1] == set()
    else:
        assert len(on_driver[1]) == frame.count()


@pytest.mark.parametrize("fold", [True, False])
def test_semdedup_pair_at_eps_agrees_on_both_paths(spark, monkeypatch, fold):
    """A pair whose cosine is exactly eps under its pair stage's own
    arithmetic — the left fold for an explicit k, the einsum for
    k="auto" — and a hair below eps under the other: both execution
    paths pair it, so the driver kernel reproduces each stage's digits."""
    import math

    import numpy as np

    sd = importlib.import_module("dmshadoop_spark.dedup.semdedup")

    def cosine(a, b, use_fold):
        if use_fold:
            dot = 0.0
            for x, y in zip(a.tolist(), b.tolist()):
                dot = dot + x * y
        else:
            dot = np.einsum("nd,kd->nk", a[None], b[None], optimize=False)[0, 0]
        norms = [math.sqrt(sum(x * x for x in v.tolist())) for v in (a, b)]
        return dot / (norms[0] * norms[1])

    rng = np.random.default_rng(5)
    while True:
        a = rng.standard_normal(16)
        b = a + 0.05 * rng.standard_normal(16)
        own, other = cosine(a, b, fold), cosine(a, b, not fold)
        if own > other:
            break
    frame = spark.createDataFrame(
        [(0, a.tolist()), (1, b.tolist())], "vec_id long, embedding array<double>"
    )
    kw = dict(k=1 if fold else "auto", eps=own, shards=2)
    on_driver = _decision_set(sd, monkeypatch, math.inf, frame, **kw)
    in_spark = _decision_set(sd, monkeypatch, 0, frame, **kw)
    assert on_driver == in_spark
    assert {t[2] for t in on_driver[1]} == {0}  # one component: paired


@pytest.mark.parametrize("fold", [True, False])
def test_semdedup_driver_row_slices_keep_the_decisions(spark, monkeypatch, fold):
    """A cell larger than one driver row slice: with the block cap forced
    down to a handful of cells the driver pair kernel slices every block
    to single rows, and the decisions still equal the Spark path's."""
    import math

    from dmshadoop_spark.similarity import assign

    sd = importlib.import_module("dmshadoop_spark.dedup.semdedup")
    rows = [
        (i, [1.0, 0.01 * (i % 9), 0.002 * i, float(i % 3)]) for i in range(60)
    ]
    frame = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=1 if fold else "auto", eps=0.97, shards=2)
    in_spark = _decision_set(sd, monkeypatch, 0, frame, **kw)
    monkeypatch.setattr(assign, "_MAX_DIST_CELLS", 7)
    on_driver = _decision_set(sd, monkeypatch, math.inf, frame, **kw)
    assert on_driver == in_spark
    components = {c for _, _, c, _, _ in in_spark[1]}
    assert 1 < len(components) < 60  # pairs found, not one blob


@pytest.mark.parametrize("k", [1, "auto"])
def test_semdedup_degenerate_vectors_agree_on_both_paths(spark, monkeypatch, k):
    """A zero embedding (and a zero centroid) has no cosine. Under ANSI
    both paths raise the same division-by-zero error; with ANSI off both
    give a null cos_centroid, a zero vector never pairs, and the survivor
    of an all-null component is its smallest id (nulls sort first). A NaN
    element gives NaN cosines, which Spark orders above every number: the
    fold path (explicit k) pairs the row with its whole cell, the einsum
    path (k="auto") pairs it with nothing — on both execution paths. A
    null element nulls the row's norm and cosines: it pairs with nothing,
    on either kernel."""
    import math

    from pyspark.errors import ArithmeticException

    from dmshadoop_spark.similarity import assign

    sd = importlib.import_module("dmshadoop_spark.dedup.semdedup")
    schema = "vec_id long, embedding array<double>"
    axes = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [-1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.0, -1.0]),
            (4, [0.0, 0.0]),
        ],
        schema,
    )
    with_nan = spark.createDataFrame(
        _planted_rows() + [(6, [float("nan"), 0.0, 0.0, 0.0])], schema
    )
    for limit in (math.inf, 0):
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            _decision_set(sd, monkeypatch, limit, axes, k=k, eps=-2.0, shards=2)
    # the einsum assignment (forced for every k) gives a null-element row
    # a cell, so it reaches the pair stage; the literal one drops it
    with_null = spark.createDataFrame(
        _planted_rows() + [(6, [1.0, None, 0.0, 0.0])], schema
    )
    with monkeypatch.context() as m:
        m.setattr(assign, "LITERAL_MAX_CENTROIDS", 0)
        on_driver, in_spark = (
            _decision_set(sd, m, limit, with_null, k=k, eps=-2.0, shards=2)
            for limit in (math.inf, 0)
        )
    assert on_driver == in_spark
    null_row = next(t for t in on_driver[1] if t[0] == 6)
    assert null_row[2:] == (6, None, True)
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = {}
        for name, frame, eps in (("axes", axes, -2.0), ("nan", with_nan, 0.95)):
            on_driver, in_spark = (
                _decision_set(sd, monkeypatch, limit, frame, k=k, eps=eps, shards=2)
                for limit in (math.inf, 0)
            )
            assert on_driver == in_spark, name
            got[name] = on_driver[1]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    # the centroid is the zero mean: every cos_centroid is null; the four
    # axis vectors form one component (eps -2 admits every pair) whose
    # survivor is id 0; the zero vector stays alone and keeps itself
    assert got["axes"] == {
        (0, 1, 0, None, True),
        (1, 1, 0, None, False),
        (2, 1, 0, None, False),
        (3, 1, 0, None, False),
        (4, 1, 4, None, True),
    }
    nan_row = next(t for t in got["nan"] if t[0] == 6)
    assert nan_row[3] == "NaN"
    if k == 1:
        assert {t[2] for t in got["nan"]} == {0}
    else:
        assert nan_row[2] == 6 and nan_row[4]


@pytest.mark.parametrize("fold", [True, False])
def test_semdedup_dense_cell_past_the_edge_cap_runs_the_spark_plan(
    spark, monkeypatch, fold
):
    """The execution rule bounds pairs as well as bytes: a dense single
    cell whose pairs exceed components.DRIVER_UNION_FIND_MAX_EDGES drops
    the driver attempt and the call returns the Spark plan's decisions.
    Under the cap the same corpus stays on the driver."""
    import math

    from dmshadoop_spark.dedup import components

    sd = importlib.import_module("dmshadoop_spark.dedup.semdedup")
    rows = [(i, [1.0, 0.001 * i, 0.002 * (i % 5)]) for i in range(30)]
    frame = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(k=1 if fold else "auto", eps=0.5, shards=2)
    in_spark = _decision_set(sd, monkeypatch, 0, frame, **kw)

    attempts = []
    on_driver = sd._semdedup_on_driver

    def spy(*args, **kwargs):
        attempts.append(on_driver(*args, **kwargs))
        return attempts[-1]

    monkeypatch.setattr(sd, "_semdedup_on_driver", spy)
    assert _decision_set(sd, monkeypatch, math.inf, frame, **kw) == in_spark
    assert attempts[-1] is not None  # 435 pairs: under the real cap
    monkeypatch.setattr(components, "DRIVER_UNION_FIND_MAX_EDGES", 100)
    assert _decision_set(sd, monkeypatch, math.inf, frame, **kw) == in_spark
    assert attempts[-1] is None
    assert {c for _, _, c, _, _ in in_spark[1]} == {0}  # one dense component


@pytest.mark.parametrize(
    "qid", ["x35_semdedup", "x35b_semdedup_autok", "x35c_semdedup_coarse"]
)
def test_x35_family_digests_equal_on_both_paths(spark, sf_dir, monkeypatch, qid):
    """The pinned x35-family entries digest the same decision set on the
    driver path and on the Spark path."""
    import math

    from dmshadoop_spark import registry

    sd = importlib.import_module("dmshadoop_spark.dedup.semdedup")
    registry.load_all()
    digests = []
    for limit in (math.inf, 0):
        monkeypatch.setattr(sd, "_DRIVER_SEMDEDUP_BYTES", limit)
        digests.append(
            {r["digest"] for r in registry.QUERIES[qid](spark, sf_dir).collect()}
        )
    assert digests[0] == digests[1] and len(digests[0]) == 1


def test_x35b_on_the_driver_starts_at_most_8_jobs(spark, sf_dir, monkeypatch):
    """x35b at the test SF takes the driver path: the parquet schema read,
    the count, the k=1 mean, one collect and the digest's collect — at
    most 8 Spark jobs. With the threshold at 0 the Spark path starts more."""
    from dmshadoop_spark.queries.llm import x35b_semdedup_autok
    from tests.test_dms import _jobs_started

    sd = importlib.import_module("dmshadoop_spark.dedup.semdedup")

    def run():
        return x35b_semdedup_autok(spark, sf_dir).collect()

    run()  # warm: the first call also pays one-off planning jobs
    rows, jobs = _jobs_started(spark, run)
    assert len(jobs) <= 8, jobs
    monkeypatch.setattr(sd, "_DRIVER_SEMDEDUP_BYTES", 0)
    spark_rows, spark_jobs = _jobs_started(spark, run)
    assert len(spark_jobs) > len(jobs)
    assert {r["digest"] for r in rows} == {r["digest"] for r in spark_rows}


def test_kmeans_k1_is_the_lloyd_mean(spark):
    """k=1 skips Lloyd's rounds: one aggregation returns exactly what the
    loop returns for n_iter = 1..4, with and without a train sample; with
    n_iter=0 it is still the init row (the seeded order's first vector)."""
    import numpy as np

    from dmshadoop_spark.functions.vectors import as_double
    from dmshadoop_spark.similarity.kmeans import _lloyd_loop, kmeans_centroids

    df = _clustered_corpus(spark, n=90)
    vecs = df.select(as_double("embedding").alias("_v"))
    init = kmeans_centroids(df, k=1, n_iter=0, seed=3, id_col="vec_id")
    first = (
        df.orderBy(F.xxhash64("vec_id", F.lit(3)), "vec_id")
        .select("embedding")
        .first()[0]
    )
    assert init.shape == (1, 16)
    assert np.array_equal(init[0], np.array(first, dtype=np.float64))
    for m in range(1, 5):
        fast = kmeans_centroids(df, k=1, n_iter=m, seed=3, id_col="vec_id")
        assert np.array_equal(fast, _lloyd_loop(vecs, init, m, None)), m
    sample = df.orderBy(F.xxhash64("vec_id", F.lit(3)), "vec_id").limit(40)
    fast = kmeans_centroids(
        df, k=1, n_iter=2, seed=3, id_col="vec_id", train_sample=40
    )
    assert np.array_equal(
        fast,
        _lloyd_loop(sample.select(as_double("embedding").alias("_v")), init, 2, None),
    )


def test_vectorized_pair_stage_builds_without_user_warning(spark):
    """The grouped pair kernel is unannotated, so building the vectorized
    pair stage does not make PySpark warn that it cannot infer the eval
    type from partial type hints."""
    import warnings

    from dmshadoop_spark.dedup import blocked_cosine_pairs

    df = spark.createDataFrame(
        [(1, 1, [1.0, 0.0]), (1, 2, [1.0, 0.01])],
        "blk long, vid long, emb array<double>",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pairs = blocked_cosine_pairs(
            df, "blk", "vid", "emb", 0.9, 2, vectorized=True
        )
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    assert {(r["vec_a"], r["vec_b"]) for r in pairs.collect()} == {(1, 2)}


def test_components_driver_route_keeps_the_id_type(spark):
    """The union-find route returns an Arrow-built frame in the caller's
    id type — int, bigint and string ids alike."""
    from dmshadoop_spark.dedup import connected_components

    for t, edges, want in (
        ("int", [(1, 2), (2, 3), (7, 9)], {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)}),
        ("bigint", [(2**40, 5)], {(2**40, 5), (5, 5)}),
        ("string", [("b", "a"), ("c", "b")], {("a", "a"), ("b", "a"), ("c", "a")}),
    ):
        df = spark.createDataFrame(edges, f"src {t}, dst {t}")
        out = connected_components(df)
        assert out.dtypes == [("node", t), ("comp", t)]
        assert {(r["node"], r["comp"]) for r in out.collect()} == want
